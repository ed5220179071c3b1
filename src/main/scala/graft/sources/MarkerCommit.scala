package graft.sources

import org.apache.spark.sql.DataFrame

import java.net.{URLDecoder, URLEncoder}
import java.nio.file.{Path, Paths}

/** The reference's MARKER-BASED, LEADER-ELECTED commit loop as a
  * first-class decoupled component (reference README.md:104-118 and
  * :196-212 — the heart of its "How It Works"):
  *
  *   1. each node FLUSHES its buffer as parquet objects plus one
  *      0-BYTE INDEX MARKER per object under a `pending/` prefix;
  *   2. an independent LEADER — elected by a distributed lock — LISTS
  *      the pending markers from ALL nodes on its own
  *      `ICEBERG_COMMIT_INTERVAL` cadence, commits the referenced
  *      files ATOMICALLY to the table in one snapshot, then
  *   3. cleans the processed markers up.
  *
  * Flusher and committer are SEPARATE processes meeting only at the
  * marker objects — no shared memory, no streaming checkpoint. The
  * re-expression runs entirely on graft's existing seams:
  *
  *   - markers are objects under `<root>/_graft_log/pending/` through
  *     [[GraftFileIO]] (flat-namespace prefix listing is exactly what
  *     [[GraftFileIO.ObjectStoreEmu]] models; on S3 this prefix is the
  *     reference's index-marker prefix). A marker is 0 bytes — its
  *     NAME encodes the staged file's pool-relative path; all commit
  *     metadata (row counts, stats, layout values) reconstructs from
  *     the flushed parquet itself ([[LogTable.adoptStaged]]), exactly
  *     as the reference's leader derives it from the pending objects.
  *   - leadership is a CAS LEASE on one object ([[acquireLease]]):
  *     create-or-fail elects exactly one leader; the content is the
  *     lease expiry, so a CRASHED leader's lease is deleted and
  *     re-raced after expiry (publishAtomic again picks one winner).
  *   - the commit itself is [[LogTable.commitStagedAppend]] — the
  *     ordinary manifest CAS, so marker commits serialize with every
  *     other writer on the table.
  *
  * EXACTLY-ONCE, under every crash the protocol can hit:
  *   - flusher dies between parquet write and marker write → an
  *     unreferenced pool file, invisible forever, reclaimed by the
  *     age-guarded [[LogTable.removeOrphans]] sweep (never committed:
  *     no marker ever names it).
  *   - committer dies between COMMIT and CLEANUP → the files are in
  *     the table but their markers remain; the next leader re-reads
  *     them, finds every path already committed SOMEWHERE in the
  *     retained lineage (not just the current snapshot — an
  *     intervening compact/COW may have rewritten them out of the live
  *     list), commits NOTHING and deletes the markers — each file
  *     commits exactly once and each marker is cleaned exactly once.
  *     Replay detection is O(pending): each staged append records its
  *     batch's paths in its snapshot's pointer summary
  *     ([[LogTable.stagedCommittedAmong]]), so the leader probes the
  *     few pending paths against those records instead of
  *     materializing a lineage-wide file set. (Corollary, ENFORCED:
  *     drain markers before expiring the snapshots that committed
  *     them — a marker outliving its commit's retained record could
  *     replay, so [[LogTable.expire]]/expireOlderThan refuse while
  *     markers are pending. Leaders run on second-scale cadences and
  *     retention on day scales, so the refusal never fires in the
  *     natural operating mode.)
  *   - two committers race → the lease admits one; a leader that dies
  *     holding the lease blocks only until expiry.
  *   - a marker without its file (a foreign cleanup raced the leader's
  *     list) → skipped this round, reported in the outcome, never a
  *     guess.
  */
object MarkerCommit {

  /** The pending-marker prefix of a table root (the reference's index
    * prefix). Lives beside the manifests in `_graft_log/` so a table
    * clone/rename moves its pending state with it. */
  def pendingDir(root: String): Path =
    Paths.get(root).resolve("_graft_log").resolve("pending")

  private val LeaseName = "_lease"
  private val MarkerSuffix = ".marker"

  /** Marker name for a pool-relative data-file path: URL-encoded so a
    * hive-partitioned path (`k=v/uuid.parquet`) stays one flat key
    * segment under `pending/` — object stores have no directories. */
  private[sources] def markerName(rel: String): String =
    URLEncoder.encode(rel, "UTF-8") + MarkerSuffix
  private[sources] def relOfMarker(name: String): String =
    URLDecoder.decode(name.stripSuffix(MarkerSuffix), "UTF-8")

  /** FLUSHER: stage `df` into `table`'s pool (final names, declared
    * layout — invisible until a leader commits) and publish one 0-byte
    * marker per staged file. Returns the staged file paths. Any
    * process holding only the table ROOT can flush; no coordination
    * with other flushers or the committer.
    *
    * Durability line: once a file's marker is published the flush WILL
    * commit (some leader picks it up); a crash before the marker
    * leaves an orphan pool file for the age-guarded sweep. Like the
    * reference's node buffer, a flush is not batch-idempotent —
    * re-flushing the same logical rows stages them again (two appends'
    * semantics); dedupe belongs to the caller's batch discipline, as
    * with [[LogTable.append]]'s tag. */
  def flush(table: LogTable, df: DataFrame): Seq[String] = {
    // ONE PLANE: markers ride the table's own manifest-plane io — a
    // separate marker store would blind the table's maintenance
    // (removeOrphans' marker-pending exemption) to the pending state.
    // The reference likewise keeps index markers beside the data in
    // the same object store.
    val io = table.io
    val staged = table.stageFlush(df)
    val pd = pendingDir(table.root)
    io.mkdirs(pd)
    val pool = Paths.get(table.root).resolve("data").toAbsolutePath.normalize
    staged.map { f =>
      val rel = pool.relativize(
        Paths.get(f.path).toAbsolutePath.normalize).toString
      val ok = io.publishAtomic(pd.resolve(markerName(rel)), "")
      require(ok, s"pending marker already exists for $rel — staged " +
        "file names are UUIDs, so a duplicate marker means a path " +
        "collision, not a retry")
      f.path
    }
  }

  /** Marker names currently pending (the leader's LIST step; exposed
    * for monitoring/specs). */
  def pending(root: String, io: GraftFileIO = GraftFileIO.Local): Seq[String] =
    io.list(pendingDir(root)).filter(_.endsWith(MarkerSuffix)).sorted

  sealed trait Outcome
  /** Another live leader holds the lease. */
  case object NotLeader extends Outcome
  /** One leader round: `committed` files landed in `version` (0 new
    * files → version is just the current one), `cleaned` markers
    * removed (including stale markers for already-committed files),
    * `skipped` markers whose file was missing this round. */
  final case class Led(committed: Int, cleaned: Int, skipped: Int,
      version: Long) extends Outcome

  /** Try to become leader: create-or-fail on the lease object, whose
    * content is `<expiry wall-clock ms>:<owner token>`. An EXPIRED
    * lease (crashed leader) is deleted and re-raced — publishAtomic
    * picks exactly one winner among racing claimants. Returns the
    * owner token on success so release can delete ONLY its own lease
    * (a leader that overran its lease must never delete a successor's).
    *
    * The lease is deliberately ADVISORY: delete-then-republish over a
    * create-or-fail-only store cannot exclude every interleaving of
    * expiry racers (true fencing needs a conditional-replace the
    * protocol doesn't require). Duplicate leaders waste work but never
    * correctness — the commit itself is the manifest CAS, and the
    * membership check inside [[LogTable.commitStagedAppend]]'s retry
    * loop plus idempotent marker deletes make every outcome
    * exactly-once. The reference's distributed lock plays the same
    * role: commit atomicity comes from the Iceberg commit, not the
    * lock. */
  private def acquireLease(pd: Path, io: GraftFileIO, leaseMs: Long,
      nowMs: () => Long): Option[String] = {
    io.mkdirs(pd)
    val lease = pd.resolve(LeaseName)
    val token = java.util.UUID.randomUUID().toString
    def content = s"${nowMs() + leaseMs}:$token"
    if (io.publishAtomic(lease, content)) Some(token)
    else {
      // Three failure shapes, three verdicts:
      //  - NOT FOUND (vanished between the failed publish and this
      //    read — the holder released or a racer already reclaimed):
      //    re-race; the delete below is a no-op.
      //  - read SUCCEEDED but the content is unparsable (a truncated
      //    foreign write, an empty object dropped by tooling): counts
      //    as EXPIRED — treating it as live would block leader
      //    election FOREVER; publishAtomic is atomic, so a
      //    half-written healthy lease is impossible.
      //  - any OTHER read error (a transient store fault against a
      //    possibly-healthy LIVE lease): stand down this round and
      //    retry on the next tick — deleting on a transient error
      //    would evict a live leader and widen the duplicate-leader
      //    window beyond the documented expiry race.
      val expiry =
        try io.readString(lease).trim.takeWhile(_ != ':').toLong
        catch {
          case _: java.nio.file.NoSuchFileException |
              _: java.io.FileNotFoundException => Long.MinValue
          case _: NumberFormatException => Long.MinValue
          case _: Exception => return None
        }
      if (nowMs() <= expiry) None
      else {
        io.delete(lease)
        if (io.publishAtomic(lease, content)) Some(token) else None
      }
    }
  }

  /** Release only OUR lease: a leader that ran past its expiry finds a
    * successor's token (or nothing) and walks away. */
  private def releaseLease(pd: Path, io: GraftFileIO, token: String): Unit = {
    val lease = pd.resolve(LeaseName)
    val mine =
      try io.readString(lease).trim.endsWith(s":$token")
      catch { case _: Exception => false }
    if (mine) io.delete(lease)
  }

  /** COMMITTER: one leader-elected commit round (the reference runs
    * this on its `ICEBERG_COMMIT_INTERVAL` cadence; [[runUntilDrained]]
    * is the loop). A round that finds nothing pending answers
    * `Led(0, 0, 0, <current version>)` without taking the lease.
    * `maxMarkers` bounds one round's batch (0 = all).
    * `crashAfterCommit` is the SPEC's fault-injection hook: return
    * right after the atomic commit, skipping marker cleanup AND lease
    * release — the crashed-leader shape the protocol must absorb. */
  def runOnce(spark: org.apache.spark.sql.SparkSession, root: String,
      io: GraftFileIO = GraftFileIO.Local,
      leaseMs: Long = 30000L,
      maxMarkers: Int = 0,
      nowMs: () => Long = () => System.currentTimeMillis(),
      crashAfterCommit: Boolean = false): Outcome = {
    val pd = pendingDir(root)
    // an IDLE round (most rounds of a back-to-back leader) is one
    // pending LIST plus one manifest LIST: no lease CAS, no table open.
    // Answering it without the lease loses nothing — a marker
    // published after this LIST is the next round's, as one published
    // after the leased LIST below would be.
    if (pending(root, io).isEmpty)
      return Led(0, 0, 0, LogTable.currentVersion(root, io))
    val token = acquireLease(pd, io, leaseMs, nowMs) match {
      case None => return NotLeader
      case Some(t) => t
    }
    try {
      // ONE PLANE: `io` is the table's manifest-plane store — the
      // handle opens on it, so markers, lease and manifests share one
      // namespace (what keeps removeOrphans' marker exemption sound)
      val table = LogTable(spark, root, io = io)
      val all = pending(root, io)
      val batch = if (maxMarkers > 0) all.take(maxMarkers) else all
      if (batch.isEmpty) return Led(0, 0, 0, table.currentVersion)
      val pool = Paths.get(root).resolve("data").toAbsolutePath.normalize
      val decoded = batch.map(m => m -> pool.resolve(relOfMarker(m)).toString)
      // stale markers: a prior leader committed these files then died
      // before cleanup — clean, never re-commit. Membership checks the
      // WHOLE retained lineage, not just the current snapshot: a
      // committed file may have been compacted/COW-rewritten out of
      // the live list (while still on disk) between the crash and this
      // round, and re-committing it would silently duplicate rows.
      // O(pending): the probe reads only the staged-paths records each
      // staged append left in its snapshot's pointer summary — a
      // leader round on a 1M-file lineage never materializes a file
      // list (expire refuses while markers are pending, so a pending
      // marker's committing snapshot is always still retained).
      val have = table.stagedCommittedAmong(decoded.map(_._2).toSet)
      val (already, fresh) = decoded.partition { case (_, p) => have(p) }
      // data-file existence checks on the DATA plane (Hadoop/local FS —
      // bulk parquet never lives behind the manifest/marker seam)
      val (present, missing) = fresh.partition { case (_, p) =>
        java.nio.file.Files.exists(Paths.get(p)) }
      val committed =
        if (present.isEmpty) 0
        else {
          // the BATCH schema comes from the staged footers themselves,
          // merged DRIVER-SIDE across the batch (the batch may span
          // flushes with different shapes — one widened mid-stream):
          // commitStagedAppend folds it in with append's exact
          // semantics, so a flush that widened the schema evolves the
          // manifest instead of committing silently-unreadable
          // columns, and a schemaless table bootstraps with stamped
          // field ids. No Spark job: spark.read's mergeSchema launches
          // a distributed merge even for a 4-file batch, ~9× per drain.
          // Stats and schema come from ONE footer open per staged file
          // (the old adoptStaged + footerSparkSchema pair read every
          // footer twice per round).
          val (entries, batchSchema) =
            table.adoptStagedWithSchema(present.map(_._2))
          // commitStagedAppend's membership check inside the CAS retry
          // re-drops anything a racing leader landed meanwhile
          table.commitStagedAppend(entries, batchSchemaJson = batchSchema)
          present.size
        }
      if (crashAfterCommit)
        return Led(committed, 0, missing.size, table.currentVersion)
      (already ++ present).foreach { case (m, _) => io.delete(pd.resolve(m)) }
      Led(committed, already.size + present.size, missing.size,
        table.currentVersion)
    } finally {
      if (!crashAfterCommit) releaseLease(pd, io, token)
    }
  }

  /** A CONTINUOUS committer on its own cadence — the reference's
    * `ICEBERG_COMMIT_INTERVAL` loop (README.md:104-118) as a daemon:
    * every `intervalMs` it attempts a leader round (losing the lease
    * to a healthier committer is normal — NotLeader just waits for the
    * next tick). `close()` stops the loop after the in-flight round.
    * A poison round (files missing) logs through the returned handle's
    * `lastError` and keeps ticking — a daemon must not die silently,
    * and the markers stay for inspection exactly as in
    * [[runUntilDrained]]'s loud path. */
  final class Committer private[MarkerCommit] (
      spark: org.apache.spark.sql.SparkSession, root: String,
      io: GraftFileIO, intervalMs: Long, leaseMs: Long, maxMarkers: Int)
      extends AutoCloseable {
    @volatile private var running = true
    @volatile private[sources] var rounds = 0L
    @volatile private[sources] var committed = 0L
    @volatile var lastError: Option[String] = None
    private val thread = new Thread(() => {
      while (running) {
        try {
          runOnce(spark, root, io, leaseMs = leaseMs,
              maxMarkers = maxMarkers) match {
            case Led(c, _, skipped, _) =>
              rounds += 1
              committed += c
              lastError =
                if (skipped > 0)
                  Some(s"$skipped pending marker(s) reference missing files")
                else None
            case NotLeader => rounds += 1
          }
        } catch {
          case e: Exception => lastError = Some(e.toString)
        }
        val deadline = System.currentTimeMillis() + intervalMs
        while (running && System.currentTimeMillis() < deadline)
          Thread.sleep(math.min(25L, intervalMs))
      }
    }, s"graft-marker-committer-$root")
    thread.setDaemon(true)
    thread.start()
    override def close(): Unit = { running = false; thread.join(30000L) }
  }

  /** Start the continuous committer daemon. */
  def startCommitter(spark: org.apache.spark.sql.SparkSession, root: String,
      io: GraftFileIO = GraftFileIO.Local, intervalMs: Long = 1000L,
      leaseMs: Long = 30000L, maxMarkers: Int = 0): Committer =
    new Committer(spark, root, io, intervalMs, leaseMs, maxMarkers)

  /** Drive leader rounds until no markers remain — the embedded form
    * of the reference's interval loop (each round re-elects, so
    * several committers may interleave). */
  def runUntilDrained(spark: org.apache.spark.sql.SparkSession, root: String,
      io: GraftFileIO = GraftFileIO.Local, maxMarkers: Int = 0,
      leaseMs: Long = 30000L): Unit = {
    var spins = 0
    var noProgress = 0
    while (pending(root, io).nonEmpty) {
      runOnce(spark, root, io, leaseMs = leaseMs, maxMarkers = maxMarkers) match {
        case NotLeader =>
          spins += 1
          require(spins < 10000, "marker commit loop starved: another " +
            "leader holds the lease and is not draining")
          Thread.sleep(10L)
        case Led(committed, cleaned, skipped, _) =>
          spins = 0
          // a led round that commits nothing, cleans nothing and only
          // SKIPS is poison, not progress: a marker whose file is
          // permanently gone (flush order is file-then-marker, so this
          // means external deletion) would otherwise spin this loop
          // forever at full CPU. Two consecutive such rounds fail
          // LOUDLY naming the markers — never auto-clean (refusing to
          // guess beats silently discarding what might be someone's
          // recovery state).
          if (committed == 0 && cleaned == 0 && skipped > 0) {
            noProgress += 1
            require(noProgress < 2, s"marker commit loop stuck: $skipped " +
              "pending marker(s) reference data files that no longer " +
              "exist (markers: " +
              pending(root, io).take(5).mkString(", ") + " ...) — a " +
              "flushed file was deleted outside the protocol; inspect " +
              s"and remove the stale markers under ${pendingDir(root)}")
            Thread.sleep(10L)
          } else noProgress = 0
      }
    }
  }
}
