package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The Iceberg Puffin statistics-file format (public spec, "Puffin
  * file format"): `Magic | blob payloads | Magic | FooterPayload JSON
  * | payload size (int32 LE) | flags (4 bytes) | Magic`. Iceberg
  * tables reference Puffin files from the table metadata's
  * `statistics` array; the standard blob type
  * `apache-datasketches-theta-v1` carries a theta sketch per column
  * whose `ndv` property is what a foreign engine's CBO reads
  * (Trino/Spark-Iceberg `compute_table_stats` both speak it).
  *
  * Writer and reader are both here so the seam is testable end to end
  * without a foreign engine: the reader wraps the sketch bytes back
  * through datasketches and must reproduce the recorded estimate. */
object Puffin {
  private val mapper = new ObjectMapper()
  private[sources] val Magic = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"

  final case class Blob(tpe: String, fields: Seq[Int], snapshotId: Long,
      sequenceNumber: Long, payload: Array[Byte],
      properties: Map[String, String])

  final case class BlobMeta(tpe: String, fields: Seq[Int], snapshotId: Long,
      sequenceNumber: Long, offset: Long, length: Long,
      properties: Map[String, String])

  /** Write a Puffin file → (file size, footer size, blob metadata in
    * file order) — the three things the table metadata's `statistics`
    * entry records. */
  def write(path: Path, blobs: Seq[Blob],
      fileProps: Map[String, String]): (Long, Long, Seq[BlobMeta]) = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    val metas = blobs.map { b =>
      val off = out.size().toLong
      out.write(b.payload)
      BlobMeta(b.tpe, b.fields, b.snapshotId, b.sequenceNumber,
        off, b.payload.length.toLong, b.properties)
    }
    val footerStart = out.size()
    out.write(Magic)
    val payloadNode = mapper.createObjectNode()
    val blobsArr = payloadNode.putArray("blobs")
    metas.foreach { m =>
      val n = blobsArr.addObject()
      n.put("type", m.tpe)
      val fs = n.putArray("fields")
      m.fields.foreach { f => fs.add(f); () }
      n.put("snapshot-id", m.snapshotId)
      n.put("sequence-number", m.sequenceNumber)
      n.put("offset", m.offset)
      n.put("length", m.length)
      val ps = n.putObject("properties")
      m.properties.foreach { case (k, v) => ps.put(k, v); () }
      ()
    }
    val fp = payloadNode.putObject("properties")
    fileProps.foreach { case (k, v) => fp.put(k, v); () }
    val payload = payloadNode.toString.getBytes(StandardCharsets.UTF_8)
    out.write(payload)
    val sz = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(payload.length).array()
    out.write(sz)
    out.write(Array[Byte](0, 0, 0, 0)) // flags: payload uncompressed
    out.write(Magic)
    val bytes = out.toByteArray
    Files.write(path, bytes)
    (bytes.length.toLong, (bytes.length - footerStart).toLong, metas)
  }

  /** Read a Puffin file → (blob metadata + payload bytes, file props). */
  def read(path: Path): (Seq[(BlobMeta, Array[Byte])], Map[String, String]) = {
    val bytes = Files.readAllBytes(path)
    def magicAt(off: Int): Boolean =
      bytes.slice(off, off + 4).sameElements(Magic)
    require(bytes.length >= 20 && magicAt(0) && magicAt(bytes.length - 4),
      s"$path is not a Puffin file (bad magic)")
    val flags = bytes.slice(bytes.length - 8, bytes.length - 4)
    require((flags(0) & 1) == 0,
      "compressed Puffin footer payloads are not supported")
    val psize = java.nio.ByteBuffer.wrap(bytes, bytes.length - 12, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt()
    val pStart = bytes.length - 12 - psize
    require(magicAt(pStart - 4), s"$path footer start magic missing")
    val payload = mapper.readTree(
      new String(bytes, pStart, psize, StandardCharsets.UTF_8))
    val props = Option(payload.get("properties")).toSeq
      .flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asText()))
      .toMap
    val blobs = Option(payload.get("blobs")).toSeq
      .flatMap(_.elements().asScala).map { n =>
        val m = BlobMeta(n.get("type").asText(),
          n.get("fields").elements().asScala.map(_.asInt()).toSeq,
          n.get("snapshot-id").asLong(), n.get("sequence-number").asLong(),
          n.get("offset").asLong(), n.get("length").asLong(),
          Option(n.get("properties")).toSeq.flatMap(_.properties().asScala
            .map(e => e.getKey -> e.getValue.asText())).toMap)
        (m, bytes.slice(m.offset.toInt, (m.offset + m.length).toInt))
      }
    (blobs, props)
  }
}

/** NDV statistics across the Iceberg seam — the `compute_table_stats`
  * flow: an OPT-IN maintenance pass (one sketch aggregation over the
  * live table, never on the write hot path, mirroring
  * [[LogTable.analyze]]) that writes a Puffin file of
  * `apache-datasketches-theta-v1` blobs (one per top-level atomic
  * column) and registers it in the exported metadata's `statistics`
  * array, so a FOREIGN engine's CBO sees per-column NDVs. Values hash
  * into the sketch in Iceberg's single-value binary form (long /
  * timestamp-micros = 8-byte LE, int = 4-byte LE, double/float = IEEE
  * bits LE, string = UTF-8), so sketches union across engines that
  * follow the spec. The import direction adopts the `ndv` blob
  * properties into graft's own manifest NDVs — Spark's CBO on an
  * imported table starts informed instead of blind. */
object IcebergStatistics {
  private val mapper = new ObjectMapper()

  /** Sketch-size parameter (2^12 entries): <0.5% NDV error, ~32 KB
    * per column at saturation — invisible next to the metadata. */
  private val Lgk = 12

  /** One pass over the table's live rows → per-column compact theta
    * sketches (column name → sketch bytes). Partitions sketch locally
    * and only the ~32 KB compact forms travel, merged by a TREE
    * reduce — at 100k partitions the driver sees one merged row, not
    * one per partition (a flat collect would land
    * partitions × columns × 32 KB on the driver). */
  private[sources] def thetaSketches(table: LogTable,
      targets: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Map[String, Array[Byte]] = {
    import org.apache.spark.sql.types._
    val df = table.read()
      .select(targets.map(t => org.apache.spark.sql.functions.col(t._1)): _*)
    val spark = df.sparkSession
    import spark.implicits._
    val kinds: Seq[Int] = targets.map(_._2 match {
      case LongType => 0
      case IntegerType => 1
      case StringType => 2
      case DoubleType => 3
      case FloatType => 4
      case TimestampType => 5
      case other => throw new IllegalArgumentException(
        s"no single-value sketch form for $other")
    })
    val n = targets.size
    def unionPair(a: Seq[Array[Byte]], b: Seq[Array[Byte]]): Seq[Array[Byte]] = {
      import org.apache.datasketches.theta.SetOperation
      import org.apache.datasketches.memory.Memory
      a.zip(b).map { case (x, y) =>
        val u = SetOperation.builder().setLogNominalEntries(Lgk).buildUnion()
        u.union(Memory.wrap(x))
        u.union(Memory.wrap(y))
        u.getResult(true, null).toByteArray
      }
    }
    val merged: Seq[Array[Byte]] =
      df.mapPartitions { rows =>
        import org.apache.datasketches.theta.UpdateSketch
        val sks = Array.fill(n)(
          UpdateSketch.builder().setLogNominalEntries(Lgk).build())
        def le(len: Int)(fill: java.nio.ByteBuffer => Unit): Array[Byte] = {
          val b = java.nio.ByteBuffer.allocate(len)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          fill(b)
          b.array()
        }
        rows.foreach { r =>
          var i = 0
          while (i < n) {
            if (!r.isNullAt(i)) {
              val bytes = kinds(i) match {
                case 0 => le(8)(_.putLong(r.getLong(i)))
                case 1 => le(4)(_.putInt(r.getInt(i)))
                case 2 => r.getString(i).getBytes(StandardCharsets.UTF_8)
                case 3 => le(8)(_.putDouble(r.getDouble(i)))
                case 4 => le(4)(_.putFloat(r.getFloat(i)))
                case 5 => le(8)(_.putLong(
                  org.apache.spark.sql.catalyst.util.DateTimeUtils
                    .fromJavaTimestamp(r.getTimestamp(i))))
              }
              sks(i).update(bytes)
              ()
            }
            i += 1
          }
        }
        Iterator.single(sks.map(_.compact().toByteArray).toSeq)
      }.rdd.treeReduce(unionPair, depth = 3)
    targets.indices.map(i => targets(i)._1 -> merged(i)).toMap
  }

  /** Compute + write Puffin statistics for the CURRENT snapshot of an
    * already-exported table at `dest`, and advance the metadata JSON
    * with the `statistics` entry (vN+1, hint bumped — the same
    * versioning convention the export itself uses). Refuses when the
    * export lags the table (stats must describe the snapshot they
    * claim). Returns the Puffin path. */
  def exportStatistics(table: LogTable, dest: String): Path = {
    val metaDir = Paths.get(dest).resolve("metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim.toInt
    val meta = mapper.readTree(Files.readAllBytes(
      metaDir.resolve(s"v$hint.metadata.json"))).asInstanceOf[ObjectNode]
    val snapId = meta.get("current-snapshot-id").asLong()
    require(snapId == table.currentVersion,
      s"exported current snapshot is $snapId but the table is at " +
        s"${table.currentVersion} — re-export before exporting statistics")
    val snapNode = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == snapId).get
    val seqNum = Option(snapNode.get("sequence-number"))
      .map(_.asLong()).getOrElse(snapId)
    // field ids from the CURRENT exported schema
    val schemaId = meta.get("current-schema-id").asInt()
    val schemaNode = meta.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == schemaId).get
    val idOf: Map[String, Int] = schemaNode.get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    import org.apache.spark.sql.types._
    val targets = LogTable.parseSchema(table.snapshot().schemaJson).fields
      .collect { case f if Set[DataType](LongType, IntegerType, StringType,
          DoubleType, FloatType, TimestampType)(f.dataType) =>
        (f.name, f.dataType)
      }.toSeq
    require(targets.nonEmpty, "no sketchable top-level atomic columns")
    val sketches = thetaSketches(table, targets)
    val blobs = targets.map { case (name, _) =>
      val bytes = sketches(name)
      val est = org.apache.datasketches.theta.Sketches
        .wrapCompactSketch(org.apache.datasketches.memory.Memory.wrap(bytes))
        .getEstimate
      Puffin.Blob("apache-datasketches-theta-v1", Seq(idOf(name)),
        snapId, seqNum, bytes, Map("ndv" -> Math.round(est).toString))
    }
    val puffinPath = metaDir.resolve(
      s"${java.util.UUID.randomUUID()}.stats.puffin")
    val (fileSize, footerSize, metas) = Puffin.write(puffinPath, blobs,
      Map("created-by" -> "graft"))
    // the table metadata's statistics entry (replaces any prior one —
    // stats describe the current snapshot)
    val statsArr = meta.putArray("statistics")
    val entry = statsArr.addObject()
    entry.put("snapshot-id", snapId)
    entry.put("statistics-path", puffinPath.toString)
    entry.put("file-size-in-bytes", fileSize)
    entry.put("file-footer-size-in-bytes", footerSize)
    val bmArr = entry.putArray("blob-metadata")
    metas.foreach { m =>
      val n = bmArr.addObject()
      n.put("type", m.tpe)
      n.put("snapshot-id", m.snapshotId)
      n.put("sequence-number", m.sequenceNumber)
      val fs = n.putArray("fields")
      m.fields.foreach { f => fs.add(f); () }
      val ps = n.putObject("properties")
      m.properties.foreach { case (k, v) => ps.put(k, v); () }
      ()
    }
    Files.write(metaDir.resolve(s"v${hint + 1}.metadata.json"),
      meta.toString.getBytes(StandardCharsets.UTF_8))
    Files.write(metaDir.resolve("version-hint.text"),
      (hint + 1).toString.getBytes(StandardCharsets.UTF_8))
    puffinPath
  }

  /** NDVs recorded in an Iceberg table's metadata `statistics` for its
    * CURRENT snapshot (column name → ndv), without opening the Puffin
    * file — the blob-metadata `ndv` property is the spec's fast path
    * (what Trino's CBO reads). Empty when none recorded. */
  def ndvStats(src: String): Map[String, Long] = {
    val metaDir = Paths.get(src).resolve("metadata")
    val hint = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), StandardCharsets.UTF_8).trim
    val meta = mapper.readTree(Files.readAllBytes(
      metaDir.resolve(s"v$hint.metadata.json")))
    val snapId = Option(meta.get("current-snapshot-id")).map(_.asLong())
      .getOrElse(return Map.empty)
    val nameOf: Map[Int, String] = Option(meta.get("schemas")).map { arr =>
      val sid = meta.get("current-schema-id").asInt()
      arr.elements().asScala.find(_.get("schema-id").asInt() == sid)
        .map(_.get("fields").elements().asScala
          .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap)
        .getOrElse(Map.empty[Int, String])
    }.getOrElse(Option(meta.get("schema")).map(
      _.get("fields").elements().asScala
        .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap)
      .getOrElse(Map.empty[Int, String]))
    Option(meta.get("statistics")).toSeq.flatMap(_.elements().asScala)
      .filter(_.get("snapshot-id").asLong() == snapId)
      .flatMap(e => Option(e.get("blob-metadata")).toSeq
        .flatMap(_.elements().asScala))
      .filter(_.get("type").asText() == "apache-datasketches-theta-v1")
      .flatMap { b =>
        for {
          fid <- b.get("fields").elements().asScala.toSeq.headOption
            .map(_.asInt())
          name <- nameOf.get(fid)
          ndv <- Option(b.get("properties")).flatMap(p =>
            Option(p.get("ndv"))).map(_.asText().toLong)
        } yield name -> ndv
      }.toMap
  }
}

/** Iceberg format-v3 DELETION VECTORS (`deletion-vector-v1` Puffin
  * blobs) — the v3 replacement for position-delete parquet files: one
  * blob per data file, holding the deleted row positions as a 64-bit
  * roaring bitmap in the "portable" layout of the public
  * RoaringFormatSpec.
  *
  * Blob layout (Iceberg spec v3, "Deletion vectors"):
  * `len (int32 BE, of magic+bitmap) | magic D1 D3 39 64 |
  *  portable-64 roaring bitmap | crc32 (int32 BE, of magic+bitmap)`.
  *
  * Portable-64 layout: `bucket count (int64 LE)` then per bucket
  * `high32 key (int32 LE) | standard 32-bit roaring bitmap`. The
  * 32-bit layout: cookie 12346 (no runs; container count in the next
  * int32) or 12347 (runs; count in the cookie's high 16 bits + run
  * bitset), then per-container `key (u16 LE) | cardinality-1 (u16
  * LE)` headers, optional offsets, then containers — array (u16 LE
  * values), bitmap (8 KiB bitset) or run (`n_runs (u16) | (start,
  * len-1) pairs`).
  *
  * The WRITER emits only array/bitmap containers (never runs) — the
  * simplest spec-valid subset; the READER accepts all three container
  * forms, so foreign-authored DVs (which may run-compress) read
  * exactly. Reader methods pull ONLY the blob's byte range from the
  * Puffin file (offset/length come from the manifest entry), so a
  * scan task never reads a multi-DV file whole. */
private[sources] object PuffinDv {
  private val DvMagic = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39, 0x64)

  /** Serialize sorted distinct row positions into a
    * `deletion-vector-v1` blob payload. */
  def serialize(positions: Array[Long]): Array[Byte] = {
    val sorted = positions.distinct.sorted
    require(sorted.forall(_ >= 0), "row positions must be non-negative")
    val buckets = sorted.groupBy(p => (p >>> 32).toInt).toSeq.sortBy(_._1)
    val bm = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { bm.write(v & 0xff); bm.write((v >> 8) & 0xff) }
    def le32(v: Int): Unit = { le16(v & 0xffff); le16((v >>> 16) & 0xffff) }
    def le64(v: Long): Unit = { le32(v.toInt); le32((v >>> 32).toInt) }
    le64(buckets.size.toLong)
    buckets.foreach { case (hi, ps) =>
      le32(hi)
      // one standard 32-bit roaring bitmap over the low 32 bits
      val lows = ps.map(p => (p & 0xffffffffL).toInt)
      val containers = lows.groupBy(v => (v >>> 16) & 0xffff)
        .toSeq.sortBy(_._1)
        .map { case (k, vs) => (k, vs.map(_ & 0xffff).distinct.sorted) }
      le32(12346) // SERIAL_COOKIE_NO_RUNCONTAINER
      le32(containers.size)
      containers.foreach { case (k, vs) => le16(k); le16(vs.length - 1) }
      // offsets are REQUIRED under the no-run cookie
      var off = 4 + 4 + 4 * containers.size + 4 * containers.size
      containers.foreach { case (_, vs) =>
        le32(off)
        off += (if (vs.length <= 4096) 2 * vs.length else 8192)
      }
      containers.foreach { case (_, vs) =>
        if (vs.length <= 4096) vs.foreach(le16)
        else {
          val bits = new Array[Byte](8192)
          vs.foreach(v => bits(v >>> 3) = (bits(v >>> 3) | (1 << (v & 7))).toByte)
          bm.write(bits)
        }
      }
    }
    val bitmap = bm.toByteArray
    val out = java.nio.ByteBuffer.allocate(4 + 4 + bitmap.length + 4)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    out.putInt(4 + bitmap.length)
    out.put(DvMagic)
    out.put(bitmap)
    val crc = new java.util.zip.CRC32()
    crc.update(DvMagic)
    crc.update(bitmap)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Decode a `deletion-vector-v1` blob payload → sorted positions.
    * Exact-or-refuse: bad magic, a CRC mismatch, or a malformed
    * bitmap throws rather than yielding wrong row sets. */
  def deserialize(blob: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(blob)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    val len = bb.getInt()
    require(len >= 4 && len <= blob.length - 8,
      s"deletion-vector blob length $len out of bounds (${blob.length})")
    val magic = new Array[Byte](4); bb.get(magic)
    require(magic.sameElements(DvMagic),
      "deletion-vector blob magic mismatch (not deletion-vector-v1)")
    val bitmap = new Array[Byte](len - 4); bb.get(bitmap)
    val crcRecorded = bb.getInt()
    val crc = new java.util.zip.CRC32()
    crc.update(magic); crc.update(bitmap)
    require(crc.getValue.toInt == crcRecorded,
      "deletion-vector blob CRC-32 mismatch — refusing corrupt marks")
    val in = java.nio.ByteBuffer.wrap(bitmap)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = Array.newBuilder[Long]
    val nBuckets = in.getLong()
    require(nBuckets >= 0 && nBuckets <= Int.MaxValue, s"bad bucket count $nBuckets")
    (0L until nBuckets).foreach { _ =>
      val hi = (in.getInt().toLong & 0xffffffffL) << 32
      val cookie = in.getInt()
      val (nContainers, runFlags): (Int, Array[Byte]) =
        (cookie & 0xffff) match {
          case 12347 => // SERIAL_COOKIE: runs possible
            val n = (cookie >>> 16) + 1
            val flags = new Array[Byte]((n + 7) / 8); in.get(flags)
            (n, flags)
          case 12346 => (in.getInt(), Array.empty[Byte])
          case other => throw new IllegalArgumentException(
            s"unsupported roaring cookie $other in deletion vector")
        }
      def isRun(i: Int): Boolean =
        runFlags.nonEmpty && (runFlags(i / 8) & (1 << (i % 8))) != 0
      val keys = new Array[Int](nContainers)
      val cards = new Array[Int](nContainers)
      (0 until nContainers).foreach { i =>
        keys(i) = in.getShort() & 0xffff
        cards(i) = (in.getShort() & 0xffff) + 1
      }
      // the offset index is present under the no-run cookie, and under
      // the run cookie only when nContainers >= 4 (NO_OFFSET_THRESHOLD)
      if (runFlags.isEmpty || nContainers >= 4)
        (0 until nContainers).foreach(_ => in.getInt())
      (0 until nContainers).foreach { i =>
        val base = hi | (keys(i).toLong << 16)
        if (isRun(i)) {
          val nRuns = in.getShort() & 0xffff
          (0 until nRuns).foreach { _ =>
            val start = in.getShort() & 0xffff
            val rl = in.getShort() & 0xffff
            // a run must stay inside the container's 16-bit value
            // space: start+len overflowing would OR into the
            // container-key bits and yield silently WRONG positions —
            // the one corruption bad magic/CRC/cookie checks miss
            require(start + rl <= 0xffff,
              s"run container overflows 16-bit value space " +
                s"(start=$start, len-1=$rl) — refusing corrupt marks")
            (start to start + rl).foreach(v => out += (base | v.toLong))
          }
        } else if (cards(i) <= 4096) {
          (0 until cards(i)).foreach(_ => out += (base | (in.getShort() & 0xffff).toLong))
        } else {
          val bits = new Array[Byte](8192); in.get(bits)
          var v = 0
          while (v < 65536) {
            if ((bits(v >>> 3) & (1 << (v & 7))) != 0) out += (base | v.toLong)
            v += 1
          }
        }
      }
    }
    out.result().sorted
  }

  /** Decode many DV blob coordinates `(puffinPath, offset, size,
    * referencedDataFile)` into ONE (file_path, pos) frame — the decode
    * runs on EXECUTORS (the driver ships only the coordinate tuples; a
    * DV can hold millions of positions). The one implementation behind
    * BOTH consumers — the spec reader's delete application and the
    * import materialization — so a future fix to range handling or
    * path normalization cannot diverge between the two directions. */
  private[sources] def marksFrame(spark: org.apache.spark.sql.SparkSession,
      coords: Seq[(String, Long, Long, String)])
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    spark.createDataset(coords)
      .flatMap { case (pp, off, sz, ref) =>
        readRange(pp, off, sz).map(pos => (ref, pos)) }
      .toDF("file_path", "pos")
  }

  /** Read ONLY a blob's byte range from a Puffin file and decode it —
    * what a scan/import task runs per DV manifest entry
    * (`content_offset` / `content_size_in_bytes` come from the
    * manifest, so the file is never read whole). Foreign v3 tables
    * commonly record URI-schemed puffin paths (`file:///...`, or an
    * object-store scheme): those open through Hadoop's FileSystem
    * seam — the same data-plane abstraction Spark's own parquet reads
    * use — with a positioned read; plain local paths keep the direct
    * RandomAccessFile fast path. */
  def readRange(path: String, offset: Long, size: Long): Array[Long] = {
    val buf = new Array[Byte](size.toInt)
    if (path.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:/.*")) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(HadoopConf.loaded)
      val in = fs.open(p)
      try in.readFully(offset, buf) finally in.close()
    } else {
      val raf = new java.io.RandomAccessFile(path, "r")
      try { raf.seek(offset); raf.readFully(buf) } finally raf.close()
    }
    deserialize(buf)
  }
}
