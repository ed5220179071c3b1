package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, over the
  * `documents` corpus.
  *
  * Scale design: none of these ever materializes the O(n²) pair space.
  *  - exact: one hash-partitioned group-by on the content key.
  *  - n-gram Jaccard: pairs are generated ONLY for documents sharing a
  *    5-gram (the shingle is the blocking key), so the shuffle is
  *    keyed by shingle and candidate pairing stays partition-local.
  *  - MinHash/LSH: O(n·bands) shuffle rows; collisions within a band
  *    bucket are the only pairs compared — the standard way to near-dup
  *    a 100 TB corpus.
  *  - SimHash: 64-bit fingerprints, banded into 16-bit chunks for
  *    hamming-neighbor blocking.
  *
  * The corpus plants true near-duplicates (top pairs sit at
  * Jaccard ≈ 0.98-1.0, cleanly separated from the ≤0.02 background),
  * so thresholded operators (dedupClusters at jacc ≥ 0.5) get a real
  * positive set at every SF; the pair operators still return TOP-N
  * most similar candidates (always non-empty, deterministic order) so
  * their output is stable even where the threshold would be empty.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** Exact dedup: keep the lowest doc_id per distinct text. */
  def exact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  /** Built-in shingling REFERENCE formulation (slice+array_join per
    * position): ShinglesExprSpec asserts the native WordShingles
    * expression used by ngramJaccard matches its per-doc gram-set
    * cardinalities and pairwise shared counts. */
  private[graft] def shingled(df: DataFrame, n: Int): DataFrame =
    Tables.spread(df)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        when(size(col("ws")) >= n,
          array_distinct(transform(sequence(lit(0), size(col("ws")) - n),
            i => array_join(slice(col("ws"), i + 1, lit(n)), " "))))
          .otherwise(array().cast("array<string>")).as("grams"))

  /** Max document frequency for a shingle to participate in pairing.
    * A 5-gram shared by k docs yields O(k²) candidate rows, and grams
    * common to 100+ docs (stop-word runs, boilerplate) carry no
    * near-dup signal — dropping them bounds the per-gram pair fan-out
    * and is what makes this join survive a 100 TB corpus. The oracle
    * SQL applies the identical cap, so Jaccard is computed over the
    * same capped gram sets in both engines. */
  private val MaxGramDf = 100

  /** Word-5-gram Jaccard near-dup: top-20 most similar pairs.
    * Blocking key = xxhash64 of the shingle (8-byte shuffle keys, not
    * strings); only docs sharing a kept 5-gram are ever paired, and the
    * document-frequency cap kills hot-bucket pair explosions. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    ngramPairs(s, dir)
      .orderBy(col("jacc").desc, col("doc_a"), col("doc_b"))
      .limit(20)

  /** All blocked candidate pairs with their Jaccard — the shared
    * kernel of ngramJaccard (top-N view) and dedupClusters
    * (thresholded component input). */
  private[graft] def ngramPairs(s: SparkSession, dir: String): DataFrame = {
    // Native one-pass shingle hashing (no gram-string materialization);
    // spread first — shingling is CPU-bound even off a single file.
    val e = Tables.spread(docs(s, dir))
      .select(col("doc_id"), explode(graft.functions.WordShingles
        .wordShingles(split(col("text"), " "), 5)).as("gh"))
    // ONE gram-census exchange, materialized ONCE: the per-gram doc
    // list and the document frequency fall out of the SAME groupBy
    // (gdf = list size — WordShingles emits DISTINCT grams per doc),
    // and localCheckpoint pins the census for its several consumers.
    // The old lazy shape (e ⋈ dfc = `kept`, then kept consumed by the
    // pair self-join's two sides AND the two per-doc count joins)
    // re-derived everything per consumer: 8 corpus scans + 8 shingle
    // explodes in dedup_ngram's physical plan
    // (plans/r21/dedup_ngram_before.txt), 1 scan + 1 explode after.
    // The df cap bounds every list at MaxGramDf, so the census rows
    // and the in-bucket pair fan-out stay bounded at any corpus size.
    val census = e.groupBy(col("gh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= MaxGramDf)
      .select(col("ids"))
      .localCheckpoint()
    // Per-doc kept-gram counts — one explode+agg over the census. No
    // broadcast hint: at billions of docs the count table exceeds
    // broadcast limits, so the join strategy is left to Spark/AQE
    // (which still broadcasts it at small scale).
    val n = census.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    // Same-gram pairs explode from the sorted doc list (i < j, so
    // doc_a < doc_b by construction) — the old a⋈b self-join keyed by
    // gh shuffled the instance table twice to build the same pairs.
    val pairs = census.filter(size(col("ids")) >= 2)
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> transform(" +
          "slice(ids, i + 2, size(ids) - i - 1), " +
          "b -> struct(a AS doc_a, b AS doc_b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    pairs.groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(n.select(col("doc_id").as("doc_a"), col("n_grams").as("na")), Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("n_grams").as("nb")), Seq("doc_b"))
      .withColumn("jacc",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("jacc"))
  }

  /** Jaccard threshold above which a pair is a true near-duplicate.
    * The corpus separates cleanly (planted near-dups sit at ~0.98,
    * background pairs below 0.02), so 0.5 is robust at every SF; the
    * oracle applies the identical cut. */
  private val ClusterMinJacc = 0.5

  /** Duplicate-CLUSTER resolution — the step after pair generation
    * that every dedup pipeline actually ships: near-dup pairs chain
    * (A~B, B~C) into connected components, and the pipeline keeps one
    * canonical doc per component. Components are computed by
    * min-label propagation (each doc repeatedly adopts the smallest
    * doc_id reachable over pair edges) — converges in O(component
    * diameter) rounds, and near-dup components are shallow by
    * construction, so this is 2-4 bounded shuffle rounds at any
    * corpus size, never a global transitive closure. The driver loop
    * only ever collects a convergence COUNT; labels stay distributed
    * (localCheckpoint per round truncates the growing lineage).
    *
    * Output: (doc_id, cluster_id, keep) for every doc in ≥1 pair,
    * cluster_id = min doc_id of the component, keep = 1 iff the doc
    * IS the canonical representative. Oracle: DuckDB recursive-CTE
    * transitive closure over the identical thresholded pair set. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = ngramPairs(s, dir).filter(col("jacc") >= ClusterMinJacc)
      .select(col("doc_a"), col("doc_b"))
    // undirected: propagate labels both ways. Materialized ONCE —
    // every propagation round joins against edges, and leaving them
    // lazy would re-run the whole shingle/pair pipeline per round.
    val edges = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("u", "v")
      .localCheckpoint()
    // labels carry a CHANGED flag: (1) convergence reads the flag off
    // the just-checkpointed frame instead of re-joining new labels
    // against old (one join + one wide comparison per round gone);
    // (2) only CHANGED labels propagate next round — the standard
    // delta iteration (guide §2: shrink the iterated input): a label
    // offered in round r was absorbed by every neighbor in round r,
    // so an UNCHANGED node has nothing new to offer round r+1. Round
    // 1 marks everything changed, so every label is offered at least
    // once; convergence (zero changes) is therefore identical to the
    // full-recompute fixpoint.
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .withColumn("chg", lit(true))
      .localCheckpoint()
    var converged = false
    var rounds = 0
    val maxRounds = 50
    while (!converged) {
      rounds += 1
      // propagation moves the min label one hop per round, so rounds
      // track the largest component's diameter. A pathological chain
      // longer than the cap must fail LOUDLY — returning the
      // partially-propagated labels would silently split components.
      if (rounds > maxRounds) throw new IllegalStateException(
        s"dedupClusters did not converge in $maxRounds rounds — component diameter exceeds the cap")
      val nbrMin = edges
        .join(labels.filter(col("chg"))
          .select(col("id").as("v"), col("lbl").as("v_lbl")), Seq("v"))
        .groupBy(col("u").as("id")).agg(min(col("v_lbl")).as("nbr_lbl"))
      val next = labels.select(col("id"), col("lbl")).join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("lbl"),
          (coalesce(col("nbr_lbl"), col("lbl")) < col("lbl")).as("chg"))
        .localCheckpoint()
      converged = next.filter(col("chg")).isEmpty
      labels = next
    }
    labels
      .select(col("id").as("doc_id"), col("lbl").as("cluster_id"),
        when(col("id") === col("lbl"), 1).otherwise(0).cast("int").as("keep"))
      .orderBy(col("doc_id"))
  }

  private val NumHashes = 32
  private val BandSize = 4 // → 8 bands: P(candidate) ≈ 1-(1-s⁴)⁸, s₅₀ ≈ 0.56

  /** Per-doc distinct word array, spread for CPU-bound signature work. */
  private def docWords(s: SparkSession, dir: String): DataFrame =
    Tables.spread(docs(s, dir))
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))
      .filter(size(col("ws")) > 0)

  /** MinHash + LSH banding over word unigram sets: documents colliding
    * in ≥1 band are candidates; output top-100 by band-collision count.
    *
    * The signature is computed NARROW — `array_min(transform(ws,
    * w → xxhash64(j, w)))` per hash j, a pure map with no explode and
    * no 32-buffer shuffle agg (measured ~40× faster than the
    * explode+groupBy formulation). The only shuffle is the band join:
    * O(n·bands) rows keyed by 8-byte band keys — THE near-dup shape
    * for 100 TB. */
  /** Built-in reference formulation of the signature (one array walk
    * per hash): MinHashExprSpec asserts the native one-pass expression
    * used by the operator below is bit-identical to it. */
  private[graft] def minhashSigColumns: Seq[Column] =
    (0 until NumHashes).map(j =>
      array_min(transform(col("ws"), w => xxhash64(lit(j), w))).as(s"h$j"))

  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sig = docWords(s, dir).select(col("doc_id"),
      graft.functions.MinHashSig.minhashSig(col("ws"), NumHashes).as("sig"))
    // 8 bands of 4 hashes → band key = hash of the band's signature slice.
    val bands = sig.select(col("doc_id"),
      explode(array((0 until NumHashes / BandSize).map { b =>
        struct(lit(b).as("band"),
          xxhash64((b * BandSize until (b + 1) * BandSize)
            .map(j => element_at(col("sig"), j + 1)): _*).as("bkey"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // The pair join stays a JOIN (broadcast/hash-distributed, so a hot
    // band bucket's k² candidate probes spread across every task of
    // the probe side — a groupBy+in-bucket-pair-explode funnels the
    // same k² into ONE task and measured 4-7× slower on this corpus's
    // hottest bucket) — but both sides now read the banded frame
    // PINNED ONCE (columnar cache, filled by one count, released after
    // the top-100 materializes): the old lazy self-join recomputed the
    // full MinHash signature pass per join side (2 corpus scans + 2
    // sig passes, plans/r21/dedup_minhash_before.txt).
    val banded = bands
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    banded.count()
    val l = banded.select(col("doc_id").as("doc_a"), col("band"), col("bkey"))
    val r = banded.select(col("doc_id").as("doc_b"), col("band"), col("bkey"))
    val top0 = l.join(r, Seq("band", "bkey")).filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy(col("n_bands").desc, col("doc_a"), col("doc_b"))
      .limit(100)
    planDump("dedup_minhash_join_after", top0)
    val top = top0.localCheckpoint()
    banded.unpersist(blocking = false)
    top
  }

  /** Plan-evidence hook (never set by the driver): dump an INTERNAL
    * frame's formatted plan — the checkpointed returns hide the
    * join-over-pinned-cache shape the r21 optimizations claim. */
  private def planDump(name: String, df: DataFrame): Unit =
    sys.env.get("GRAFT_PLAN_DIR").foreach { d =>
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(d).resolve(s"$name.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }

  /** Bit-count accumulator for one 64-bit SimHash half: per distinct
    * word, hash with `seed`; for each of 64 bits accumulate ±1.
    * Kept as the REFERENCE formulation: SimHashExprSpec asserts the
    * codegen'd native expression (graft.functions.SimHash64, used by
    * the operator below) is bit-identical to it. */
  private[graft] def simhashBitSums(seed: Int): Column = expr(
    s"""aggregate(ws, array_repeat(0L, 64),
       |  (a, w) -> zip_with(a,
       |    transform(sequence(0, 63),
       |      i -> if(((xxhash64($seed, w) >> i) & 1L) = 1L, 1L, -1L)),
       |    (x, y) -> x + y))""".stripMargin)

  /** Sign of each bit sum → packed 64-bit fingerprint. */
  private[graft] def packSigns(bits: String): Column = expr(
    s"""aggregate(zip_with($bits, sequence(0, 63),
       |    (b, i) -> if(b > 0L, shiftleft(1L, i), 0L)),
       |  0L, (x, y) -> x | y)""".stripMargin)

  /** 128-bit SimHash (two seeded 64-bit halves) over word unigrams;
    * hamming-near pairs found by 4 × 32-bit band blocking — a pair
    * differing in ≤3 of 128 bits must share one band (pigeonhole), and
    * 32-bit keys give a 2³²-bucket space, so within-bucket pairing
    * stays tiny even at billions of documents (the 16-bit/65k-bucket
    * variant would go quadratic there). Output: top-100 pairs by
    * hamming distance. */
  def simhash(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimHash64.simhash64
    val fp = docWords(s, dir)
      .select(col("doc_id"),
        simhash64(col("ws"), 0).as("fp0"), simhash64(col("ws"), 1).as("fp1"))
    // 4 bands of 32 bits: 2 from each half.
    val bandKeys = Seq(
      shiftrightunsigned(col("fp0"), 32),
      col("fp0").bitwiseAND(0xFFFFFFFFL),
      shiftrightunsigned(col("fp1"), 32),
      col("fp1").bitwiseAND(0xFFFFFFFFL))
    val banded = fp.select(col("doc_id"), col("fp0"), col("fp1"),
      explode(array(bandKeys.zipWithIndex.map { case (k, b) =>
        struct(lit(b).as("band"), k.as("bkey"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("fp0"), col("fp1"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // Same-bucket pairs from a per-bucket sorted (doc_id, fp0, fp1)
    // list — ONE band exchange, ONE fingerprint pass (the old l⋈r
    // self-join recomputed both SimHash64 halves per join side and
    // shuffled the banded rows twice; see
    // plans/r21/dedup_simhash_before.txt).
    // join kept (hot buckets spread across tasks — see minhashLsh),
    // both sides reading the banded fingerprints PINNED ONCE (filled
    // cache, released after the top-100 materializes) instead of
    // recomputing both SimHash64 halves per join side
    // (plans/r21/dedup_simhash_before.txt)
    val bandedP = banded
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandedP.count()
    val l = bandedP.select(col("doc_id").as("doc_a"), col("fp0").as("a0"),
      col("fp1").as("a1"), col("band"), col("bkey"))
    val r = bandedP.select(col("doc_id").as("doc_b"), col("fp0").as("b0"),
      col("fp1").as("b1"), col("band"), col("bkey"))
    val top0 = l.join(r, Seq("band", "bkey")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("a0").bitwiseXOR(col("b0"))) +
          bit_count(col("a1").bitwiseXOR(col("b1")))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b") // hamming is pair-determined
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
      .limit(100)
    planDump("dedup_simhash_join_after", top0)
    val top = top0.localCheckpoint()
    bandedP.unpersist(blocking = false)
    top
  }

  /** Benchmark-contamination check — the pre-training gate that asks
    * "which training documents contain n-grams from the eval set?"
    * (the decontamination pass every LLM data pipeline runs before
    * training). Eval set here = every 10th document; for each other
    * document, count its distinct 5-grams that appear anywhere in the
    * eval set, report the top-50 most contaminated by overlap ratio.
    *
    * Scale shape: the eval side (benchmarks) is tiny and FIXED no
    * matter how big the training corpus grows, so its distinct-gram
    * set is broadcast — the 100 TB training side streams through a
    * broadcast-hash semi-join with ZERO shuffle of the big side
    * before the per-doc count. Grams travel as 8-byte xxhash64 keys
    * (native one-pass WordShingles), never strings. */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val grams = Tables.spread(docs(s, dir))
      .select(col("doc_id"), explode(graft.functions.WordShingles
        .wordShingles(split(col("text"), " "), 5)).as("gh"))
    val evalGrams = grams.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("gh")).distinct()
    val train = grams.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val n = train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
    train.join(broadcast(evalGrams), Seq("gh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      .join(n, Seq("doc_id"))
      .withColumn("ratio", col("n_hit").cast("double") / col("n_grams"))
      .select(col("doc_id"), col("n_hit"), col("n_grams"), col("ratio"))
      .orderBy(col("ratio").desc, col("doc_id"))
      .limit(50)
  }

  /** NEAR-DUP CONTAMINATION — the fuzzy half of benchmark hygiene:
    * [[contamination]] catches verbatim 5-gram overlap, but an eval
    * document lightly EDITED into the training corpus (the common
    * web-scrape leak) shares almost no exact grams while being the
    * same text. The stripe-signature machinery closes that: 8 md5
    * stripes per doc, train docs probe the eval side by two-stripe
    * band keys, candidates verify at mm_dedup_near's ≥6-of-8 bar
    * (exact by pigeonhole — ≤2 mismatching stripes break at most 2 of
    * the 4 bands, so the banded plan equals the plain ∃-rule the
    * oracle replays). The build side is the EVAL split's band rows,
    * broadcast so the train side streams through with zero shuffle —
    * the exact-contamination scale doctrine. NOTE the harness eval
    * split (doc_id%10 + planted twins) is a corpus FRACTION, so the
    * broadcast here is a harness convenience that holds while the
    * eval side fits the broadcast budget; at 100 TB the eval side is
    * a real benchmark suite — genuinely fixed-size (GBs at most) —
    * and the broadcast doctrine applies outright. Past the budget
    * the explicit broadcast must come off and the band join shuffles
    * on its keys, which still scales (signatures only — never text).
    * Near checks need ≥64 chars (shorter docs share empty
    * tail stripes); a planted eval-twin slice (train doc_id%9 docs
    * re-landed as eval ids ≡0 mod 10 with the last 4 chars rewritten)
    * keeps the gate non-vacuous on a corpus with no natural
    * cross-split near-pairs. */
  def contaminationNear(s: SparkSession, dir: String): DataFrame = {
    val all = Tables.spread(docs(s, dir))
      .select(col("source"), explode(expr(
        "CASE WHEN doc_id % 9 = 0 AND doc_id % 10 <> 0 " +
          "AND length(text) >= 64 THEN array(" +
          "struct(doc_id, text), " +
          "struct(2000000L + doc_id * 10L AS doc_id, " +
          "concat(substring(text, 1, length(text) - 4), 'XXXX') AS text)) " +
          "ELSE array(struct(doc_id, text)) END")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("source"),
        col("r.text").as("text"))
    val stride = greatest(expr("(length(text) + 7) div 8"), lit(1L))
    val sigsCol = transform(sequence(lit(0L), lit(7L)), i =>
      pmod(conv(substring(md5(col("text").substr(i * stride + lit(1L),
        stride)), 1, 15), 16, 10).cast("long"), lit(1000000007L)))
    val sg = all.select(col("doc_id"), col("source"), sigsCol.as("sigs"),
      length(col("text")).cast("long").as("len"))
    def bandRows(df: DataFrame): DataFrame = df
      .filter(col("len") >= 64L)
      .select(col("doc_id"), col("sigs"), explode(expr(
        "transform(sequence(0, 3), b -> " +
          "struct(b AS band, sigs[b * 2] AS k1, sigs[b * 2 + 1] AS k2))"))
        .as("bd"))
      .select(col("bd.band").as("band"), col("bd.k1").as("k1"),
        col("bd.k2").as("k2"), col("doc_id"), col("sigs"))
    val train = sg.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val evalBands = bandRows(sg.filter(pmod(col("doc_id"), lit(10)) === 0))
      .select(col("band"), col("k1"), col("k2"), col("sigs").as("ev_sigs"))
    val flagged = bandRows(train)
      .join(broadcast(evalBands), Seq("band", "k1", "k2"))
      .filter(expr("aggregate(zip_with(sigs, ev_sigs, " +
        "(x, y) -> CAST(x = y AS INT)), 0, (acc, v) -> acc + v) >= 6"))
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1))
    train.join(flagged, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("hit") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_flagged"),
        min(when(col("hit") === 1, col("doc_id"))).as("first_flagged"))
      .orderBy(col("source"))
  }

  /** Substring-dedup census (the window pass of "Deduplicating
    * Training Data Makes Language Models Better"-style pipelines):
    * every 10-word sliding window of every doc, counted across the
    * corpus; windows repeated in ≥2 DISTINCT docs are boilerplate /
    * near-dup evidence. Output = top-20 hottest windows. One explode +
    * one hash agg, the wordcount shape: map-side partial aggregation
    * collapses each partition to its distinct windows before the
    * shuffle, so the exchange is O(distinct windows) per partition —
    * at 100 TB the heavy hitters (the rows this query exists to find)
    * combine hardest. Docs shorter than the window contribute their
    * whole text as one window (clamped slice, matching the oracle). */
  def windowCensus(s: SparkSession, dir: String): DataFrame =
    Tables.spread(docs(s, dir))
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(1, size(ws) - 9)), " +
          "i -> array_join(slice(ws, i, 10), ' '))")).as("win"))
      .groupBy(col("win"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_total"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_total").desc, col("win"))
      .limit(20)

  /** DUPLICATED-SPAN doc filter — the doc-level DECISION the window
    * census ([[windowCensus]]) feeds (the "Deduplicating Training Data
    * Makes Language Models Better" pipeline drops or trims documents
    * whose text is substantially covered by substrings repeated
    * elsewhere in the corpus): for every doc, the fraction of its
    * 10-word sliding windows that also occur in ≥2 DISTINCT docs
    * corpus-wide; docs at ≥50% duplicated coverage are flagged for
    * removal/trimming.
    *
    * Shape at 100 TB: windows are hashed to TWO independent 64-bit
    * xxhash64 keys BEFORE any shuffle (the dedup_lines trick — an
    * effectively 128-bit identity, expected false merges ~n²/2¹²⁹ ≈ 0
    * at 10^10 windows), so window TEXT never crosses the wire, and
    * the corpus is scanned+exploded exactly ONCE: instances fold
    * map-side to (window, doc, multiplicity) census rows — the only
    * corpus-sized exchange — the ≥2-distinct-docs test is a COUNT
    * window over the window key (no second census, no join back),
    * and the per-doc rollup is O(docs). Never an all-pairs or
    * text-keyed stage anywhere. */
  def dedupSpans(s: SparkSession, dir: String): DataFrame = {
    val inst = Tables.spread(docs(s, dir))
      .withColumn("ws", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(1, size(ws) - 9)), " +
          "i -> array_join(slice(ws, i, 10), ' '))")).as("win"))
      .select(col("doc_id"),
        xxhash64(col("win")).as("h"),
        xxhash64(lit(0x9E3779B97F4A7C15L), col("win")).as("h2"))
    // SINGLE-PASS shape — the corpus is scanned and exploded exactly
    // once: (1) fold instances to one row per (window, doc) with its
    // multiplicity m (map-side-combined hash agg — the only
    // corpus-sized exchange); (2) the distinct-doc count per window is
    // a COUNT window over (h, h2) — rows per group ARE distinct docs
    // here, so no second census and no join back; (3) one O(docs)
    // rollup. Within-doc repeats are NOT duplication evidence
    // (boilerplate is a cross-doc phenomenon) but they count toward
    // the doc's window total with multiplicity.
    val perDocWin = inst.groupBy(col("h"), col("h2"), col("doc_id"))
      .agg(count(lit(1)).as("m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h"), col("h2"))
    perDocWin
      .withColumn("nd", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).cast("long").as("n_windows"),
        sum(when(col("nd") >= 2, col("m")).otherwise(0L))
          .cast("long").as("n_dup"))
      .withColumn("dup_pct", col("n_dup").cast("double") / col("n_windows"))
      .withColumn("flagged", col("dup_pct") >= 0.5)
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        col("dup_pct"), col("flagged"))
      .orderBy(col("doc_id"))
  }

  /** Minimum line length (chars) to participate in line dedup: short
    * lines ("", "1.", "Introduction") repeat across unrelated docs by
    * nature and carry no boilerplate signal — dedup'ing them would
    * mangle text. The C4/RefinedWeb pipelines apply the same guard.
    * Also the SKEW bound: the window below partitions by the line
    * string, and only ≥30-char lines enter it, so the hottest
    * partition is the most-repeated boilerplate sentence — bounded by
    * the corpus's duplication, not by structurally-empty lines. */
  private val MinDedupLineLen = 30

  /** LINE-level exact dedup across the corpus (C4's duplicated-span
    * removal, line granularity): a line ≥30 chars is kept only at its
    * FIRST global occurrence (lowest (doc_id, position)); shorter
    * lines always survive. Output = per-doc retention stats.
    *
    * Shape at 100 TB: explode is a narrow map; hash and length are
    * computed BEFORE the shuffle, so first-occurrence marking is ONE
    * window shuffle keyed by `xxhash64(line)` carrying only
    * (doc_id, gord, hash, len) — ~32 bytes/row instead of the line
    * text (several-fold fewer shuffle bytes on prose); the per-doc
    * rollup is the second, O(docs) shuffle. No join back against the
    * corpus, no all-pairs anything. Line identity is TWO independent
    * 64-bit hashes (xxhash64 with distinct prefix seeds) — an
    * effectively 128-bit key, so at 10^10 lines (the 100 TB corpus)
    * the expected false-merge count stays ~n²/2¹²⁹ ≈ 0, where a
    * single 64-bit key would silently drop a few distinct lines to
    * birthday collisions. Both hashes are computed BEFORE the
    * shuffle; the window partitions by (h, h2), so the exchange still
    * never carries line text. */
  def dedupLines(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = Tables.spread(docs(s, dir))
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
      // global occurrence order as a COMPOSITE (doc_id, pos) struct —
      // lexicographic struct ordering is total and collision-free at
      // ANY line count (a doc_id·10^6+pos packing would silently
      // corrupt the first-occurrence rule past 10^6 lines/doc)
      .withColumn("gord", struct(col("doc_id"), col("pos")))
      .select(col("doc_id"), col("gord"), length(col("line")).as("len"),
        xxhash64(col("line")).as("h"),
        xxhash64(lit(0x9E3779B97F4A7C15L), col("line")).as("h2"))
    val cand = lines.filter(col("len") >= MinDedupLineLen)
      .withColumn("keep",
        col("gord") === min(col("gord"))
          .over(Window.partitionBy(col("h"), col("h2"))))
    val short = lines.filter(col("len") < MinDedupLineLen)
      .withColumn("keep", lit(true))
    cand.unionByName(short)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_kept"),
        sum(when(col("keep"), col("len")).otherwise(0L))
          .cast("long").as("kept_chars"))
      .orderBy(col("doc_id"))
  }

  /** The line-dedup REWRITE pass — the step that actually PRODUCES the
    * cleaned training corpus (dedup_lines reports the per-doc stats;
    * this emits the text a tokenizer would consume): every ≥30-char
    * line survives only at its first global occurrence, shorter lines
    * always survive, and each doc's surviving lines reassemble in
    * original order. Docs whose every line was boilerplate come back
    * as empty strings (they still exist — dropping them is a separate
    * quality gate's decision).
    *
    * Shape at 100 TB: this is a corpus REWRITE, so line text must
    * cross the wire once — O(corpus) shuffle bytes is the floor for
    * any pass that outputs text. The first-occurrence mark is the
    * dedup_lines window keyed by the same 128-bit double-xxhash64
    * identity (text rides as data, never as the key), short lines
    * bypass the window entirely, and reassembly is one O(docs)
    * aggregation — no joins back against the corpus. */
  def cleanLines(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = Tables.spread(docs(s, dir))
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n", -1)).as(Seq("pos", "line")))
      // composite occurrence order, same rationale as dedupLines: no
      // packed-long collision regime at any lines-per-doc
      .withColumn("gord", struct(col("doc_id"), col("pos")))
    val cand = lines.filter(length(col("line")) >= MinDedupLineLen)
      .withColumn("h", xxhash64(col("line")))
      .withColumn("h2", xxhash64(lit(0x9E3779B97F4A7C15L), col("line")))
      .withColumn("keep", col("gord") === min(col("gord"))
        .over(Window.partitionBy(col("h"), col("h2"))))
      .drop("h", "h2")
    val short = lines.filter(length(col("line")) < MinDedupLineLen)
      .withColumn("keep", lit(true))
    cand.unionByName(short)
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(array_sort(collect_list(
          when(col("keep"), struct(col("gord"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).cast("long").as("n_kept"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_lines" -> (dedupLines _),
    "dedup_clean" -> (cleanLines _),
    "dedup_exact" -> (exact _),
    "dedup_windows" -> (windowCensus _),
    "dedup_spans" -> (dedupSpans _),
    "dedup_ngram" -> (ngramJaccard _),
    "dedup_minhash" -> (minhashLsh _),
    "dedup_simhash" -> (simhash _),
    "dedup_clusters" -> (dedupClusters _),
    "contamination" -> (contamination _),
    "contamination_near" -> (contaminationNear _),
  )

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    // Parallel unnests zip in DuckDB, giving (line, 1-based ord)
    // pairs; row_number over (doc_id, ord) mirrors Spark's composite
    // struct(doc_id, pos) first-occurrence mark over ≥30-char lines
    // exactly — (doc_id, ord) is unique, so rn=1 ≡ min-struct.
    "dedup_lines" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS ord
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, line,
        |    CASE WHEN length(line) >= 30 THEN
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, ord) = 1
        |    ELSE TRUE END AS keep
        |  FROM l)
        |SELECT doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN length(line) ELSE 0 END) AS BIGINT) AS kept_chars
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the rewrite pass: same keep rule as dedup_lines, then the kept
    // lines reassemble in occurrence order (string_agg skips the
    // CASE's NULLs exactly as collect_list skips Spark's; all-dropped
    // docs coalesce to '' on both sides; within a doc the composite
    // order reduces to ord)
    "dedup_clean" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS ord
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, line, ord,
        |    CASE WHEN length(line) >= 30 THEN
        |      row_number() OVER (PARTITION BY line ORDER BY doc_id, ord) = 1
        |    ELSE TRUE END AS keep
        |  FROM l)
        |SELECT doc_id,
        |  COALESCE(string_agg(CASE WHEN keep THEN line END, chr(10)
        |    ORDER BY ord), '') AS clean_text,
        |  count(*) AS n_lines,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // range(1, n) is EXCLUSIVE of n ↔ Spark sequence(1, n-1) inclusive;
    // list_slice clamps at the list end exactly as Spark's slice.
    "dedup_windows" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), i, i + 9), ' ') AS win
        |  FROM documents,
        |    LATERAL (SELECT unnest(range(1,
        |      greatest(2, len(string_split(text, ' ')) - 8))) AS i)
        |)
        |SELECT win, count(DISTINCT doc_id) AS n_docs, count(*) AS n_total
        |FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY n_docs DESC, n_total DESC, win LIMIT 20""".stripMargin,
    // Window identity is by 128-bit double-hash on the Spark side and
    // by string here — equivalent counts absent a collision (the same
    // equivalence dedup_lines' green hash rests on). The division is
    // the identical single IEEE op in both engines.
    "dedup_spans" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(string_split(text, ' '), i, i + 9), ' ') AS win
        |  FROM documents,
        |    LATERAL (SELECT unnest(range(1,
        |      greatest(2, len(string_split(text, ' ')) - 8))) AS i)),
        |c AS (
        |  SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2),
        |t AS (
        |  SELECT doc_id, count(*) AS n_windows FROM w GROUP BY 1),
        |h AS (
        |  SELECT doc_id, count(*) AS n_dup FROM w JOIN c USING (win) GROUP BY 1)
        |SELECT t.doc_id, t.n_windows,
        |  CAST(COALESCE(h.n_dup, 0) AS BIGINT) AS n_dup,
        |  CAST(COALESCE(h.n_dup, 0) AS DOUBLE) / t.n_windows AS dup_pct,
        |  CAST(COALESCE(h.n_dup, 0) AS DOUBLE) / t.n_windows >= 0.5 AS flagged
        |FROM t LEFT JOIN h ON h.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "dedup_ngram" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS grams
        |  FROM w WHERE len(ws) >= 5),
        |e AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g),
        |dfc AS (
        |  SELECT gram, count(*) AS gdf FROM e GROUP BY 1),
        |kept AS (
        |  SELECT e.doc_id, e.gram, dfc.gdf FROM e JOIN dfc USING (gram)
        |  WHERE dfc.gdf <= 100),
        |n AS (
        |  SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY 1),
        |cand AS (
        |  SELECT * FROM kept WHERE gdf >= 2),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM cand a JOIN cand b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, shared,
        |  CAST(shared AS DOUBLE) / (na.n_grams + nb.n_grams - shared) AS jacc
        |FROM p
        |JOIN n na ON na.doc_id = p.doc_a
        |JOIN n nb ON nb.doc_id = p.doc_b
        |ORDER BY jacc DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    // Transitive closure by recursive CTE (the UNION dedups rows, so
    // it terminates); cluster_id = min reachable doc (incl. self).
    "dedup_clusters" ->
      """WITH RECURSIVE w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS grams
        |  FROM w WHERE len(ws) >= 5),
        |e AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g),
        |dfc AS (
        |  SELECT gram, count(*) AS gdf FROM e GROUP BY 1),
        |kept AS (
        |  SELECT e.doc_id, e.gram, dfc.gdf FROM e JOIN dfc USING (gram)
        |  WHERE dfc.gdf <= 100),
        |n AS (
        |  SELECT doc_id, count(*) AS n_grams FROM kept GROUP BY 1),
        |cand AS (
        |  SELECT * FROM kept WHERE gdf >= 2),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        |  FROM cand a JOIN cand b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM p
        |  JOIN n na ON na.doc_id = p.doc_a
        |  JOIN n nb ON nb.doc_id = p.doc_b
        |  WHERE CAST(shared AS DOUBLE) / (na.n_grams + nb.n_grams - shared) >= 0.5),
        |edges AS (
        |  SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u)
        |SELECT u AS doc_id, min(v) AS cluster_id,
        |  CAST(CASE WHEN u = min(v) THEN 1 ELSE 0 END AS INT) AS keep
        |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    // the fuzzy-contamination replay: planted eval twins, 8-stripe
    // signatures, the plain exists-eval-doc-with->=6-matching-stripes
    // rule (the banded Spark plan equals it by pigeonhole)
    "contamination_near" ->
      """WITH pl AS (
        |  SELECT 2000000 + doc_id * 10 AS doc_id, source,
        |    substring(text, 1, length(text) - 4) || 'XXXX' AS text
        |  FROM documents
        |  WHERE doc_id % 9 = 0 AND doc_id % 10 <> 0 AND length(text) >= 64),
        |alld AS (
        |  SELECT doc_id, source, text FROM documents
        |  UNION ALL SELECT doc_id, source, text FROM pl),
        |sg AS (
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len,
        |    list_transform(range(0, 8), i ->
        |      ('0x' || substr(md5(substring(text,
        |          CAST(i * greatest((length(text) + 7) // 8, 1) + 1 AS BIGINT),
        |          greatest((length(text) + 7) // 8, 1))), 1, 15))::BIGINT
        |        % 1000000007) AS sigs
        |  FROM alld),
        |tr AS (SELECT * FROM sg WHERE doc_id % 10 <> 0),
        |ev AS (SELECT * FROM sg WHERE doc_id % 10 = 0),
        |fl AS (SELECT DISTINCT t.doc_id FROM tr t JOIN ev e
        |  ON t.len >= 64 AND e.len >= 64
        |  AND list_sum(list_transform(range(1, 9),
        |    i -> CASE WHEN t.sigs[i] = e.sigs[i] THEN 1 ELSE 0 END)) >= 6)
        |SELECT tr.source, count(*) AS n_train,
        |  CAST(sum(CASE WHEN fl.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  min(fl.doc_id) AS first_flagged
        |FROM tr LEFT JOIN fl ON fl.doc_id = tr.doc_id
        |GROUP BY tr.source ORDER BY tr.source""".stripMargin,
    // Gram identity is by 8-byte hash on the Spark side and by string
    // on the DuckDB side — equivalent counts absent a 64-bit collision
    // (the same equivalence dedup_ngram's green hash already rests on).
    "contamination" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 3),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4])) AS grams
        |  FROM w WHERE len(ws) >= 5),
        |e AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g),
        |ev AS (
        |  SELECT DISTINCT gram FROM e WHERE doc_id % 10 = 0),
        |tr AS (
        |  SELECT * FROM e WHERE doc_id % 10 <> 0),
        |n AS (
        |  SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1),
        |h AS (
        |  SELECT tr.doc_id, count(*) AS n_hit FROM tr JOIN ev USING (gram) GROUP BY 1)
        |SELECT h.doc_id AS doc_id, n_hit, n_grams,
        |  CAST(n_hit AS DOUBLE) / n_grams AS ratio
        |FROM h JOIN n ON n.doc_id = h.doc_id
        |ORDER BY ratio DESC, h.doc_id LIMIT 50""".stripMargin,
    // dedup_minhash / dedup_simhash: no oracle (xxhash64 is
    // Spark-specific); rows-only + ScalaTest.
  )
}
