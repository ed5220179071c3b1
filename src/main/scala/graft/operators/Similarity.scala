package graft.operators

import graft.{Pins, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Similarity search over the `embeddings` table (Array[Float] column).
  *
  * Determinism: cosine ranking is done in an EXACT integer domain so the
  * DuckDB oracle matches bit-for-bit. Vectors are quantized to
  * round(x*1000) (long); for a pair with integer dot product d and
  * integer norm products P = |a|²·|b|², the sort key
  * sign(d) · d²/P is a monotone function of cosine and is computed from
  * integers ≤2^53 with a single IEEE division — identical in any engine,
  * no order-dependent float summation anywhere.
  *
  * Scale design: brute-force top-k is the per-bucket refinement kernel;
  * the scale path routes through sign-bit LSH buckets (`annLsh`) so a
  * query only scans its bucket — at 100 TB the bucket id is the shuffle
  * key and each partition does a local top-k.
  */
object Similarity {

  /** The ONE quantization/norm kernel, over any frame carrying an
    * `embedding` column — both scan shapes below share it, so the
    * integer-exact scale (×1000, round, long) and the norm aggregate
    * can never drift between the filtered and unfiltered kernels. */
  private def withQuantized(df: DataFrame): DataFrame = df
    .withColumn("qv", transform(col("embedding"),
      x => round(x.cast("double") * 1000).cast("long")))
    .withColumn("nrm", aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x))
    .drop("embedding")

  private def quantized(s: SparkSession, dir: String): DataFrame =
    withQuantized(Tables.spread(Tables(s, dir, "embeddings"))
      .select(col("vec_id"), col("embedding")))

  /** [[quantized]] plus the `label` metadata column — the filtered-ANN
    * input. A separate two-column scan shape (not a drop of this one)
    * so the unfiltered kernels keep reading corpora that carry no
    * label column at all (the spec's synthetic embeddings don't). */
  private def quantizedL(s: SparkSession, dir: String): DataFrame =
    withQuantized(Tables.spread(Tables(s, dir, "embeddings"))
      .select(col("vec_id"), col("label"), col("embedding")))

  /** Exact integer dot — native fused loop (graft.functions.LongDot);
    * the HOF zip_with+aggregate reference formulation lives in
    * LongDotSpec, which asserts bit-identity. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.LongDot.longDot(a, b)

  /** sign(d)·d²/P — exact-integer monotone proxy for cosine. */
  private def cosKey(d: Column, pp: Column): Column =
    when(d < 0, -1.0).otherwise(1.0) *
      ((d * d).cast("double") / pp.cast("double"))

  /** Brute-force cosine top-5 neighbors for query vectors (vec_id<10).
    * The small query side is broadcast; candidates stream through. */
  def annTopk(s: SparkSession, dir: String): DataFrame = {
    val all = quantized(s, dir)
    val q = all.select(col("vec_id").as("q_id"), col("qv").as("q_qv"), col("nrm").as("q_nrm"))
      .filter(col("q_id") < 10)
    val c = all.select(col("vec_id").as("n_id"), col("qv").as("n_qv"), col("nrm").as("n_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("key").desc, col("n_id"))
    c.join(broadcast(q), col("n_id") =!= col("q_id"))
      .withColumn("key", cosKey(dot(col("q_qv"), col("n_qv")),
        col("q_nrm") * col("n_nrm")))
      // long, matching the oracle engine's BIGINT row_number (the
      // type-strict gate compares result types, not just values)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("n_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** INDEX QUALITY GATE — recall@5 of the IVF index against the exact
    * scan, the evaluation query every ANN deployment runs before
    * shipping an index (and re-runs when tuning k/probes): per query,
    * how many of the exact cosine top-5 the 4-probe IVF top-5
    * recovered. Pure composition of two proven ops — [[annIvf]]
    * (warm cached index, the production probe path) and [[annTopk]]
    * (the brute-force truth) — intersected per query: O(queries × k)
    * on top of the searches themselves. All-integer output
    * (hits, integer-div percent), so the oracle replays both ladders
    * via the shared CTE machinery and hash-pins every hit. */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact5 = annTopk(s, dir).select(col("q_id"), col("n_id"))
    val ivf5 = annIvf(s, dir).select(col("q_id"), col("n_id"))
      .withColumn("hit", lit(1))
    exact5.join(ivf5, Seq("q_id", "n_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("hit")).as("n_hits"))
      .withColumn("recall_pct", expr("(100 * n_hits) div 5"))
      .orderBy(col("q_id"))
  }

  /** FILTERED ANN — vector search under a metadata predicate (the
    * "neighbors within a category" shape every retrieval stack needs):
    * exact cosine top-5 among candidates sharing the query's `label`.
    * The predicate joins BEFORE any distance work, so pruned
    * candidates never pay a dot product. The tiny query side
    * broadcasts here; at corpus scale the deployment shape is the
    * same plan with the index PARTITIONED BY the filter attribute
    * (the label equality becomes the co-partitioning key), so a
    * label's search touches only its partition — the filter is a
    * pruning lever, never a post-filter over an unfiltered top-k
    * (which under-fills k when the filter is selective). Kernel and
    * ranking identical to [[annTopk]] (integer-exact). */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val all = quantizedL(s, dir)
    val q = all.select(col("vec_id").as("q_id"), col("label").as("q_label"),
      col("qv").as("q_qv"), col("nrm").as("q_nrm"))
      .filter(col("q_id") < 10)
    val c = all.select(col("vec_id").as("n_id"), col("label").as("n_label"),
      col("qv").as("n_qv"), col("nrm").as("n_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("key").desc, col("n_id"))
    c.join(broadcast(q),
        col("n_label") === col("q_label") && col("n_id") =!= col("q_id"))
      .withColumn("key", cosKey(dot(col("q_qv"), col("n_qv")),
        col("q_nrm") * col("n_nrm")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("n_id"),
        col("n_label").as("label"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** HYBRID lexical+vector retrieval with reciprocal-rank fusion —
    * the retrieval shape data-curation stacks use when neither signal
    * alone suffices (keyword-grounded contamination sweeps, RAG-style
    * data selection): per query, an exact-cosine rank and an
    * inverted-index lexical rank (rarity-weighted distinct-term
    * overlap, the integer idf proxy oracle-pinned in `text_tfidf`)
    * fuse by RRF — score = 1/(60+v_rank) + 1/(60+l_rank), the
    * Cormack/Clarke constant — and the top-5 fused candidates return.
    *
    * Determinism: the vector rank is the integer-exact cosine kernel
    * of [[annTopk]]; the lexical score is an integer sum of
    * `(10^6·N) div df` weights; RRF adds two IEEE doubles whose
    * operands are small integers — every engine computes the same
    * bits, ties fall to n_id. No transcendentals (a log-idf or BM25
    * saturation would hash-drift across libm versions while ranking
    * identically — same trade text_tfidf makes).
    *
    * Shape at 100 TB: the query side (10 docs) broadcasts everywhere;
    * candidate words stream through a broadcast semi-join on the
    * query term set (the inverted-index probe — only candidates
    * SHARING a term produce lexical rows), and df weights are looked
    * up from a broadcast dict restricted to query terms (O(query
    * vocab), never the corpus vocab). The all-candidate vector rank
    * here is the spec-exact small-corpus form; at scale the ANN
    * ladder (annLsh/annIvf/annPq) supplies the vector shortlist and
    * RRF fuses top-LISTS, with absent ranks contributing nothing —
    * the fusion stage itself is already O(shortlist). */
  def annHybrid(s: SparkSession, dir: String): DataFrame = Pins.scope { pins =>
    // materialize the ≤5·|queries|-row answer NOW so the persisted
    // index frame releases before returning (the q_ntile lifecycle)
    Pins.collected(annHybridPlan(pins, s, dir))
  }

  /** The lazy fused plan behind [[annHybrid]] — separated so the
    * plan-contract spec can assert the shape without materializing;
    * the index frame is pinned in `pins`. */
  private[graft] def annHybridPlan(pins: Pins, s: SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = quantized(s, dir)
    val txt = Tables.spread(Tables(s, dir, "documents"))
      .select(col("doc_id").as("vec_id"), col("text"))
    // the hybrid corpus = items carrying BOTH modalities. PERSISTED:
    // seven consumers derive from this frame (queries, candidates,
    // words, the df census, …) and per-consumer pruning defeats
    // exchange reuse — uncached, the two-table join re-scans per
    // consumer (plan-probed: 14 FileScans). This is the "hybrid index
    // materialization" every retrieval stack performs; released below
    // via the q_ntile collect-then-release lifecycle (the result is
    // ≤ 5·|queries| rows).
    val items = pins(emb.join(txt, Seq("vec_id")))
    val q = items.select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
      col("nrm").as("q_nrm")).filter(col("q_id") < 10)
    val c = items.select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
      col("nrm").as("n_nrm"))
    val wv = Window.partitionBy(col("q_id")).orderBy(col("key").desc, col("n_id"))
    val vrank = c.join(broadcast(q), col("n_id") =!= col("q_id"))
      .withColumn("key", cosKey(dot(col("q_qv"), col("n_qv")),
        col("q_nrm") * col("n_nrm")))
      .withColumn("v_rank", row_number().over(wv).cast("long"))
      .select(col("q_id"), col("n_id"), col("v_rank"))
    // lexical: distinct terms per item; weights only for query terms
    val overlap = lexOverlap(items)
    val wl = Window.partitionBy(col("q_id")).orderBy(col("lex_score").desc, col("n_id"))
    val wf = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("n_id"))
    vrank.join(overlap, Seq("q_id", "n_id"), "left")
      .na.fill(0L, Seq("lex_score"))
      .withColumn("l_rank", row_number().over(wl).cast("long"))
      .withColumn("rrf",
        lit(1.0) / (lit(60.0) + col("v_rank").cast("double")) +
          lit(1.0) / (lit(60.0) + col("l_rank").cast("double")))
      .withColumn("rnk", row_number().over(wf).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("n_id"), col("v_rank"), col("l_rank"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** The lexical arm shared by [[annHybridPlan]] and
    * [[annHybridLadder]]: rarity-weighted distinct-term overlap of
    * every candidate against the query docs — (q_id, n_id, lex_score)
    * rows for candidates sharing ≥1 term. Query terms and the
    * query-vocab df dict broadcast; candidate words stream through the
    * broadcast semi-join (the inverted-index probe). */
  private def lexOverlap(items: DataFrame): DataFrame = {
    val words = items.select(col("vec_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val qw = words.filter(col("vec_id") < 10)
      .withColumnRenamed("vec_id", "q_id")
    val dfreq = words.groupBy(col("term"))
      .agg(countDistinct(col("vec_id")).as("df"))
    val nItems = items.agg(count(lit(1)).as("n"))
    val dfq = dfreq.join(broadcast(qw.select(col("term")).distinct()), Seq("term"))
      .crossJoin(broadcast(nItems))
      .select(col("term"), expr("(1000000 * n) div df").as("wgt"))
    words.withColumnRenamed("vec_id", "n_id")
      .join(broadcast(qw), Seq("term"))
      .filter(col("n_id") =!= col("q_id"))
      .join(broadcast(dfq), Seq("term"))
      .groupBy(col("q_id"), col("n_id"))
      .agg(sum(col("wgt")).as("lex_score"))
  }

  /** [[annHybrid]] at the LADDER's production shape: the vector arm is
    * the retrieve-then-refine shortlist (ADC candidates from the PQ
    * codes, exact integer re-rank of the top-`refine` pool —
    * [[annRefine]]'s machinery) instead of the all-candidate exact
    * rank, and the lexical arm keeps its own top list; RRF fuses the
    * two SHORT LISTS with absent ranks contributing nothing — the
    * fusion every production hybrid stack runs, O(shortlist) per
    * query end to end. At 100 TB the vector arm reads m-byte codes
    * for routing and full vectors only for the refine pool; the
    * lexical arm is the same broadcast inverted-index probe.
    * SimilaritySpec pins fused top-5 parity ≥ 0.9 vs the exact
    * [[annHybrid]] on the spec corpus (the honest approximation gap:
    * a candidate outside both short lists can never surface). */
  def annHybridLadder(s: SparkSession, dir: String, refine: Int = 50,
      lexKeep: Int = 50, k: Int = 16, probes: Int = 4): DataFrame = Pins.scope { pins =>
    import org.apache.spark.sql.expressions.Window
    // vector arm: ADC shortlist, exact re-rank (annRefine stage 2)
    val cand = pqCandidates(s, dir, keep = refine, k = k, probes = probes)
      .select(col("q_id"), col("n_id"), col("q_qv"), col("q_nrm"))
    val exact = quantized(s, dir).select(col("vec_id").as("n_id"),
      col("qv").as("n_qv"), col("nrm").as("n_nrm"))
    val wv = Window.partitionBy(col("q_id")).orderBy(col("key").desc, col("n_id"))
    val vrank = exact.join(broadcast(cand), Seq("n_id"))
      .withColumn("key", cosKey(dot(col("q_qv"), col("n_qv")),
        col("q_nrm") * col("n_nrm")))
      .withColumn("v_rank", row_number().over(wv).cast("long"))
      .select(col("q_id"), col("n_id"), col("v_rank"))
    // lexical arm: same probe, its own top list
    val emb = quantized(s, dir)
    val txt = Tables.spread(Tables(s, dir, "documents"))
      .select(col("doc_id").as("vec_id"), col("text"))
    val items = pins(emb.join(txt, Seq("vec_id")))
    val wl = Window.partitionBy(col("q_id")).orderBy(col("lex_score").desc, col("n_id"))
    val lrank = lexOverlap(items)
      .withColumn("l_rank", row_number().over(wl).cast("long"))
      .filter(col("l_rank") <= lexKeep)
      .select(col("q_id"), col("n_id"), col("l_rank"))
    // RRF over the UNION of the short lists; an absent arm adds 0
    val wf = Window.partitionBy(col("q_id")).orderBy(col("rrf").desc, col("n_id"))
    val fused = vrank.join(lrank, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(60.0) + col("v_rank").cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("l_rank").cast("double")), lit(0.0)))
      .withColumn("rnk", row_number().over(wf).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("n_id"))
      .orderBy(col("q_id"), col("rnk"))
    Pins.collected(fused)
  }

  // ------------------------------------------------- random-hyperplane LSH

  /** splitmix64 — deterministic driver-side PRNG for hyperplane signs
    * (public-domain mixing constants; same stream on every run/JVM). */
  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D4A4F4BD4FC94FL
    z ^ (z >>> 31)
  }

  /** One seeded random hyperplane = a ±1 sign per dimension. True
    * random projections (not axis-aligned coordinate thresholds), so
    * buckets are balanced regardless of per-dimension correlation. */
  private def hyperplane(seed: Long, table: Int, bit: Int, dim: Int): Array[Long] =
    Array.tabulate(dim) { d =>
      if ((splitmix64(seed ^ (table.toLong << 40) ^ (bit.toLong << 20) ^ d) & 1L) == 0L) 1L else -1L
    }

  /** Attach the full hyperplane sign matrix (tables × bits rows of ±1,
    * one inner array per hyperplane) as a broadcast ONE-ROW column.
    * Carrying the matrix as data instead of `lit(...)` literals keeps
    * the expression tree small: 32 inlined 64-element literals cost
    * ~4 s of driver-side analysis/codegen per query (measured), vs
    * milliseconds for a compact HOF over a data column. */
  private[graft] def withSigns(df: DataFrame, seed: Long,
      tables: Int, bits: Int, dim: Int): DataFrame = {
    val m: Seq[Seq[Long]] = (0 until tables).flatMap(t =>
      (0 until bits).map(b => hyperplane(seed, t, b, dim).toSeq))
    val sess = df.sparkSession
    import sess.implicits._
    df.crossJoin(broadcast(Seq(Tuple1(m)).toDF("signs")))
  }

  /** `tables` independent LSH bucket keys for a quantized vector:
    * bucket bit i of table t = sign of the dot product with hyperplane
    * (t, i), folded big-endian into a Long key. ±1 dots are exact in
    * Long — one narrow pass, no shuffle. */
  private[graft] def bucketKeys(qv: Column, signs: Column,
      tables: Int, bits: Int): Column =
    transform(sequence(lit(0), lit(tables - 1)), t =>
      struct(t.as("t"),
        aggregate(sequence(lit(0), lit(bits - 1)), lit(0L), (acc, i) => {
          val proj = aggregate(
            zip_with(qv, element_at(signs, t * bits + i + 1), (x, sn) => x * sn),
            lit(0L), (a, x) => a + x)
          acc * 2 + when(proj > 0, 1L).otherwise(0L)
        }).as("k")))

  /** Embedding dimension from the schema's source of truth (first row);
    * the corpus is fixed-width so one lookup serves the whole plan. */
  private def embeddingDim(s: SparkSession, dir: String): Int =
    Tables(s, dir, "embeddings").select(size(col("embedding"))).head().getInt(0)

  /** LSH-bucketed approximate top-k: `tables` independent 4-bit
    * random-hyperplane tables; a query only scans candidates that
    * collide with it in ≥1 table. At 100 TB (table, bucket) is the
    * shuffle key, each bucket does a local top-k, and recall/cost is
    * tuned by (bits, tables) — more bits → smaller buckets, more
    * tables → higher recall. Defaults give ~0.94 recall@5 on the
    * near-uniform test corpus (see AnnRecallSpec). */
  def annLsh(s: SparkSession, dir: String,
      seed: Long = 42L, tables: Int = 16, bits: Int = 4): DataFrame = {
    val dim = embeddingDim(s, dir)
    val all = withSigns(quantized(s, dir), seed, tables, bits, dim)
      .withColumn("bk", explode(bucketKeys(col("qv"), col("signs"), tables, bits)))
      .drop("signs")
    val q = all.select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
      col("nrm").as("q_nrm"), col("bk")).filter(col("q_id") < 10)
    val c = all.select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
      col("nrm").as("n_nrm"), col("bk"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("key").desc, col("n_id"))
    c.join(broadcast(q), Seq("bk")).filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"), col("q_qv"), col("n_qv"),
        col("q_nrm"), col("n_nrm"))
      .dropDuplicates("q_id", "n_id") // union of per-table collisions, ranked once
      .withColumn("key", cosKey(dot(col("q_qv"), col("n_qv")),
        col("q_nrm") * col("n_nrm")))
      // long, matching the oracle engine's BIGINT row_number
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("n_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  /** Embedding-cosine near-dup: multi-table random-hyperplane blocking
    * (8 bits × 4 tables → 2⁸ buckets per table, ~n/256 per bucket),
    * exact integer-cosine key within buckets, top-50 most similar
    * candidate pairs. At scale, within-bucket pairing is n²/2^bits per
    * table — bits grows with corpus size to hold bucket width
    * constant, and genuinely near-duplicate vectors (tiny angle)
    * collide in some table with probability → 1. */
  def dedupEmbed(s: SparkSession, dir: String,
      seed: Long = 7L, tables: Int = 4, bits: Int = 8): DataFrame = Pins.scope { pins =>
    val dim = embeddingDim(s, dir)
    val all = withSigns(quantized(s, dir), seed, tables, bits, dim)
      .withColumn("bk", explode(bucketKeys(col("qv"), col("signs"), tables, bits)))
      .drop("signs")
    // join kept (hot buckets spread across tasks — see
    // Dedup.minhashLsh), both sides reading the bucketed quantized
    // vectors PINNED ONCE (filled cache, released after the top-50
    // materializes) instead of recomputing the whole signed-projection
    // pipeline per join side (plans/r21/dedup_embed_before.txt)
    val allP = pins(all)
    allP.count()
    val a = allP.select(col("vec_id").as("vec_a"), col("qv").as("a_qv"),
      col("nrm").as("a_nrm"), col("bk"))
    val b = allP.select(col("vec_id").as("vec_b"), col("qv").as("b_qv"),
      col("nrm").as("b_nrm"), col("bk"))
    val top = a.join(b, Seq("bk")).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("a_qv"), col("b_qv"),
        col("a_nrm"), col("b_nrm"))
      .dropDuplicates("vec_a", "vec_b")
      .withColumn("key", cosKey(dot(col("a_qv"), col("b_qv")),
        col("a_nrm") * col("b_nrm")))
      .select(col("vec_a"), col("vec_b"), col("key"))
      .orderBy(col("key").desc, col("vec_a"), col("vec_b"))
      .limit(50)
    Pins.collected(top)
  }

  // ------------------------------------------------------------- IVF index

  /** One-row broadcast column carrying the centroid table
    * (cid, integer sum-vector, its self-norm). */
  private def withCentroids(df: DataFrame,
      cents: Seq[(Int, Seq[Long])]): DataFrame = {
    val rows = cents.map { case (cid, cv) =>
      (cid, cv, cv.map(x => x * x).sum) }
    val sess = df.sparkSession
    import sess.implicits._
    df.crossJoin(broadcast(Seq(Tuple1(rows)).toDF("cents")))
  }

  /** Routing key to a centroid: sign(d)·d²/(|q|²|c|²) in DOUBLE — the
    * centroid is an un-normalized integer SUM of member vectors, and
    * cosine is scale-invariant, so ranking against the sum equals
    * ranking against the mean with zero float accumulation (each term
    * is an exact-long product; only the final division is IEEE). */
  private def routeKey(qv: Column, nrm: Column, cent: Column): Column = {
    val d = dot(qv, cent.getField("_2"))
    when(d < 0, -1.0).otherwise(1.0) *
      ((d.cast("double") * d.cast("double")) /
        (nrm.cast("double") * cent.getField("_3").cast("double")))
  }

  /** `probes` best centroid ids for a vector, best-first. */
  private def probeIds(qv: Column, nrm: Column, probes: Int): Column =
    slice(transform(array_sort(transform(col("cents"),
      c => struct((-routeKey(qv, nrm, c)).as("neg"), c.getField("_1").as("cid")))),
      s => s.getField("cid")), 1, probes)

  /** Lloyd's iterations with EXACT integer centroid sums: assignment
    * ranks cosine-to-sum (deterministic — no float accumulation, so
    * results never depend on partition order), update re-sums member
    * vectors per cluster. k×dim longs travel to the driver per
    * iteration — tiny at any corpus scale. */
  private[graft] def trainCentroids(all: DataFrame, k: Int,
      iters: Int): Seq[(Int, Seq[Long])] = {
    import all.sparkSession.implicits._
    val n = all.count()
    // Train on a deterministic stride sample (the standard coarse-
    // quantizer practice): centroid quality needs only a representative
    // sample, and training cost stops growing with the corpus.
    val maxTrain = math.max(k * 64L, 1024L)
    val sampleStride = math.max(n / maxTrain, 1L)
    val train = all.filter(pmod(col("vec_id"), lit(sampleStride)) === 0)
    val stride = math.max(math.min(n, maxTrain) / k, 1L)
    var cents: Seq[(Int, Seq[Long])] = train
      .filter(pmod(col("vec_id"), lit(stride * sampleStride)) === 0)
      .orderBy(col("vec_id"))
      .limit(k).select(col("qv")).as[Seq[Long]].collect()
      .toSeq.zipWithIndex.map { case (v, i) => (i, v) }
    (0 until iters).foreach { _ =>
      val assigned = withCentroids(train, cents)
        .select(col("vec_id"), col("qv"),
          element_at(probeIds(col("qv"), col("nrm"), 1), 1).as("cid"))
      val sums = assigned
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cid"), col("pos")).agg(sum(col("v")).as("s"))
        .as[(Int, Int, Long)].collect()
      cents = sums.groupBy(_._1).toSeq.map { case (cid, xs) =>
        (cid, xs.sortBy(_._2).map(_._3).toSeq)
      }.sortBy(_._1)
    }
    cents
  }

  /** Trained-quantizer cache: an IVF index is BUILT ONCE and probed
    * many times — that is the whole point of the structure. Keyed by
    * (corpus dir, k, iters); training is deterministic (stride sample
    * + integer-exact Lloyd's), so a cached index is identical to a
    * rebuilt one (AnnIvfSpec asserts determinism). A real deployment
    * persists the k×dim centroid table next to the corpus; here the
    * process-lifetime cache keeps repeated queries (and the bench)
    * honest about build-vs-probe cost. */
  private val ivfCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Seq[(Int, Seq[Long])]]()

  /** Build (or fetch the cached) IVF coarse quantizer for the corpus
    * at `dir`. */
  def ivfIndex(s: SparkSession, dir: String, k: Int = 16, iters: Int = 1): Seq[(Int, Seq[Long])] =
    ivfCache.computeIfAbsent((dir, k, iters),
      _ => trainCentroids(quantized(s, dir), k, iters))

  /** Persist a trained quantizer (one `cid:v1,v2,...` line per
    * centroid — k×dim longs, bytes even at production k). A real
    * deployment trains once, saves next to the corpus, and every
    * query session loads instead of retraining. */
  def ivfSave(index: Seq[(Int, Seq[Long])], path: String): Unit = {
    val body = index.map { case (cid, v) => s"$cid:${v.mkString(",")}" }
      .mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }

  /** Load a persisted quantizer (inverse of [[ivfSave]]). */
  def ivfLoad(path: String): Seq[(Int, Seq[Long])] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
      .asScala.filter(_.nonEmpty).map { line =>
        val Array(cid, vs) = line.split(":", 2)
        (cid.toInt, vs.split(",").toSeq.map(_.toLong))
      }.toSeq

  /** Seed the process cache with a loaded index: subsequent
    * annIvf(dir, k, iters) calls probe it instead of training. */
  def ivfWarm(dir: String, index: Seq[(Int, Seq[Long])],
      k: Int = 16, iters: Int = 1): Unit =
    ivfCache.put((dir, k, iters), index)

  /** IVF approximate top-k — the cluster-routed ANN scale path: a
    * coarse integer-exact quantizer routes each query to its `probes`
    * nearest cells and ONLY those cells' vectors are ranked. At 100 TB
    * the index is built once (cells are the partition key, k grows
    * with √n) and each query touches probes/k of the data. Recall
    * tracks how clustered the corpus is — near-perfect on clustered
    * embeddings (see the planted spec), degrading toward probes/k on
    * uniform data, which is the honest IVF tradeoff (LSH covers the
    * uniform case). */
  def annIvf(s: SparkSession, dir: String,
      k: Int = 16, probes: Int = 4, iters: Int = 1): DataFrame = {
    val all = quantized(s, dir)
    val cents = ivfIndex(s, dir, k, iters)
    val assigned = withCentroids(all, cents)
      .select(col("vec_id"), col("qv"), col("nrm"),
        element_at(probeIds(col("qv"), col("nrm"), 1), 1).as("cid"))
    val q = withCentroids(all.filter(col("vec_id") < 10), cents)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"),
        explode(probeIds(col("qv"), col("nrm"), probes)).as("cid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("key").desc, col("n_id"))
    assigned.select(col("vec_id").as("n_id"), col("qv").as("n_qv"),
      col("nrm").as("n_nrm"), col("cid"))
      .join(broadcast(q), Seq("cid")).filter(col("n_id") =!= col("q_id"))
      .withColumn("key", cosKey(dot(col("q_qv"), col("n_qv")),
        col("q_nrm") * col("n_nrm")))
      // long, matching the oracle engine's BIGINT row_number
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("n_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  // -------------------------------------------- product quantization (ADC)

  /** Per-subspace codebooks for product quantization: the vector is cut
    * into `m` subspaces and each gets a `ksub`-codeword integer Lloyd's
    * codebook, trained driver-side on the same deterministic stride
    * sample the IVF quantizer uses (codebook quality needs only a
    * representative sample — FAISS trains PQ exactly this way). All
    * arithmetic is exact-integer with deterministic tie-breaks, so a
    * rebuilt codebook is identical to a cached one. Returned shape:
    * books(mm)(kk) = codeword kk of subspace mm (sub-dim longs). */
  private[graft] def trainBooks(all: DataFrame, m: Int, ksub: Int,
      iters: Int = 3): Seq[Seq[Seq[Long]]] = {
    import all.sparkSession.implicits._
    val n = all.count()
    val maxTrain = math.max(ksub * 64L, 1024L)
    val strideS = math.max(n / maxTrain, 1L)
    val sample = all.filter(pmod(col("vec_id"), lit(strideS)) === 0)
      .orderBy(col("vec_id")).limit(maxTrain.toInt)
      .select(col("qv")).as[Seq[Long]].collect()
    require(sample.nonEmpty, "cannot train PQ codebooks on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    (0 until m).map { mm =>
      val subs = sample.map(v => v.slice(mm * sub, (mm + 1) * sub).toArray)
      val st = math.max(subs.length / ksub, 1)
      var cur: Seq[Array[Long]] =
        (0 until ksub).map(i => subs(math.min(i * st, subs.length - 1)).clone)
      for (_ <- 0 until iters) {
        val sums = Array.fill(ksub)(new Array[Long](sub))
        val counts = new Array[Long](ksub)
        subs.foreach { v =>
          var best = 0; var bestD = Long.MaxValue; var c = 0
          while (c < ksub) {
            var d = 0L; var i = 0
            while (i < sub) { val t = v(i) - cur(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c } // strict < → lowest index wins ties
            c += 1
          }
          counts(best) += 1
          var i = 0; while (i < sub) { sums(best)(i) += v(i); i += 1 }
        }
        cur = (0 until ksub).map { c =>
          if (counts(c) == 0) cur(c) // empty cell keeps its codeword
          else Array.tabulate(sub)(i => Math.round(sums(c)(i).toDouble / counts(c)))
        }
      }
      cur.map(_.toSeq)
    }
  }

  private val pqCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), Seq[Seq[Seq[Long]]]]()

  /** Build (or fetch the cached) PQ codebooks for the corpus at `dir`. */
  def pqBooks(s: SparkSession, dir: String, m: Int = 8, ksub: Int = 16): Seq[Seq[Seq[Long]]] =
    pqCache.computeIfAbsent((dir, m, ksub),
      _ => trainBooks(quantized(s, dir), m, ksub))

  /** Attach the codebooks as a broadcast ONE-ROW data column (same
    * rationale as withSigns: literals would bloat codegen). */
  private def withBooks(df: DataFrame, books: Seq[Seq[Seq[Long]]]): DataFrame = {
    val sess = df.sparkSession
    import sess.implicits._
    df.crossJoin(broadcast(Seq(Tuple1(books)).toDF("books")))
  }

  /** PQ-encode: per subspace, the L2-nearest codeword's index. The
    * struct array_min carries (distance, index), so ties break to the
    * lowest index — deterministic. 0-based array subscripts. */
  private def pqCodes(m: Int, sub: Int, ksub: Int): Column = expr(
    s"""transform(sequence(0, ${m - 1}), mm ->
       |  array_min(transform(sequence(0, ${ksub - 1}), kk ->
       |    struct(aggregate(sequence(0, ${sub - 1}), CAST(0 AS BIGINT),
       |      (a, i) -> a + (qv[mm * $sub + i] - books[mm][kk][i])
       |                  * (qv[mm * $sub + i] - books[mm][kk][i])) AS d,
       |      kk AS c))).c)""".stripMargin)

  /** IVF-PQ approximate top-k (FAISS's IVF-ADC shape) — the
    * MEMORY-bound ANN scale path: the coarse quantizer routes queries
    * to cells as annIvf, but ranking inside a cell reads only each
    * candidate's `m`-byte PQ code, never its vector — at 100 TB the
    * scan side shrinks from dim longs to m small ints per vector
    * (64× here), which is what lets a cell's index stay RAM-resident.
    * Asymmetric distance: the EXACT query subvectors dot the
    * candidates' reconstructed codewords (est_dot), normalized by the
    * code-reconstructed self-norm computed once at encode time
    * (enc_nrm) — both exact-integer folds, ranked by the same
    * IEEE-deterministic cosine key as every other ANN operator here.
    * Recall tracks quantization fidelity (measured ~0.7@5 on the
    * clustered spec corpus): members of a tight cluster share codes,
    * so ADC cannot order WITHIN the cluster — the honest PQ tradeoff
    * (FAISS mitigates with residual encoding; here PQ is the coarse
    * shortlist stage and annTopk/annIvf the exact refiner). */
  def annPq(s: SparkSession, dir: String, k: Int = 16, probes: Int = 4,
      m: Int = 8, ksub: Int = 16): DataFrame =
    pqCandidates(s, dir, keep = 5, k, probes, m, ksub)
      .select(col("q_id"), col("rnk"), col("n_id"))
      .orderBy(col("q_id"), col("rnk"))

  /** ADC-ranked candidates per query, top-`keep` by the PQ estimate —
    * the shared stage-1 of [[annPq]] (keep = final k) and
    * [[annRefine]] (keep = the refine pool). Carries the query's exact
    * vector/norm through for a downstream re-rank. */
  private def pqCandidates(s: SparkSession, dir: String, keep: Int,
      k: Int = 16, probes: Int = 4, m: Int = 8, ksub: Int = 16): DataFrame = {
    val all = quantized(s, dir)
    val cents = ivfIndex(s, dir, k, 1)
    val books = pqBooks(s, dir, m, ksub)
    val dim = embeddingDim(s, dir)
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    // index build: ONE narrow pass → (vec_id, cell, m-byte code, enc_nrm)
    val encoded = withBooks(withCentroids(all, cents), books)
      .withColumn("codes", pqCodes(m, sub, ksub))
      .withColumn("enc_nrm", expr(
        s"""aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT), (a, mm) ->
           |  a + aggregate(sequence(0, ${sub - 1}), CAST(0 AS BIGINT),
           |    (b, i) -> b + books[mm][codes[mm]][i] * books[mm][codes[mm]][i]))""".stripMargin))
      .select(col("vec_id").as("n_id"),
        element_at(probeIds(col("qv"), col("nrm"), 1), 1).as("cid"),
        col("codes"), col("enc_nrm"))
    val q = withCentroids(all.filter(col("vec_id") < 10), cents)
      .select(col("vec_id").as("q_id"), col("qv").as("q_qv"),
        col("nrm").as("q_nrm"),
        explode(probeIds(col("qv"), col("nrm"), probes)).as("cid"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("key").desc, col("n_id"))
    withBooks(encoded.join(broadcast(q), Seq("cid"))
        .filter(col("n_id") =!= col("q_id")), books)
      .withColumn("est_dot", expr(
        s"""aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT), (a, mm) ->
           |  a + aggregate(sequence(0, ${sub - 1}), CAST(0 AS BIGINT),
           |    (b, i) -> b + q_qv[mm * $sub + i] * books[mm][codes[mm]][i]))""".stripMargin))
      .withColumn("key", cosKey(col("est_dot"), col("q_nrm") * col("enc_nrm")))
      // long, matching the oracle engine's BIGINT row_number
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= keep)
      .select(col("q_id"), col("rnk"), col("n_id"), col("q_qv"), col("q_nrm"))
  }

  /** Two-stage retrieve-then-refine — the production IVF-PQ serving
    * shape: stage 1 ranks candidates by the code-resident ADC estimate
    * (cheap, O(m) adds per candidate); stage 2 re-scores ONLY the top
    * `refine` survivors with the EXACT integer dot and emits the exact
    * top-5 among them. Recall approaches brute force while exact-dot
    * work drops from O(corpus) to O(refine) per query. The re-rank
    * fetches full vectors by id for the short list only — broadcast of
    * the slim candidate set against the vector table, the "codes in
    * RAM, vectors fetched for the shortlist" tier a 100 TB serving
    * deployment runs (AnnRecallSpec pins refine ≥ raw-PQ recall). */
  def annRefine(s: SparkSession, dir: String, refine: Int = 50,
      k: Int = 16, probes: Int = 4, m: Int = 8, ksub: Int = 16): DataFrame = {
    val cand = pqCandidates(s, dir, keep = refine, k, probes, m, ksub)
      .select(col("q_id"), col("n_id"), col("q_qv"), col("q_nrm"))
    val exact = quantized(s, dir).select(col("vec_id").as("n_id"),
      col("qv").as("n_qv"), col("nrm").as("n_nrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("key").desc, col("n_id"))
    exact.join(broadcast(cand), Seq("n_id"))
      .withColumn("key", cosKey(dot(col("q_qv"), col("n_qv")),
        col("q_nrm") * col("n_nrm")))
      // long, matching the oracle engine's BIGINT row_number
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("n_id"))
      .orderBy(col("q_id"), col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_topk" -> (annTopk _),
    "ann_filtered" -> (annFiltered _),
    "ann_hybrid" -> (annHybrid _),
    "ann_lsh" -> ((s, dir) => annLsh(s, dir)),
    "ann_ivf" -> ((s, dir) => annIvf(s, dir)),
    "ann_recall" -> (annRecall _),
    "ann_pq" -> ((s, dir) => annPq(s, dir)),
    "ann_refine" -> ((s, dir) => annRefine(s, dir)),
    "ann_hybrid_ladder" -> ((s, dir) => annHybridLadder(s, dir)),
    "dedup_embed" -> ((s, dir) => dedupEmbed(s, dir)),
  )

  val oracles: Map[String, String] = Map(
    // ann_topk's integer-exact cosine kernel + text_tfidf's integer
    // idf proxy, fused by RRF (1/(60+r) on small-integer operands —
    // bit-identical IEEE doubles in any engine)
    "ann_hybrid" ->
      """WITH it AS (
        |  SELECT d.doc_id AS id, d.text,
        |    list_transform(e.embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |n AS (
        |  SELECT id, text, qv,
        |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM it),
        |vp AS (
        |  SELECT q.id AS q_id, d.id AS n_id,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * d.qv[i])) AS BIGINT) AS dot,
        |    q.nrm * d.nrm AS pp
        |  FROM n q JOIN n d ON d.id <> q.id
        |  WHERE q.id < 10),
        |vr AS (
        |  SELECT q_id, n_id,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY
        |      (CASE WHEN dot < 0 THEN -1.0 ELSE 1.0 END)
        |        * (CAST(dot * dot AS DOUBLE) / CAST(pp AS DOUBLE)) DESC,
        |      n_id) AS BIGINT) AS v_rank
        |  FROM vp),
        |w AS (
        |  SELECT id, unnest(list_distinct(string_split(text, ' '))) AS term FROM it),
        |dfreq AS (
        |  SELECT term, count(DISTINCT id) AS df FROM w GROUP BY 1),
        |nn AS (SELECT count(*) AS n FROM it),
        |lx AS (
        |  SELECT qw.id AS q_id, cw.id AS n_id,
        |    CAST(sum((1000000 * nn.n) // dfreq.df) AS BIGINT) AS lex_score
        |  FROM w qw
        |  JOIN w cw ON cw.term = qw.term AND cw.id <> qw.id
        |  JOIN dfreq ON dfreq.term = qw.term
        |  CROSS JOIN nn
        |  WHERE qw.id < 10
        |  GROUP BY 1, 2),
        |lr AS (
        |  SELECT vr.q_id, vr.n_id, vr.v_rank,
        |    CAST(COALESCE(lx.lex_score, 0) AS BIGINT) AS lex_score
        |  FROM vr LEFT JOIN lx ON lx.q_id = vr.q_id AND lx.n_id = vr.n_id),
        |lrk AS (
        |  SELECT q_id, n_id, v_rank,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY lex_score DESC, n_id) AS BIGINT) AS l_rank
        |  FROM lr),
        |f AS (
        |  SELECT q_id, n_id, v_rank, l_rank,
        |    1.0 / (60.0 + CAST(v_rank AS DOUBLE))
        |      + 1.0 / (60.0 + CAST(l_rank AS DOUBLE)) AS rrf
        |  FROM lrk),
        |r AS (
        |  SELECT q_id, n_id, v_rank, l_rank,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY rrf DESC, n_id) AS BIGINT) AS rnk
        |  FROM f)
        |SELECT q_id, rnk, n_id, v_rank, l_rank
        |FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // ann_topk's proven integer-exact kernel plus the label predicate
    // in the candidate join (never a post-filter over unfiltered top-k)
    "ann_filtered" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, label, qv,
        |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM e),
        |p AS (
        |  SELECT q.vec_id AS q_id, d.vec_id AS n_id, d.label AS label,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * d.qv[i])) AS BIGINT) AS dot,
        |    q.nrm * d.nrm AS pp
        |  FROM n q JOIN n d ON d.vec_id <> q.vec_id AND d.label = q.label
        |  WHERE q.vec_id < 10),
        |k AS (
        |  SELECT q_id, n_id, label,
        |    (CASE WHEN dot < 0 THEN -1.0 ELSE 1.0 END)
        |      * (CAST(dot * dot AS DOUBLE) / CAST(pp AS DOUBLE)) AS skey
        |  FROM p),
        |r AS (
        |  SELECT q_id, n_id, label,
        |    row_number() OVER (PARTITION BY q_id ORDER BY skey DESC, n_id) AS rnk
        |  FROM k)
        |SELECT q_id, rnk, n_id, label FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "ann_topk" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (
        |  SELECT vec_id, qv,
        |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
        |  FROM e),
        |p AS (
        |  SELECT q.vec_id AS q_id, d.vec_id AS n_id,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * d.qv[i])) AS BIGINT) AS dot,
        |    q.nrm * d.nrm AS pp
        |  FROM n q JOIN n d ON d.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |k AS (
        |  SELECT q_id, n_id,
        |    (CASE WHEN dot < 0 THEN -1.0 ELSE 1.0 END)
        |      * (CAST(dot * dot AS DOUBLE) / CAST(pp AS DOUBLE)) AS skey
        |  FROM p),
        |r AS (
        |  SELECT q_id, n_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY skey DESC, n_id) AS rnk
        |  FROM k)
        |SELECT q_id, rnk, n_id FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // ann_ivf: every stage is integer-exact and deterministic, so the
    // oracle REPLAYS the whole pipeline — stride sample, the 16 initial
    // centroids, ONE Lloyd's assignment round (ranked by the same
    // IEEE-single-division routing key), the integer re-SUM update
    // (empty cells drop out, as trainCentroids' groupBy does), the
    // final cell assignment, 4-probe query routing, and the exact
    // in-cell cosine top-5. Long arithmetic everywhere Spark uses it;
    // `//` is BIGINT division like Scala's Long `/`.
    "ann_ivf" -> s"""$annIvfCells
        |cand AS (
        |  SELECT q.q_id, a.n_id FROM qprobe q JOIN acell a USING (cid)
        |  WHERE a.n_id <> q.q_id),
        |scored AS (
        |  SELECT q_id, n_id,
        |    (CASE WHEN d < 0 THEN -1.0 ELSE 1.0 END)
        |      * (CAST(d * d AS DOUBLE) / CAST(pp AS DOUBLE)) AS skey
        |  FROM (
        |    SELECT c.q_id, c.n_id,
        |      CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |        i -> q.qv[i] * d2.qv[i])) AS BIGINT) AS d,
        |      q.nrm * d2.nrm AS pp
        |    FROM cand c
        |    JOIN n q ON q.vec_id = c.q_id
        |    JOIN n d2 ON d2.vec_id = c.n_id)),
        |r AS (
        |  SELECT q_id, n_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY skey DESC, n_id) AS rnk
        |  FROM scored)
        |SELECT q_id, rnk, n_id FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // ann_recall: both ladders replay — the IVF tail is ann_ivf's
    // verbatim, the exact tail is ann_topk's built over the shared `n`
    // frame — and the per-query intersection counts hits; integer
    // percent, so the hash pins every recovered neighbor
    "ann_recall" -> s"""$annIvfCells
        |cand AS (
        |  SELECT q.q_id, a.n_id FROM qprobe q JOIN acell a USING (cid)
        |  WHERE a.n_id <> q.q_id),
        |scored AS (
        |  SELECT q_id, n_id,
        |    (CASE WHEN d < 0 THEN -1.0 ELSE 1.0 END)
        |      * (CAST(d * d AS DOUBLE) / CAST(pp AS DOUBLE)) AS skey
        |  FROM (
        |    SELECT c.q_id, c.n_id,
        |      CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |        i -> q.qv[i] * d2.qv[i])) AS BIGINT) AS d,
        |      q.nrm * d2.nrm AS pp
        |    FROM cand c
        |    JOIN n q ON q.vec_id = c.q_id
        |    JOIN n d2 ON d2.vec_id = c.n_id)),
        |riv AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY skey DESC, n_id) AS rnk
        |    FROM scored) WHERE rnk <= 5),
        |px AS (
        |  SELECT q.vec_id AS q_id, d.vec_id AS n_id,
        |    CAST(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * d.qv[i])) AS BIGINT) AS dot,
        |    q.nrm * d.nrm AS pp
        |  FROM n q JOIN n d ON d.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |rex AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY
        |        (CASE WHEN dot < 0 THEN -1.0 ELSE 1.0 END)
        |          * (CAST(dot * dot AS DOUBLE) / CAST(pp AS DOUBLE)) DESC,
        |        n_id) AS rnk
        |    FROM px) WHERE rnk <= 5)
        |SELECT e1.q_id, CAST(count(e2.n_id) AS BIGINT) AS n_hits,
        |  (100 * count(e2.n_id)) // 5 AS recall_pct
        |FROM rex e1 LEFT JOIN riv e2
        |  ON e1.q_id = e2.q_id AND e1.n_id = e2.n_id
        |GROUP BY e1.q_id ORDER BY e1.q_id""".stripMargin,
    // ann_pq: the PQ codebooks are ALSO integer-exact and deterministic
    // (L2 assignment in longs with lowest-index ties; the update's
    // Math.round(sum/count) is floor(x+0.5), replayed verbatim), so the
    // oracle unrolls trainBooks' 3 Lloyd rounds as CTE blocks the way
    // text_bpe replays its merge rounds, then encodes, ADC-ranks inside
    // the IVF-probed cells, and emits the top-5 estimate.
    "ann_pq" -> s"""$annIvfCells
        |$pqBookCtes
        |r AS (
        |  SELECT q_id, n_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY ekey DESC, n_id) AS rnk
        |  FROM adck)
        |SELECT q_id, rnk, n_id FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // ann_refine: stage 1 is ann_pq's ADC ranking kept to the top-50
    // pool; stage 2 re-scores ONLY the pool with the exact integer dot
    // (ann_topk's key) and emits the exact top-5 among them.
    // the ladder-shaped hybrid, REPLAYED end to end: IVF routing + PQ
    // codebooks + ADC pool (ann_refine's stage 1), exact re-rank of
    // the pool as the vector arm's v_rank, the lexical top list, and
    // the short-list RRF fusion (absent arms contribute 0.0 exactly
    // as the Spark coalesce does)
    "ann_hybrid_ladder" -> s"""$annIvfCells
        |$pqBookCtes
        |pool AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ekey DESC, n_id) AS rnk
        |    FROM adck) WHERE rnk <= 50),
        |vr AS (
        |  SELECT q_id, n_id,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY skey DESC, n_id) AS BIGINT) AS v_rank
        |  FROM (
        |    SELECT q_id, n_id,
        |      (CASE WHEN d < 0 THEN -1.0 ELSE 1.0 END)
        |        * (CAST(d * d AS DOUBLE) / CAST(pp AS DOUBLE)) AS skey
        |    FROM (
        |      SELECT p.q_id, p.n_id,
        |        CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |          i -> q.qv[i] * d2.qv[i])) AS BIGINT) AS d,
        |        q.nrm * d2.nrm AS pp
        |      FROM pool p
        |      JOIN n q ON q.vec_id = p.q_id
        |      JOIN n d2 ON d2.vec_id = p.n_id))),
        |it2 AS (
        |  SELECT d.doc_id AS id, d.text
        |  FROM documents d JOIN embeddings e2 ON e2.vec_id = d.doc_id),
        |w2 AS (
        |  SELECT id, unnest(list_distinct(string_split(text, ' '))) AS term FROM it2),
        |dfreq2 AS (SELECT term, count(DISTINCT id) AS df FROM w2 GROUP BY 1),
        |nn2 AS (SELECT count(*) AS n FROM it2),
        |lx2 AS (
        |  SELECT qw.id AS q_id, cw.id AS n_id,
        |    CAST(sum((1000000 * nn2.n) // dfreq2.df) AS BIGINT) AS lex_score
        |  FROM w2 qw
        |  JOIN w2 cw ON cw.term = qw.term AND cw.id <> qw.id
        |  JOIN dfreq2 ON dfreq2.term = qw.term
        |  CROSS JOIN nn2
        |  WHERE qw.id < 10
        |  GROUP BY 1, 2),
        |lr50 AS (
        |  SELECT q_id, n_id, l_rank FROM (
        |    SELECT q_id, n_id,
        |      CAST(row_number() OVER (PARTITION BY q_id
        |        ORDER BY lex_score DESC, n_id) AS BIGINT) AS l_rank
        |    FROM lx2) WHERE l_rank <= 50),
        |fu AS (
        |  SELECT COALESCE(v.q_id, l.q_id) AS q_id,
        |    COALESCE(v.n_id, l.n_id) AS n_id,
        |    COALESCE(1.0 / (60.0 + CAST(v.v_rank AS DOUBLE)), 0.0)
        |      + COALESCE(1.0 / (60.0 + CAST(l.l_rank AS DOUBLE)), 0.0) AS rrf
        |  FROM vr v FULL JOIN lr50 l ON l.q_id = v.q_id AND l.n_id = v.n_id),
        |rf AS (
        |  SELECT q_id, n_id,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, n_id) AS BIGINT) AS rnk
        |  FROM fu)
        |SELECT q_id, rnk, n_id FROM rf WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    "ann_refine" -> s"""$annIvfCells
        |$pqBookCtes
        |pool AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY ekey DESC, n_id) AS rnk
        |    FROM adck) WHERE rnk <= 50),
        |rescored AS (
        |  SELECT q_id, n_id,
        |    (CASE WHEN d < 0 THEN -1.0 ELSE 1.0 END)
        |      * (CAST(d * d AS DOUBLE) / CAST(pp AS DOUBLE)) AS skey
        |  FROM (
        |    SELECT p.q_id, p.n_id,
        |      CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |        i -> q.qv[i] * d2.qv[i])) AS BIGINT) AS d,
        |      q.nrm * d2.nrm AS pp
        |    FROM pool p
        |    JOIN n q ON q.vec_id = p.q_id
        |    JOIN n d2 ON d2.vec_id = p.n_id)),
        |r AS (
        |  SELECT q_id, n_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY skey DESC, n_id) AS rnk
        |  FROM rescored)
        |SELECT q_id, rnk, n_id FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // ann_lsh: even the PRNG replays — the splitmix64 hyperplane signs
    // are recomputed in SQL with 64-bit wrapping arithmetic (UBIGINT
    // xor/logical-shift; multiply as two 32-bit limbs mod 2^64 in
    // HUGEINT), then bucket keys, ≥1-table collision candidates, and
    // the exact in-bucket cosine top-5, exactly as the operator.
    "ann_lsh" -> s"""${lshCtes(seed = 42L, tables = 16, bits = 4)}
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        |  FROM bkeys q JOIN bkeys c ON c.t = q.t AND c.k = q.k
        |    AND c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10),
        |scored AS (
        |  SELECT q_id, n_id,
        |    (CASE WHEN d < 0 THEN -1.0 ELSE 1.0 END)
        |      * (CAST(d * d AS DOUBLE) / CAST(pp AS DOUBLE)) AS skey
        |  FROM (
        |    SELECT c.q_id, c.n_id,
        |      CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
        |        i -> q.qv[i] * d2.qv[i])) AS BIGINT) AS d,
        |      q.nrm * d2.nrm AS pp
        |    FROM cand c
        |    JOIN n q ON q.vec_id = c.q_id
        |    JOIN n d2 ON d2.vec_id = c.n_id)),
        |r AS (
        |  SELECT q_id, n_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY skey DESC, n_id) AS rnk
        |  FROM scored)
        |SELECT q_id, rnk, n_id FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""".stripMargin,
    // dedup_embed: same sign-matrix replay under its own (seed=7,
    // 4 tables × 8 bits) parameters; candidate pairs are the union of
    // per-table bucket collisions, ranked by the exact cosine key.
    "dedup_embed" -> s"""${lshCtes(seed = 7L, tables = 4, bits = 8)}
        |pairs AS (
        |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
        |  FROM bkeys a JOIN bkeys b2 ON b2.t = a.t AND b2.k = a.k
        |    AND a.vec_id < b2.vec_id),
        |scored AS (
        |  SELECT vec_a, vec_b,
        |    (CASE WHEN d < 0 THEN -1.0 ELSE 1.0 END)
        |      * (CAST(d * d AS DOUBLE) / CAST(pp AS DOUBLE)) AS key
        |  FROM (
        |    SELECT p.vec_a, p.vec_b,
        |      CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
        |        i -> a.qv[i] * b2.qv[i])) AS BIGINT) AS d,
        |      a.nrm * b2.nrm AS pp
        |    FROM pairs p
        |    JOIN n a ON a.vec_id = p.vec_a
        |    JOIN n b2 ON b2.vec_id = p.vec_b))
        |SELECT vec_a, vec_b, key FROM scored
        |ORDER BY key DESC, vec_a, vec_b LIMIT 50""".stripMargin,
  )

  /** Oracle CTE block replaying [[withSigns]] + [[bucketKeys]]: the
    * splitmix64 sign matrix in 64-bit WRAPPING arithmetic — xor and
    * logical shifts on UBIGINT, the two multiplies as 32-bit limbs mod
    * 2^64 in HUGEINT (DuckDB integer ops refuse overflow, so the wrap
    * is spelled out) — then per-(vector, table) bucket keys folded
    * big-endian from the sign projections. Starts the WITH clause
    * (shares the `e`/`n` quantization prefix) and ends at `bkeys`
    * (vec_id, t, k). */
  private def lshCtes(seed: Long, tables: Int, bits: Int): String = {
    val m64 = "CAST('18446744073709551616' AS HUGEINT)"
    def mulmod(a: String, b: String) =
      s"((($a % 4294967296) * $b + ((($a // 4294967296) * $b) % 4294967296) * 4294967296) % $m64)"
    def xorShift(z: String, k: Int) =
      s"CAST(xor(CAST($z AS UBIGINT), CAST($z AS UBIGINT) >> $k) AS HUGEINT)"
    val x0 = s"CAST(xor(xor(xor($seed, t * 1099511627776), b * 1048576), d) AS HUGEINT)"
    val z1 = s"(($x0 + 11400714819323198485) % $m64)"
    s"""WITH e AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |n AS (
       |  SELECT vec_id, qv,
       |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
       |  FROM e),
       |dims AS (
       |  SELECT unnest(range(0, len(qv))) AS d FROM (SELECT qv FROM n LIMIT 1)),
       |-- splitmix64(seed ^ (t<<40) ^ (b<<20) ^ d), staged so each z is
       |-- computed once; only the low bit decides the ±1 sign
       |g1 AS (
       |  SELECT t, b, d, $z1 AS z1
       |  FROM range(0, $tables) rt(t), range(0, $bits) rb(b), dims),
       |g2 AS (SELECT t, b, d, ${mulmod(xorShift("z1", 30), "13787848793156543929")} AS z2 FROM g1),
       |g3 AS (SELECT t, b, d, ${mulmod(xorShift("z2", 27), "10724377983731091791")} AS z3 FROM g2),
       |sgn AS (
       |  SELECT t, b, d,
       |    CASE WHEN CAST(xor(CAST(z3 AS UBIGINT), CAST(z3 AS UBIGINT) >> 31) AS HUGEINT) % 2 = 0
       |         THEN 1 ELSE -1 END AS s
       |  FROM g3),
       |slist AS (SELECT t, b, list(s ORDER BY d) AS sv FROM sgn GROUP BY t, b),
       |-- exact ±1 projections, folded big-endian into the bucket key
       |proj AS (
       |  SELECT v.vec_id, sl.t, sl.b,
       |    CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
       |      i -> v.qv[i] * sl.sv[i])) AS BIGINT) AS p
       |  FROM n v, slist sl),
       |bkeys AS (
       |  SELECT vec_id, t,
       |    CAST(SUM(CASE WHEN p > 0
       |      THEN CAST(1 AS BIGINT) << (${bits - 1} - b) ELSE 0 END) AS BIGINT) AS k
       |  FROM proj GROUP BY vec_id, t),""".stripMargin
  }

  /** Oracle CTE block replaying [[trainBooks]] (m=8, ksub=16, 3 Lloyd
    * rounds) + PQ encoding + the ADC candidate scoring of
    * [[pqCandidates]], on top of [[annIvfCells]] (whose `n`/`prm`/
    * `acell`/`qprobe` it reuses for the coarse routing). Subspace
    * width never appears as a literal: it is `len(qv) // 8` on full
    * vectors and `len(cv)` on codebook rows. Ends with `adck`
    * (q_id, n_id, ekey) — the ADC cosine-estimate key. */
  private def pqBookCtes: String =
    """-- trainBooks' sample: same stride as the IVF sample, LIMIT 1024,
      |-- indexed by vec_id appearance order
      |samp AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sidx, qv
      |  FROM n, prm WHERE vec_id % sstride = 0
      |  ORDER BY vec_id LIMIT 1024),
      |scnt AS (SELECT count(*) AS cnt, greatest(count(*) // 16, 1) AS st FROM samp),
      |-- the 8 subspace slices of every sample row
      |sub AS (
      |  SELECT sidx, t.mm,
      |    list_transform(range(1, len(qv) // 8 + 1),
      |      i -> qv[t.mm * (len(qv) // 8) + i]) AS sv
      |  FROM samp, range(0, 8) t(mm)),
      |-- initial codebooks: codeword kk of subspace mm = sample row
      |-- min(kk*st, cnt-1)'s slice
      |b0 AS (
      |  SELECT s.mm, r.kk, s.sv AS cv
      |  FROM range(0, 16) r(kk), scnt, sub s
      |  WHERE s.sidx = least(r.kk * scnt.st, scnt.cnt - 1)),
      |-- Lloyd round 1: exact-long L2 assignment (ties to lowest kk),
      |-- then per-position Math.round(sum/count) = floor(x + 0.5);
      |-- an empty cell keeps its codeword (the LEFT JOIN coalesce)
      |a0 AS (
      |  SELECT mm, sidx, sv, kk FROM (
      |    SELECT s.mm, s.sidx, s.sv, b.kk,
      |      row_number() OVER (PARTITION BY s.mm, s.sidx ORDER BY
      |        CAST(list_sum(list_transform(range(1, len(b.cv) + 1),
      |          i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))) AS BIGINT) ASC,
      |        b.kk ASC) AS rn
      |    FROM sub s JOIN b0 b USING (mm)) WHERE rn = 1),
      |u1 AS (
      |  SELECT mm, kk, pos, SUM(v) AS s, count(*) AS c FROM (
      |    SELECT mm, kk, unnest(sv) AS v, unnest(range(0, len(sv))) AS pos
      |    FROM a0)
      |  GROUP BY mm, kk, pos),
      |n1 AS (
      |  SELECT mm, kk,
      |    list(CAST(floor(CAST(s AS DOUBLE) / c + 0.5) AS BIGINT) ORDER BY pos) AS cv
      |  FROM u1 GROUP BY mm, kk),
      |b1 AS (
      |  SELECT b.mm, b.kk, coalesce(u.cv, b.cv) AS cv
      |  FROM b0 b LEFT JOIN n1 u ON u.mm = b.mm AND u.kk = b.kk),
      |-- Lloyd round 2
      |a1 AS (
      |  SELECT mm, sidx, sv, kk FROM (
      |    SELECT s.mm, s.sidx, s.sv, b.kk,
      |      row_number() OVER (PARTITION BY s.mm, s.sidx ORDER BY
      |        CAST(list_sum(list_transform(range(1, len(b.cv) + 1),
      |          i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))) AS BIGINT) ASC,
      |        b.kk ASC) AS rn
      |    FROM sub s JOIN b1 b USING (mm)) WHERE rn = 1),
      |u2 AS (
      |  SELECT mm, kk, pos, SUM(v) AS s, count(*) AS c FROM (
      |    SELECT mm, kk, unnest(sv) AS v, unnest(range(0, len(sv))) AS pos
      |    FROM a1)
      |  GROUP BY mm, kk, pos),
      |n2 AS (
      |  SELECT mm, kk,
      |    list(CAST(floor(CAST(s AS DOUBLE) / c + 0.5) AS BIGINT) ORDER BY pos) AS cv
      |  FROM u2 GROUP BY mm, kk),
      |b2 AS (
      |  SELECT b.mm, b.kk, coalesce(u.cv, b.cv) AS cv
      |  FROM b1 b LEFT JOIN n2 u ON u.mm = b.mm AND u.kk = b.kk),
      |-- Lloyd round 3
      |a2 AS (
      |  SELECT mm, sidx, sv, kk FROM (
      |    SELECT s.mm, s.sidx, s.sv, b.kk,
      |      row_number() OVER (PARTITION BY s.mm, s.sidx ORDER BY
      |        CAST(list_sum(list_transform(range(1, len(b.cv) + 1),
      |          i -> (s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]))) AS BIGINT) ASC,
      |        b.kk ASC) AS rn
      |    FROM sub s JOIN b2 b USING (mm)) WHERE rn = 1),
      |u3 AS (
      |  SELECT mm, kk, pos, SUM(v) AS s, count(*) AS c FROM (
      |    SELECT mm, kk, unnest(sv) AS v, unnest(range(0, len(sv))) AS pos
      |    FROM a2)
      |  GROUP BY mm, kk, pos),
      |n3 AS (
      |  SELECT mm, kk,
      |    list(CAST(floor(CAST(s AS DOUBLE) / c + 0.5) AS BIGINT) ORDER BY pos) AS cv
      |  FROM u3 GROUP BY mm, kk),
      |b3 AS (
      |  SELECT b.mm, b.kk, coalesce(u.cv, b.cv) AS cv
      |  FROM b2 b LEFT JOIN n3 u ON u.mm = b.mm AND u.kk = b.kk),
      |-- PQ-encode EVERY vector against the trained books: per subspace
      |-- the L2-nearest codeword (ties to lowest kk), exactly pqCodes
      |enc AS (
      |  SELECT vec_id, mm, kk, cv FROM (
      |    SELECT v.vec_id, b.mm, b.kk, b.cv,
      |      row_number() OVER (PARTITION BY v.vec_id, b.mm ORDER BY
      |        CAST(list_sum(list_transform(range(1, len(b.cv) + 1),
      |          i -> (v.qv[b.mm * len(b.cv) + i] - b.cv[i])
      |             * (v.qv[b.mm * len(b.cv) + i] - b.cv[i]))) AS BIGINT) ASC,
      |        b.kk ASC) AS rn
      |    FROM n v CROSS JOIN b3 b) WHERE rn = 1),
      |-- the code-reconstructed self-norm (enc_nrm), computed once
      |encn AS (
      |  SELECT vec_id AS n_id,
      |    CAST(SUM(CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT)) AS BIGINT) AS enc_nrm
      |  FROM enc GROUP BY vec_id),
      |-- asymmetric distance: the EXACT query subvectors dot the
      |-- candidates' reconstructed codewords, inside IVF-probed cells
      |adc AS (
      |  SELECT q.q_id, a.n_id,
      |    CAST(SUM(CAST(list_sum(list_transform(range(1, len(e.cv) + 1),
      |      i -> qq.qv[e.mm * len(e.cv) + i] * e.cv[i])) AS BIGINT)) AS BIGINT) AS est_dot
      |  FROM qprobe q
      |  JOIN n qq ON qq.vec_id = q.q_id
      |  JOIN acell a ON a.cid = q.cid AND a.n_id <> q.q_id
      |  JOIN enc e ON e.vec_id = a.n_id
      |  GROUP BY q.q_id, a.n_id),
      |adck AS (
      |  SELECT adc.q_id, adc.n_id,
      |    (CASE WHEN est_dot < 0 THEN -1.0 ELSE 1.0 END)
      |      * (CAST(est_dot * est_dot AS DOUBLE)
      |         / CAST(qq.nrm * en.enc_nrm AS DOUBLE)) AS ekey
      |  FROM adc
      |  JOIN n qq ON qq.vec_id = adc.q_id
      |  JOIN encn en ON en.n_id = adc.n_id),""".stripMargin

  /** Shared oracle CTE prefix: quantized vectors (`n`), the trained
    * IVF coarse quantizer after one integer-exact Lloyd's round
    * (`c1`), every vector's cell (`acell`), and each query's 4 probe
    * cells (`qprobe`) — the DuckDB replay of [[trainCentroids]] with
    * (k=16, iters=1) + [[probeIds]], reused by the IVF-routed oracles.
    * A `def`, not a `val`: `oracles` interpolates it during object
    * initialization, and a later-positioned val would still be null
    * there. */
  private def annIvfCells: String =
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, qv,
      |    CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS nrm
      |  FROM e),
      |-- trainCentroids' stride parameters: maxTrain = max(k*64, 1024) =
      |-- 1024, sampleStride = max(n/1024, 1), stride = max(min(n,1024)/16, 1)
      |prm AS (
      |  SELECT greatest(count(*) // 1024, 1) AS sstride,
      |    greatest(least(count(*), 1024) // 16, 1) AS kstride
      |  FROM n),
      |-- the 16 initial centroids: every (stride*sampleStride)-th vector
      |-- by vec_id, cid = appearance order
      |init AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
      |  FROM n, prm
      |  WHERE vec_id % (kstride * sstride) = 0
      |  ORDER BY vec_id LIMIT 16),
      |c0 AS (
      |  SELECT cid, cv,
      |    CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cnrm
      |  FROM init),
      |train AS (SELECT vec_id, qv, nrm FROM n, prm WHERE vec_id % sstride = 0),
      |-- ONE Lloyd's round: assign each training vector to its best
      |-- centroid by the routing key sign(d)·d²/(|q|²|c|²) (double
      |-- MULTIPLY of the cast dot, exactly as routeKey computes it),
      |-- ties to the lowest cid
      |a0d AS (
      |  SELECT t.vec_id, t.qv, t.nrm, c.cid, c.cnrm,
      |    CAST(list_sum(list_transform(range(1, len(t.qv) + 1),
      |      i -> t.qv[i] * c.cv[i])) AS BIGINT) AS d
      |  FROM train t CROSS JOIN c0 c),
      |a0c AS (
      |  SELECT vec_id, qv, cid FROM (
      |    SELECT vec_id, qv, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY
      |        (CASE WHEN d < 0 THEN -1.0 ELSE 1.0 END)
      |          * (CAST(d AS DOUBLE) * CAST(d AS DOUBLE))
      |          / (CAST(nrm AS DOUBLE) * CAST(cnrm AS DOUBLE)) DESC,
      |        cid) AS rn
      |    FROM a0d) WHERE rn = 1),
      |-- the update is a pure integer re-SUM of member vectors per
      |-- cluster — no division, no rounding; cells with no members drop
      |-- out (trainCentroids regroups from assignments only)
      |sums AS (
      |  SELECT cid, pos, SUM(v) AS s FROM (
      |    SELECT cid, unnest(qv) AS v, unnest(range(0, len(qv))) AS pos
      |    FROM a0c)
      |  GROUP BY cid, pos),
      |c1l AS (SELECT cid, list(s ORDER BY pos) AS cv FROM sums GROUP BY cid),
      |c1 AS (
      |  SELECT cid, cv,
      |    CAST(list_sum(list_transform(cv, x -> x * x)) AS BIGINT) AS cnrm
      |  FROM c1l),
      |-- final routing over the trained centroids: every vector's ONE
      |-- cell, each query's 4 probe cells (same key, same tie-break)
      |ad AS (
      |  SELECT v.vec_id, v.nrm, c.cid, c.cnrm,
      |    CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
      |      i -> v.qv[i] * c.cv[i])) AS BIGINT) AS d
      |  FROM n v CROSS JOIN c1 c),
      |ak AS (
      |  SELECT vec_id, cid,
      |    (CASE WHEN d < 0 THEN -1.0 ELSE 1.0 END)
      |      * (CAST(d AS DOUBLE) * CAST(d AS DOUBLE))
      |      / (CAST(nrm AS DOUBLE) * CAST(cnrm AS DOUBLE)) AS rkey
      |  FROM ad),
      |acell AS (
      |  SELECT vec_id AS n_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY rkey DESC, cid) AS rn
      |    FROM ak) WHERE rn = 1),
      |qprobe AS (
      |  SELECT vec_id AS q_id, cid FROM (
      |    SELECT vec_id, cid,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY rkey DESC, cid) AS rn
      |    FROM ak WHERE vec_id < 10) WHERE rn <= 4),""".stripMargin
}
