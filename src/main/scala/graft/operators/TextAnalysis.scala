package graft.operators

import graft.{Cols, Pins, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` corpus: language ID, quality scoring, token counting,
  * corpus stats, document fingerprinting.
  *
  * All per-document features are single-pass narrow transformations
  * (no shuffle) built from codegen'd built-ins (`split`,
  * `regexp_extract_all`, array functions) — at 100 TB this is a pure
  * map stage that scales with input splits.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String) = Tables(s, dir, "documents")

  /** Regex-heavy per-row ops are CPU-bound: widen a narrow scan so
    * they use every core (no-op at real scale — see Tables.spread). */
  private def docsSpread(s: SparkSession, dir: String) =
    Tables.spread(docs(s, dir))

  private def countMatches(pattern: String): Column =
    size(regexp_extract_all(col("text"), lit(pattern), lit(0)))

  /** Marker-word language ID (n-gram-free heuristic: per-language
    * function-word hit counts, argmax with a fixed tie order). */
  def langid(s: SparkSession, dir: String): DataFrame = {
    val cEn = countMatches("\\b(the|a|of|to|and)\\b")
    val cEs = countMatches("\\b(el|la|de|que|los)\\b")
    val cDe = countMatches("\\b(der|die|das|und|ist)\\b")
    val cFr = countMatches("\\b(le|la|les|des|est)\\b")
    docsSpread(s, dir)
      .select(col("doc_id"), col("lang"),
        cEn.as("c_en"), cEs.as("c_es"), cDe.as("c_de"), cFr.as("c_fr"))
      .withColumn("predicted",
        when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de") &&
          col("c_en") >= col("c_fr"), "en")
          .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr"), "es")
          .when(col("c_de") >= col("c_fr"), "de")
          .otherwise("fr"))
      .select(col("doc_id"), col("predicted"),
        when(col("predicted") === col("lang"), 1).otherwise(0).cast("int").as("correct"))
      .orderBy(col("doc_id"))
  }

  /** The quality-feature frame: n_chars_m / n_words / stop_hits /
    * avg_word_len / stop_ratio / score appended to `docs` — the ONE
    * definition of the oracle-pinned formula, shared by
    * [[quality]], Pipeline.curriculum, Pipeline.budgetSelect and
    * Pipeline.datasetCard so the copies can never drift apart. Only
    * +,-,*,/ and comparisons — IEEE-deterministic across engines (no
    * transcendentals, whose last-ulp behavior is libm-specific). */
  private[graft] def qualityFrame(docs: DataFrame): DataFrame = docs
    .withColumn("n_chars_m", length(col("text")).cast("long"))
    .withColumn("n_words", size(split(col("text"), " ")).cast("long"))
    .withColumn("stop_hits", size(regexp_extract_all(col("text"),
      lit("\\b(the|a|of|to|and|in|is)\\b"), lit(0))).cast("long"))
    .withColumn("avg_word_len",
      (col("n_chars_m") - (col("n_words") - 1)).cast("double") / col("n_words"))
    .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_words"))
    .withColumn("score",
      col("stop_ratio") * 0.5 +
        least(lit(1.0), col("n_words").cast("double") / 200.0) * 0.3 +
        least(lit(1.0), col("avg_word_len") / 8.0) * 0.2)

  /** Quality score from length / word-length / stopword signals (the
    * [[qualityFrame]] formula, per doc). */
  def quality(s: SparkSession, dir: String): DataFrame =
    qualityFrame(docsSpread(s, dir))
      .select(col("doc_id"), col("n_words"), col("avg_word_len"),
        col("stop_ratio"), col("score"))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (alpha runs, digit runs, other non-space singletons). */
  def tokens(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long").as("re_tokens"))
      .orderBy(col("doc_id"))

  /** Corpus stats per (lang, source) — the partition-planning query a
    * pipeline runs before sharding a 100 TB corpus. */
  def docStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy(col("lang"), col("source"))

  /** Karp-Rabin polynomial fingerprint over word tokens:
    * h ← (h·31 + hw) mod p with p = 1e9+7 (products stay well inside
    * Long). The per-word hash hw is the first 60 bits of md5(word)
    * mod p — md5 hex is bit-identical across engines (unlike
    * xxhash64, whose seed/impl is Spark-specific), so the WHOLE
    * fingerprint is DuckDB-expressible and the driver oracle checks
    * it digit-for-digit. All codegen'd built-ins (md5 + conv +
    * aggregate), no UDF. */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    val p = lit(1000000007L)
    def wordHash(w: Column): Column =
      pmod(conv(substring(md5(w), 1, 15), 16, 10).cast("long"), p)
    docsSpread(s, dir)
      .select(col("doc_id"),
        aggregate(split(col("text"), " "), lit(0L),
          (acc, w) => pmod(acc * 31L + wordHash(w), p)).as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Vocabulary census: the corpus-wide top-50 words by frequency —
    * the pass a tokenizer-training / vocab-building pipeline runs
    * first. One explode + one hash agg: map-side partial aggregation
    * collapses each partition to its distinct words before the
    * shuffle, so the exchanged rows are O(vocabulary), not O(tokens)
    * — at 100 TB the shuffle carries megabytes. */
  def vocab(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)

  /** Adjacent-pair census: the corpus-wide top-20 word bigrams — the
    * merge-candidate scan at the heart of BPE tokenizer training
    * (count all adjacent pairs, merge the hottest, repeat). Same
    * wordcount shape as text_vocab: one explode + one hash agg,
    * map-side combine collapses to distinct pairs per partition before
    * the shuffle. */
  def bigrams(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  /** Per-document repetition stats — the degenerate-text filter (a doc
    * that is one phrase repeated 500 times is training poison): total
    * words, distinct words, the hottest word's count, and the
    * repetition ratio 1 − distinct/total. Two aggs keyed by doc_id,
    * both with map-side combine; no windows, no sorts. */
  def repetition(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_word_n"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_words"))
      .orderBy(col("doc_id"))

  /** Built-in PII shapes for [[redact]]. Order is the application
    * order; sequential replacement means a later pattern never
    * re-matches text an earlier label already masked. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "EMAIL" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "SSN" -> "\\b\\d{3}-\\d{2}-\\d{4}\\b",
    "PHONE" -> "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b",
    "IP" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b")

  /** PII scrubbing — the redaction stage every training-data pipeline
    * runs before anything ships to a tokenizer: each (label, regex)
    * match in `textCol` is replaced by `<LABEL>`, and `n_redacted`
    * counts the replacements per row. A pure narrow map over
    * codegen'd regexp built-ins (no UDF, no shuffle) — at 100 TB this
    * runs at scan speed alongside the other per-doc features. The
    * test corpus contains no PII by construction, so the operator is
    * spec-verified on planted documents (TextAnalysisSpec) rather
    * than oracle-checked. */
  def redact(df: DataFrame, textCol: String = "text",
      patterns: Seq[(String, String)] = PiiPatterns): DataFrame =
    patterns.foldLeft(df.withColumn("n_redacted", lit(0L))) {
      case (d, (label, pat)) =>
        d.withColumn("n_redacted", col("n_redacted") +
            size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long"))
          .withColumn(textCol, regexp_replace(col(textCol), pat, s"<$label>"))
    }

  /** The driver-gated form of [[redact]]: the corpus carries no PII by
    * construction, so a deterministic planted slice (the mm_dedup_near
    * trick, pure integer reshapes of doc_id) makes the oracle
    * non-vacuous — every doc_id%3==0 doc gains one PII shape chosen by
    * doc_id%4 (email / SSN / phone / IPv4, each digit derived from
    * doc_id), then the full sequential [[PiiPatterns]] fold runs and
    * the masked TEXT itself rides the hash gate alongside the
    * redaction count. Still a pure narrow map — two codegen'd regexp
    * built-ins per pattern, no shuffle; at 100 TB this runs at scan
    * speed. */
  def redactQuery(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def ds(c: Column): Column = c.cast("string")
    val pii = when(pmod(id, lit(4)) === 0,
        concat(lit(" contact u"), ds(id), lit("@mail.example.com")))
      .when(pmod(id, lit(4)) === 1,
        concat(lit(" ssn "), ds(pmod(id, lit(900)) + 100), lit("-"),
          ds(pmod(id, lit(90)) + 10), lit("-"),
          ds(pmod(id, lit(9000)) + 1000)))
      .when(pmod(id, lit(4)) === 2,
        concat(lit(" call "), ds(pmod(id, lit(900)) + 100), lit("-"),
          ds(pmod(id, lit(800)) + 123), lit("-"),
          ds(pmod(id, lit(9000)) + 1000)))
      .otherwise(
        concat(lit(" from "), ds(pmod(id, lit(256))), lit("."),
          ds(pmod(id * 7, lit(256))), lit(".10."), ds(pmod(id, lit(100)))))
    val planted = docsSpread(s, dir).select(col("doc_id"),
      when(pmod(id, lit(3)) === 0, concat(col("text"), pii))
        .otherwise(col("text")).as("text"))
    redact(planted)
      .select(col("doc_id"), col("n_redacted"), col("text"))
      .orderBy(col("doc_id"))
  }

  /** Per-document top keyword by TF-IDF — the keyword-extraction /
    * quality-weighting pass of a curation pipeline. The score is an
    * INTEGER-DOMAIN surrogate, tf × ⌊1e6·N/df⌋ (per-doc length
    * normalization drops out of an argmax within a document), so the
    * ranking is engine-exact — no ln() whose last-ulp behavior would
    * differ between libm implementations and break the oracle hash.
    * Shape at 100 TB: tf is a map-side-combined (doc, term) count; df
    * is an O(vocabulary) census that BROADCASTS to the tf side (the
    * vocab is MBs when terms are real words); the only wide exchange
    * is the per-doc window for the argmax. */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = docsSpread(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = words.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = words.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf") * expr("(1000000 * n) div df"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"))
  }

  /** BPE TOKENIZER TRAINING — the first `rounds` merge rounds of
    * byte-pair encoding (Sennrich et al. 2016, the algorithm behind
    * GPT/Llama-family tokenizers), as real iterative Spark jobs:
    *
    *   1. ONE corpus-scale pass builds the word-frequency VOCAB
    *      (map-side-combined census — the same O(vocabulary) shuffle
    *      as text_vocab). Everything after runs on the vocab, never
    *      the corpus — the standard Sennrich trick that makes BPE
    *      training tractable at 100 TB.
    *   2. Each round: adjacent-symbol-pair census weighted by word
    *      count (a narrow explode over O(vocab) rows), argmax pair
    *      with a fixed total tiebreak (count DESC, then left/right
    *      lexicographic), merge that pair inside every word, repeat.
    *      The argmax is a bounded ONE-row driver collect per round
    *      (the q_ntile k-row pattern).
    *
    * Symbol sequences ride as SENTINEL-WRAPPED strings
    * (sym per symbol) so the merge is one built-in
    * `replace` call: plain string replace is left-to-right
    * NON-OVERLAPPING in Spark, DuckDB and Java alike — exactly
    * re.sub's semantics in the reference BPE implementation (a run
    * "aaaa" merges to "aa aa", never "aa a") — and the wrappers make
    * cross-symbol false matches impossible. The corpus is
    * sentinel-free by construction (spec-asserted). Deterministic,
    * engine-exact → the DuckDB oracle unrolls the same rounds as
    * CTE stages. Output: one row per learned merge. */
  def bpe(s: SparkSession, dir: String, rounds: Int = 5): DataFrame =
    mergesDf(s, bpeTrain(s, dir, rounds)._1)

  private[graft] val BpeS = "\u0001" // symbol start sentinel (corpus-free, spec-asserted)
  private[graft] val BpeE = "\u0002" // symbol end sentinel

  /** The sentinel-wrapped symbol list of an encoding column `e`. */
  private[graft] def bpeSyms(e: Column): Column =
    split(e.substr(lit(2), length(e) - 2), BpeE + BpeS)

  private val bpeTrainCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), (Seq[(Int, String, String, Long)], DataFrame)]()

  /** The shared trainer behind [[bpe]], [[bpeEncode]] and
    * pipeline_pack_bpe: returns the learned merge list AND the final
    * vocab frame. CACHED per (corpus dir, rounds) — the documented
    * train-once-probe-many shape ANN's IVF/PQ indexes already use: a
    * tokenizer trains once, every downstream consumer encodes with it. */
  private[graft] def bpeTrain(s: SparkSession, dir: String, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) =
    bpeTrainCache.computeIfAbsent((dir, rounds),
      _ => bpeTrainDf(docsSpread(s, dir), rounds))

  /** Train on an ARBITRARY document frame (any (…, text) schema):
    * returns the merge list and the final vocab frame `(word, wc, e)`
    * — each distinct word with its fully-merged sentinel-wrapped
    * segmentation, read back from its scratch parquet artifact. */
  private[graft] def bpeTrainDf(docs: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = Pins.scope { pins =>
    val (sS, eE) = (BpeS, BpeE)
    // vocab census: the ONLY corpus-scale pass
    var vocab = pins(docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .withColumn("e", concat_ws("",
        transform(split(col("word"), ""), c => concat(lit(sS), c, lit(eE)))))
      .select(col("word"), col("wc"), col("e")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var exhausted = false
    (1 to rounds).foreach { round =>
      if (!exhausted) {
        // adjacent-pair census over the vocab, weighted by word count
        val best = vocab
          .select(col("wc"), bpeSyms(col("e")).as("syms"))
          .filter(size(col("syms")) >= 2)
          .select(col("wc"), explode(expr(
            "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS l, syms[i+1] AS r))")).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("wc")).as("cnt"))
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (best.isEmpty) exhausted = true
        else {
          val (l, r, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((round, l, r, cnt))
          // merge the winning pair inside every vocab word: ONE built-in
          // replace call — plain string replace is left-to-right
          // NON-OVERLAPPING in Spark, DuckDB and Java alike
          val prev = vocab
          vocab = pins(vocab.withColumn("e",
            replace(col("e"), lit(sS + l + eE + sS + r + eE), lit(sS + l + r + eE))))
          vocab.count() // materialize before releasing the parent
          pins.release(prev)
        }
      }
    }
    // EVICTION-PROOF the "train once" contract: the final vocab
    // frame's cached lineage chains through every merge round back to
    // the corpus census, so block-manager eviction under memory
    // pressure would silently re-run the ENTIRE training per consumer
    // action — correct, but the documented train-once shape degrades
    // to train-per-query exactly when the host can least afford it.
    // Writing the O(vocab) frame to session scratch and handing
    // consumers the file-backed read truncates the lineage for good:
    // a lost block re-reads O(vocab) parquet bytes, never re-trains.
    val spark = docs.sparkSession
    val artifact = graft.Scratch.dir("graft_bpe_vocab_").toString
    vocab.write.mode("overwrite").parquet(artifact)
    (merges.result(), spark.read.parquet(artifact))
  }

  /** BPE TOKENIZER APPLICATION — encode every document with the merges
    * [[bpe]] learns: the step that turns "token budget" from a
    * whitespace proxy into REAL tokenizer output. The standard
    * word-dict trick keeps the corpus out of the merge machinery
    * entirely: training already leaves each DISTINCT word's final
    * segmentation in the vocab frame, so encoding is
    *
    *   1. token-id table: the final symbol vocabulary ranked by
    *      (length, lexicographic) — deterministic, engine-replayable,
    *      and O(alphabet + rounds) rows (BPE's vocab is bounded by
    *      construction: every id is a base symbol or one merge), so
    *      the single-partition row_number window is a non-issue;
    *   2. per-word stats on the O(vocabulary) dict: token count and
    *      token-id sum per word;
    *   3. ONE corpus-scale pass: explode words, join the dict (AQE
    *      broadcasts it when small, co-partitions otherwise), fold
    *      per doc.
    *
    * Output per doc: whitespace word count, REAL BPE token count, and
    * the token-id sum — the id sum makes the oracle hash pin the exact
    * id assignment and the exact per-word segmentation, not just
    * totals. */
  def bpeEncode(s: SparkSession, dir: String, rounds: Int = 5): DataFrame =
    bpeEncodeWith(bpeTrain(s, dir, rounds)._2, docsSpread(s, dir))

  /** Encode an arbitrary document frame with an arbitrary trained
    * vocab — the composable core behind [[bpeEncode]] and the
    * end-to-end pipeline_tokenize (which trains on the CLEANED
    * corpus, not the raw one). */
  private[graft] def bpeEncodeWith(vocab: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wordSyms = vocab.select(col("word"), bpeSyms(col("e")).as("syms"))
    val ids = wordSyms.select(explode(col("syms")).as("sym")).distinct()
      .withColumn("tid", row_number()
        .over(Window.orderBy(length(col("sym")), col("sym"))).cast("long"))
    val wt = wordSyms.select(col("word"), explode(col("syms")).as("sym"))
      .join(broadcast(ids), "sym")
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_toks"), sum(col("tid")).as("id_sum_w"))
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .join(wt, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).cast("long").as("n_tokens"),
        sum(col("id_sum_w")).cast("long").as("id_sum"))
      .orderBy(col("doc_id"))
  }

  /** The per-document token-id SEQUENCE — [[bpeEncodeWith]]'s
    * aggregate form emits counts and id sums; this form materializes
    * the ORDERED ids themselves, the artifact a training run actually
    * consumes. Same word-dict trick: the O(vocab) dict maps every
    * distinct word to its ordered id list ONCE (posexplode over the
    * word's final segmentation + the same (length, lex) id table),
    * then ONE corpus pass joins words to the dict and reassembles per
    * doc in word order. The corpus crosses the wire once as
    * (doc_id, ids) — the O(corpus) floor for any pass whose OUTPUT is
    * the token stream (the same floor dedup_clean documents for text
    * rewrites). Docs with no encodable word are absent (the
    * inner-join rule every BPE consumer shares). */
  private[graft] def bpeEncodeIds(vocab: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wordSyms = vocab.select(col("word"), bpeSyms(col("e")).as("syms"))
    val ids = wordSyms.select(explode(col("syms")).as("sym")).distinct()
      .withColumn("tid", row_number()
        .over(Window.orderBy(length(col("sym")), col("sym"))).cast("long"))
    val wid = wordSyms
      .select(col("word"), posexplode(col("syms")).as(Seq("i", "sym")))
      .join(broadcast(ids), "sym")
      .groupBy(col("word"))
      .agg(expr("transform(array_sort(collect_list(struct(i, tid))), x -> x.tid)")
        .as("wids"))
    docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("j", "word")))
      .filter(length(col("word")) >= 1)
      .join(wid, "word")
      .groupBy(col("doc_id"))
      .agg(expr("flatten(transform(array_sort(collect_list(struct(j, wids))), x -> x.wids))")
        .as("ids"))
  }

  /** Decode token ids back to text — the inverse proving the sequence
    * artifact is lossless token-for-token: tid → token string via the
    * same (length, lex) table, concatenated in sequence order. Spaces
    * are word-boundary metadata the id stream deliberately does not
    * carry (the whitespace pre-tokenizer's contract — production
    * tokenizers mark word starts in the symbol alphabet instead), so
    * the decode target is the document text with spaces stripped.
    * Spec-verified round-trip over the full corpus (BpeSpec). */
  private[graft] def bpeDecode(vocab: DataFrame, encoded: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ids = vocab.select(explode(bpeSyms(col("e"))).as("sym")).distinct()
      .withColumn("tid", row_number()
        .over(Window.orderBy(length(col("sym")), col("sym"))).cast("long"))
    encoded.select(col("doc_id"), posexplode(col("ids")).as(Seq("p", "tid")))
      .join(broadcast(ids), "tid")
      .groupBy(col("doc_id"))
      .agg(expr("concat_ws('', transform(array_sort(collect_list(struct(p, sym))), x -> x.sym))")
        .as("detok"))
  }

  /** The learned TOKEN-ID TABLE — the artifact a tokenizer ships: the
    * final symbol vocabulary under the same deterministic
    * (length, lexicographic) id ranking [[bpeEncode]] pins, one row
    * per token. O(alphabet + rounds) rows by construction. */
  def bpeVocab(s: SparkSession, dir: String, rounds: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bpeTrain(s, dir, rounds)._2
      .select(explode(bpeSyms(col("e"))).as("token")).distinct()
      .withColumn("tid", row_number()
        .over(Window.orderBy(length(col("token")), col("token"))).cast("long"))
      .select(col("tid"), col("token"),
        length(col("token")).cast("long").as("token_len"))
      .orderBy(col("tid"))
  }

  private def mergesDf(s: SparkSession,
      ms: Seq[(Int, String, String, Long)]): DataFrame = {
    import s.implicits._
    ms.toDF("round", "l", "r", "cnt")
      .select(col("round").cast("int").as("round"), col("l"), col("r"),
        concat(col("l"), col("r")).as("merged"), col("cnt"))
      .orderBy(col("round"))
  }

  /** N-GRAM LM COVERAGE — the CCNet/Gopher-style quality-filter shape
    * with an INTEGER-exact scoring kernel: a bigram "language model"
    * trains on the corpus's own deterministic train split (the
    * [[Pipeline.splitCol]] assignment — reproducible across engines),
    * prunes to bigrams seen ≥3 times (the LM-size knob; deployed
    * perplexity filters prune their n-gram LMs exactly so), and every
    * document scores by how much of it the LM has seen: total bigrams,
    * known bigrams (with multiplicity), familiarity = per-instance
    * reference counts saturated at 10, coverage_pct by integer
    * division. All-integer by design — a log-probability formulation
    * would hash-drift on libm ulps between engines; coverage ranks
    * documents the same way for filtering purposes.
    *
    * Scale: the LM census is one map-side-combined groupBy over the
    * train slice; the scoring join keys on `pair`, so Catalyst
    * broadcasts the pruned LM when small and co-partitions otherwise
    * (AQE decides from actual sizes — the minCount prune is what
    * bounds the LM at corpus scale); the per-doc score is one more
    * combine. No windows, no global sorts. */
  def lmCoverage(s: SparkSession, dir: String): DataFrame = {
    def bigramsOf(df: DataFrame): DataFrame = df
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i+1]))"))
        .as("pair"))
    val docs = docsSpread(s, dir)
    val ref = bigramsOf(docs
        .filter(Pipeline.splitCol(col("doc_id")) === "train"))
      .groupBy(col("pair")).agg(count(lit(1)).as("rc"))
      .filter(col("rc") >= 3L)
    bigramsOf(docs)
      .join(ref, Seq("pair"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("rc")).as("n_known"),
        // NB: least() IGNORES nulls in both engines (least(NULL, 10)
        // = 10), so the unknown-bigram zero must be an explicit CASE —
        // a coalesce around least would silently credit unknowns
        sum(when(col("rc").isNull, lit(0L))
          .otherwise(least(col("rc"), lit(10L))))
          .cast("long").as("familiarity"))
      .withColumn("coverage_pct", expr("(100 * n_known) div n_bigrams"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_coverage" -> (lmCoverage _),
    "text_langid" -> (langid _),
    "text_quality" -> (quality _),
    "text_tokens" -> (tokens _),
    "doc_stats" -> (docStats _),
    "text_fingerprint" -> (fingerprint _),
    "text_bpe" -> ((s, d) => bpe(s, d)),
    "text_bpe_encode" -> ((s, d) => bpeEncode(s, d)),
    "text_bpe_vocab" -> ((s, d) => bpeVocab(s, d)),
    "text_vocab" -> (vocab _),
    "text_repetition" -> (repetition _),
    "text_redact" -> (redactQuery _),
    "text_tfidf" -> (tfidf _),
    "text_bigrams" -> (bigrams _),
  )


  /** The shared BPE oracle CTE chain: DuckDB unrolls the same `rounds`
    * merge rounds as CTE stages over the identical sentinel-wrapped
    * representation — same census, same (cnt DESC, l, r) argmax, same
    * non-overlapping replace. Engine-exact because every step is
    * integer counting and plain string replacement. `word` rides along
    * so the encode tail can map corpus words to their final
    * segmentation. Ends after `v<rounds>` (no trailing SELECT). */
  private[graft] def bpeOracleCte(rounds: Int,
      rel: String = "documents"): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH w AS (
      |  SELECT word, count(*) AS wc FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM $rel) t
      |  WHERE length(word) >= 1 GROUP BY word),
      |v0 AS (SELECT word, wc, chr(1) || array_to_string(string_split(word, ''), chr(2) || chr(1)) || chr(2) AS e FROM w)""".stripMargin
    for (k <- 1 to rounds) {
      sb ++= s""",
        |p$k AS (SELECT syms[i] AS l, syms[i+1] AS r, CAST(sum(wc) AS BIGINT) AS cnt
        |  FROM (SELECT wc, string_split(substr(e, 2, length(e) - 2), chr(2) || chr(1)) AS syms FROM v${k - 1}) t,
        |  LATERAL (SELECT unnest(range(1, len(syms))) AS i)
        |  GROUP BY 1, 2),
        |b$k AS (SELECT $k AS round, l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
        |v$k AS (SELECT word, wc, replace(e, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2), chr(1) || b.l || b.r || chr(2)) AS e FROM v${k - 1}, b$k b)""".stripMargin
    }
    sb.toString
  }

  private def bpeOracleSql(rounds: Int): String =
    bpeOracleCte(rounds) +
      "\nSELECT round, l, r, l || r AS merged, cnt FROM (" +
      (1 to rounds).map(k => s"SELECT * FROM b$k").mkString(" UNION ALL ") +
      ") ORDER BY round"

  /** [[bpeOracleCte]] plus the encode stages: `ids` (the (length, sym)
    * token-id ranking), `wt` (per-word token count and id sum) and `d`
    * (corpus word explode) — everything [[bpeEncode]]'s oracle and any
    * real-token downstream consumer (pipeline_pack_bpe) need. Ends
    * after `d` (no trailing SELECT). */
  private[graft] def bpeEncodeCte(rounds: Int,
      rel: String = "documents"): String =
    bpeOracleCte(rounds, rel) + s""",
      |sy AS (SELECT word, string_split(substr(e, 2, length(e) - 2), chr(2) || chr(1)) AS syms FROM v$rounds),
      |ids AS (SELECT sym, CAST(row_number() OVER (ORDER BY length(sym), sym) AS BIGINT) AS tid
      |  FROM (SELECT DISTINCT unnest(syms) AS sym FROM sy) u),
      |wt AS (SELECT word, CAST(count(*) AS BIGINT) AS n_toks, CAST(sum(tid) AS BIGINT) AS id_sum_w
      |  FROM (SELECT word, unnest(syms) AS sym FROM sy) x JOIN ids USING (sym) GROUP BY word),
      |d AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM $rel)""".stripMargin

  /** [[bpeEncodeCte]] plus the SEQUENCE stages: `wid` (per-word
    * ORDERED token-id list via the same lateral-position trick the
    * merge census uses) and `dd` (per-doc flattened id sequence in
    * word order) — what pipeline_tokenize_ids' oracle packs. Ends
    * after `dd` (no trailing SELECT). */
  private[graft] def bpeIdsCte(rounds: Int,
      rel: String = "documents"): String =
    bpeEncodeCte(rounds, rel) + s""",
      |wi AS (SELECT word, i, tid FROM (
      |    SELECT word, i, syms[i] AS sym
      |    FROM sy, LATERAL (SELECT unnest(range(1, len(syms) + 1)) AS i)) q
      |  JOIN ids USING (sym)),
      |wid AS (SELECT word, list(tid ORDER BY i) AS wids FROM wi GROUP BY word),
      |dw AS (SELECT doc_id, j, ws[j] AS word
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM $rel) c,
      |  LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS j)
      |  WHERE length(ws[j]) >= 1),
      |dd AS (SELECT doc_id, flatten(list(wids ORDER BY j)) AS dids
      |  FROM dw JOIN wid USING (word) GROUP BY doc_id)""".stripMargin

  private def bpeEncodeOracleSql(rounds: Int): String =
    bpeEncodeCte(rounds) + """
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |  CAST(sum(id_sum_w) AS BIGINT) AS id_sum
      |FROM d JOIN wt USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // the LM replays exactly: the train split is the md5-based hash32
    // assignment (pipeline_split's own oracle form), the bigram census
    // and the saturating familiarity sum are pure integers
    "text_lm_coverage" ->
      """WITH sp AS (
        |  SELECT doc_id,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h
        |  FROM documents),
        |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |bg AS (
        |  SELECT doc_id, ws[i] || ' ' || ws[i+1] AS pair
        |  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  WHERE len(ws) >= 2),
        |ref AS (
        |  SELECT pair, count(*) AS rc
        |  FROM bg JOIN sp USING (doc_id)
        |  WHERE sp.h < 3435973836
        |  GROUP BY pair HAVING count(*) >= 3)
        |SELECT b.doc_id,
        |  count(*) AS n_bigrams,
        |  count(r.rc) AS n_known,
        |  CAST(coalesce(sum(CASE WHEN r.rc IS NULL THEN 0
        |                         ELSE least(r.rc, 10) END), 0) AS BIGINT)
        |    AS familiarity,
        |  (100 * count(r.rc)) // count(*) AS coverage_pct
        |FROM bg b LEFT JOIN ref r USING (pair)
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,
    // the same planted slice, the same four patterns folded in the
    // same order (a later pattern never re-matches an earlier mask);
    // DuckDB needs the explicit 'g' flag to match Spark's
    // replace-all semantics, and the masked TEXT itself is hashed
    "text_redact" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text ||
        |      CASE doc_id % 4
        |        WHEN 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
        |        WHEN 1 THEN ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
        |          || CAST(doc_id % 90 + 10 AS VARCHAR) || '-'
        |          || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |        WHEN 2 THEN ' call ' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
        |          || CAST(doc_id % 800 + 123 AS VARCHAR) || '-'
        |          || CAST(doc_id % 9000 + 1000 AS VARCHAR)
        |        ELSE ' from ' || CAST(doc_id % 256 AS VARCHAR) || '.'
        |          || CAST((doc_id * 7) % 256 AS VARCHAR) || '.10.'
        |          || CAST(doc_id % 100 AS VARCHAR)
        |      END
        |    ELSE text END AS text
        |  FROM documents),
        |r1 AS (SELECT doc_id,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS c1,
        |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS text
        |  FROM p),
        |r2 AS (SELECT doc_id, c1,
        |  len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS c2,
        |  regexp_replace(text, '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g') AS text
        |  FROM r1),
        |r3 AS (SELECT doc_id, c1, c2,
        |  len(regexp_extract_all(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS c3,
        |  regexp_replace(text, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS text
        |  FROM r2),
        |r4 AS (SELECT doc_id, c1, c2, c3,
        |  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS c4,
        |  regexp_replace(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
        |  FROM r3)
        |SELECT doc_id, CAST(c1 + c2 + c3 + c4 AS BIGINT) AS n_redacted, text
        |FROM r4 ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH c AS (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '\b(the|a|of|to|and)\b')) AS c_en,
        |    len(regexp_extract_all(text, '\b(el|la|de|que|los)\b')) AS c_es,
        |    len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS c_de,
        |    len(regexp_extract_all(text, '\b(le|la|les|des|est)\b')) AS c_fr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
        |       WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
        |       WHEN c_de >= c_fr THEN 'de'
        |       ELSE 'fr' END AS predicted,
        |  CAST(CASE WHEN (CASE WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
        |       WHEN c_es >= c_de AND c_es >= c_fr THEN 'es'
        |       WHEN c_de >= c_fr THEN 'de'
        |       ELSE 'fr' END) = lang THEN 1 ELSE 0 END AS INT) AS correct
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars_m,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(regexp_extract_all(text, '\b(the|a|of|to|and|in|is)\b')) AS stop_hits
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, n_words,
        |    CAST(n_chars_m - (n_words - 1) AS DOUBLE) / n_words AS avg_word_len,
        |    CAST(stop_hits AS DOUBLE) / n_words AS stop_ratio
        |  FROM f)
        |SELECT doc_id, n_words, avg_word_len, stop_ratio,
        |  stop_ratio * 0.5
        |    + least(1.0, CAST(n_words AS DOUBLE) / 200.0) * 0.3
        |    + least(1.0, avg_word_len / 8.0) * 0.2 AS score
        |FROM g ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_stats" ->
      """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "text_bpe" -> bpeOracleSql(5),
    "text_bpe_encode" -> bpeEncodeOracleSql(5),
    // the id table straight from the encode chain's `ids` CTE
    "text_bpe_vocab" -> (bpeEncodeCte(5) + """
      |SELECT tid, sym AS token, CAST(length(sym) AS BIGINT) AS token_len
      |FROM ids ORDER BY tid""".stripMargin),
    // Same md5-based Karp-Rabin arithmetic as fingerprint():
    // hw = first 15 md5 hex digits (60 bits) mod p, folded left as
    // h·31 + hw mod p. list_reduce has no init accumulator — it seeds
    // with the first element, which equals Spark's (0·31 + hw1) mod p
    // since hw < p; split(' ') yields >= 1 token for every string, so
    // the reduce is never empty.
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_transform(string_split(text, ' '),
        |      w -> CAST(concat('0x', substr(md5(w), 1, 15)) AS BIGINT) % 1000000007),
        |    (acc, hw) -> (acc * 31 + hw) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_vocab" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin,
    "text_bigrams" ->
      """SELECT pair, count(*) AS n FROM (
        |  SELECT ws[i] || ' ' || ws[i+1] AS pair
        |  FROM (SELECT string_split(text, ' ') AS ws FROM documents) d,
        |       LATERAL (SELECT unnest(range(1, len(ws))) AS i)
        |  WHERE len(ws) >= 2)
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "text_tfidf" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |s AS (
        |  SELECT doc_id, term, tf, df, tf * ((1000000 * n) // df) AS score
        |  FROM tf JOIN df USING (term), n),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM s)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(score AS BIGINT) AS score
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH pw AS (
        |  SELECT doc_id, word, count(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY doc_id, word),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_word_n
        |  FROM pw GROUP BY doc_id)
        |SELECT doc_id, n_words, n_distinct, top_word_n,
        |  1.0 - CAST(n_distinct AS DOUBLE) / n_words AS rep_ratio
        |FROM agg ORDER BY doc_id""".stripMargin,
  )
}
