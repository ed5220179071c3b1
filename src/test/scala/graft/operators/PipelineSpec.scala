package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Properties of the training-pipeline assignment operators that the
  * DuckDB oracle (which only checks one fixed corpus) cannot see:
  * split assignments must be STABLE under corpus changes, mixture
  * decisions must be independent of split decisions, and shard
  * packing must actually pack to the budget. The split/hash tests use
  * Pipeline.splitCol / Pipeline.hash32 — the operator's OWN
  * expressions — so a regression in the operator (e.g. switching to a
  * rand()-based split) fails here, not just at the fixed-corpus
  * oracle. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("pipeline_interleave: bucketed rank is boundary-independent (B=3 ≡ B=64); full schedule conserves") {
    val a = Pipeline.interleave(spark, sfDir, buckets = Some(3))
      .collect().map(_.toString).toSeq
    val b = Pipeline.interleave(spark, sfDir, buckets = Some(64))
      .collect().map(_.toString).toSeq
    assert(a === b,
      "the head artifact must not depend on where range partitioning cut the buckets")
    val s3 = Pipeline.interleaveSchedule(spark, sfDir, buckets = Some(3))
      .collect()
    val s64 = Pipeline.interleaveSchedule(spark, sfDir, buckets = Some(64))
      .collect()
    assert(s3.map(_.toString).toSeq === s64.map(_.toString).toSeq,
      "the full schedule must be boundary-independent")
    // CONSERVATION: the shard blocks partition the whole corpus into
    // contiguous near-equal position ranges, nothing lost or doubled
    val total = Tables(spark, sfDir, "documents").count()
    val rows = s3.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq === (0L until rows.length.toLong),
      "shard ids must be dense from 0")
    assert(rows.map(_._2).sum === total, "schedule must cover every doc once")
    assert(rows.head._3 === 1L)
    assert(rows.last._4 === total)
    rows.sliding(2).foreach {
      case Array(x, y) =>
        assert(y._3 === x._4 + 1, "shard blocks must be contiguous")
      case _ => ()
    }
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1L,
      "shards must be near-equal")
  }

  test("pipeline_pack_bfd: conservation, capacity, and determinism of the best-fit fold") {
    val res = Pipeline.packBfd(spark, sfDir).collect()
    val docsTbl = Tables(spark, sfDir, "documents")
    val total = docsTbl.count()
    assert(res.map(_.getLong(2)).sum === total,
      "every document must pack exactly once")
    val toks = docsTbl
      .select(size(split(col("text"), " ")).cast("long").as("t"))
      .agg(sum(col("t"))).as[Long].head()
    assert(res.map(_.getLong(3)).sum === toks,
      "token mass must be conserved across windows")
    // capacity: only a SINGLETON window may exceed W (an oversize doc
    // gets its own window, flagged by negative slack)
    res.foreach { r =>
      if (r.getLong(2) > 1L)
        assert(r.getLong(3) <= 2048L,
          s"multi-doc window over capacity: $r")
    }
    assert(res.map(_.toString).toSeq ===
      Pipeline.packBfd(spark, sfDir).collect().map(_.toString).toSeq,
      "the fold must be deterministic")
  }

  test("pipeline_split: a document's split never moves when other docs come or go") {
    val all = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), Pipeline.splitCol(col("doc_id")).as("split"))
    val half = Tables(spark, sfDir, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), Pipeline.splitCol(col("doc_id")).as("split_half"))
    val moved = all.join(half, "doc_id")
      .filter(col("split") =!= col("split_half"))
    assert(moved.count() === 0L)
  }

  test("pipeline_split: assignment is a pure function of doc_id, not of row order") {
    val docs = Tables(spark, sfDir, "documents")
    val forward = docs.select(col("doc_id"), Pipeline.splitCol(col("doc_id")).as("s"))
    val shuffled = docs.orderBy(col("n_chars"), col("doc_id"))
      .select(col("doc_id"), Pipeline.splitCol(col("doc_id")).as("s2"))
    assert(forward.join(shuffled, "doc_id").filter(col("s") =!= col("s2")).count() === 0L)
  }

  test("pipeline_split: proportions land near 80/10/10 and all docs are assigned") {
    val counts = Tables(spark, sfDir, "documents")
      .select(Pipeline.splitCol(col("doc_id")).as("split"))
      .groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val n = counts.values.sum
    assert(n === Tables(spark, sfDir, "documents").count())
    // md5 is uniform; at n=100 allow a wide but bug-catching band
    assert(counts("train").toDouble / n > 0.6 && counts("train").toDouble / n < 0.95,
      s"train fraction off: $counts")
    assert(counts.getOrElse("val", 0L) + counts.getOrElse("test", 0L) > 0)
  }

  test("pipeline_mix: rate-1.0 sources keep every doc; rate-0.25 sources actually drop") {
    val docs = Tables(spark, sfDir, "documents")
    val srcTotals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val kept = Pipeline.mixtureSample(spark, sfDir)
      .select("source", "n_docs").as[(String, Long)].collect().toMap
    def rank(src: String) = src.drop(3).toInt % 4
    srcTotals.foreach { case (src, total) =>
      if (rank(src) == 0)
        assert(kept.getOrElse(src, 0L) === total, s"$src is rate-1.0 but lost docs")
    }
    val rate25 = srcTotals.keys.filter(rank(_) == 3)
    assert(rate25.exists(src => kept.getOrElse(src, 0L) < srcTotals(src)),
      "no rate-0.25 source dropped anything — thresholding is inert")
  }

  test("pipeline_temper: dominant source keeps all; others thin toward sqrt(n/n_max)") {
    val docs = Tables(spark, sfDir, "documents")
    val totals = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    val nMax = totals.values.max
    val kept = Pipeline.temperatureSample(spark, sfDir)
      .select("source", "n_docs").as[(String, Long)].collect().toMap
    // the biggest source has rate sqrt(n_max/n_max) = 1.0: keeps everything
    val (top, topN) = totals.maxBy(_._2)
    assert(kept(top) === topN, s"dominant source $top lost docs under rate 1.0")
    // every source's kept count is within a binomial-plausible band of
    // rate·n (wide: the corpus is ~100 docs) and never exceeds n
    totals.foreach { case (src, n) =>
      val rate = math.sqrt(n.toDouble / nMax)
      val k = kept.getOrElse(src, 0L)
      assert(k <= n, s"$src kept more docs than it has")
      val sd = math.sqrt(n * rate * (1 - rate))
      assert(math.abs(k - rate * n) <= 4 * sd + 1,
        s"$src kept $k of $n, expected ~${rate * n} (rate $rate)")
    }
  }

  test("pipeline_mix: mixture decisions are independent of split decisions (different salt)") {
    // If the same hash drove both, every kept doc in a 0.25-rate source
    // would land in 'train' (hash < 0.25·2^32 < 0.8·2^32). The ':mix'
    // salt must decorrelate them: kept docs span more than one split.
    val mixHash = Pipeline.hash32(concat(col("doc_id").cast("string"), lit(":mix")))
    val splits = Tables(spark, sfDir, "documents")
      .filter(expr("try_cast(substring(source, 4, 10) as int) % 4") === 3)
      .filter(mixHash < lit(1073741824L))
      .select(Pipeline.splitCol(col("doc_id")).as("split")).distinct().as[String].collect()
    assert(splits.length > 1,
      s"kept docs all landed in ${splits.mkString(",")} — mix hash correlated with split hash")
  }

  test("pipeline_shard: every doc packed exactly once, shards contiguous from 0, budget respected") {
    val budget = 4096L
    val maxDoc = Tables(spark, sfDir, "documents")
      .agg(max(col("n_chars"))).as[Long].head()
    // Contiguity holds only while no single doc spans a whole slab —
    // true of this corpus; if regeneration breaks it, cancel (don't
    // blame the operator for a data property).
    assume(maxDoc < budget, s"corpus now has a $maxDoc-char doc >= $budget-char slabs")
    val packed = Pipeline.shardPack(spark, sfDir, buckets = 4, shardChars = budget)
      .as[(Long, Long, Long, Long, Long)].collect()
    val nDocs = packed.map(_._3).sum
    assert(nDocs === Tables(spark, sfDir, "documents").count())
    packed.groupBy(_._1).foreach { case (bucket, shards) =>
      val ids = shards.map(_._2).sorted
      assert(ids.head === 0L, s"bucket $bucket shards don't start at 0")
      assert(ids === (0L until ids.length).toArray.toSeq.toArray,
        s"bucket $bucket shard ids not contiguous: ${ids.mkString(",")}")
      // a shard's chars can exceed the budget only via its LAST doc
      // straddling the boundary; it can never exceed budget + one doc.
      shards.foreach { case (_, shard, _, chars, _) =>
        assert(chars <= budget + maxDoc,
          s"bucket $bucket shard $shard holds $chars chars > budget+maxDoc")
      }
    }
  }

  test("pipeline_pack: token conservation, contiguous windows, spills bounded") {
    val cap = 512L
    val packed = Pipeline.packWindows(spark, sfDir, buckets = 4, windowTokens = cap)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    // every token of every doc lands in exactly one window's census
    val totalTok = Tables(spark, sfDir, "documents")
      .select(size(split(col("text"), " ")).cast("long")).as[Long]
      .collect().sum
    assert(packed.map(_._4).sum === totalTok, "token counts must conserve")
    assert(packed.map(_._3).sum ===
      Tables(spark, sfDir, "documents").count(), "every doc starts somewhere")
    packed.groupBy(_._1).foreach { case (bucket, wins) =>
      val ids = wins.map(_._2).sorted
      assert(ids.head === 0L && ids === (0L until ids.length).toArray.toSeq.toArray,
        s"bucket $bucket windows not contiguous from 0: ${ids.mkString(",")}")
      // at most ONE doc can straddle each window's end boundary
      wins.foreach { case (_, win, _, _, spill, _) =>
        assert(spill <= 1L, s"bucket $bucket window $win reports $spill spills")
      }
    }
  }

  test("pipeline_decontaminate: survivors share NO 5-gram with the eval set; eval docs excluded") {
    import graft.functions.WordShingles
    val surviving = Pipeline.decontaminate(spark, sfDir)
    // census-level: survivors ⊆ train docs (ids not ≡0 mod 10)
    val minDocs = surviving.select(col("min_doc")).as[Long].collect()
    assert(minDocs.forall(_ % 10 != 0))
    // row-level cross-check: recompute the survivor SET independently
    // and verify zero gram overlap with the eval set
    val grams = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), explode(WordShingles.wordShingles(
        split(col("text"), " "), 5)).as("gh"))
    val evalSet = grams.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select("gh").as[Long].collect().toSet
    val hitDocs = grams.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .filter(col("gh").isin(evalSet.toSeq.take(10000): _*))
    // (guard the isin literal size; this corpus's eval set is small)
    assume(evalSet.size <= 10000, "eval gram set too large for the cross-check")
    val contaminatedIds = hitDocs.select("doc_id").as[Long].collect().toSet
    val survivorCount = Tables(spark, sfDir, "documents")
      .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      .filter(!col("doc_id").isin(contaminatedIds.toSeq: _*))
      .count()
    assert(surviving.select(sum(col("n_docs"))).as[Long].head() === survivorCount)
  }

  test("pipeline_ingest_dedup: zero-scan probe — a batch's cross-batch dedup opens MV digest files, never a corpus data file") {
    // planted duplicates in every direction: within a batch (11/14 share
    // batch 2, keeper = min doc_id) and across batches (digests of
    // batch 0 recur in batches 1 and 2)
    val d = Seq(
      (0L, "web", "A"), (3L, "web", "B"), (6L, "lit", "C"),   // batch 0
      (1L, "web", "A"), (4L, "lit", "D"), (7L, "web", "B"),   // batch 1: A,B dup
      (2L, "lit", "E"), (5L, "web", "C"), (11L, "web", "F"),  // batch 2: C dup
      (14L, "web", "F"), (8L, "lit", "G")                     //   + F twice within
    ).toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"), md5(col("text")).as("digest"))
    val work = java.nio.file.Files.createTempDirectory("ingest_dedup_spec_")
    val (table, mv) = Pipeline.ingestDedupLoop(spark, d, work)

    // fate oracle: a digest's keeper is its first (batch, doc_id)
    // occurrence — batch = doc_id % 3
    val kept = table.read().select("doc_id").as[Long].collect().sorted
    assert(kept === Array(0L, 2L, 3L, 4L, 6L, 8L, 11L),
      s"keepers must be first (batch, doc_id) occurrences, got ${kept.mkString(",")}")
    // the MV mirrors the corpus digest set exactly after every fold
    assert(mv.read().count() === table.read().select("digest").distinct().count())

    // I/O CONTRACT: the cross-batch probe for a NEW batch plans its
    // scans over the MV's digest-only files — not one file of the
    // corpus table's data pool (the per-batch O(corpus-column) scan
    // the MV exists to retire)
    val nextBatch = Seq((9L, "web", "A"), (12L, "web", "H"))
      .toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"), md5(col("text")).as("digest"))
    val survivors = Pipeline.ingestSurvivors(table, mv, nextBatch)
    val corpusData = work.resolve("t").resolve("data").toAbsolutePath.toString
    val mvData = work.resolve("mv").resolve("data").toAbsolutePath.toString
    val inputs = graft.sources.ScanPlans.paths(survivors)
    assert(inputs.exists(_.contains(mvData)),
      s"the probe must read the digest MV, inputs: $inputs")
    assert(!inputs.exists(_.contains(corpusData)),
      s"the probe must NOT open corpus data files, inputs: $inputs")
    // and the probe is CORRECT: A is a known digest (dropped), H is new
    assert(survivors.select("doc_id").as[Long].collect().sorted === Array(12L))
  }

  test("pipeline_ingest_near: banded probe quarantines near-dups, I/O contract reads MV+band index only") {
    // a corpus with every fate represented: exact dups within and
    // across batches, one planted near-dup pair (same 64-char body,
    // last 4 chars differ -> 7/8 stripes match), and one honest pair
    // of DIFFERENT long docs that must NOT collide
    val body = "abcdefgh" * 8 // 64 chars
    val mut = body.substring(0, 60) + "XXXX"
    val other = "zyxwvuts" * 8
    val rows = Seq(
      (0L, "web", body),   // batch 0: near-dup seed
      (3L, "web", "A"),    // batch 0
      (1L, "web", mut),    // batch 1: NEAR dup of 0 (7/8 stripes)
      (4L, "lit", "A"),    // batch 1: exact dup of 3 (cross-batch)
      (7L, "web", other),  // batch 1: different long doc — kept
      (2L, "lit", "B"),    // batch 2
      (5L, "web", "B"),    // batch 2: exact dup within batch (keeper 2)
      (8L, "lit", body)    // batch 2: EXACT dup of 0 (digest wins over near)
    ).toDF("doc_id", "source", "text")
    val stride = greatest(expr("(length(text) + 7) div 8"), lit(1L))
    val sigsCol = transform(sequence(lit(0L), lit(7L)), i =>
      pmod(conv(substring(md5(col("text").substr(i * stride + lit(1L), stride)),
        1, 15), 16, 10).cast("long"), lit(1000000007L)))
    val d = rows.select(col("doc_id"), col("source"),
      md5(col("text")).as("digest"), sigsCol.as("sigs"),
      length(col("text")).cast("long").as("len"))
    val work = java.nio.file.Files.createTempDirectory("ingest_near_spec_")
    val (fates, table, bandsT) = Pipeline.ingestDedupNearLoop(spark, d, work)
    val got = fates.collect().map(r =>
      r.getLong(0) -> r.getString(2)).toMap
    assert(got === Map(
      0L -> "kept", 3L -> "kept",
      1L -> "near_dup", 4L -> "exact_dup", 7L -> "kept",
      2L -> "kept", 5L -> "exact_dup", 8L -> "exact_dup"))
    // the quarantined near-dup never reached the corpus or the index
    assert(table.read().select("doc_id").as[Long].collect().sorted
      === Array(0L, 2L, 3L, 7L))
    assert(!bandsT.read().select("doc_id").as[Long].collect().contains(1L))
    // I/O CONTRACT: a NEW batch's near probe plans its scans over the
    // band index's files — never a corpus data file — and ONLY the
    // index files in the batch's own mbucket(k1) footprint open
    // (the per-batch probe bound a steady-state crawl needs)
    val next = Seq((9L, "web", body.substring(0, 56) + "YYYYXXXX"))
      .toDF("doc_id", "source", "text")
      .select(col("doc_id"), col("source"),
        md5(col("text")).as("digest"), sigsCol.as("sigs"),
        length(col("text")).cast("long").as("len"))
    val nextBands = next.filter(col("len") >= 64L)
      .select(col("doc_id"), col("sigs"),
        explode(expr("transform(sequence(0, 3), b -> struct(b AS band, " +
          "sigs[b * 2] AS k1, sigs[b * 2 + 1] AS k2))")).as("bd"))
      .select(col("bd.band").as("band"), col("bd.k1").as("k1"),
        col("bd.k2").as("k2"), col("doc_id"), col("sigs"))
    val st = Pipeline.nearDedupState(spark, work)
    val probe = Pipeline.nearProbe(st, nextBands)
    val corpusData = work.resolve("t").resolve("data").toAbsolutePath.toString
    val bandData = work.resolve("bands").resolve("data").toAbsolutePath.toString
    val inputs = graft.sources.ScanPlans.paths(probe)
    assert(inputs.exists(_.contains(bandData)),
      s"the near probe must read the band index, inputs: $inputs")
    assert(!inputs.exists(_.contains(corpusData)),
      s"the near probe must NOT open corpus data files, inputs: $inputs")
    // BUCKET PRUNING: the probe's file opens are bounded by the
    // batch's own bucket footprint, not the index size
    val bt = graft.sources.Transform.mbucket(Pipeline.NearBandBuckets, "k1")
    val probeIds = nextBands
      .select(bt.columnFor(org.apache.spark.sql.types.LongType).as("bk"))
      .distinct().as[Long].collect().toSet
    val prunedPaths = bandsT.filesForBuckets("k1", probeIds)
      .map(f => new java.io.File(f.path).getCanonicalPath).toSet
    assert(inputs.forall(u =>
        prunedPaths.contains(new java.io.File(
          java.net.URI.create(u).getPath).getCanonicalPath)),
      s"probe opened a file outside the batch's bucket footprint: $inputs")
    val allBuckets = bandsT.snapshot().files
      .flatMap(_.partitions.values).distinct
    if (allBuckets.exists(v => !probeIds.contains(v.toLong)))
      assert(inputs.size < bandsT.snapshot().files.size,
        "index files outside the probe's buckets must not open")
    // and it verifies: doc 9 differs from doc 0 only in the trailing
    // stripe (7/8 match) — a near-dup at the >=6 bar
    assert(probe.select("new_id").distinct().as[Long].collect().toSeq
      === Seq(9L))
  }

  test("pipeline_ingest_near: a near pair arriving in the SAME batch quarantines the younger (within-batch rule)") {
    val body = "abcdefgh" * 8
    val mut = body.substring(0, 60) + "XXXX"
    // 0 and 3 are both in batch doc_id%3==0 — the r19 blind spot
    val rows = Seq((0L, "web", body), (3L, "web", mut))
      .toDF("doc_id", "source", "text")
    val stride = greatest(expr("(length(text) + 7) div 8"), lit(1L))
    val sigsCol = transform(sequence(lit(0L), lit(7L)), i =>
      pmod(conv(substring(md5(col("text").substr(i * stride + lit(1L), stride)),
        1, 15), 16, 10).cast("long"), lit(1000000007L)))
    val d = rows.select(col("doc_id"), col("source"),
      md5(col("text")).as("digest"), sigsCol.as("sigs"),
      length(col("text")).cast("long").as("len"))
    val work = java.nio.file.Files.createTempDirectory("ingest_near_wb_")
    val (fates, table, _) = Pipeline.ingestDedupNearLoop(spark, d, work)
    assert(fates.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
      === Map(0L -> "kept", 3L -> "near_dup"))
    assert(table.read().select("doc_id").as[Long].collect().toSeq === Seq(0L))
  }

  test("pipeline_requeue: a quarantined doc whose twin is deleted re-enters; the audit trail is complete; replay is exactly-once") {
    val body = "abcdefgh" * 8
    val mutA = body.substring(0, 60) + "XXXX" // near-dup of body
    val other = "zyxwvuts" * 8
    val mutB = other.substring(0, 60) + "QQQQ" // near-dup of other
    val rows = Seq(
      (0L, "web", body),   // batch 0: kept
      (6L, "lit", other),  // batch 0: kept
      (1L, "web", mutA),   // batch 1: near-dup of 0 → quarantined
      (7L, "lit", mutB)    // batch 1: near-dup of 6 → quarantined
    ).toDF("doc_id", "source", "text")
    val stride = greatest(expr("(length(text) + 7) div 8"), lit(1L))
    val sigsCol = transform(sequence(lit(0L), lit(7L)), i =>
      pmod(conv(substring(md5(col("text").substr(i * stride + lit(1L), stride)),
        1, 15), 16, 10).cast("long"), lit(1000000007L)))
    val d = rows.select(col("doc_id"), col("source"),
      md5(col("text")).as("digest"), sigsCol.as("sigs"),
      length(col("text")).cast("long").as("len"))
    val work = java.nio.file.Files.createTempDirectory("requeue_spec_")
    Pipeline.ingestDedupNearLoop(spark, d, work)
    val st = Pipeline.nearDedupState(spark, work)
    // takedown of doc 0 ONLY — doc 1's twin vanishes, doc 7's stays
    Pipeline.nearDelete(st, col("doc_id") === 0L)
    Pipeline.requeueStep(st, tag = "rq-1")
    val byFate = st.fateLog.read().select("doc_id", "fate")
      .as[(Long, String)].collect().groupBy(_._2)
      .map { case (k, v) => k -> v.map(_._1).toSeq.sorted }
    assert(byFate("requeued") === Seq(1L),
      "the freed doc must re-enter as 'requeued'")
    assert(byFate("requeue_near") === Seq(7L),
      "a doc whose twin survives must stay quarantined")
    assert(byFate("near_dup").sorted === Seq(1L, 7L),
      "the original verdicts stay in the audit trail")
    assert(st.table.read().select("doc_id").as[Long].collect().sorted
      === Array(1L, 6L), "corpus = survivor of the takedown + the freed doc")
    // EXACTLY-ONCE: replaying the same tag must not re-probe or
    // duplicate state (doc 7 would otherwise flip: its twin 6 is
    // still present, but a naive re-run could double-append doc 1)
    val v = (st.table.currentVersion, st.fateLog.currentVersion)
    Pipeline.requeueStep(st, tag = "rq-1")
    assert(st.table.read().select("doc_id").as[Long].collect().sorted
      === Array(1L, 6L))
    assert(st.fateLog.currentVersion === v._2,
      "a replayed requeue must not append new fate rows")
    // a SECOND requeue generation (new tag) re-probes only docs whose
    // latest fate is still 'near_dup' — doc 1 is resolved, doc 7
    // still blocked
    Pipeline.requeueStep(st, tag = "rq-2")
    val n7 = st.fateLog.read().filter(col("doc_id") === 7L)
      .select("fate").as[String].collect().count(_ == "requeue_near")
    assert(n7 === 2, "the second generation must re-probe doc 7 only")
    val n1 = st.fateLog.read().filter(col("doc_id") === 1L)
      .select("fate").as[String].collect()
      .count(_.startsWith("requeue"))
    assert(n1 === 1, "a resolved doc must not re-probe")
  }

  test("pipeline_select: bucket count is boundary-independent (B=3 ≡ B=64), budgets hold per source") {
    def rows(b: Int) = Pipeline.budgetSelect(spark, sfDir, buckets = Some(b))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]))).toSeq
    val a = rows(3)
    assert(a === rows(64),
      "selection census must not depend on where range partitioning cut the buckets")
    assert(a.nonEmpty && a.exists(_._3 > 0), "no source kept anything")
    a.foreach { case (src, nDocs, nKept, keptToks, cut) =>
      assert(keptToks <= 50000L, s"source $src blew its token budget")
      assert(nKept <= nDocs)
      assert(cut.isDefined === (nKept > 0))
    }
    // a tighter budget keeps a (weak) subset of tokens per source
    val tight = Pipeline.budgetSelect(spark, sfDir, budget = 5000L,
        buckets = Some(8))
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    a.foreach { case (src, _, _, keptToks, _) =>
      assert(tight(src) <= keptToks,
        s"source $src kept MORE tokens under a smaller budget")
    }
  }

  test("pipeline_curriculum: bucket count is boundary-independent (B=3 ≡ B=64) and tracks session parallelism by default") {
    // the bucketed-rank plan must be EXACT for any B — run the same
    // corpus at a tiny and a wide B and demand identical tier tables
    def rows(b: Int) = Pipeline.curriculum(spark, sfDir, buckets = Some(b))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toSeq
    assert(rows(3) === rows(64),
      "tier table must not depend on where range partitioning cut the buckets")
    // default B is session-derived policy, not a frozen constant:
    // 2 × defaultParallelism floored at 32 (SURVEY §5's rule)
    val expected = math.max(32, 2 * spark.sparkContext.defaultParallelism)
    assert(Tables.sliceCount(spark) === expected)
    // plan contract: the default-B run range-partitions into exactly
    // sliceCount buckets (the spark_partition_id census sees B ids)
    val df = Pipeline.curriculum(spark, sfDir)
    assert(df.count() === 8L) // 8 tiers regardless of B
  }

  test("bucketed censuses stay EXACT past the range-sampler's budget (60k rows — the unpinned-boundary regime)") {
    // RangePartitioner samples ~60 rows per input partition and seeds
    // with the RDD id: above that size, an UNPINNED repartitionByRange
    // draws different boundaries for the census action and the final
    // action (round 18 observed a phantom 5th quartile in q_ntile's
    // unpinned rewrite). The small-SF specs never enter this regime —
    // this corpus does, so a future unpinning regresses HERE, not at
    // 100 TB. Exactness checks: B-independence AND conservation
    // (drifted offsets double-count or drop rows, breaking the total).
    val d = java.nio.file.Files.createTempDirectory("census_scale_").toString
    val n = 60000L
    spark.range(n).selectExpr(
        "id AS doc_id",
        // varied text → varied quality scores → real bucket spread
        "concat('w', CAST(id % 997 AS STRING), ' the of ', repeat('x ', CAST(id % 37 AS INT))) AS text",
        "'en' AS lang",
        "concat('src', CAST(id % 4 AS STRING)) AS source",
        "CAST(length(concat('w', CAST(id % 997 AS STRING))) AS BIGINT) AS n_chars")
      .write.parquet(s"$d/documents.parquet")
    // curriculum: tier tables identical across B, tiers conserve rows
    def tiers(b: Int) = Pipeline.curriculum(spark, d, buckets = Some(b))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toSeq
    val t4 = tiers(4)
    assert(t4 === tiers(64), "curriculum census drifted across B")
    assert(t4.map(_._2).sum === n, "curriculum tiers must conserve the corpus")
    // budgetSelect: census identical across B, docs conserved per source
    def sel(b: Int) = Pipeline.budgetSelect(spark, d, buckets = Some(b))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val s4 = sel(4)
    assert(s4 === sel(64), "budgetSelect census drifted across B")
    assert(s4.map(_._2).sum === n, "budgetSelect must conserve the corpus")
  }

  test("pipeline_tokenize_ids: id streams are exactly the window token census") {
    val got = Pipeline.tokenizeIds(spark, sfDir)
    // every window's comma-joined stream carries exactly n_tokens ids
    val bad = got
      .filter(size(split(col("ids"), ",")) =!= col("n_tokens")).count()
    assert(bad === 0L)
    // the window skeleton is pipeline_tokenize's verbatim (same chain,
    // same docs, same running sums) — censuses must agree window-for-window
    val cols = Seq("bucket", "win", "n_docs", "n_tokens", "first_doc")
    val packs = Pipeline.tokenizePipeline(spark, sfDir)
      .select(cols.map(col): _*)
    val wins = got.select(cols.map(col): _*)
    assert(wins.exceptAll(packs).count() === 0L)
    assert(packs.exceptAll(wins).count() === 0L)
  }

  test("pipeline_pack_spans: span lists reassemble each window's census exactly") {
    val got = Pipeline.packSpans(spark, sfDir).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (nDocs, nTokens) = (r.getLong(2), r.getLong(3))
      val spans = r.getString(5).split(",").toSeq
      assert(spans.size.toLong === nDocs)
      val parsed = spans.map { sp =>
        val Array(off, tok) = sp.split(":").map(_.toLong); (off, tok)
      }
      assert(parsed.map(_._2).sum === nTokens)
      // offsets are in-window, strictly increasing, and consecutive:
      // each doc starts where the previous ended (mod the window edge)
      parsed.foreach { case (off, _) => assert(off >= 0 && off < 2048) }
      parsed.sliding(2).foreach {
        case Seq((o1, t1), (o2, _)) => assert(o1 + t1 === o2,
          s"doc boundary gap in window ${r.getLong(1)}: $o1+$t1 != $o2")
        case _ =>
      }
    }
  }

  test("pipeline_interleave: sources spread evenly — never bursts, cadence tracks size") {
    val rows = Pipeline.interleave(spark, sfDir, head = 100)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length === 100)
    assert(rows.map(_._1).toSeq === (1L to 100L))
    // low-discrepancy guarantee: within any window of the schedule a
    // source's appearance count is proportional to its share, within
    // rounding — check the coarse version: no source appears twice in
    // a row more often than its share justifies
    val bySrc = rows.groupBy(_._2)
    val totals = Tables(spark, sfDir, "documents")
      .groupBy(col("source")).count()
      .as[(String, Long)].collect().toMap
    val corpus = totals.values.sum.toDouble
    bySrc.foreach { case (src, rs) =>
      val share = totals(src) / corpus
      val expected = 100 * share
      assert(math.abs(rs.length - expected) <= 2 + 0.2 * expected,
        s"$src appeared ${rs.length}x in the first 100, expected ~$expected")
      // consecutive appearances of one source are ~1/share apart
      val gaps = rs.map(_._1).sorted.sliding(2).collect {
        case Array(a, b) => b - a }.toSeq
      if (gaps.nonEmpty)
        assert(gaps.max <= math.ceil(1 / share).toLong + 2,
          s"$src has a ${gaps.max}-position gap — bursty interleave")
    }
  }

  test("ingestNearStep: a replayed tagged batch is exactly-once — fates and state unchanged") {
    val body = "abcdefgh" * 8
    val rows = Seq((0L, "web", body), (3L, "web", "A"),
      (6L, "lit", body.substring(0, 60) + "XXXX"))
      .toDF("doc_id", "source", "text")
    val stride = greatest(expr("(length(text) + 7) div 8"), lit(1L))
    val sigsCol = transform(sequence(lit(0L), lit(7L)), i =>
      pmod(conv(substring(md5(col("text").substr(i * stride + lit(1L), stride)),
        1, 15), 16, 10).cast("long"), lit(1000000007L)))
    val d = rows.select(col("doc_id"), col("source"),
      md5(col("text")).as("digest"), sigsCol.as("sigs"),
      length(col("text")).cast("long").as("len"))
    val st = Pipeline.nearDedupState(spark,
      java.nio.file.Files.createTempDirectory("ingest_near_replay_"))
    // batch 0 seeds the state; batch 1 carries the near-dup (the
    // probe is cross-batch by design)
    Pipeline.ingestNearStep(st, d.filter(col("doc_id") < 6L), tag = "sdn-0")
    Pipeline.ingestNearStep(st, d.filter(col("doc_id") === 6L), tag = "sdn-1")
    def snap() = (st.table.read().count(), st.bands.read().count(),
      st.fateLog.read().collect().map(r =>
        (r.getLong(0), r.getString(2))).sortBy(_._1).toSeq,
      st.table.currentVersion, st.bands.currentVersion,
      st.fateLog.currentVersion)
    val before = snap()
    assert(before._3 === Seq((0L, "kept"), (3L, "kept"), (6L, "near_dup")))
    // full replay of BOTH batches (checkpoint loss): every commit
    // skips by tag; crucially the replayed batch-1 probe never re-runs
    // against the advanced state — verdicts come from the fate log
    Pipeline.ingestNearStep(st, d.filter(col("doc_id") < 6L), tag = "sdn-0")
    Pipeline.ingestNearStep(st, d.filter(col("doc_id") === 6L), tag = "sdn-1")
    assert(snap() === before, "replay mutated state or fates")
  }
}
