package graft

import graft.operators.{Dedup, Pipeline}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Scoped cache pins: an operator's pins are released when it returns
  * AND when it throws, except the named escaping checkpoints that a
  * returned lazy plan still reads. */
class PinsSpec extends SparkSpec {
  import spark.implicits._

  /** Persistent RDDs (id → name) that `body` registered and left behind,
    * plus the change in cached plans. */
  private def leftBehind(body: => Unit): (Map[Int, String], Int) = {
    val ids = spark.sparkContext.getPersistentRDDs.keySet
    val plans = GraftBridge.cachedPlanCount(spark)
    body
    (spark.sparkContext.getPersistentRDDs.toMap
      .collect { case (id, r) if !ids(id) => id -> String.valueOf(r.name) },
      GraftBridge.cachedPlanCount(spark) - plans)
  }

  private def escaping(name: String) = name.startsWith(Pins.EscapingPrefix)

  // Results that read an escaping checkpoint stay referenced until
  // their check is done: Spark's ContextCleaner unpersists the RDDs of
  // unreachable frames on GC, which would hide the checkpoint.
  test("a scope releases persists and checkpoints on return and on throw; escaping pins outlive only a return") {
    val df = spark.range(100).toDF("id")
    var result = df
    val (kept, plans) = leftBehind {
      result = Pins.scope { pins =>
        pins(df.filter($"id" > 3)).count()
        pins.checkpoint(df.filter($"id" > 5))
        pins.escaping(df.filter($"id" > 7), "returned")
      }
    }
    assert(kept.values.toSeq === Seq(Pins.EscapingPrefix + "returned"))
    assert(plans === 0)
    assert(result.count() === 92L)
    val (thrown, plans2) = leftBehind {
      intercept[IllegalStateException](Pins.scope { pins =>
        pins(df.filter($"id" > 3)).count()
        pins.checkpoint(df.filter($"id" > 5))
        pins.escaping(df.filter($"id" > 7), "never returned")
        throw new IllegalStateException("boom")
      })
    }
    assert(thrown.isEmpty && plans2 === 0)
  }

  /** PipelineSpec's replayed-batch fixture: docs 0 and 3 seed the
    * state, doc 6 is a near-dup of doc 0. Read back from parquet so
    * the planner cannot fold a batch's columns before the operator
    * pins anything. */
  private def nearFixture() = {
    val body = "abcdefgh" * 8
    val rows = Seq((0L, "web", body), (3L, "web", "A"),
      (6L, "lit", body.substring(0, 60) + "XXXX"))
      .toDF("doc_id", "source", "text")
    val stride = greatest(expr("(length(text) + 7) div 8"), lit(1L))
    val sigsCol = transform(sequence(lit(0L), lit(7L)), i =>
      pmod(conv(substring(md5(col("text").substr(i * stride + lit(1L), stride)),
        1, 15), 16, 10).cast("long"), lit(1000000007L)))
    val work = Files.createTempDirectory("pins_near_")
    rows.select(col("doc_id"), col("source"),
      md5(col("text")).as("digest"), sigsCol.as("sigs"),
      length(col("text")).cast("long").as("len"))
      .write.parquet(work.resolve("batch").toString)
    val d = spark.read.parquet(work.resolve("batch").toString)
    val st = Pipeline.nearDedupState(spark, work.resolve("state"))
    Pipeline.ingestNearStep(st, d.filter(col("doc_id") < 6L), tag = "sdn-0")
    (d, st)
  }

  test("ingestNearStep: a batch that throws mid-probe leaves no cached blocks or plans") {
    val (d, st) = nearFixture()
    val bad = d.filter(col("doc_id") === 6L).withColumn("len",
      when(col("doc_id") === 6L, raise_error(lit("injected batch fault")))
        .otherwise(col("len")))
    val (rdds, plans) = leftBehind {
      val e = intercept[Exception](Pipeline.ingestNearStep(st, bad, tag = "sdn-1"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected batch fault")))
    }
    assert(rdds.isEmpty, s"persistent RDDs left by the failed batch: $rdds")
    assert(plans === 0, "cached plans left by the failed batch")
  }

  test("ingestNearStep: a successful batch leaves no cached blocks or plans") {
    val (d, st) = nearFixture()
    val (rdds, plans) = leftBehind {
      Pipeline.ingestNearStep(st, d.filter(col("doc_id") === 6L), tag = "sdn-1")
    }
    assert(rdds.isEmpty, s"persistent RDDs left by the batch: $rdds")
    assert(plans === 0)
    assert(st.fateLog.read().filter(col("doc_id") === 6L)
      .select("fate").as[String].collect().toSeq === Seq("near_dup"))
  }

  /** DedupSpec's chained corpus: 0~1~2 one cluster, 3~4 another. */
  private lazy val chainedDir: String = {
    val d = Files.createTempDirectory("pins_chained_").toString
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 2000).map(i => s"w$i")
    def randDoc(): String =
      Seq.fill(120)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def mutate(doc: String, at: Int, tok: String): String = {
      val ws = doc.split(" "); ws(at) = tok; ws.mkString(" ")
    }
    val base = randDoc()
    val d2 = randDoc()
    val rows = (Seq(0L -> base, 1L -> mutate(base, 30, "X1"),
      2L -> mutate(base, 90, "X2"), 3L -> d2, 4L -> mutate(d2, 60, "Y1")) ++
      (5L until 25L).map(_ -> randDoc()))
      .map { case (id, text) => (id, text, "en", "src0", text.length.toLong) }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("dedupClusters: the only pin left is the final labels checkpoint its result reads") {
    var result: org.apache.spark.sql.DataFrame = null
    val (rdds, plans) = leftBehind {
      result = Dedup.dedupClusters(spark, chainedDir)
      result.collect()
    }
    assert(rdds.size === 1 && rdds.values.forall(escaping),
      s"expected one escaping labels checkpoint, got $rdds")
    assert(plans === 0)
    assert(result.select("cluster_id").distinct().as[Long].collect().sorted
      === Array(0L, 3L))
  }

  private val RawPin =
    """\.(persist\(|cache\(\)|unpersist\(|localCheckpoint\(\))""".r

  private def mainSources: Seq[Path] = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("source gate: every pin and release goes through Pins; three escaping sites") {
    val raw = for {
      f <- mainSources if f.getFileName.toString != "Pins.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if RawPin.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(raw.isEmpty, raw.mkString("raw pin calls outside Pins:\n", "\n", ""))
    val escapingSites = mainSources.filter(_.getFileName.toString != "Pins.scala")
      .map(f => "\\.escaping\\(".r.findAllIn(Files.readString(f)).size).sum
    assert(escapingSites === 3,
      "escaping checkpoints: the n-gram census behind ngramJaccard, " +
        "dedupClusters' final labels, the Iceberg spec reader's eq-key frames")
  }

  /** Every driver query whose body opens a Pins scope (the persist,
    * checkpoint and collected sites, the MV refresh merges and the
    * Iceberg spec reader), and the three whose result reads an
    * escaping checkpoint. */
  private val ScopedQueries = Seq(
    "ann_hybrid", "ann_hybrid_ladder", "dedup_clusters", "dedup_embed",
    "dedup_minhash", "dedup_ngram", "dedup_simhash", "lake_hist_mor",
    "lake_iceberg", "lake_mbucket", "lake_mv", "lake_mv_ivm", "lake_rest",
    "lake_rest_live", "lake_v3", "lake_v3_lineage", "lake_v3_rewrite",
    "lake_variant", "lake_variant_shred", "log_api_lifecycle",
    "log_api_markers", "log_latency_pcts", "pipeline_curriculum",
    "pipeline_ingest_dedup", "pipeline_ingest_near", "pipeline_interleave",
    "pipeline_interleave_full", "pipeline_pack_bpe", "pipeline_requeue",
    "pipeline_select", "pipeline_select_bpe", "pipeline_tokenize",
    "q_ntile", "stream_dedup_near")
  private val EscapingQueries = Set("dedup_clusters", "dedup_ngram", "lake_iceberg")

  test("every scoped driver query leaves no pin behind but its named escaping checkpoints") {
    val leaks = ScopedQueries.flatMap { q =>
      var result: org.apache.spark.sql.DataFrame = null
      val (rdds, plans) = leftBehind {
        result = SparkEntry.queries(q)(spark, sfDir)
        result.collect()
      }
      val ok = plans == 0 && rdds.values.forall(escaping) &&
        (rdds.isEmpty || EscapingQueries(q))
      if (ok && result.columns.nonEmpty) None
      else Some(s"$q: rdds=$rdds cachedPlans+=$plans")
    }
    assert(leaks.isEmpty, leaks.mkString("\n"))
  }
}
