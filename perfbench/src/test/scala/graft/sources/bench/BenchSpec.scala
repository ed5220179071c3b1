package graft.sources.bench

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Main.session(work, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(work)
  }

  /** Small enough for a unit test: 800 history rows over 2 days. */
  private val tiny = Map(
    "cores" -> "2", "hist_rows" -> "800", "hist_days" -> "2",
    "ingest_flush_rows" -> "50", "mixed_rows_per_s" -> "200", "mixed_flush_rows" -> "100",
    "compact_every_s" -> "0.5", "warm_flushes" -> "2", "setup_repeats" -> "1")

  private def run(workload: String, seed: Long, seconds: Int = 1): Outcome = {
    val args = Main.Args(workload, seed, seconds, trace = true,
      work.resolve(workload), tiny)
    new Bench(spark, args, new Params(tiny), System.currentTimeMillis()).run()
  }

  private def inputs(seed: Long): String = {
    val h = new Gen.History(seed, 800, 2)
    val hist = (0 until Gen.Nodes).flatMap(n => h.buffer(n))
    val live = (0 until 100).map(i => Gen.row(seed, i % Gen.Nodes, 1000L + i, 1700000000000000L + i))
    (hist ++ live).mkString("\n")
  }

  test("the same seed gives byte-identical inputs; another seed gives others") {
    assert(inputs(7).getBytes.sameElements(inputs(7).getBytes))
    assert(inputs(7) != inputs(8))
    val h = new Gen.History(7, 800, 2)
    assert((0 until Gen.Nodes).flatMap(n => h.buffer(n)).size == h.rows)
  }

  test("the checker accepts exact answers and rejects corrupted ones") {
    val h = new Gen.History(5, 800, 2)
    val tally = new Tally
    tally.add((0 until h.rows).map(h.at))
    val w = Catalog.Window(h.time(100), h.time(150))
    def check(t: String, ans: Seq[Row]) = Catalog.checkExact(t, w, ans.toArray, h, tally)

    assert(check("count", Seq(Row(800L))).isEmpty)
    assert(check("count", Seq(Row(799L))).nonEmpty)

    val recent = tally.recent.map(r => Row(r.time, r.name, r.bucket, r.obj, r.status))
    assert(check("recent", recent).isEmpty)
    assert(check("recent", recent.updated(3, Row(recent(3).getLong(0), recent(3).getString(1),
      recent(3).getString(2), recent(3).getString(3), 599))).nonEmpty)

    val byName = tally.byName.toSeq.sortBy(-_._2).map { case (n, c) => Row(n, c) }
    assert(check("by_name", byName).isEmpty)
    assert(check("by_name", byName.updated(0, Row(byName.head.getString(0), byName.head.getLong(1) - 1))).nonEmpty)
    assert(check("by_name", byName.reverse).nonEmpty, "order by count is checked")

    val errors = tally.errors.toSeq.sortBy(-_._2).map { case ((n, s), c) => Row(n, s, c) }
    assert(check("errors", errors).isEmpty)
    assert(check("errors", errors.drop(1)).nonEmpty)

    val range = (100 until 150).map(h.at).map(r => new org.apache.spark.sql.catalyst.expressions
      .GenericRowWithSchema(r.toRow.toSeq.toArray, Gen.schema): Row)
    assert(check("time_range", range).isEmpty)
    assert(check("time_range", range.drop(1)).nonEmpty)

    assert(Catalog.checkLive("count", w, Array(Row(900L)), h, tally, flushed = 200,
      lastCount = 950L, nowUs = Long.MaxValue).nonEmpty, "a count may never go back")
    assert(Catalog.checkLive("count", w, Array(Row(1100L)), h, tally, flushed = 200,
      lastCount = 0L, nowUs = Long.MaxValue).nonEmpty, "nor exceed the rows flushed")
  }

  test("a tiny traced run of each workload completes with failed_ops_ratio = 0") {
    Seq("ingest", "catalog", "mixed").foreach { w =>
      val out = run(w, 3)
      assert(out.correct, s"$w: ${out.failures.take(3)}")
      val m = out.metrics.map { case (n, v, _) => n -> v }.toMap
      assert(m("failed_ops_ratio") == 0.0, w)
      assert(m("trace.self_time_residual_ms") < 0.001, w)
    }
  }

  test("two traced catalog runs of one seed agree on the counts that do not depend on timing") {
    def counts = run("catalog", 9, seconds = 4).metrics.collect {
      case (n, v, _) if n.matches("""q\.\w+\.(jobs|stages|tasks|records_read_per_row_returned)""") ||
          n == "table.live_files" || n == "table.versions" => n -> v
    }.toMap
    val a = counts
    assert(a.size == 22)
    assert(counts == a)
  }
}
