package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Optimization-round measurement harness (guide §1: measure first).
  * Times one driver query (two passes) and counts the Spark jobs it
  * schedules, or dumps formatted plans with `explain:<q1,q2>`. Never
  * run by the driver; results land on stdout only. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Prof pipeline_ingest_near"
  */
object Prof {
  @volatile private var jobs = 0

  private def phase[T](name: String)(body: => T): T = {
    val j0 = jobs
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"[prof] $name%-28s ${sec}%7.3f s  jobs=${jobs - j0}")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
    })
    // warm-up, as Bench does
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())

    val what = args.headOption.getOrElse("pipeline_ingest_near")
    // plan evidence: `explain:<q1,q2>` writes plans/r21/<q>_<suffix>.txt
    // (`.explain("formatted")` text; suffix from GRAFT_PLAN_SUFFIX,
    // default "before") for the brief's before/after plan dumps
    if (what.startsWith("explain:")) {
      val suffix = sys.env.getOrElse("GRAFT_PLAN_SUFFIX", "before")
      val dir = java.nio.file.Paths.get("plans/r21")
      java.nio.file.Files.createDirectories(dir)
      what.stripPrefix("explain:").split(",").map(_.trim).filter(_.nonEmpty)
        .foreach { n =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          java.nio.file.Files.writeString(dir.resolve(s"${n}_$suffix.txt"), txt)
          println(s"[prof] wrote plans/r21/${n}_$suffix.txt")
        }
      spark.stop()
      return
    }
    (1 to 2).foreach { round =>
      println(s"== pass $round ==")
      phase(what) {
        SparkEntry.queries(what)(spark, sfDir).queryExecution.toRdd.count()
      }
    }
    spark.stop()
  }
}
