package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, udf}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one landing path for Spark-written parquet
  * ([[DirectCommitProtocol.land]]): how many files an append lands,
  * what a failed write leaves behind, the export's prefix naming, and
  * a source gate keeping every other module off the sidecar. */
class LandingSpec extends SparkSpec {
  import spark.implicits._

  private def filesUnder(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else scala.util.Using.resource(Files.walk(dir)) { s =>
      s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toAbsolutePath.normalize).toList
    }

  test("a driver-local append to an unpartitioned table lands one file; a non-local frame keeps its tasks") {
    val root = Files.createTempDirectory("land_local_").resolve("t").toString
    val t = LogTable(spark, root)
    t.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(t.snapshot().files.map(_.rows) === Seq(3L))
    t.append(spark.range(10, 50, 1, 4).selectExpr("id", "CAST(id AS STRING) AS v"))
    assert(t.snapshot().files.map(_.rows).sorted === Seq(3L, 10L, 10L, 10L, 10L))
    assert(t.read().count() === 43L)
  }

  test("an append whose task throws leaves no stage dir, no unlisted data file and the version unchanged") {
    val rootDir = Files.createTempDirectory("land_fail_").resolve("t")
    val t = LogTable(spark, rootDir.toString)
    t.append(spark.range(0, 8, 1, 2).toDF("id"))
    val v0 = t.currentVersion
    // the last of four tasks waits for the other three to commit
    // their files, then throws
    val boom = udf { (id: Long) =>
      if (id == 107L) {
        Thread.sleep(1500)
        throw new IllegalStateException("injected task failure")
      }
      id
    }
    val bad = spark.range(100, 108, 1, 4).select(boom(col("id")).as("id"))
    intercept[Exception](t.append(bad))
    assert(t.currentVersion === v0)
    val stages = scala.util.Using.resource(Files.list(rootDir)) { s =>
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("stage-")).toList
    }
    assert(stages.isEmpty, s"stage dirs left behind: $stages")
    val listed = t.snapshot().files
      .map(f => Paths.get(f.path).toAbsolutePath.normalize).toSet
    val unlisted = filesUnder(rootDir.resolve("data")).filterNot(listed)
    assert(unlisted.isEmpty, s"unlisted data files: $unlisted")
    assert(t.read().count() === 8L)
  }

  test("a prefixed land renames every file flat into its dir and reports the writer's partition dirs") {
    val dir = Files.createTempDirectory("land_prefix_").resolve("data")
    val df = Seq((0, 1L), (0, 2L), (1, 3L), (2, 4L)).toDF("k", "v")
    val landed = DirectCommitProtocol.land(df.repartition(3, col("k")), dir,
      "eq-delete")(_.partitionBy("k"))
    assert(landed.map(_._1).sorted === Seq("k=0", "k=1", "k=2"))
    assert(landed.map(_._2.toString) === landed.map(_._2.toString).sorted)
    val left = scala.util.Using.resource(Files.list(dir)) { s =>
      s.iterator().asScala.map(_.getFileName.toString).toList.sorted
    }
    assert(left === landed.map(_._2.getFileName.toString).sorted)
    assert(left.forall(n => n.startsWith("eq-delete-") && n.endsWith(".parquet")))
    val siblings = scala.util.Using.resource(Files.list(dir.getParent)) { s =>
      s.iterator().asScala.map(_.getFileName.toString).toList
    }
    assert(siblings === Seq("data"), "the scratch dir is gone")
    assert(landed.map { case (_, p) => spark.read.parquet(p.toString).count() }
      .sum === 4L)
  }

  test("source gate: only DirectCommit.scala reads the sidecar and no module stages and walks its own output") {
    val rules = Seq(
      """DirectCommitProtocol\.Sidecar""".r -> "DirectCommit.scala",
      """Files\.walk\(stage""".r -> "",
      """createTempDirectory\("ice_""".r -> "")
    val s = Files.walk(Paths.get("src/main"))
    val files =
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    assert(files.exists(_.getFileName.toString == "DirectCommit.scala"))
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      (re, home) <- rules
      if f.getFileName.toString != home && re.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString(
      "land Spark-written parquet through DirectCommitProtocol.land:\n", "\n", ""))
  }
}
