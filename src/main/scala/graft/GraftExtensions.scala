package graft

import graft.functions.{LongDot, MinHashSig, ParseDuration, SimHash64, WordShingles}
import graft.sources.{IcebergRead, IcebergStatistics, LogTable}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.unsafe.types.UTF8String

/** SQL registration for graft's native Catalyst expressions — the
  * `SparkSessionExtensions` seam, so a spark-submit user gets the
  * functions with ONE config line and zero code:
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  *   SELECT parse_duration(requestTime) FROM api_logs
  *   SELECT simhash64(word_shingles(split(body, ' '), 3), 0) FROM docs
  *   SELECT * FROM table_changes('/lake/api', 3)
  * }}}
  *
  * [[GraftExtensions.register]] does the same on an already-running
  * session (notebooks, tests — extensions only apply at session
  * build). Every function resolves to the SAME codegen'd expression
  * the Column API uses; nothing is UDF-boxed. The table functions
  * ([[GraftExtensions.tableFunctions]]) plan the same frames as their
  * Scala entry points. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.all.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
  }
}

object GraftExtensions {

  private def intLit(e: Expression, fn: String, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an INTEGER LITERAL, got $other")
  }
  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.size == n, s"$fn takes $n argument(s), got ${args.size}")

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  private def fn(name: String, usage: String,
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), info(name, usage), builder)

  /** (identifier, info, builder) for every graft SQL function. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("parse_duration",
      "parse_duration(str) - Go-style duration string to microseconds; NULL if malformed.",
      { args => arity("parse_duration", args, 1); ParseDuration(args.head) }),
    fn("simhash64",
      "simhash64(words, seed) - one-pass 64-bit SimHash of an array<string>.",
      { args => arity("simhash64", args, 2)
        SimHash64(args.head, intLit(args(1), "simhash64", "seed")) }),
    fn("minhash_sig",
      "minhash_sig(words, k) - k-hash MinHash signature of an array<string>.",
      { args => arity("minhash_sig", args, 2)
        MinHashSig(args.head, intLit(args(1), "minhash_sig", "k")) }),
    fn("word_shingles",
      "word_shingles(words, n) - hashed word n-grams of an array<string>.",
      { args => arity("word_shingles", args, 2)
        WordShingles(args.head, intLit(args(1), "word_shingles", "n")) }),
    fn("long_dot",
      "long_dot(a, b) - exact integer dot product of two array<bigint>.",
      { args => arity("long_dot", args, 2); LongDot(args.head, args(1)) }))

  /** A table function over its constant arguments (strings, numbers as
    * Long); arguments `body` does not match refuse with the usage. */
  private def tvf(name: String, usage: String)(
      body: PartialFunction[(SparkSession, Seq[Any]), DataFrame])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan) =
    (FunctionIdentifier(name), info(name, usage), { args =>
      val values = args.map { e =>
        require(e.foldable, s"$name: arguments must be constants, got ${e.sql}")
        e.eval() match {
          case s: UTF8String => s.toString
          case n: java.lang.Number => n.longValue()
          case v => v
        }
      }
      body.applyOrElse((SparkSession.active, values), (_: Any) =>
        throw new IllegalArgumentException(s"$name(${values.mkString(", ")}): expected $usage"))
        .queryExecution.analyzed
    })

  /** (identifier, info, builder) for every graft table function. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => LogicalPlan)] = Seq(
    // the CDC changelog (Delta's table_changes / Iceberg's changelog
    // view): rows + _change_type + _commit_version over (from, to]
    tvf("table_changes", "table_changes(root, from [, to]) - a table's changes in (from, to].") {
      case (spark, Seq(root: String, from: Long, to @ _*))
          if to.size <= 1 && to.forall(_.isInstanceOf[Long]) =>
        require(LogTable.exists(root), s"table_changes: no table at '$root'")
        val t = LogTable(spark, root)
        t.readCdc(from, to.collectFirst { case v: Long => v }.getOrElse(t.currentVersion))
    },
    // an Iceberg v2 table (an export of ours, or a foreign one within
    // the supported subset), DuckDB's convention: a numeric second
    // argument is a snapshot id, a string one a ref of the metadata
    tvf("iceberg_scan", "iceberg_scan(path [, snapshot_id | 'ref']) - an Iceberg v2 table.") {
      case (spark, Seq(path: String, at @ _*)) if at.size <= 1 =>
        IcebergRead.read(spark, path, at.headOption.map {
          case id: Long => id
          case ref => IcebergRead.refSnapshot(path, ref.toString)
        })
    },
    // the snapshot log: the discovery step before iceberg_scan(path, id)
    tvf("iceberg_snapshots", "iceberg_snapshots(path) - an Iceberg table's snapshots.") {
      case (spark, Seq(path: String)) => IcebergRead.snapshots(spark, path)
    },
    // the current snapshot's Puffin NDV statistics (empty when none)
    tvf("iceberg_stats", "iceberg_stats(path) - (col_name, ndv) of an Iceberg table.") {
      case (spark, Seq(path: String)) =>
        import spark.implicits._
        IcebergStatistics.ndvStats(path).toSeq.sorted.toDF("col_name", "ndv")
    },
    // the registered partition-statistics file; refuses when none is
    tvf("iceberg_partition_stats", "iceberg_partition_stats(path) - partition statistics.") {
      case (spark, Seq(path: String)) => IcebergRead.partitionStats(spark, path)
    },
    // a REST catalog's table: the LoadTableResult comes over HTTP, the
    // scan runs from the wire-carried metadata
    tvf("iceberg_rest_scan",
        "iceberg_rest_scan(uri, namespace, table [, snapshot_id | 'ref']) - a REST table.") {
      case (spark, Seq(uri: String, ns: String, table: String, at @ _*))
          if at.size <= 1 && at.forall(v => v.isInstanceOf[Long] || v.isInstanceOf[String]) =>
        IcebergRead.readRest(spark, uri, ns, table, at.collectFirst { case id: Long => id },
          refAsOf = at.collectFirst { case ref: String => ref })
    },
    // a REST-catalog view's current spark SQL representation
    tvf("rest_view", "rest_view(uri, namespace, view) - run a REST-catalog view.") {
      case (spark, Seq(uri: String, ns: String, view: String)) =>
        IcebergRead.readRestView(spark, uri, ns, view)
    })

  /** Register every function and table function on a LIVE session
    * (extensions only run at session build; this is the runtime
    * equivalent). Idempotent. */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (id, info, b) =>
      GraftBridge.registerFunction(spark, id.funcName, info, b)
    }
    tableFunctions.foreach { case (id, info, b) =>
      GraftBridge.registerTableFunction(spark, id.funcName, info, b)
    }
  }
}
