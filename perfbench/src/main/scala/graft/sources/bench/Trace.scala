package graft.sources.bench

import graft.sources.GraftFileIO
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Spans around the benchmark's calls into each layer. A span records
  * its name, start, end, parent and the id of the operation it belongs
  * to. While a span is open its id is the calling thread's Spark local
  * property [[Tracer.SpanProp]], so [[JobAttribution]] can assign each
  * job to it. Spans stay in memory until the run writes them out. */
final class Tracer(sc: SparkContext) {
  import Tracer._
  @volatile var on = false
  private val ids = new AtomicLong
  private val open = new ThreadLocal[Span]
  val spans = new ConcurrentLinkedQueue[Span]()

  def newOp(): Long = ids.incrementAndGet()

  def span[T](name: String, op: Long)(body: => T): T = {
    if (!on) return body
    val parent = open.get
    val prevProp = sc.getLocalProperty(SpanProp)
    val s = Span(ids.incrementAndGet(), op, name,
      if (parent == null) 0L else parent.id, System.nanoTime())
    open.set(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      spans.add(s)
      open.set(parent)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  /** The kind of the operation the calling thread is in (the name of
    * its outermost open span), for [[CountingIO]]. */
  def kindOf: String = Option(open.get).map(_.name).getOrElse("")
}

object Tracer {
  val SpanProp = "graft.bench.span"
  final case class Span(id: Long, op: Long, name: String, parent: Long,
      start: Long) {
    @volatile var end: Long = 0L
    def ms: Double = (end - start) / 1e6
    def json: String =
      s"""{"id":$id,"op":$op,"name":"$name","parent":$parent,"start_ns":$start,"end_ns":$end}"""
  }

  /** Self time of each span: its duration minus the union of the
    * intervals its children cover. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (sum + (b - from), b) else (sum, reach)
        }._1
      s.id -> (s.end - s.start - covered) / 1e6
    }.toMap
  }
}

/** Spark work per span, from the listener bus: a job belongs to the
  * span named by its `graft.bench.span` local property (span 0 =
  * unattributed); its stages and tasks follow the job. */
final class JobAttribution extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, recordsRead, bytesRead, runMs, shuffleBytes,
        spillBytes = 0L
  }
  private val bySpan = new ConcurrentHashMap[Long, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private def acc(span: Long): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    acc(span).jobs += 1
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    acc(stageSpan.getOrDefault(e.stageInfo.stageId, 0L)).stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, 0L))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.recordsRead += m.inputMetrics.recordsRead
      a.bytesRead += m.inputMetrics.bytesRead
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  def of(span: Long): Acc = bySpan.getOrDefault(span, new Acc)
  def unattributedJobs: Long = of(0L).jobs
}

/** Counting decorator over the table's storage seam: calls per kind
  * of operation (the calling thread's outermost span), counted only
  * while `on`. */
final class CountingIO(tracer: => Tracer, d: GraftFileIO = GraftFileIO.Local)
    extends GraftFileIO {
  @volatile var on = false
  private val counts = new ConcurrentHashMap[(String, String), LongAdder]()
  private def hit(call: String): Unit =
    if (on) counts.computeIfAbsent((tracer.kindOf, call), _ => new LongAdder).increment()
  def count(kind: String, call: String): Long =
    Option(counts.get((kind, call))).map(_.sum).getOrElse(0L)

  override def readString(p: Path): String = { hit("read"); d.readString(p) }
  override def publishAtomic(p: Path, c: String): Boolean = {
    hit("publish")
    val ok = d.publishAtomic(p, c)
    if (!ok) hit("publish_lost")
    ok
  }
  override def exists(p: Path): Boolean = { hit("read"); d.exists(p) }
  override def list(dir: Path): Seq[String] = { hit("list"); d.list(dir) }
  override def listDirs(dir: Path): Seq[String] = { hit("list"); d.listDirs(dir) }
  override def delete(p: Path): Unit = { hit("delete"); d.delete(p) }
  override def deleteTree(dir: Path): Unit = { hit("delete"); d.deleteTree(dir) }
  override def mkdirs(dir: Path): Unit = d.mkdirs(dir)
}
