package graft.sources

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Local [[GraftFileIO]] that counts the control-plane calls made
  * through it: every read by file name, bytes read and published,
  * manifest pointer reads, and the number of reads, publishes,
  * deletes and lists. */
private[graft] final class CountingIO extends GraftFileIO {
  private val d = GraftFileIO.Local
  val readNames = new ConcurrentLinkedQueue[String]()
  val reads, publishes, deletes, lists = new AtomicLong
  val readBytes, writtenBytes, manifestReads = new AtomicLong

  /** Segment files read since the last reset. */
  def segReads: Seq[String] =
    readNames.iterator().asScala.toSeq.filter(_.startsWith("seg-"))

  def reset(): Unit = {
    readNames.clear()
    Seq(reads, publishes, deletes, lists, readBytes, writtenBytes,
      manifestReads).foreach(_.set(0L))
  }

  override def readString(p: Path): String = {
    val name = p.getFileName.toString
    readNames.add(name)
    reads.incrementAndGet()
    val s = d.readString(p)
    readBytes.addAndGet(s.length.toLong)
    if (name.endsWith(".manifest.json")) manifestReads.incrementAndGet()
    s
  }
  override def publishAtomic(p: Path, c: String): Boolean = {
    publishes.incrementAndGet()
    writtenBytes.addAndGet(c.length.toLong)
    d.publishAtomic(p, c)
  }
  override def exists(p: Path): Boolean = d.exists(p)
  override def list(dir: Path): Seq[String] = {
    lists.incrementAndGet(); d.list(dir)
  }
  override def listDirs(dir: Path): Seq[String] = d.listDirs(dir)
  override def delete(p: Path): Unit = { deletes.incrementAndGet(); d.delete(p) }
  override def deleteTree(dir: Path): Unit = d.deleteTree(dir)
  override def mkdirs(dir: Path): Unit = d.mkdirs(dir)
}
