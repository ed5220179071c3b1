package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Scoped cache pins — the one place that decides how long an
  * intermediate frame stays cached. An operator that reads a frame
  * several times pins it inside `Pins.scope { pins => … }`, and the
  * scope releases every pin in a `finally`: an exception between pin
  * and last read leaves no cached blocks for the rest of the session.
  * Pins fill under the body's own actions (no fill job here) and
  * release without blocking. */
final class Pins private () {
  private var held = List.empty[(DataFrame, () => Unit)]
  private var escaped = List.empty[(DataFrame, () => Unit)]

  /** Persist `df` (MEMORY_AND_DISK) until the scope exits. */
  def apply(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held ::= (p -> (() => { p.unpersist(blocking = false); () }))
    p
  }

  /** Eager `localCheckpoint` (cuts the lineage) until the scope exits. */
  def checkpoint(df: DataFrame): DataFrame = {
    val (c, rdd) = Pins.localCheckpoint(df)
    held ::= (c -> (() => { rdd.unpersist(blocking = false); () }))
    c
  }

  /** A checkpoint that the scope's RESULT still reads (a returned lazy
    * plan): kept when the scope returns, released if it throws.
    * `reason` names the checkpoint RDD, so a persistent RDD left after
    * the call says why it is alive. */
  def escaping(df: DataFrame, reason: String): DataFrame = {
    val (c, rdd) = Pins.localCheckpoint(df)
    rdd.setName(s"${Pins.EscapingPrefix}$reason")
    escaped ::= (c -> (() => { rdd.unpersist(blocking = false); () }))
    c
  }

  /** Release one pin before the scope exits — a loop dropping the
    * previous round's frame. */
  def release(df: DataFrame): Unit = {
    (held ++ escaped).filter(_._1 eq df).foreach(_._2())
    held = held.filterNot(_._1 eq df)
    escaped = escaped.filterNot(_._1 eq df)
  }
}

object Pins {
  /** Name prefix of every escaping checkpoint's RDD. */
  val EscapingPrefix = "Pins.escaping: "

  def scope[T](body: Pins => T): T = {
    val pins = new Pins
    try {
      val result = body(pins)
      pins.escaped = Nil
      result
    } finally (pins.held ++ pins.escaped).foreach(_._2())
  }

  /** The single way a BOUNDED result (≤ a few hundred rows) leaves a
    * scope: collect it now and hand back a local frame that reads no
    * pin. */
  def collected(df: DataFrame): DataFrame = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)
  }

  private def localCheckpoint(df: DataFrame) = {
    val c = df.localCheckpoint()
    c.queryExecution.logical match {
      case r: LogicalRDD => (c, r.rdd)
      case p => throw new IllegalStateException(
        s"localCheckpoint did not root its frame on an RDD: ${p.nodeName}")
    }
  }
}
