package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The session memo: every artifact that several queries of one session
  * share (the pm discovery stages, the feature table and rule fits, the
  * shingle/band, near-dup, PNG/aHash, IVF, BPE and Bloom builds) is built
  * once per (session, dataset, node) through [[SessionMemo.apply]].
  *
  *   - One build per key: concurrent callers of one key wait for the one
  *     build. The map stores a cell per key and the build runs in the
  *     cell's lazy val, outside the map's compute, so builds may nest
  *     (disc → segStage → enabledStage) on this one map.
  *   - A build that throws caches nothing: the cell stays unbuilt and the
  *     next caller runs the build again.
  *   - Eviction: accessing node N for (s, d) releases N's entries for
  *     (s, d′ ≠ d) through the node's release function, so a long-lived
  *     session holds one dataset per node. Entries of stopped sessions are
  *     dropped without touching their blocks. An unbuilt entry is dropped
  *     without being built; one still building on another thread when it
  *     is dropped keeps its blocks (one session runs one dataset at a time).
  *
  * Staging stays with each builder (`Pinned.stage`, `stageEager` or none):
  * the memo only decides when a value is built and released.
  *
  * Each build runs in a [[Telemetry.span]] named `memo:<node>`, so its jobs
  * are charged to the node and not to the query that touched it first; a
  * caller waiting for another thread's build runs no job of it.
  */
class SessionMemo private[graft] (stopped: SparkSession => Boolean) {
  private final class Cell[V](build: => V, free: V => Unit) {
    @volatile private var built = false
    lazy val value: V = { val v = build; built = true; v }
    def release(): Unit = if (built) free(value)
  }

  private val cells =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), Cell[_]]()

  /** A staged or persisted frame, released with [[Pinned.releaseFrame]]. */
  def apply(s: SparkSession, d: String, node: String)(build: => DataFrame): DataFrame =
    of[DataFrame](s, d, node, Pinned.releaseFrame)(build)

  /** Any value; `release` drops the blocks it holds. */
  def of[V](s: SparkSession, d: String, node: String, release: V => Unit)(build: => V): V = {
    cells.keySet.asScala.toList.foreach { case k @ (ks, kd, kn) =>
      if (stopped(ks)) cells.remove(k)
      else if (ks == s && kn == node && kd != d) Option(cells.remove(k)).foreach(_.release())
    }
    cells.computeIfAbsent((s, d, node),
      _ => new Cell[V](Telemetry.span(s, s"memo:$node")(build), release))
      .asInstanceOf[Cell[V]].value
  }

  /** Live (dataset, node) keys of `s` (test hook). */
  private[graft] def keys(s: SparkSession): Set[(String, String)] =
    cells.keySet.asScala.collect { case (ks, d, n) if ks == s => (d, n) }.toSet
}

object SessionMemo extends SessionMemo(_.sparkContext.isStopped)
