package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One-slot memo of a derived artifact for the most recent
  * (session, dir, [[Tables.sourceStamp]] of each named table). A memo
  * exists when two or more gate queries read the same expensive
  * relation or trained model; the working set is one corpus, so one
  * slot bounds what a long session keeps alive, and the stamps make an
  * in-place rewrite of the data rebuild instead of serving stale rows.
  *
  * [[apply]] builds under this memo's own lock, so concurrent callers
  * never train twice while independent memos build concurrently (a
  * build may call other memos: their dependency order is acyclic, so
  * the nested locks cannot deadlock). A build that throws leaves the
  * slot empty and the next call builds again.
  *
  * Eviction, on replace and on [[release]]: the Datasets in the value
  * that the cache manager holds (`cache()`, storage level not NONE) are
  * unpersisted — the cache manager would otherwise keep them for the
  * whole session. Everything else is only dropped. A `localCheckpoint`
  * is not in the cache manager, and its lineage is truncated: freeing
  * its blocks would fail a reader that still runs an action over the
  * old DataFrame, while the ContextCleaner reclaims them once no reader
  * references it. */
final class Memo[V] private (tables: Seq[String],
                             build: (SparkSession, String) => V) {
  private type Key = (SparkSession, String, Seq[Long])
  private var slot: Option[(Key, V)] = None

  def apply(s: SparkSession, dir: String): V = synchronized {
    val key: Key = (s, dir, tables.map(Tables.sourceStamp(dir, _)))
    slot match {
      case Some((k, v)) if k == key => v
      case prev =>
        slot = None
        prev.foreach { case (_, v) => Memo.evict(v) }
        val v = build(s, dir)
        slot = Some((key, v))
        v
    }
  }

  /** The memoized value, if any, without building. */
  def current: Option[V] = synchronized(slot.map(_._2))

  /** Empty the slot (eviction rule above). */
  def release(): Unit = synchronized {
    slot.foreach { case (_, v) => Memo.evict(v) }
    slot = None
  }
}

object Memo {
  private val registry = scala.collection.mutable.ArrayBuffer.empty[Memo[_]]

  /** A memo keyed on the stamps of `tables`, built by `build`. */
  def apply[V](tables: String*)(build: (SparkSession, String) => V): Memo[V] = {
    val m = new Memo(tables, build)
    registry.synchronized(registry += m)
    m
  }

  /** Release every memo constructed so far (fresh-session state). */
  def releaseAll(): Unit =
    registry.synchronized(registry.toList).foreach(_.release())

  private def evict(v: Any): Unit = {
    val parts = v match {
      case d: Dataset[_] => Iterator(d)
      case p: Product => p.productIterator
      case _ => Iterator.empty
    }
    parts.foreach {
      case d: Dataset[_] if d.storageLevel != StorageLevel.NONE => d.unpersist()
      case _ =>
    }
  }
}
