package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer
import scala.util.DynamicVariable

/**
 * The one owner of every materialized intermediate. No other module
 * persists, caches or checkpoints a frame; they call one of two verbs:
 *
 *  - [[persist]]: a lazy catalog persist at MEMORY_AND_DISK. The plan
 *    stays whole; the first action fills the cache and later ones
 *    read it.
 *  - [[cut]]: an eager local checkpoint. It snapshots the rows now
 *    (a store read that a later write would change) and truncates the
 *    lineage (an iterative operator whose plan would double per round).
 *
 * Both register what they made in the active [[scoped]] block, and
 * the scope releases it when it ends: tracked frames are unpersisted
 * and the RDDs behind tracked cuts are dropped. Only entry points open
 * a scope — `RunAll.run`, the per-query loops of Verify, Bench and the
 * tools, and the smoke steps — around both the build and the consume
 * (write, count or collect) of a query, since a cut cannot be read
 * once released. Library code never opens one. A loop that must bound
 * its memory releases a round it is done with early via [[release]].
 *
 * Outside any scope both verbs act exactly like the direct calls and
 * nothing is released: a caller that runs a query bare keeps its
 * intermediates, as it always did.
 */
object Caches {

  private final class Scope {
    val frames = ArrayBuffer.empty[Dataset[_]]
    val cuts = ArrayBuffer.empty[RDD[_]]
  }

  // inheritable: a Jobs.inParallel thunk registers in its caller's scope
  private val active = new DynamicVariable[Scope](null)

  /** Register a frame the caller persisted; returns it. */
  def track[T](ds: Dataset[T]): Dataset[T] = {
    val s = active.value
    if (s != null) s.synchronized { s.frames += ds }
    ds
  }

  /** Lazy MEMORY_AND_DISK persist, released when the scope ends. */
  def persist[T](ds: Dataset[T]): Dataset[T] =
    track(ds.persist(StorageLevel.MEMORY_AND_DISK))

  /** Eager local checkpoint, whose blocks the scope drops when it ends. */
  def cut[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.localCheckpoint(true)
    val s = active.value
    if (s != null) {
      val rdd = cutRdd(c).getOrElse(throw new IllegalStateException(
        s"localCheckpoint returned ${c.queryExecution.logical.nodeName}, not a LogicalRDD"))
      s.synchronized { s.cuts += rdd }
    }
    c
  }

  /** Release a [[persist]]ed or [[cut]] frame before its scope ends —
    * for loops that are done with a round. Reading it afterwards
    * recomputes a persisted frame and fails on a cut. */
  def release(ds: Dataset[_]): Unit = {
    ds.unpersist(blocking = false)
    cutRdd(ds).foreach(_.unpersist(blocking = false))
  }

  /** Run `f`, then release every frame and cut made inside it.
    * Scopes nest: an inner scope releases only its own. */
  def scoped[A](f: => A): A = {
    val s = new Scope
    try active.withValue(s)(f)
    finally {
      s.frames.foreach { ds =>
        try ds.unpersist(blocking = false) catch { case _: Throwable => () }
      }
      s.cuts.foreach { rdd =>
        try rdd.unpersist(blocking = false) catch { case _: Throwable => () }
      }
    }
  }

  /** The RDD holding a cut's blocks: the one its `LogicalRDD` reads. */
  private def cutRdd(ds: Dataset[_]): Option[RDD[_]] = ds.queryExecution.logical match {
    case r: LogicalRDD => Some(r.rdd)
    case _ => None
  }
}
