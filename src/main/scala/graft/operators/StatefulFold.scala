package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * Ordered per-group state machines over typed rows: any "fold rows in
 * event order, carrying state" computation that emits its own rows —
 * sessionization ([[Sessionize]]), sequence packing ([[Packing]]) and
 * the x01 per-key fold. The pbp machines (base runners, pitcher
 * queues) append columns to every play instead, and run in the
 * per-game operator `org.apache.spark.sql.graft.PerKeyAppend`.
 *
 * Two execution shapes, both cluster-safe:
 *
 *  1. [[flatMapGroupsSorted]] — `groupByKey` + in-memory sort of ONE
 *     group. Right when a single group (a game, a user's day) is
 *     bounded; 100 TB of games is fine because no executor ever holds
 *     more than one game.
 *  2. [[foldPartitions]] — `groupBy(key).flatMapSortedGroups(order)`:
 *     the sort runs in the operator and each group streams through
 *     the fold, resetting state per key. Never materializes a group at
 *     all, so it also survives pathological groups; this is the shape
 *     to prefer for skew-prone keys.
 */
object StatefulFold {

  /** Shape 1: sort each group in memory, then fold it. */
  def flatMapGroupsSorted[I: Encoder: scala.reflect.ClassTag, K: Encoder, O: Encoder, B: Ordering](
      ds: Dataset[I])(key: I => K, order: I => B)(
      fold: (K, Iterator[I]) => Iterator[O]): Dataset[O] =
    ds.groupByKey(key).flatMapGroups { (k: K, it: Iterator[I]) =>
      fold(k, it.toArray.sortBy(order).iterator)
    }

  /**
   * Shape 2: streaming fold over each key group in `orderCols` order.
   * `step` receives the running state (fresh from `init` at the first
   * row of every group) and emits zero or more output rows per input
   * row.
   *
   * The grouping is on the existing key attributes, so the planner
   * adds a hash exchange only when the input is not already clustered
   * on them: an upstream window or aggregate keyed on the same columns
   * (or a subset) is reused, anything else is shuffled. The sorted
   * group streams through the fold and is never held in memory.
   */
  def foldPartitions[S](
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      outSchema: StructType)(
      init: Row => S,
      step: (S, Row) => (S, Iterator[Row])): DataFrame = {
    val keyEnc = Encoders.row(StructType(keyCols.map(df.schema(_))))
    df.groupBy(keyCols.map(col): _*).as(keyEnc, Encoders.row(df.schema))
      .flatMapSortedGroups(orderCols: _*) { (_: Row, rows: Iterator[Row]) =>
        var state: S = null.asInstanceOf[S]
        var first = true
        rows.flatMap { row =>
          if (first) { state = init(row); first = false }
          val (s2, out) = step(state, row)
          state = s2
          out
        }
      }(Encoders.row(outSchema))
  }
}
