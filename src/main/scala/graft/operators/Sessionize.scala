package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Gap-based sessionization of an event stream: a new session starts
 * when the time since the previous event of the same key exceeds
 * `gapSeconds`. This is the reference's "derive a segment id from a
 * boundary flag, then aggregate within it" pattern (game/inning
 * session ids built from shifted cumsums, reference
 * `processors/pbp_parser/columns.py:144-159`) generalized to
 * event time.
 */
object Sessionize {

  /**
   * Declarative form: two stacked windows (lag → boundary flag →
   * running sum), fully codegen'd, one shuffle on `key`. Session id is
   * 1-based and unique within a key.
   */
  def byGap(df: DataFrame, key: Column, ts: Column, gapSeconds: Long,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts +: tieBreak: _*)
    val prev = lag(unix_micros(ts), 1).over(w)
    // exact integer microseconds — a cast-to-long would truncate to
    // whole seconds and misclassify sub-second-accurate gaps
    val isNew = when(
      prev.isNull || unix_micros(ts) - prev > gapSeconds * 1000000L, 1L
    ).otherwise(0L)
    df.withColumn(
      "session_id",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /**
   * Stateful form: identical semantics computed by a streaming
   * per-key fold ([[StatefulFold.foldPartitions]]) — the shape
   * the truly non-relational state machines use. Exists so the fold
   * machinery has an independently-checkable oracle (its output must
   * match [[byGap]] row for row).
   */
  def byGapStateful(
      df: DataFrame, keyCol: String, tsCol: String, gapSeconds: Long): DataFrame = {

    val outSchema = StructType(df.schema.fields :+ StructField("session_id", LongType, nullable = false))
    val tsIdx = df.schema.fieldIndex(tsCol)

    // state = (last event epoch-MICROseconds, current session id) —
    // micros to match byGap exactly (getTime is millis; the nanos
    // field carries the full fractional second)
    StatefulFold.foldPartitions[(Long, Long)](
      df, Seq(keyCol), Seq(col(tsCol)), outSchema)(
      init = _ => (Long.MinValue, 0L),
      step = { case ((lastTs, sid), row) =>
        val t0 = row.getTimestamp(tsIdx)
        val t = (t0.getTime / 1000L) * 1000000L + t0.getNanos / 1000L
        val newSid = if (lastTs == Long.MinValue || t - lastTs > gapSeconds * 1000000L) sid + 1 else sid
        ((t, newSid), Iterator(Row.fromSeq(row.toSeq :+ newSid)))
      })
  }
}
