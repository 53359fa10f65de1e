package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference,
  AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeRowJoiner
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{CoGroupedIterator, GroupedIterator, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/**
 * One pass over each key group of a frame that appends typed columns
 * to every row: the engine's operator for per-game sequential work
 * (play numbering, the base-runner machine, pitcher queues, name
 * matching against a game's lineups).
 *
 * The play child must be clustered on the key and sorted by the key
 * plus `order`; the optional dimension child is clustered and sorted on
 * its key, so EnsureRequirements co-partitions the two and an input
 * already hash-partitioned on the key is not shuffled again. `fn` sees
 * one group's `needed` columns as narrow Rows in `order`, plus all of
 * the group's dimension rows, and returns exactly one Row of appended
 * values per input row, in input order. The rest of each input row is
 * carried through as UnsafeRow bytes, never deserialized. The output is
 * the play child's own attributes followed by the appended ones, with
 * the child's partitioning and ordering.
 *
 * Groups compare keys as Spark's grouping operators do: null keys form
 * one group, which meets the dimension's null-key rows. Keys present
 * only in the dimension emit nothing.
 */
case class PerKeyAppend(
    key: Attribute,
    order: Seq[SortOrder],
    needed: Seq[Attribute],
    dimKey: Option[Attribute],
    dimAttrs: Seq[Attribute],
    appended: Seq[Attribute],
    fn: PerKeyAppend.Fn,
    children: Seq[LogicalPlan]) extends LogicalPlan {

  // `references` (every expression above minus `appended`) covers the
  // whole dimension output, so column pruning never narrows the rows
  // `fn` receives
  override def output: Seq[Attribute] = children.head.output ++ appended
  override def producedAttributes: AttributeSet = AttributeSet(appended)

  override def simpleString(maxFields: Int): String = PerKeyAppend.describe(
    nodeName, key, order, dimKey, appended)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[LogicalPlan]): PerKeyAppend = copy(children = newChildren)
}

object PerKeyAppend {

  /** One group's needed columns and its dimension rows → one Row of
    * appended values per input row, in input order. */
  type Fn = (Iterator[Row], Seq[Row]) => Iterator[Row]

  /**
   * Appends `appended` to every row of `plays`, computed per `key`
   * group by `fn` over the `needed` columns in ascending `order`. With
   * `dim = Some((frame, dimKey))` each group also gets its dimension
   * rows (all columns of `frame`, in its column order); the dimension
   * key is cast to the play key's type so both sides hash alike.
   *
   * The session must carry [[PerKeyAppendStrategy]]
   * (`graft.GraftExtensions` installs it); this is checked here.
   */
  def apply(
      plays: DataFrame, key: String, order: Seq[String], needed: Seq[String],
      appended: StructType, dim: Option[(DataFrame, String)] = None)(fn: Fn): DataFrame = {
    val session = plays.sparkSession.asInstanceOf[classic.SparkSession]
    requirePlanned(session)
    val child = plays.queryExecution.analyzed
    val resolver = session.sessionState.conf.resolver
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.filter(a => resolver(a.name, name)) match {
        case Seq(a) => a
        case found => throw new IllegalArgumentException(
          s"PerKeyAppend: column `$name` must match exactly one column of " +
            s"${plan.output.map(_.name).mkString("[", ", ", "]")}, found ${found.length}")
      }
    val keyAttr = attr(child, key)
    val clash = appended.fieldNames.filter(n => child.output.exists(a => resolver(a.name, n)))
    require(clash.isEmpty,
      s"PerKeyAppend: appended columns ${clash.mkString(", ")} already exist in the input")

    val dimPlan = dim.map { case (d, dk) =>
      val cast =
        if (d.schema(dk).dataType == keyAttr.dataType) d
        else d.withColumn(dk, col(dk).cast(keyAttr.dataType))
      (cast.queryExecution.analyzed, dk)
    }
    val added = appended.map(f => AttributeReference(f.name, f.dataType, f.nullable)())
    val node = PerKeyAppend(
      keyAttr,
      order.map(o => SortOrder(attr(child, o), Ascending)),
      needed.map(attr(child, _)),
      dimPlan.map { case (p, dk) => attr(p, dk) },
      dimPlan.map(_._1.output).getOrElse(Nil),
      added, fn,
      child +: dimPlan.map(_._1).toSeq)
    // the appended columns leave under aliases: the analyzer renews a
    // Project's aliases when a frame is joined with itself, which it
    // cannot do for attributes this node produces
    classic.Dataset.ofRows(session,
      Project(child.output ++ added.map(a => Alias(a, a.name)()), node))
  }

  /** Fails unless `session`'s planner carries [[PerKeyAppendStrategy]],
    * so a missing extension shows up where the node is built rather
    * than as "No plan for" at execution. */
  private def requirePlanned(session: SparkSession): Unit = {
    val planner = session.asInstanceOf[classic.SparkSession].sessionState.planner
    require(planner.strategies.contains(PerKeyAppendStrategy),
      "PerKeyAppend needs its planner strategy: build the session with " +
        ".withExtensions(new graft.GraftExtensions) or spark.sql.extensions=graft.GraftExtensions")
  }

  private[graft] def describe(name: String, key: Attribute, order: Seq[SortOrder],
      dimKey: Option[Attribute], appended: Seq[Attribute]): String =
    s"$name key=$key order=${order.mkString("[", ", ", "]")}" +
      dimKey.fold("")(k => s" dim=$k") + s" appends=${appended.mkString("[", ", ", "]")}"
}

/** Physical [[PerKeyAppend]]: groups the sorted play rows, cogroups
  * them with the sorted dimension rows when there is a dimension, and
  * joins each pass-through row with its appended values byte-wise. */
case class PerKeyAppendExec(
    key: Attribute,
    order: Seq[SortOrder],
    needed: Seq[Attribute],
    dimKey: Option[Attribute],
    dimAttrs: Seq[Attribute],
    appended: Seq[Attribute],
    fn: PerKeyAppend.Fn,
    children: Seq[SparkPlan]) extends SparkPlan {

  private def plays: SparkPlan = children.head

  override def output: Seq[Attribute] = plays.output ++ appended
  override def producedAttributes: AttributeSet = AttributeSet(appended)
  override def outputPartitioning: Partitioning = plays.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = plays.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) +: dimKey.map(k => ClusteredDistribution(Seq(k))).toSeq
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    (SortOrder(key, Ascending) +: order) +: dimKey.map(k => Seq(SortOrder(k, Ascending))).toSeq

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def simpleString(maxFields: Int): String = PerKeyAppend.describe(
    nodeName, key, order, dimKey, appended)

  override protected def doExecute(): RDD[InternalRow] = {
    val groups = new PerKeyAppendExec.Groups(key, needed, appended, plays.output, fn,
      longMetric("numOutputRows"))
    dimKey match {
      case None =>
        plays.execute().mapPartitionsInternal(ps => groups.run(ps, None))
      case Some(dk) =>
        val dimPlan = children(1)
        val dimOut = dimPlan.output
        val toDim = PerKeyAppendExec.rowReader(dimAttrs, dimOut)
        plays.execute().zipPartitions(dimPlan.execute()) { (ps, ds) =>
          groups.run(ps, Some((GroupedIterator(ds, Seq(dk), dimOut), toDim)))
        }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): PerKeyAppendExec = copy(children = newChildren)
}

object PerKeyAppendExec {

  /** The per-partition work, shipped to the tasks without the plan. */
  private class Groups(
      key: Attribute, needed: Seq[Attribute], appended: Seq[Attribute],
      playAttrs: Seq[Attribute], fn: PerKeyAppend.Fn, numOutputRows: SQLMetric)
    extends Serializable {

    private val toNeeded = rowReader(needed, playAttrs)

    def run(
        playRows: Iterator[InternalRow],
        dim: Option[(Iterator[(InternalRow, Iterator[InternalRow])], InternalRow => Row)])
        : Iterator[InternalRow] = {
      val playGroups = GroupedIterator(playRows, Seq(key), playAttrs)
      val groups: Iterator[(Iterator[InternalRow], Seq[Row])] = dim match {
        case None => playGroups.map { case (_, ps) => (ps, Nil) }
        case Some((dimGroups, toDim)) =>
          new CoGroupedIterator(playGroups, dimGroups, Seq(key)).collect {
            case (_, ps, ds) if ps.hasNext => (ps, ds.map(toDim).toSeq)
          }
      }
      val playSchema = DataTypeUtils.fromAttributes(playAttrs)
      val appendedSchema = DataTypeUtils.fromAttributes(appended)
      val toUnsafe = UnsafeProjection.create(playSchema)
      val appendedToUnsafe = UnsafeProjection.create(appendedSchema)
      val toCatalyst = appended.map(a =>
        CatalystTypeConverters.createToCatalystConverter(a.dataType)).toArray
      val joiner = GenerateUnsafeRowJoiner.create(playSchema, appendedSchema)
      val width = toCatalyst.length

      groups.flatMap { case (ps, dimRows) =>
        // rows the function has read but not yet answered
        val pending = new java.util.ArrayDeque[UnsafeRow]()
        val in = ps.map { r =>
          val u = r match {
            case u: UnsafeRow => u.copy()
            case other => toUnsafe(other).copy()
          }
          pending.add(u)
          toNeeded(u)
        }
        val outs = fn(in, dimRows)
        new Iterator[InternalRow] {
          override def hasNext: Boolean = outs.hasNext || {
            if (!pending.isEmpty || in.hasNext) throw new IllegalStateException(
              "PerKeyAppend: the function returned fewer rows than its group has")
            false
          }
          override def next(): InternalRow = {
            val vals = outs.next()
            val row = pending.poll()
            if (row == null) throw new IllegalStateException(
              "PerKeyAppend: the function returned more rows than it read")
            val arr = new Array[Any](width)
            var i = 0
            while (i < width) { arr(i) = toCatalyst(i)(vals.get(i)); i += 1 }
            numOutputRows += 1
            joiner.join(row, appendedToUnsafe(new GenericInternalRow(arr)))
          }
        }
      }
    }
  }

  /** Reads `attrs` out of rows laid out as `input` into an external
    * Row, converting each value to its Scala type. */
  private def rowReader(attrs: Seq[Attribute], input: Seq[Attribute]): InternalRow => Row = {
    val ords = attrs.map { a =>
      val i = input.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"PerKeyAppend: $a is not in ${input.mkString(", ")}")
      i
    }.toArray
    val types = attrs.map(_.dataType).toArray
    val conv = attrs.map(a => CatalystTypeConverters.createToScalaConverter(a.dataType)).toArray
    (r: InternalRow) => {
      val arr = new Array[Any](ords.length)
      var i = 0
      while (i < ords.length) { arr(i) = conv(i)(r.get(ords(i), types(i))); i += 1 }
      new org.apache.spark.sql.catalyst.expressions.GenericRow(arr)
    }
  }
}

/** Plans [[PerKeyAppend]]; installed by `graft.GraftExtensions`. */
object PerKeyAppendStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PerKeyAppend =>
      PerKeyAppendExec(p.key, p.order, p.needed, p.dimKey, p.dimAttrs, p.appended, p.fn,
        p.children.map(planLater)) :: Nil
    case _ => Nil
  }
}
