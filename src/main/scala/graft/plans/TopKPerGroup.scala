package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Top-k-per-group as a first-class physical operator.
  *
  * The DataFrame idiom (`row_number().over(window)` + `filter(rn <= k)`)
  * fully sorts every partition and materializes every row through the
  * shuffle. This operator keeps a bounded heap per group instead:
  *
  *  - a PARTIAL stage runs on the scan partitions (no distribution
  *    requirement) and reduces each input partition to ≤ k rows per group —
  *    correct because top-k is a semigroup: the global top-k of a union is
  *    contained in the union of per-part top-ks;
  *  - the shuffle therefore carries at most k·|groups per partition| rows;
  *  - a FINAL stage (ClusteredDistribution on the group key) merges heaps.
  *
  * O(n log k) per partition, O(k·groups) memory, one shuffle of a k-bounded
  * stream — the shape that survives 100 TB with a hot key, where the window
  * variant sorts the world.
  */
final case class TopKPerGroupNode(
    child: LogicalPlan,
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan = copy(child = c)
}

final case class TopKPerGroupExec(
    child: SparkPlan,
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    k: Int,
    partial: Boolean) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val groupLocal = groupExprs
    val orderLocal = orderExprs
    val attrs = child.output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(groupLocal, attrs)
      val ordering = RowOrdering.create(orderLocal, attrs)
      // per group: a heap whose head is the WORST retained row, so a new
      // row replaces the head iff it orders strictly better
      val heaps = new java.util.HashMap[InternalRow, java.util.PriorityQueue[InternalRow]]()
      val reverse: java.util.Comparator[InternalRow] = ordering.reverse
      while (it.hasNext) {
        val row = it.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](kLocal + 1, reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < kLocal) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
}

/** Plans the logical node as partial + final heap stages. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(child, g, o, k) =>
      val partial = TopKPerGroupExec(planLater(child), g, o, k, partial = true)
      TopKPerGroupExec(partial, g, o, k, partial = false) :: Nil
    case _ => Nil
  }
}

/** DataFrame-level API. */
object TopKPerGroup {
  /** Plan the node on `spark`: [[TopKStrategy]] joins its
    * `extraStrategies` unless already there. */
  def installStrategy(spark: SparkSession): Unit = {
    val strategies = spark.experimental.extraStrategies
    if (!strategies.contains(TopKStrategy))
      spark.experimental.extraStrategies = strategies :+ TopKStrategy
  }

  /** Rows of `df` keeping only the `k` best rows per group; `orderCols`
    * pairs a column with `true` for ascending / `false` for descending
    * (catalyst SortOrder is built directly — Column.desc wraps
    * non-serializable internal nodes that can't cross the task boundary).
    * Output order within a group is unspecified — sort downstream. */
  def apply(
      df: DataFrame,
      groupCols: Seq[Column],
      orderCols: Seq[(Column, Boolean)],
      k: Int): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending}
    val spark = df.sparkSession
    installStrategy(spark)
    val child = GraftBridge.analyzedPlan(df)
    // plain column references resolved against the analyzed child — the
    // operator takes key/order COLUMNS, not arbitrary expressions
    def attr(c: Column): Attribute = {
      val name = c.toString
      child.output.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not in ${child.output.map(_.name).mkString(", ")}"))
    }
    val g = groupCols.map(attr)
    val o = orderCols.map { case (c, asc) =>
      SortOrder(attr(c), if (asc) Ascending else Descending)
    }
    GraftBridge.ofRows(spark, TopKPerGroupNode(child, g, o, k))
  }
}
