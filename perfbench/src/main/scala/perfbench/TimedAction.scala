package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UserDefinedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The action every timed query runs: the row count plus an order-free
  * digest of every output column, `bit_xor(xxhash64(struct(*)))`. Unlike a
  * bare `count()`, it leaves the optimizer nothing to prune, so every UDF
  * and generator of the query runs. XOR cannot overflow, which a Long `sum`
  * of hashes would under ANSI mode.
  */
object TimedAction {

  /** Hash functions reject maps, variants and intervals; hash their JSON or
    * string form instead.
    */
  private def unhashable(t: DataType): Boolean = t match {
    case _: MapType | _: VariantType | _: CalendarIntervalType => true
    case ArrayType(e, _) => unhashable(e)
    case StructType(fs) => fs.exists(f => unhashable(f.dataType))
    case _ => false
  }

  private def hashable(c: Column, t: DataType): Column = t match {
    case _: CalendarIntervalType => c.cast(StringType)
    case _ if unhashable(t) => to_json(c)
    case _ => c
  }

  def digestPlan(df: DataFrame): DataFrame = {
    // positional names: an output with duplicate column names stays legal
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    named.agg(count(lit(1)).as("rows"),
      bit_xor(xxhash64(struct(cols: _*))).as("digest"))
  }

  /** (rows, digest) of `df`; the digest of an empty output is 0. */
  def run(df: DataFrame): (Long, Long) = {
    val r = digestPlan(df).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** True when a column of the output holds floating-point values, whose
    * digest may change with summation order.
    */
  def hasFloatingPoint(t: DataType): Boolean = t match {
    case FloatType | DoubleType => true
    case ArrayType(e, _) => hasFloatingPoint(e)
    case MapType(k, v, _) => hasFloatingPoint(k) || hasFloatingPoint(v)
    case StructType(fs) => fs.exists(f => hasFloatingPoint(f.dataType))
    case _ => false
  }

  /** UDF calls and Generate nodes left in an optimized logical plan. */
  def udfsAndGenerators(plan: LogicalPlan): (Int, Int) = {
    def udfs(e: Expression): Int =
      e.collect { case _: UserDefinedExpression => 1 }.sum
    var nUdf = 0
    var nGen = 0
    def visit(p: LogicalPlan): Unit = {
      if (p.isInstanceOf[Generate]) nGen += 1
      nUdf += p.expressions.map(udfs).sum
      p.children.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    (nUdf, nGen)
  }
}
