package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftglue.ColumnGlue.{column, expression}
import org.apache.spark.sql.types.{DataType, ObjectType}

/** A Column that calls one static JVM kernel through Spark's `StaticInvoke`,
  * as Spark's own built-ins call static helpers: one static call inside the
  * whole-stage compiled stage, shared by subexpression elimination, and
  * found by reflection on the interpreted path. A null column argument
  * gives null without a call. `owner` is the Scala object that holds the
  * kernel; Column arguments pass as expressions, a `double[]` as an object
  * literal, anything else as a literal. `nullable`: the kernel itself may
  * return null. Kernels take and return Spark's internal values. */
private[graft] object StaticKernel {
  def apply(owner: AnyRef, fn: String, dataType: DataType, nullable: Boolean = false)
           (args: Any*): Column =
    column(StaticInvoke(owner.getClass, dataType, fn, args.map {
      case c: Column        => expression(c)
      case a: Array[Double] => Literal(a, ObjectType(classOf[Array[Double]]))
      case v                => Literal(v)
    }, returnNullable = nullable))
}
