package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, ObjectType}

/** The one way a column reaches a JVM kernel: `kernel.method(args)` as
  * Spark's own `StaticInvoke`, the construct Spark builds `url_encode`
  * from. Generated code is one call to the kernel object's static
  * forwarder; without codegen the same method runs through reflection.
  * A null input makes the result null without calling the kernel.
  *
  * `inputs` are the per-row columns, each with the Spark type its
  * kernel parameter reads (`StringType` arrives as `UTF8String`,
  * `ArrayType` as `ArrayData`); an input of another type is cast or
  * rejected by Spark's analyzer, as for a built-in function. `consts`
  * are plan-time constants: an Int, Long or Boolean becomes a typed
  * literal, anything else an object literal of its own class. An
  * object constant compares by value, so two plans over equal
  * constants canonicalize equal (exchange reuse, cache lookups), and
  * prints a short `toString` for the plan text.
  */
private[graft] object Kernel {
  def call(kernel: AnyRef, method: String, dataType: DataType,
      inputs: Seq[(Column, DataType)], consts: Seq[Any] = Nil,
      returnNullable: Boolean = false): Column = {
    val lits = consts.map {
      case v @ (_: Int | _: Long | _: Boolean) => Literal(v)
      case o: AnyRef => Literal(o, ObjectType(o.getClass))
    }
    ColumnBridge.column(StaticInvoke(kernel.getClass, dataType, method,
      inputs.map(i => ColumnBridge.expression(i._1)) ++ lits,
      inputs.map(_._2) ++ lits.map(_.dataType),
      propagateNull = true, returnNullable = returnNullable))
  }
}
