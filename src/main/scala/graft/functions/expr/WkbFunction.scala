package graft.functions.expr

import graft.functions.GeoFunctions
import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A row kernel of the function table: its SQL name, argument types,
  * result type and the function it computes over Catalyst's internal
  * values (WKB as `Array[Byte]`, strings as `UTF8String`, arrays as
  * `ArrayData`, structs as `InternalRow`, numbers and booleans boxed). The
  * kernel gets one value per argument and returns null or a value of
  * `dataType`. A null argument makes the result null without a call,
  * except at the `nullTolerant` positions, where the kernel sees the null. */
final case class WkbKernel(name: String, inputs: Seq[DataType], dataType: DataType,
                           nullTolerant: Set[Int] = Set.empty)(val f: Array[Any] => Any)

/** One call of a [[WkbKernel]], named by its table entry. Two calls are
  * equal when they name the same function over equal children, so plan
  * canonicalization and exchange reuse treat them as one. Like a Spark UDF
  * it is deterministic when its children are, is never constant-folded,
  * and a kernel's exception reaches the caller as a `SparkException`.
  * Arguments are cast to the declared types by the analyzer, so an integer
  * works where a double is declared. The generated code calls the kernel
  * as a reference object and stays inside whole-stage codegen. */
case class WkbFunction(name: String, children: Seq[Expression])
    extends Expression with ImplicitCastInputTypes {

  @transient private lazy val kernel: WkbKernel = GeoFunctions.wkbKernel(name, children.length)

  override def inputTypes: Seq[DataType] = kernel.inputs
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = true
  override def foldable: Boolean = false
  override def prettyName: String = name
  override def toString: String = s"$name(${children.mkString(", ")})"

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input)
      if (args(i) == null && !kernel.nullTolerant(i)) return null
      i += 1
    }
    try kernel.f(args) catch { case e: Exception => throw WkbFunction.failed(name, e) }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = ctx.addReferenceObj("kernel", kernel.f, "scala.Function1")
    val evals = children.map(_.genCode(ctx))
    val anyNull = evals.indices.filterNot(kernel.nullTolerant).map(i => evals(i).isNull.toString)
    val args = evals.indices.map { i =>
      val dt = children(i).dataType
      val v = evals(i).value
      val boxed = if (CodeGenerator.isPrimitiveType(dt)) s"${CodeGenerator.boxedType(dt)}.valueOf($v)" else s"$v"
      if (kernel.nullTolerant(i)) s"${evals(i).isNull} ? null : (Object) $boxed" else boxed
    }
    val out = CodeGenerator.boxedType(dataType)
    val r = ctx.freshName("result")
    val e = ctx.freshName("e")
    val unboxed =
      if (CodeGenerator.isPrimitiveType(dataType)) s"(($out) $r).${CodeGenerator.javaType(dataType)}Value()"
      else s"($out) $r"
    ev.copy(code = code"""
      ${evals.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = ${if (anyNull.isEmpty) "false" else anyNull.mkString(" || ")};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${ev.isNull}) {
        Object $r;
        try {
          $r = $fn.apply(new Object[] {${args.mkString(", ")}});
        } catch (Exception $e) {
          throw graft.functions.expr.WkbFunction.failed("$name", $e);
        }
        ${ev.isNull} = $r == null;
        if (!${ev.isNull}) {
          ${ev.value} = $unboxed;
        }
      }""")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object WkbFunction {
  /** A kernel's exception, wrapped as a Spark UDF's is, so a query fails
    * with a `SparkException` whether its rows run in a task or are evaluated
    * on the driver. */
  def failed(name: String, e: Exception): SparkException =
    new SparkException(s"Function $name failed: $e", e)
}
