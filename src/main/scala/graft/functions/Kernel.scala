package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}

/** A native expression evaluated by one kernel, its public `compute`
  * method: `nullSafeEval` calls it, and the generated code is one call to
  * it on the same object, so the interpreted and the codegen path cannot
  * drift apart. `compute` is monomorphic and takes the children's
  * Catalyst values (`UTF8String`, `ArrayData`, `byte[]`, primitives), so
  * the call needs no `CodegenFallback`, which would re-evaluate through
  * the interpreted tree and force input-row materialization inside an
  * otherwise fully generated stage. */
private[functions] trait Kernel extends Expression {

  /** The SQL name: analysis errors and kernel errors start with it. */
  def sqlName: String

  /** Accepted input types, one per child; a `StringType` accepts every
    * collation and an `ArrayType` ignores element nullability. */
  protected def argTypes: Seq[DataType]

  /** True when `compute` returns null (boxed, for a primitive result) for
    * non-null inputs; the expression is then always nullable. */
  protected def kernelReturnsNull: Boolean = false

  override def nullable: Boolean =
    kernelReturnsNull || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val got = children.map(_.dataType)
    val ok = got.length == argTypes.length && argTypes.zip(got).forall {
      case (_: StringType, g) => g.isInstanceOf[StringType]
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case (w, g) => w == g
    }
    def sig(ts: Seq[DataType]) = ts.map(_.simpleString).mkString("(", ", ", ")")
    if (ok) TypeCheckSuccess
    else TypeCheckFailure(s"$sqlName expects ${sig(argTypes)}, got ${sig(got)}")
  }

  /** The generated body: assign `compute(args)` to the result. */
  protected def callKernel(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
    val call = s"${ctx.addReferenceObj(sqlName, this)}.compute(${args.mkString(", ")})"
    if (!kernelReturnsNull) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName("r")
      s"""${CodeGenerator.boxedType(dataType)} $r = $call;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
    }
  }
}

private[functions] trait UnaryKernel extends UnaryExpression with Kernel {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, callKernel(ctx, ev, _))
}

private[functions] trait BinaryKernel extends BinaryExpression with Kernel {
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, callKernel(ctx, ev, _, _))
}
