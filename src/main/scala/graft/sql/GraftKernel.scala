package graft.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._

/** The one template of the engine's scalar kernels. A kernel is a case
  * class whose constructor parameters are its children, in order; it
  * extends the adapter of its arity ([[GraftUnary]] … [[GraftQuaternary]])
  * and defines `compute` over the children's values. The template
  * evaluates the children left to right and returns null at the first
  * null one without calling the kernel (null-intolerant), otherwise it
  * calls the kernel — interpreted in `eval`, compiled in `doGenCode`.
  *
  * The generated code makes one call on a reference object, so operators
  * stay inside WholeStageCodegen:
  *  - to `computePrim` when the kernel defines a public method of that
  *    name with one parameter per child, in the children's Java types
  *    (`double`, `int`, `long`, `byte[]`, `ArrayData`…). The row path then
  *    boxes nothing (the CLAUDE.md hot-path invariant). The method is found
  *    by name and arity when the code is generated;
  *  - to `compute` otherwise, boxing the arguments and unboxing the result.
  *
  * When no child is nullable no null check is emitted, as in Spark's
  * `nullSafeCodeGen`. A kernel whose `compute` may return null for
  * non-null input mixes in [[NullableResult]]. */
trait GraftKernel extends Expression {
  @transient override lazy val children: Seq[Expression] =
    productIterator.map(_.asInstanceOf[Expression]).toIndexedSeq
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullIntolerant: Boolean = true
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    makeCopy(newChildren.toArray)

  override def eval(input: InternalRow): Any = {
    val args = new Array[Any](children.length)
    var i = 0
    while (i < args.length) {
      args(i) = children(i).eval(input)
      if (args(i) == null) return null
      i += 1
    }
    this match {
      case k: GraftUnary => k.compute(args(0))
      case k: GraftBinary => k.compute(args(0), args(1))
      case k: GraftTernary => k.compute(args(0), args(1), args(2))
      case k: GraftQuaternary => k.compute(args(0), args(1), args(2), args(3))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftExpr", this, getClass.getName)
    val gens = children.map(_.genCode(ctx))
    val args = gens.map(_.value).mkString(", ")
    val boxed = CodeGenerator.boxedType(dataType)
    val assign = this match {
      case _: NullableResult =>
        val r = ctx.freshName("r")
        s"""$boxed $r = ($boxed) $ref.compute($args);
           |${ev.isNull} = $r == null;
           |if (!${ev.isNull}) ${ev.value} = $r;""".stripMargin
      case _ if getClass.getMethods.exists(m =>
          m.getName == "computePrim" && m.getParameterCount == children.length) =>
        s"${ev.value} = $ref.computePrim($args);"
      case _ => s"${ev.value} = ($boxed) $ref.compute($args);"
    }
    val declare =
      s"${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val body = children.zip(gens).foldRight(s"${ev.isNull} = false;\n$assign") {
        case ((c, g), inner) => s"${g.code}\n" + ctx.nullSafeExec(c.nullable, g.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $declare
        $body""")
    } else {
      ev.copy(code = code"""
        ${gens.map(_.code.toString).mkString("\n")}
        $declare
        $assign""", isNull = FalseLiteral)
    }
  }
}

/** Mixed into a kernel whose `compute` may return null for non-null
  * inputs: its generated code takes `ev.isNull` from the boxed result (a
  * null unboxed or passed on as non-null would NPE or corrupt rows). Only
  * such kernels pay for the check. */
trait NullableResult extends GraftKernel {
  override def nullable: Boolean = true
}

abstract class GraftUnary extends GraftKernel {
  def compute(a: Any): Any
}

abstract class GraftBinary extends GraftKernel {
  def compute(a: Any, b: Any): Any
}

abstract class GraftTernary extends GraftKernel {
  def compute(a: Any, b: Any, c: Any): Any
}

abstract class GraftQuaternary extends GraftKernel {
  def compute(a: Any, b: Any, c: Any, d: Any): Any
}
