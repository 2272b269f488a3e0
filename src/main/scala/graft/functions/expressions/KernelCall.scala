package graft.functions.expressions

import java.lang.invoke.{MethodHandle, MethodHandles, MethodType}
import java.lang.reflect.Method

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.graft.Bridge.InputType
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** A method on a kernel expression's companion object and the constant
  * arguments (Int, Long or Boolean) that follow the child values. */
private[graft] final case class Kernel(method: String, constants: Any*)

/** The one call shape of the codegen kernels. An expression declares its
  * inputs with Spark's `inputTypes` (type-checked, never cast) and names
  * its [[Kernel]]: a method on the expression's companion object that
  * takes the child values, then the kernel's constants. The children are
  * evaluated left to right; a null child makes the result null without
  * evaluating the rest. Otherwise both execution paths call the one
  * kernel method:
  *
  *  - generated code calls it directly, `X$.MODULE$.method(...)`, casting
  *    each child value to the method's `int`/`long` parameter and
  *    inlining the constants as Java literals;
  *  - the interpreted `eval` invokes a method handle bound once per
  *    expression instance to the companion and the constants, with the
  *    same narrowing of an integral child (any boxed Number) and no
  *    per-row argument array.
  *
  * Kernels take one to three children. */
private[graft] trait KernelCall extends ExpectsInputTypes {

  protected def kernel: Kernel

  /** The companion's public method of the kernel's name and arity. */
  @transient private lazy val target: Method = {
    val owner = Class.forName(getClass.getName + "$", true,
      getClass.getClassLoader)
    val arity = children.length + kernel.constants.length
    owner.getMethods.filter(m => m.getName == kernel.method &&
        m.getParameterCount == arity) match {
      case Array(m) => m
      case ms => throw new IllegalStateException(s"${owner.getName} has " +
        s"${ms.length} methods ${kernel.method} of $arity parameters; " +
        s"$prettyName needs one")
    }
  }

  @transient private lazy val handle: MethodHandle = {
    val lookup = MethodHandles.publicLookup()
    val module = target.getDeclaringClass.getField("MODULE$").get(null)
    val bound = MethodHandles.insertArguments(
      lookup.unreflect(target).bindTo(module), children.length,
      kernel.constants.map(_.asInstanceOf[AnyRef]): _*)
    val narrow = target.getParameterTypes.take(children.length).map(p =>
      if (p.isPrimitive) lookup.findVirtual(classOf[Number],
        p.getName + "Value", MethodType.methodType(p))
      else null)
    MethodHandles.filterArguments(bound, 0, narrow: _*)
      .asType(MethodType.genericMethodType(children.length))
  }

  override def eval(input: InternalRow): Any = {
    val a = children(0).eval(input).asInstanceOf[AnyRef]
    if (a == null) null
    else if (children.length == 1) handle.invokeExact(a): AnyRef
    else {
      val b = children(1).eval(input).asInstanceOf[AnyRef]
      if (b == null) null
      else if (children.length == 2) handle.invokeExact(a, b): AnyRef
      else {
        val c = children(2).eval(input).asInstanceOf[AnyRef]
        if (c == null) null else handle.invokeExact(a, b, c): AnyRef
      }
    }
  }

  /** The shape of Spark's `nullSafeCodeGen` for any arity. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val args = evs.zip(target.getParameterTypes).map { case (e, p) =>
      if (p.isPrimitive) s"(${p.getName}) ${e.value}" else s"${e.value}"
    } ++ kernel.constants.map {
      case l: Long => s"${l}L"
      case c => c.toString
    }
    val call = s"${ev.value} = ${target.getDeclaringClass.getName}" +
      s".MODULE$$.${kernel.method}(${args.mkString(", ")});"
    val javaType = CodeGenerator.javaType(dataType)
    val default = CodeGenerator.defaultValue(dataType)
    if (nullable) {
      val body = children.zip(evs).foldRight(
          s"${ev.isNull} = false;\n$call") { case ((c, e), inner) =>
        s"${e.code}\n" + ctx.nullSafeExec(c.nullable, e.isNull.toString)(inner)
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = $default;
        $body""")
    } else ev.copy(code = code"""
        ${evs.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $default;
        $call""", isNull = FalseLiteral)
  }
}

/** Input types the kernels share. */
private[graft] object KernelCall {
  /** The genotype cube: outer = sample, inner = allele indices. */
  val Geno: InputType = ArrayType(ArrayType(LongType))
  val Longs: InputType = ArrayType(LongType)
  val Strings: InputType = ArrayType(StringType)
  val Integral: InputType = Bridge.IntegralType
}
