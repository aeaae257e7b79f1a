package graft.plans

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** One per-row native kernel call: `graft.plans.<kernel>(children…,
  * constants…)`, a static method of a `*Kernels` object. A kernel is
  * declared by that method plus one `NativeCall` line naming it; the
  * call is NULL when any child is NULL.
  *
  *  - `name` is the plan and SQL name (`prettyName`).
  *  - Codegen emits the direct static call. Int, Long, Double and
  *    Boolean constants are inlined as Java literals; any other
  *    constant (an array, a set, a sketch) is a reference object typed
  *    as the kernel's parameter. Each constant must have its
  *    parameter's type: write mixed numbers as `Seq[Any](n, p)`, since
  *    Scala widens `Seq(2, 7L)` to two Longs.
  *  - Nullability follows the kernel's JVM return type: a primitive
  *    return is never NULL; a reference return is NULL when the kernel
  *    returns `null`, and a boxed return under a primitive `dataType`
  *    is unboxed.
  *  - Children are implicitly cast to `inputTypes`.
  *  - Constants compare by value (arrays deeply), so two calls with
  *    equal constants are `semanticEquals`.
  *
  * Interpreted `eval` invokes the method, resolved once per instance.
  */
case class NativeCall(name: String, kernel: String,
    children: Seq[Expression], constants: Seq[Any], dataType: DataType,
    inputTypes: Seq[DataType])
    extends Expression with ImplicitCastInputTypes {

  require(children.size == inputTypes.size,
    s"$name: ${children.size} children, ${inputTypes.size} input types")

  @transient private lazy val method: Method = {
    val dot = kernel.lastIndexOf('.')
    val owner = Class.forName(s"graft.plans.${kernel.take(dot)}", true,
      getClass.getClassLoader)
    val fn = kernel.drop(dot + 1)
    val arity = children.size + constants.size
    owner.getMethods.filter(m => m.getName == fn &&
        Modifier.isStatic(m.getModifiers) &&
        m.getParameterCount == arity) match {
      case Array(m) => m
      case ms => throw new IllegalArgumentException(
        s"$name: ${ms.length} static methods $kernel of arity $arity")
    }
  }

  override def prettyName: String = name
  override def nullable: Boolean =
    !method.getReturnType.isPrimitive || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def flatArguments: Iterator[Any] =
    children.iterator ++ constants.iterator

  override def equals(o: Any): Boolean = o match {
    case c: NativeCall => name == c.name && kernel == c.kernel &&
      children == c.children && dataType == c.dataType &&
      inputTypes == c.inputTypes &&
      java.util.Arrays.deepEquals(boxed, c.boxed)
    case _ => false
  }
  override def hashCode(): Int = hash
  private lazy val hash = java.util.Objects.hash(name, kernel, children,
    Int.box(java.util.Arrays.deepHashCode(boxed)))
  private def boxed: Array[AnyRef] =
    constants.map(_.asInstanceOf[AnyRef]).toArray

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input))
    if (args.contains(null)) null
    else try
      method.invoke(null, (args ++ constants).map(_.asInstanceOf[AnyRef]): _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val params = method.getParameterTypes.drop(children.size)
    val consts = constants.zip(params).map {
      case (c @ (_: Int | _: Long | _: Double | _: Boolean), _) =>
        Literal(c).genCode(ctx).value.toString
      case (c, t) => ctx.addReferenceObj("graftConst", c, t.getCanonicalName)
    }
    val call = s"graft.plans.$kernel(" +
      (args.map(_.value.toString) ++ consts).mkString(", ") + ")"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable)
      return ev.copy(isNull = FalseLiteral, code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""")
    val result =
      if (method.getReturnType.isPrimitive)
        s"${ev.isNull} = false;\n${ev.value} = $call;"
      else {
        val r = ctx.freshName("ret")
        val cast =
          if (CodeGenerator.isPrimitiveType(dataType))
            s"((${CodeGenerator.boxedType(dataType)}) $r).${javaType}Value()"
          else s"($javaType) $r"
        s"""Object $r = $call;
           |if ($r != null) {
           |  ${ev.isNull} = false;
           |  ${ev.value} = $cast;
           |}""".stripMargin
      }
    // like nullSafeCodeGen: a child is evaluated only while the ones
    // before it are non-NULL
    val body = children.zip(args).foldRight(result) { case ((c, a), inner) =>
      if (c.nullable) s"${a.code}\nif (!${a.isNull}) {\n$inner\n}"
      else s"${a.code}\n$inner"
    }
    ev.copy(code = code"""
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      $body""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall =
    copy(children = newChildren)
}

object NativeCall {

  /** The [[NativeCall]] over `args`, as a Column. */
  def column(name: String, kernel: String, args: Seq[Column],
      constants: Seq[Any], dataType: DataType,
      inputTypes: Seq[DataType]): Column =
    GraftSqlBridge.column(NativeCall(name, kernel,
      args.map(GraftSqlBridge.expression), constants, dataType, inputTypes))
}
