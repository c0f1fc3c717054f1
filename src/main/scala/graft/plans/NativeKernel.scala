package graft.plans

import scala.language.dynamics
import scala.reflect.ClassTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.{Invoke, StaticInvoke}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, ObjectType}

/**
 * One row-local native kernel bound into Catalyst: the call
 * `kernel.method(inputs…, args…)` of a static method on a kernel object
 * ([[ShingleHash]], [[ChunkKernel]], [[VectorKernels]], [[BpeMatcher]]).
 * Every such kernel binds through this one node; none spells its call a
 * second time as generated Java text.
 *
 * Analysis sees the node under the kernel's own `name`, with a strict
 * input check: each input must have its declared type up to struct field
 * names and nullability, or analysis fails. Nothing is cast. The
 * optimizer then swaps in the [[replacement]], a Spark `StaticInvoke`,
 * from which Catalyst derives both the interpreted path (a reflective
 * call) and the generated code (a direct static call). A bare
 * `StaticInvoke` would not do on its own: it implicitly casts its inputs
 * (an `int` silently becomes a `bigint`), and the analyzed plan would
 * name every kernel `staticinvoke`.
 *
 * `args` are the per-call constants: an `Int`, `Long`, `Double` or
 * `Boolean` becomes a literal, a [[KernelConst]] an object argument.
 * Null in any input gives null without calling the kernel; `returnsNull`
 * declares a kernel whose own result can be null.
 */
case class NativeKernel(name: String, kernel: Class[_], method: String,
    inputs: Seq[Expression], inputTypes: Seq[DataType], args: Seq[Any],
    override val dataType: DataType, returnsNull: Boolean)
    extends RuntimeReplaceable {
  override def children: Seq[Expression] = inputs
  override def prettyName: String = name
  override protected def stringArgs: Iterator[Any] = (inputs ++ args).iterator

  /** Also resolves the kernel method, so a misspelled method or a
    * constant of the wrong type fails analysis, not the running query. */
  override def checkInputDataTypes(): TypeCheckResult =
    if (inputs.map(_.dataType).corresponds(inputTypes)(
        DataType.equalsStructurally(_, _, ignoreNullability = true))) {
      replacement.asInstanceOf[StaticInvoke].method
      TypeCheckResult.TypeCheckSuccess
    } else TypeCheckResult.TypeCheckFailure(
      s"$name requires (${inputTypes.map(_.sql).mkString(", ")}), " +
        s"got (${inputs.map(_.dataType.sql).mkString(", ")})")

  override lazy val replacement: Expression = StaticInvoke(kernel, dataType,
    method, inputs ++ args.map(NativeKernel.constant), returnNullable = returnsNull)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeKernel = copy(inputs = newChildren)
}

object NativeKernel {
  /** The kernels of one kernel object, called by their own names:
    * `NativeKernel.of(ShingleHash).hashes(lower(text) -> StringType, n,
    * dedup)` is `ShingleHash.hashes(lower(text), n, dedup)` as a
    * [[Call]]. Each `(Column, DataType)` argument is an input with the
    * type it must have; every later argument is a constant. */
  def of(kernel: AnyRef): Kernels = new Kernels(kernel.getClass)

  final class Kernels private[NativeKernel] (kernel: Class[_]) extends Dynamic {
    def applyDynamic(method: String)(args: Any*): Call = {
      val (inputs, consts) = args.span(_.isInstanceOf[(_, _)])
      Call(kernel, method, inputs.map { case (c: Column, t: DataType) => (c, t) },
        consts)
    }
  }

  /** A kernel call waiting for its plan name and result type. */
  final case class Call(kernel: Class[_], method: String,
      inputs: Seq[(Column, DataType)], consts: Seq[Any]) {
    def as(name: String, dataType: DataType, returnsNull: Boolean = false): Column =
      Bridge.column(NativeKernel(name, kernel, method,
        inputs.map(i => Bridge.expression(i._1)), inputs.map(_._2), consts,
        dataType, returnsNull))
  }

  private def constant(a: Any): Expression = a match {
    case c: KernelConst[_] => Invoke(Literal(c, ObjectType(classOf[KernelConst[_]])),
      "value", ObjectType(c.cls), returnNullable = false)
    case v => Literal(v)
  }
}

/**
 * An object argument of a native kernel — a stop list, compiled
 * patterns, a centroid table, a BPE matcher, a salt — as it rides the
 * plan, inside a literal.
 *
 * Equality and hash are over `key`, the builder inputs the value is made
 * from, so two builder calls with equal parameters give equal
 * expressions and subexpression elimination and exchange reuse still
 * match them. (A literal holding the array itself compares by reference.)
 * `toString` is `name#<hash of key>`, stable from run to run, where an
 * array prints as its identity hash. The value is built on first use,
 * once per deserialized copy, and never serialized.
 */
final class KernelConst[T <: AnyRef](val name: String, val key: Any,
    val cls: Class[T], build: () => T) extends Serializable {
  @transient lazy val value: T = build()

  override def equals(other: Any): Boolean = other match {
    case c: KernelConst[_] => name == c.name && key == c.key
    case _ => false
  }
  override def hashCode: Int = (name, key).##
  override def toString: String = f"$name#$hashCode%08x"
}

object KernelConst {
  def apply[T <: AnyRef](name: String, key: Any)(build: => T)(
      implicit t: ClassTag[T]): KernelConst[T] =
    new KernelConst(name, key, t.runtimeClass.asInstanceOf[Class[T]], () => build)
}
