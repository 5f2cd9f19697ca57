package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistryBase, TypeCheckResult}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{ArrayType, DataType}

/** The Catalyst protocol of the native kernels, written once.
  *
  * A kernel is a case class whose constructor arguments are its SQL
  * arguments, in order: first one or two ROW INPUTS, then the LITERAL
  * PARAMETERS (which must be foldable). It declares
  *  - its [[signature]] (type and foldability check),
  *  - its result type (`dataType`),
  *  - its null contract: `nullable` (the default) means null in → null
  *    out, so `compute` only sees non-null inputs and may return null for
  *    a NULL result; a kernel that overrides `nullable` to false gets null
  *    inputs passed to `compute` and must never return null,
  *  - [[prepare]], which resolves the literal parameters once per
  *    instance into the object `compute` reads as `prepared`,
  *  - `compute` over its row inputs (the one- or two-argument form).
  *
  * `eval` and the generated code both run `compute`: the generated code is
  * one call on this expression object, so the per-row algorithm has one
  * copy. Values are in Catalyst's internal form (`UTF8String`,
  * `ArrayData`, `InternalRow`, boxed primitives). The SQL name
  * (`prettyName`) is the one the kernel is registered under in
  * [[GraftFunctions]]. */
abstract class Kernel[P] extends Expression {

  /** One [[Kernel.Arg]] per constructor argument, row inputs first. */
  protected def signature: Seq[Kernel.Arg]

  /** Resolves the literal parameters' values (in signature order, never
    * null) into what `compute` reads. Runs once per instance; a failing
    * `require` fails analysis with its message. */
  protected def prepare(params: IndexedSeq[Any]): P

  /** The per-row result of a kernel with one row input. */
  def compute(input: Any): Any =
    throw new UnsupportedOperationException(s"$prettyName takes two row inputs")

  /** The per-row result of a kernel with two row inputs. */
  def compute(left: Any, right: Any): Any =
    throw new UnsupportedOperationException(s"$prettyName takes one row input")

  @transient final override lazy val children: Seq[Expression] =
    productIterator.map(_.asInstanceOf[Expression]).toIndexedSeq

  @transient private lazy val inputs: Int = signature.count(!_.literal)

  @transient protected final lazy val prepared: P = {
    val params = children.drop(inputs).map(_.eval()).toIndexedSeq
    require(!params.contains(null), s"$prettyName: literal parameters must not be null")
    prepare(params)
  }

  override def prettyName: String = GraftFunctions.nameOf(this)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = nullable
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val sig = signature
    if (sig.length != children.length ||
        sig.zip(children).exists { case (a, c) => !a.accepts(c) })
      TypeCheckResult.TypeCheckFailure(s"$prettyName: expects (${sig.mkString(", ")}), got " +
        children.map(_.dataType.simpleString).mkString("(", ", ", ")"))
    else try { prepared; TypeCheckResult.TypeCheckSuccess } catch {
      case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage)
    }
  }

  override def eval(row: InternalRow): Any = {
    val a = children(0).eval(row)
    if (a == null && nullable) null
    else if (inputs == 1) compute(a)
    else {
      val b = children(1).eval(row)
      if (b == null && nullable) null else compute(a, b)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = children.take(inputs).map(_.genCode(ctx))
    val self = ctx.addReferenceObj(prettyName, this, getClass.getName)
    val args = in.zip(children).map { case (g, c) =>
      val v = if (CodeGenerator.isPrimitiveType(c.dataType))
        s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${g.value})" else s"${g.value}"
      if (nullable) v else s"(${g.isNull} ? null : $v)"
    }
    val guard = if (nullable) in.map(g => s"!${g.isNull}").mkString(" && ") else "true"
    val boxed = CodeGenerator.boxedType(dataType)
    val javaType = CodeGenerator.javaType(dataType)
    val r = ctx.freshName("r")
    val value = if (CodeGenerator.isPrimitiveType(dataType)) s"(($boxed) $r).${javaType}Value()"
      else s"($boxed) $r"
    ev.copy(code = code"""
      ${in.map(_.code).reduce(_ + _)}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if ($guard) {
        Object $r = $self.compute(${args.mkString(", ")});
        if ($r != null) {
          ${ev.isNull} = false;
          ${ev.value} = $value;
        }
      }""")
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    makeCopy(newChildren.toArray)
}

object Kernel {

  /** One SQL argument: its type (array element nullability is not
    * checked) and whether it must be a foldable literal parameter. */
  final case class Arg(dataType: DataType, literal: Boolean) {
    def accepts(e: Expression): Boolean = sameType(dataType, e.dataType) && (!literal || e.foldable)
    override def toString: String = (if (literal) "foldable " else "") + dataType.simpleString
  }

  def input(dt: DataType): Arg = Arg(dt, literal = false)
  def literal(dt: DataType): Arg = Arg(dt, literal = true)

  /** An int literal parameter that must be > 0; `what` names it in the
    * analysis error. */
  def positive(what: String, param: Any): Int = {
    val n = param.asInstanceOf[Int]
    require(n > 0, s"$what must be > 0")
    n
  }

  private def sameType(want: DataType, got: DataType): Boolean = (want, got) match {
    case (ArrayType(w, _), ArrayType(g, _)) => sameType(w, g)
    case _ => want == got
  }
}

/** The native kernels by SQL name. Each builder checks the argument count
  * against the kernel's constructor and fails analysis with an error that
  * names the function and the expected count. */
object GraftFunctions {
  private val kernels: Seq[(String, Class[_ <: Kernel[_]])] = Seq(
    "array_dot" -> classOf[ArrayDotProduct],
    "lsh_band_keys" -> classOf[LshBandKeys],
    "minhash_sig" -> classOf[MinHashSig],
    "shingle_set" -> classOf[ShingleSet],
    "band_keys" -> classOf[BandKeys],
    "bpe_encode" -> classOf[BpeEncode],
    "argmin_dist2" -> classOf[ArgminDist2],
    "top2_dist2" -> classOf[Top2Dist2],
    "hilbert_xy" -> classOf[HilbertXy],
    "deflate_ratio" -> classOf[DeflateRatio],
    "int8_quantize" -> classOf[Int8Quantize],
    "ac_matches" -> classOf[AcMatches],
    "unigram_encode" -> classOf[UnigramEncode],
    "char_gram_buckets" -> classOf[CharGramBuckets],
    "rouge_clip" -> classOf[RougeClip],
    "gram_stats" -> classOf[GramStats])

  private val names: Map[Class[_], String] = kernels.map(_.swap).toMap

  private[plans] def nameOf(k: Kernel[_]): String = names(k.getClass)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    kernels.map { case (name, cls) =>
      val (info, builder) = FunctionRegistryBase.build[Expression](name, None)(ClassTag(cls))
      (FunctionIdentifier(name), info, builder)
    }

  /** Idempotent per-session registration (for library callers that don't
    * control session construction). */
  def register(spark: SparkSession): Unit = functions.foreach {
    case (ident, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(ident))
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
  }
}

/** `SparkSessionExtensions` hook: sessions built with
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`) get every kernel of
  * [[GraftFunctions]] as a SQL function, and [[SmallSortOnePartition]] as
  * an optimizer rule. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => SmallSortOnePartition)
  }
}
