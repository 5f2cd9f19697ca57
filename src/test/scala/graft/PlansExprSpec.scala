package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Interpreted-eval coverage for the native kernels: the gate queries
  * exercise the CODEGEN path; a whole-stage fallback (e.g. a >64KB
  * generated method) silently switches to eval(), so the two paths must
  * be pinned equal — for every registered kernel, by the parity table. */
class PlansExprSpec extends AnyFunSuite {

  test("ArgminDist2.eval: nearest centroid, ties to smallest id, ragged null") {
    val centroids = new GenericArrayData(Array[Long](0L, 0L, 10L, 10L, 3L, 4L))
    def ev(v: Array[Long]) = graft.plans.ArgminDist2(
      Literal(new GenericArrayData(v), ArrayType(LongType)),
      Literal(centroids, ArrayType(LongType)), Literal(3)).eval(InternalRow.empty)
    val r = ev(Array(1L, 1L)).asInstanceOf[InternalRow]
    assert(r.getInt(0) == 0 && r.getLong(1) == 2L)
    val r2 = ev(Array(4L, 5L)).asInstanceOf[InternalRow]
    assert(r2.getInt(0) == 2 && r2.getLong(1) == 2L)
    // equidistant from c0 (5,5)... pick smallest index on exact tie
    val tie = graft.plans.ArgminDist2(
      Literal(new GenericArrayData(Array(5L, 5L)), ArrayType(LongType)),
      Literal(new GenericArrayData(Array[Long](0L, 0L, 10L, 10L)), ArrayType(LongType)),
      Literal(2)).eval(InternalRow.empty).asInstanceOf[InternalRow]
    assert(tie.getInt(0) == 0)
    assert(ev(Array(1L)) == null) // ragged
  }

  test("Int8Quantize.eval matches the documented arithmetic") {
    val r = graft.plans.Int8Quantize(
      Literal(new GenericArrayData(Array(1.0, -0.5, 0.0)), ArrayType(DoubleType)))
      .eval(InternalRow.empty).asInstanceOf[InternalRow]
    val scale = r.getDouble(0)
    val codes = r.getArray(1).asInstanceOf[ArrayData].toLongArray()
    assert(scale == 1.0 / 127.0)
    assert(codes sameElements Array(127L, -63L, 0L)) // trunc(-0.5/scale) = -63
    // zero vector
    val z = graft.plans.Int8Quantize(
      Literal(new GenericArrayData(Array(0.0, 0.0)), ArrayType(DoubleType)))
      .eval(InternalRow.empty).asInstanceOf[InternalRow]
    assert(z.getDouble(0) == 0.0 && z.getArray(1).toLongArray().forall(_ == 0L)
      && z.getDouble(2) == 0.0)
  }

  test("DeflateRatio.eval: repetitive < random, empty null, pure function") {
    def ev(s: String) = graft.plans.DeflateRatio(Literal(UTF8String.fromString(s),
      org.apache.spark.sql.types.StringType)).eval(InternalRow.empty)
    val rep = ev("abab" * 200).asInstanceOf[Double]
    val rnd = new scala.util.Random(3)
    val noise = ev(rnd.alphanumeric.take(800).mkString).asInstanceOf[Double]
    assert(rep < noise)
    assert(ev("") == null)
    assert(ev("xyz" * 100) == ev("xyz" * 100)) // deterministic
  }

  private val builders = graft.plans.GraftFunctions.functions
    .map { case (id, _, b) => id.funcName -> b }.toMap

  private def lit(v: Any, dt: DataType): Expression = Literal.create(v, dt)

  private val longs = ArrayType(LongType)
  private val doubles = ArrayType(DoubleType)
  private val strings = ArrayType(StringType)

  /** One fixture per registered kernel: (row-input types, literal
    * parameters, rows of row-input values). Every fixture has a null row,
    * an empty row and, where the kernel has a length contract, a ragged
    * row. */
  private val fixtures: Seq[(String, Seq[DataType], Seq[Expression], Seq[Seq[Any]])] = Seq(
    ("array_dot", Seq(doubles, doubles), Nil, Seq(Seq(null, Seq(1.0)), Seq(Seq(), Seq()),
      Seq(Seq(1.0, 2.0), Seq(3.0)), Seq(Seq(1.5, -2.0), Seq(2.0, 0.25)),
      Seq(Seq(1.0, 2.0), null))),
    ("lsh_band_keys", Seq(doubles),
      Seq(lit((1 to 12).map(i => if (i % 3 == 0) -i * 0.5 else i * 0.25), doubles),
        lit(2, IntegerType), lit(2, IntegerType)),
      Seq(Seq(null), Seq(Seq()), Seq(Seq(1.0, 2.0)), Seq(Seq(1.0, -1.0, 0.5)),
        Seq(Seq(-3.0, 0.0, 2.0)))),
    ("minhash_sig", Seq(strings), Seq(lit(4, IntegerType)),
      Seq(Seq(null), Seq(Seq()), Seq(Seq(null)), Seq(Seq("a b", null, "b c")), Seq(Seq("x")))),
    ("shingle_set", Seq(StringType), Seq(lit(2, IntegerType)),
      Seq(Seq(null), Seq(""), Seq(" a  b\t"), Seq("a b a b c"), Seq("x"))),
    ("band_keys", Seq(longs), Seq(lit(2, IntegerType), lit(3, IntegerType)),
      Seq(Seq(null), Seq(Seq()), Seq(Seq(1L, 2L)), Seq((1L to 6L)), Seq((1L to 7L)))),
    ("bpe_encode", Seq(strings), Seq(lit(Seq(Seq("a", "b"), Seq("ab", "c")), ArrayType(strings))),
      Seq(Seq(null), Seq(Seq()), Seq(Seq(null, "abc")), Seq(Seq("abcab", "", "cab")), Seq(Seq("x")))),
    ("argmin_dist2", Seq(longs),
      Seq(lit(Seq(0L, 0L, 10L, 10L, 3L, 4L), longs), lit(3, IntegerType)),
      Seq(Seq(null), Seq(Seq()), Seq(Seq(1L)), Seq(Seq(1L, 1L)), Seq(Seq(5L, 5L)),
        Seq(Seq(1L, null)))),
    ("top2_dist2", Seq(longs),
      Seq(lit(Seq(0L, 0L, 10L, 10L, 3L, 4L), longs), lit(3, IntegerType)),
      Seq(Seq(null), Seq(Seq()), Seq(Seq(1L)), Seq(Seq(1L, 1L)), Seq(Seq(5L, 5L)),
        Seq(Seq(1L, null)))),
    ("hilbert_xy", Seq(LongType, LongType), Nil,
      Seq(Seq(null, 1L), Seq(3L, null), Seq(3L, 5L), Seq(65535L, 0L), Seq(-1L, 2L),
        Seq(7L, 70000L), Seq(0L, 0L))),
    ("deflate_ratio", Seq(StringType), Nil,
      Seq(Seq(null), Seq(""), Seq("abab" * 50), Seq("hello world"))),
    ("int8_quantize", Seq(doubles), Nil,
      Seq(Seq(null), Seq(Seq()), Seq(Seq(1.0, -0.5, 0.0)), Seq(Seq(0.0, 0.0)),
        Seq(Seq(1.0, null)))),
    ("ac_matches", Seq(StringType), Seq(lit(Seq("he", "she", "his", "hers"), strings)),
      Seq(Seq(null), Seq(""), Seq("ushers"), Seq("nothing"))),
    ("unigram_encode", Seq(strings),
      Seq(lit(Seq("a", "b", "ab", "abc"), strings), lit(Seq(3L, 3L, 4L, 5L), longs)),
      Seq(Seq(null), Seq(Seq()), Seq(Seq("abcab", null, "")), Seq(Seq("zz")))),
    ("char_gram_buckets", Seq(StringType), Seq(lit(3, IntegerType), lit(16, IntegerType)),
      Seq(Seq(null), Seq(""), Seq("ab"), Seq("hello hello"), Seq("a\u00e4\ud83d\ude00b"))),
    ("rouge_clip", Seq(StringType, StringType), Seq(lit(2, IntegerType)),
      Seq(Seq(null, "a b"), Seq("a b", null), Seq("", ""), Seq("a b a b", "a b c"),
        Seq("x", "x y"))),
    ("gram_stats", Seq(StringType), Seq(lit(2, IntegerType)),
      Seq(Seq(null), Seq(""), Seq("a b a b"), Seq("x y\t"))))

  test("parity table covers every registered kernel") {
    assert(fixtures.map(_._1).sorted == builders.keys.toSeq.sorted)
  }

  for ((name, inTypes, params, rows) <- fixtures) {
    test(s"$name: interpreted eval equals the generated projection") {
      val inputs = inTypes.zipWithIndex.map { case (dt, i) => BoundReference(i, dt, nullable = true) }
      val e = builders(name)(inputs ++ params)
      assert(e.prettyName == name)
      assert(e.checkInputDataTypes().isSuccess, e.checkInputDataTypes())
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      val results = rows.map { vals =>
        val row = InternalRow.fromSeq(vals.map(CatalystTypeConverters.convertToCatalyst))
        val interp = CatalystTypeConverters.convertToScala(e.eval(row), e.dataType)
        val gen = CatalystTypeConverters.convertToScala(
          generated(row).get(0, e.dataType), e.dataType)
        assert(interp == gen, s"$name on $vals")
        interp
      }
      assert(results.exists(_ != null), s"$name: every fixture row evaluated to null")
    }
  }

  test("a wrong argument count names the function and the expected count") {
    val e = intercept[AnalysisException] {
      builders("array_dot")(Seq(lit(Seq(1.0), doubles)))
    }
    assert(e.getMessage.contains("array_dot") && e.getMessage.contains("2"), e.getMessage)
  }

  test("an extra argument is rejected, not dropped") {
    val e = intercept[AnalysisException] {
      builders("deflate_ratio")(Seq(lit("a", StringType), lit("b", StringType)))
    }
    assert(e.getMessage.contains("deflate_ratio") && e.getMessage.contains("1"), e.getMessage)
  }
}
