package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Parity spec for the native [[graft.plans.BandKeys]] expression: its
  * output must be BIT-IDENTICAL to the higher-order-function chain it
  * replaced (the `transform(sequence(...), j => concat(j, ":",
  * concat_ws(",", transform(slice(sig, j·rows+1, rows), cast))))` form in
  * [[graft.operators.Dedup.bandKeys]]) — including NULL signatures and
  * signatures shorter than `bands·rows` (slice past the end). */
class BandKeysSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The original HOF chain, kept inline as the parity reference. */
  private def hofBandArr(sig: org.apache.spark.sql.Column,
                         bands: Int, rows: Int): org.apache.spark.sql.Column =
    when(sig.isNotNull,
      transform(sequence(lit(0), lit(bands - 1)),
        j => concat(j.cast("string"), lit(":"),
          concat_ws(",", transform(slice(sig, j * rows + 1, lit(rows)),
            x => x.cast("string"))))))

  test("native band_keys ≡ the HOF chain, incl. null and short signatures") {
    val sigGen: Gen[Seq[Long]] = for {
      k <- Gen.choose(0, 24)
      vs <- Gen.listOfN(k, Gen.choose(Long.MinValue, Long.MaxValue))
    } yield vs
    val sampled = Gen.listOfN(200, Gen.option(sigGen))
      .pureApply(Gen.Parameters.default, Seed(7L))
    val fixed: Seq[Option[Seq[Long]]] = Seq(
      None, Some(Seq.empty), Some(Seq(1L)), Some((1L to 8L)),
      Some((1L to 7L)), Some(Seq(Long.MinValue, -1L, 0L, Long.MaxValue)))
    val df = (fixed ++ sampled).toDF("sig")
    for ((bands, rows) <- Seq((2, 4), (4, 2), (1, 1), (3, 5))) {
      val got = df.select(
          call_function("band_keys", $"sig", lit(bands), lit(rows)).as("native"),
          hofBandArr($"sig", bands, rows).as("hof"))
        .collect()
      got.foreach { r =>
        assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
        if (!r.isNullAt(0))
          assert(r.getSeq[String](0) == r.getSeq[String](1),
            s"bands=$bands rows=$rows: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}")
      }
    }
  }

  test("interpreted eval matches codegen for band_keys") {
    import graft.plans.BandKeys
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val sig = Literal.create(new GenericArrayData(Array[Any](10L, -2L, 3L, 4L)),
      ArrayType(LongType, containsNull = false))
    val out = BandKeys(sig, Literal(2), Literal(2)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val strs = (0 until out.numElements()).map(out.getUTF8String(_).toString)
    assert(strs == Seq("0:10,-2", "1:3,4"))
  }
}
