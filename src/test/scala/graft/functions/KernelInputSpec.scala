package graft.functions

import graft.TestSession
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Kernels refuse inputs they would silently misread: a vector kernel fed
  * an `array<int>` (read through `getFloat`/`getDouble`) fails analysis,
  * and a banding wider than the 64-bit signature fails construction. */
class KernelInputSpec extends AnyFunSuite {

  private lazy val spark = TestSession.spark

  import spark.implicits._

  test("vector kernels reject array<int> at analysis with DATATYPE_MISMATCH") {
    val df = Seq((Seq(1, 2), Seq(1.0f, 2.0f), Seq(1.0, 2.0), Map(1 -> 1.0), Map(1 -> 1)))
      .toDF("ints", "floats", "doubles", "m", "intMap")
    val rejected = Seq(
      "l2_sq_dist(ints, doubles)" -> l2SqDist(col("ints"), col("doubles")),
      "l2_sq_dist(doubles, ints)" -> l2SqDist(col("doubles"), col("ints")),
      "vec_sub(ints, doubles)" -> vecSub(col("ints"), col("doubles")),
      "vec_sub(floats, ints)" -> vecSub(col("floats"), col("ints")),
      "vec_div(ints, 2.0)" -> vecDiv(col("ints"), lit(2.0)),
      "vec_div(doubles, 2)" -> vecDiv(col("doubles"), lit(2)),
      "vec_scale(ints)" -> vecScale(col("ints"), 2.0f),
      "dense_from_map(ints)" -> denseFromMap(col("ints"), 4),
      "dense_from_map(map<int,int>)" -> denseFromMap(col("intMap"), 4))
    rejected.foreach { case (name, c) =>
      val e = intercept[AnalysisException](df.select(c))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$name: ${e.getCondition}")
      assert(e.getMessage.contains("requires the"), s"$name: ${e.getMessage}")
    }
    // each vector side is checked on its own: float against double is a
    // shipped call (the IVF residual of a float embedding)
    val ok = df.select(
      vecSub(col("floats"), col("doubles")), l2SqDist(col("doubles"), col("floats")),
      vecDiv(col("floats"), lit(2.0)), vecScale(col("doubles"), 2.0f),
      denseFromMap(col("m"), 2)).head()
    assert(ok.getSeq[Double](0) == Seq(0.0, 0.0) && ok.getDouble(1) == 0.0)
  }

  test("band_bits rejects more than 64 signature bits; shipped widths build") {
    intercept[IllegalArgumentException](bandBits(col("sig"), 5, 13))
    Seq((8, 4), (4, 16), (5, 12)).foreach { case (bands, width) =>
      bandBits(col("sig"), bands, width)
    }
  }
}
