package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.io.{BeamFixture, Fits}
import graft.rime.BeamCubeTerm

/** BeamCubeTerm computes its staging blends on the DRIVER (coordsLocal +
  * blendLocal). This spec pins the driver mirror — and the columns the
  * term's one staging hook actually stages — BIT-identical to the Column
  * pipeline (stageCoords + gatherBlend) over the live fixture cubes, for
  * every E-matrix element (YX has negative re and im, YY the cos·0.25
  * offset) and including the clamp/extrapolation branches — the
  * guarantee the x12/x14/x17/p01 hash gates rest on. */
class BeamBlendLocalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  test("driver blend mirror is bit-identical to the Column pipeline") {
    import spark.implicits._
    val quad = BeamFixture.ensureQuad(BeamFixture.defaultQuadSchema)
    assert(quad.map(_._1) === Seq("xx", "xy", "yx", "yy"))
    val reC0 = Fits.beamCube(quad.head._2._1)
    val fmin = reC0.freqs.head; val fmax = reC0.freqs.last
    val lmZoom = 2048.0
    // points across the footprint: interior, edges, below/above the
    // freq grid (the fscale extrapolation), exact plane hits
    val pts = for {
      i <- 0 until 9; j <- 0 until 5
    } yield (
      (i - 4) * 3.4e-6 * (j + 1),
      (4 - i) * 2.1e-6 * (j + 1),
      Seq(fmin * 0.8, fmin, (fmin + fmax) / 2, fmax, fmax * 1.3)(j))
    val dim = pts.zipWithIndex.map { case ((l, m, f), id) =>
      (id.toLong, id.toLong % 4, l, m, f)
    }.toDF("src_id", "chan", "l", "m", "freq")
    def byId(df: org.apache.spark.sql.DataFrame, re: String, im: String)
        : Map[Long, (Double, Double)] =
      df.select(col("src_id"), col(re), col(im)).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // the term's one staging hook over the same 45-point dimension frame
    val staged = BeamCubeTerm(BeamFixture.defaultQuadSchema, lmZoom,
      BeamCubeTerm.FullJones).stage(dim, "p", () => dim)
    for ((corr, (reP, imP)) <- quad) {
      val hdu = Fits.read(reP)
      val reC = Fits.beamCube(reP); val imC = Fits.beamCube(imP)
      val viaColumns = byId(BeamCubeTerm.gatherBlend(
        BeamCubeTerm.stageCoords(dim, reP, lmZoom), reP, imP, "bce"),
        "bce_re", "bce_im")
      val viaStage = byId(staged, s"bce_${corr}_re", s"bce_${corr}_im")
      pts.zipWithIndex.foreach { case ((l, m, f), id) =>
        val co = BeamCubeTerm.coordsLocal(l, m, f, hdu, reC, lmZoom)
        val (re, im) = BeamCubeTerm.blendLocal(co, reC, imC)
        val (cre, cim) = viaColumns(id.toLong)
        val (sre, sim) = viaStage(id.toLong)
        assert(bits(re) === bits(cre), s"$corr re mismatch at ($l, $m, $f): $re vs $cre")
        assert(bits(im) === bits(cim), s"$corr im mismatch at ($l, $m, $f): $im vs $cim")
        assert(bits(sre) === bits(cre), s"$corr staged re mismatch at ($l, $m, $f): $sre vs $cre")
        assert(bits(sim) === bits(cim), s"$corr staged im mismatch at ($l, $m, $f): $sim vs $cim")
      }
    }
    // the diagonal element set stages the same XX blend from its own pair
    val diag = byId(BeamCubeTerm(BeamFixture.defaultSchema, lmZoom)
      .stage(dim, "p", () => dim), "bce_xx_re", "bce_xx_im")
    val full = byId(staged, "bce_xx_re", "bce_xx_im")
    assert(diag.keySet === full.keySet && diag.keySet.size === pts.size)
    diag.foreach { case (id, (re, im)) =>
      assert(bits(re) === bits(full(id)._1) && bits(im) === bits(full(id)._2))
    }
  }
}
