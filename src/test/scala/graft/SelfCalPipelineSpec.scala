package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.MsDataset
import graft.pipelines.SelfCalPipeline

/** End-to-end self-calibration cycle: MS → predict → phase-screen corrupt
  * → gauss_newton solve → correct → residual → CORRECTED_DATA sink.
  * The proofs are gauge-invariant (the CalibrateSpec discipline): the
  * corrected data must reproduce the model (residual collapse), and the
  * solved screen must match the injected one up to the per-interval
  * phase gauge. */
class SelfCalPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val NAnt = 7
  private val NChan = 2
  private val NRow = 980 // 20 unique times x 49 baseline slots

  private lazy val msDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("selfcal_ms").toString
    MsDataset.writeSynthetic(spark, dir, NRow, NChan, NAnt,
      math.Pi / 4, 0.0)
    dir
  }

  private lazy val skyModel: String = {
    val f = java.nio.file.Files.createTempFile("selfcal_sky", ".txt")
    java.nio.file.Files.writeString(f,
      """Format = Name, Type, Ra, Dec, I, SpectralIndex, LogarithmicSI, ReferenceFrequency='1.4e9', MajorAxis, MinorAxis, Orientation
        |a,POINT,03:00:00,00.00.00,1.0,[],false,,,,
        |b,POINT,03:00:40,00.15.00,0.5,[],false,,,,
        |c,POINT,02:59:20,-00.12.00,0.25,[],false,,,,
        |""".stripMargin)
    f.toString
  }

  test("corrected residual collapses and the screen is recovered up to gauge") {
    val r = SelfCalPipeline.cycle(spark, MsDataset.read(spark, msDir), skyModel,
      solint = 4, maxIter = 30, tol = 1e-14)

    // residual power relative to the observed power: the solve is on
    // noiseless data, so the corrected data must reproduce the model
    val pow = r.corrected.agg(
      sum(col("res_re") * col("res_re") + col("res_im") * col("res_im"))
        .as("res"),
      sum(col("c_re") * col("c_re") + col("c_im") * col("c_im")).as("tot"))
      .head()
    val rel = pow.getDouble(0) / pow.getDouble(1)
    assert(rel < 1e-12, s"relative residual power $rel")

    // gauge check: solved(s, a) - solved(s, 0) == true(s, a) - true(s, 0)
    // (injected phases are all within [0, 0.5] so no 2-pi wrap)
    val solved = r.gains.collect()
      .map(g => (g.getLong(0), g.getLong(1)) -> g.getDouble(2)).toMap
    def truPh(s: Long, a: Long): Double = (s * 7 + a * 3) % 11 * 5e-2
    val worst = solved.keys.map { case (s, a) =>
      math.abs((solved((s, a)) - solved((s, 0L)))
        - (truPh(s, a) - truPh(s, 0L)))
    }.max
    assert(worst < 1e-6, s"worst gauge-fixed phase error $worst")

    // grid cardinality: 20 utimes / solint 4 = 5 intervals x 7 antennas
    assert(r.gains.count() === 5L * NAnt)
  }

  test("run() writes and reads back the CORRECTED_DATA member table") {
    val back = SelfCalPipeline.run(spark, msDir, skyModel,
      solint = 4, maxIter = 30, tol = 1e-14)
    assert(back.count() === NRow.toLong * NChan)
    assert(back.columns.sorted ===
      Array("c_im", "c_re", "chan", "res_im", "res_re", "row_id"))
    // member-table read-back restores the long chan contract
    assert(back.schema("chan").dataType ===
      org.apache.spark.sql.types.LongType)
    // sink round-trip preserves the residual collapse
    val res = back.agg(max(abs(col("res_re"))), max(abs(col("res_im"))))
      .head()
    assert(math.max(res.getDouble(0), res.getDouble(1)) < 1e-6)
    // keyed uniquely by (row_id, chan)
    assert(back.select("row_id", "chan").distinct().count()
      === NRow.toLong * NChan)
  }
}
