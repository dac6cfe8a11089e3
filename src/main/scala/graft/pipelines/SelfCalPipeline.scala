package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CxCol
import graft.io.MsDataset
import graft.operators.Calibrate

/** The phase-only SELF-CALIBRATION cycle end to end — the reference's
  * calibration workflow wired exactly as its example scripts run it
  * (calibration/utils/examples/apply_phase_screen_to_ms.py:96-170 applies
  * a per-(time, antenna) phase screen to a predicted model and writes the
  * corrupted DATA; calibration/phase_only/tests/test_phase_only.py:168-230
  * then solves it back with `gauss_newton` and asserts the corrected
  * residual collapses):
  *
  *   MS dataset → WSClean predict (MODEL_DATA, the p01 chain)
  *   → corrupt with a per-(solution-interval, antenna) phase screen
  *     (corrupt_vis, calibration/utils/corrupt_vis.py:14-49)
  *   → `gauss_newton` phase-only solve on solution intervals
  *     (phase_only.py:243-308; solint = the example's utimes_per_chunk)
  *   → correct_vis with the solved gains (correct_vis.py:12-58 — the
  *     diagonal inverse is the conjugate for unit-modulus phase gains)
  *   → residual against the model → CORRECTED_DATA written back into
  *     the dataset as a member table → read back.
  *
  * Scale shape: MAIN is the only data-sized relation. The solution-
  * interval ranking runs on the DISTINCT epochs (dimension-sized, the
  * p01 idiom) and is divided by `solint`, so the gain grid is
  * (n_utime / solint) × n_ant — broadcast-class even when MAIN is 100 TB
  * (the whole point of solution intervals). Each solver iteration is one
  * scan of the cached vis frame + a map-side-combined scatter-add to the
  * grid; the correct/residual stage is one more broadcast gather. The
  * single data-sized shuffles are the predict source-sum and the
  * model-to-geometry join on row_id.
  */
object SelfCalPipeline {

  /** Deterministic "true" phase screen injected by the corrupt stage —
    * per (solution interval, antenna), the g06 fixture formula (a rational
    * argument, so both corrupt and verify compute identical doubles). */
  private[graft] def truePhase(sidx: Column, ant: Column): Column =
    (sidx * 7 + ant * 3) % 11 * 5e-2

  /** Corrected-data member table name (MSv2's CORRECTED_DATA column). */
  private val OutTable = "CORRECTED_DATA"

  /** `vis` is the cached corrupted-vis frame both the solve and the
    * correct stage read — the caller that materializes `corrected`
    * unpersists it (run() does; specs leave it to session cleanup). */
  final case class Result(gains: DataFrame, corrected: DataFrame,
                          vis: DataFrame)

  /** Full cycle; returns the read-back CORRECTED_DATA member table
    * (row_id, chan, c_re, c_im, res_re, res_im). `solint` is the number
    * of unique times per solution interval (the reference example's
    * utimes_per_chunk, apply_phase_screen_to_ms.py:47-52); the default
    * tol/maxIter are the reference solver's own defaults
    * (phase_only.py:253-254 — tol=1e-4, maxiter=100; on noiseless data
    * the 0.5-step iteration converges at ~13 rounds). */
  def run(spark: SparkSession, msDir: String, skyModelPath: String,
          solint: Int = 64, maxIter: Int = 100, tol: Double = 1e-4,
          mainRows: Option[Long] = None)
      : DataFrame = {
    val ms = MsDataset.read(spark, msDir)
    val r = cycle(spark, ms, skyModelPath, solint, maxIter, tol, mainRows)
    // rowHint = MAIN rows × nchan when the caller supplied the count
    // (the chans count is a dimension-table job) — lets the sink skip
    // the per-chan dynamic-partition layout below its threshold
    // (round 14, MsDataset.writeMember)
    val rowHint = mainRows.map(_ * MsDataset.chans(ms).count())
    MsDataset.writeMember(r.corrected, msDir, OutTable, rowHint)
    r.vis.unpersist(blocking = false)
    MsDataset.readMember(spark, msDir, OutTable)
  }

  /** Stages 1-3 as ONE zero-shuffle projection of MAIN: geometry +
    * solution-interval index (broadcast epoch rank), FUSED model predict
    * (rime_source_sum — the x04 face; no aggregation exchange, no model
    * join back by row_id), and the phase-screen corruption, all inside
    * the same whole-stage-codegen span. The first p04 4-JVM 100× run used
    * the groupBy predict + a row_id SMJ here and spilled 3.8 GB + 1.2 GB
    * in 4 GB executors — this shape cannot spill (nothing data-sized is
    * ever sorted or hashed). */
  private def corruptedVis(spark: SparkSession, ms: MsDataset.Ms,
                                  skyModelPath: String, solint: Int,
                                  mainRows: Option[Long] = None)
      : DataFrame = {
    require(solint > 0, s"solint must be positive, got $solint")
    val (ra0, dec0) = MsDataset.phaseCentre(spark, ms)

    // solution-interval index from the DISTINCT epochs — distributed
    // ranking (MsDataset.rankTimes), then `div` keeps it a long
    val times = MsDataset.rankTimes(ms.main)
      .withColumnRenamed("time_index", "ti")
      .select(col("TIME"), expr(s"ti div $solint").as("time_index"))
    // t44 class: MAIN's integer columns compress so hard that the scan
    // coalesces to a handful of splits (85 MB on disk for 10M rows at the
    // 100× replica ⇒ ~3 tasks), and EVERYTHING downstream — the fused
    // trig, the cached frame, all solver iterations, the sink — would
    // inherit that width. One explicit shuffle of the narrow geometry to
    // a DATA-SCALED width (Env.scaledWidth — the p01 lesson: a fixed
    // defaultParallelism still leaves task state growing with the
    // replica) buys full-width execution for the whole cycle (measured:
    // the 4 GB-executor sink sort stops spilling, iterations
    // parallelize).
    // MAIN's count is metadata-cheap on parquet but still a job — `run`
    // threads through the count its caller already took (PipelineQ's
    // ensureMs) instead of re-counting
    val width = graft.core.Env.scaledWidth(spark,
      mainRows.getOrElse(ms.main.count()), 32768L)
    val rows = ms.main.join(broadcast(times), "TIME")
      .select(col("row_id"),
        element_at(col("UVW"), 1).as("u"),
        element_at(col("UVW"), 2).as("v"),
        element_at(col("UVW"), 3).as("w"),
        col("time_index"),
        col("ANTENNA1").cast("long").as("ant1"),
        col("ANTENNA2").cast("long").as("ant2"))
      .repartition(width, col("row_id"))

    // fused predict (m) + corrupt: v = gp · m · gq* with the injected
    // screen (corrupt_vis.py:14-49 in DIAG_DIAG mode); dyadic weights
    val (vre, vim) = PredictPipeline.fusedModelCols(
      spark, skyModelPath, ra0, dec0)
    val base = rows.crossJoin(broadcast(MsDataset.chans(ms)))
      .select(col("row_id"), col("chan"), col("time_index"),
        col("ant1"), col("ant2"), vre.as("m_re"), vim.as("m_im"))
    val php = truePhase(col("time_index"), col("ant1"))
    val phq = truePhase(col("time_index"), col("ant2"))
    val gTp = CxCol(cos(php), sin(php))
    val gTq = CxCol(cos(phq), sin(phq))
    val v = gTp * CxCol(col("m_re"), col("m_im")) * gTq.conj
    base.select(col("row_id"), col("chan"), col("time_index"),
      col("ant1"), col("ant2"), col("m_re"), col("m_im"),
      v.re.as("v_re"), v.im.as("v_im"),
      ((col("row_id") % 4 + 1) / lit(4e0)).as("w"))
  }

  /** The cycle without the sink, for specs that inspect the gains. */
  private[graft] def cycle(spark: SparkSession, ms: MsDataset.Ms,
                           skyModelPath: String, solint: Int,
                           maxIter: Int, tol: Double,
                           mainRows: Option[Long] = None): Result = {
    // cached: the solve scans this once per iteration and the correct
    // stage reads it once more — without the cache the fused predict
    // and screen would re-execute per read (cheap but not free)
    val in = corruptedVis(spark, ms, skyModelPath, solint, mainRows).cache()

    // 4. solve — the registered gauss_newton driver loop (grid keyed by
    //    (solution interval, antenna); chans fold into the same grid
    //    exactly as the reference's shared-gain n_chan axis does when
    //    jones carries one gain per chunk).
    //    NON-DYADIC EXCEPTION to Calibrate's "registered inputs are
    //    dyadic rationals" doc precondition: the fused m_re/m_im are
    //    1e-6-ROUNDED rationals and the jhr/jhj sums run detSum=false,
    //    so the solve's low bits are association-order-dependent run to
    //    run. Accepted BY DESIGN here: p04's registry face is a
    //    rows-only noOracle check and SelfCalPipelineSpec's gates are
    //    tolerance-based (residual collapse, gauge-invariant screen
    //    recovery). If any p04 output ever moves to a hashed surface,
    //    pass detSum=true and dyadicize the model terms per the
    //    CLAUDE.md categorical rule.
    val gains = Calibrate.gaussNewtonPhaseOnly(
      in.drop("row_id", "chan"), maxIter = maxIter, tol = tol)

    // 5. correct with the solved gains: for unit-modulus diagonal gains
    //    the inverse is the conjugate, c = gp* · v · gq = v · e^{-iΔ},
    //    Δ = φp − φq (correct_vis.py:12-58); then the residual against
    //    the model (residual_vis.py — here the corrected-domain face).
    //    The gain grid is (n_utime/solint) × n_ant — broadcast it when
    //    the session threshold allows, exactly like the solver's gather.
    val nGrid = gains.count()
    val bcast = graft.core.Escalate.broadcastable(spark, "selfcal.gains",
      graft.core.Escalate.rowBytes(nGrid, 4))
    val g = Calibrate.gatherJoin(
      in.select("row_id", "chan", "time_index", "ant1", "ant2",
        "m_re", "m_im", "v_re", "v_im"),
      gains, Seq("time_index"), bcast)
    val d = col("gp.phase") - col("gq.phase")
    val cRe = col("x.v_re") * cos(d) + col("x.v_im") * sin(d)
    val cIm = col("x.v_im") * cos(d) - col("x.v_re") * sin(d)
    val corrected = g.select(
      col("x.row_id").as("row_id"), col("x.chan").as("chan"),
      cRe.as("c_re"), cIm.as("c_im"),
      (cRe - col("x.m_re")).as("res_re"),
      (cIm - col("x.m_im")).as("res_im"))
    Result(gains, corrected, in)
  }
}
