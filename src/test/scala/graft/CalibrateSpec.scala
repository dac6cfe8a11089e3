package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.CxCol
import graft.operators.Calibrate

/** Gauss-Newton phase-only solver recovers gains that reproduce the
  * observed visibilities (gauge-invariant check: residual, not phases). */
class CalibrateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("solver drives the residual to ~0 on noiseless data") {
    import spark.implicits._
    // 4 times x 5 antennas, all baselines p<q, known phases
    val rows = for {
      t <- 0L until 4L
      p <- 0L until 5L
      q <- (p + 1) until 5L
    } yield {
      val phiP = ((t * 7 + p * 3) % 11) * 0.05
      val phiQ = ((t * 7 + q * 3) % 11) * 0.05
      val mRe = 1.0 + 0.25 * ((t + p + q) % 3)
      val mIm = 0.25 * ((t + 2 * p + q) % 4) - 0.375
      // v = e^{i phiP} m e^{-i phiQ}
      val c = math.cos(phiP - phiQ); val s = math.sin(phiP - phiQ)
      (t, p, q, mRe, mIm, mRe * c - mIm * s, mRe * s + mIm * c, 1.0)
    }
    val in = rows.toDF("time_index", "ant1", "ant2",
      "m_re", "m_im", "v_re", "v_im", "w")
    val solved = Calibrate.gaussNewtonPhaseOnly(in, maxIter = 30, tol = 1e-14)

    val ph = solved.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val maxResid = rows.map { case (t, p, q, mRe, mIm, vRe, vIm, _) =>
      val d = ph((t, p)) - ph((t, q))
      val c = math.cos(d); val s = math.sin(d)
      val fitRe = mRe * c - mIm * s
      val fitIm = mRe * s + mIm * c
      math.hypot(vRe - fitRe, vIm - fitIm)
    }.max
    assert(maxResid < 1e-6, s"max residual $maxResid")
  }

  test("chan-resolved solve: shuffle-degraded path (threshold -1) matches the broadcast path") {
    import graft.core.Escalate
    import spark.implicits._
    // 3 times x 4 antennas x 2 chans, chan-dependent known phases
    val rows = for {
      t <- 0L until 3L
      p <- 0L until 4L
      q <- (p + 1) until 4L
      c <- 0L until 2L
    } yield {
      val phiP = ((t * 7 + p * 3 + c * 5) % 11) * 0.05
      val phiQ = ((t * 7 + q * 3 + c * 5) % 11) * 0.05
      val mRe = 1.0 + 0.25 * ((t + p + q + c) % 3)
      val mIm = 0.25 * ((t + 2 * p + q) % 4) - 0.375
      val cs = math.cos(phiP - phiQ); val sn = math.sin(phiP - phiQ)
      (t, p, q, c, mRe, mIm, mRe * cs - mIm * sn, mRe * sn + mIm * cs, 1.0)
    }
    val in = rows.toDF("time_index", "ant1", "ant2", "chan",
      "m_re", "m_im", "v_re", "v_im", "w")
    // the distributed solve on both sides (the problem is far under the
    // driver-resident gate), so the comparison is the broadcast grid loop
    // against the shuffle checkpoint loop
    def solve(): (Map[(Long, Long, Long), Double], Seq[String]) = {
      val (m, gates) = TestSpark.gates(
        Calibrate.gaussNewtonPhaseOnly(in, maxIter = 25, tol = 1e-14,
            extraKeys = Seq("chan"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
          .toMap)
      (m, gates.map(_.toString))
    }
    val (bcastRun, bcastGates) =
      TestSpark.withConf(Escalate.LocalMaxBytesKey -> "0")(solve())
    val (shuffleRun, shuffleGates) = TestSpark.withConf(
      Escalate.LocalMaxBytesKey -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(solve())
    assert(bcastGates ===
      Seq("calibrate.solve=distributed", "calibrate.grid=broadcast"))
    assert(shuffleGates ===
      Seq("calibrate.solve=distributed", "calibrate.grid=shuffle"))
    assert(bcastRun.keySet === shuffleRun.keySet)
    // identical iteration algebra either way — values agree to fp noise
    val maxDiff = bcastRun.map { case (k, v) =>
      math.abs(v - shuffleRun(k))
    }.max
    assert(maxDiff < 1e-9, s"paths diverge by $maxDiff")
    // and the solved phases reproduce the observations (gauge-invariant)
    val maxResid = rows.map { case (t, p, q, c, mRe, mIm, vRe, vIm, _) =>
      val d = bcastRun((t, p, c)) - bcastRun((t, q, c))
      val cs = math.cos(d); val sn = math.sin(d)
      math.hypot(vRe - (mRe * cs - mIm * sn), vIm - (mRe * sn + mIm * cs))
    }.max
    assert(maxResid < 1e-6, s"max residual $maxResid")
  }

  test("round 14: sub-threshold driver-resident solve is BIT-identical " +
      "to the distributed loop in detSum mode (DIE and DDE)") {
    import spark.implicits._
    val rows = for {
      t <- 0L until 3L
      p <- 0L until 4L
      q <- (p + 1) until 4L
      c <- 0L until 2L
    } yield {
      val phiP = ((t * 7 + p * 3 + c * 5) % 11) * 0.05
      val phiQ = ((t * 7 + q * 3 + c * 5) % 11) * 0.05
      val mRe = 1.0 + 0.25 * ((t + p + q + c) % 3)
      val mIm = 0.25 * ((t + 2 * p + q) % 4) - 0.375
      val cs = math.cos(phiP - phiQ); val sn = math.sin(phiP - phiQ)
      (t, p, q, c, mRe, mIm, mRe * cs - mIm * sn, mRe * sn + mIm * cs, 1.0)
    }
    val in = rows.toDF("time_index", "ant1", "ant2", "chan",
      "m_re", "m_im", "v_re", "v_im", "w")
    def solveDie(): Seq[((Long, Long, Long), Double)] =
      Calibrate.gaussNewtonPhaseOnly(in, maxIter = 2, tol = 1e-12,
          extraKeys = Seq("chan"), detSum = true)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getDouble(3))
    val inD = rows.flatMap { case (t, p, q, c, mRe, mIm, vRe, vIm, w) =>
      // 2-dir clone: same model per dir, observed = 2-term sum
      (0L until 2L).map(d => (t * 16 + p * 4 + q, t, p, q, c, d,
        mRe, mIm, 2 * vRe, 2 * vIm, w))
    }.toDF("row_id", "time_index", "ant1", "ant2", "chan", "dir",
      "m_re", "m_im", "v_re", "v_im", "w")
    def solveDirs(): Seq[((Long, Long, Long, Long), Double)] =
      Calibrate.gaussNewtonPhaseOnlyDirs(inD, maxIter = 2, tol = 1e-12,
          extraKeys = Seq("chan"), detSum = true)
        .collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          -> r.getDouble(4))
    val localDie = solveDie(); val localDirs = solveDirs()
    val (distDie, distDirs) = try {
      spark.conf.set("spark.graft.localMaxBytes", "0")
      (solveDie(), solveDirs())
    } finally spark.conf.unset("spark.graft.localMaxBytes")
    assert(localDie === distDie) // exact double equality, order included
    assert(localDirs === distDirs)
  }

  test("direction-dependent solve: 2-dir coupled residual converges to the observations") {
    import spark.implicits._
    // 3 times x 4 antennas x 1 chan x 2 dirs; v = sum_d gp_d m_d gq_d*
    case class R(rowId: Long, t: Long, p: Long, q: Long, c: Long,
                 m: Seq[(Double, Double)], v: (Double, Double))
    val base = for {
      t <- 0L until 3L
      p <- 0L until 4L
      q <- (p + 1) until 4L
    } yield {
      val rowId = t * 16 + p * 4 + q
      val ms = (0 until 2).map { d =>
        (1.0 + 0.25 * ((t + p + q + d) % 3),
          0.25 * ((t + 2 * p + q + 2 * d) % 4) - 0.375)
      }
      val v = (0 until 2).map { d =>
        val phiP = ((t * 7 + p * 3 + d * 9) % 11) * 0.02
        val phiQ = ((t * 7 + q * 3 + d * 9) % 11) * 0.02
        val (mRe, mIm) = ms(d)
        val cs = math.cos(phiP - phiQ); val sn = math.sin(phiP - phiQ)
        (mRe * cs - mIm * sn, mRe * sn + mIm * cs)
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      R(rowId, t, p, q, 0L, ms, v)
    }
    val in = base.flatMap { r =>
      (0 until 2).map { d =>
        (r.rowId, r.t, r.p, r.q, r.c, d.toLong,
          r.m(d)._1, r.m(d)._2, r.v._1, r.v._2, 1.0)
      }
    }.toDF("row_id", "time_index", "ant1", "ant2", "chan", "dir",
      "m_re", "m_im", "v_re", "v_im", "w")
    val solved = Calibrate.gaussNewtonPhaseOnlyDirs(in, maxIter = 120,
        tol = 1e-14, extraKeys = Seq("chan"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)) -> r.getDouble(4))
      .toMap
    val maxResid = base.map { r =>
      val fit = (0 until 2).map { d =>
        val dd = solved((r.t, r.p, d.toLong)) - solved((r.t, r.q, d.toLong))
        val cs = math.cos(dd); val sn = math.sin(dd)
        val (mRe, mIm) = r.m(d)
        (mRe * cs - mIm * sn, mRe * sn + mIm * cs)
      }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      math.hypot(r.v._1 - fit._1, r.v._2 - fit._2)
    }.max
    // the direction coupling makes DD Gauss-Newton linearly convergent
    // (~0.95/iter here; 250 iterations reach <1e-5) — assert at the
    // reference's own default tolerance scale (gauss_newton tol=1e-4)
    // to keep the suite fast
    assert(maxResid < 5e-4, s"max DD residual $maxResid")
  }
}
