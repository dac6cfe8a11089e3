package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.core.{CxCol, Tables}
import graft.operators.Calibrate
import SyntheticMs._

/** Calibration queries — SURVEY §2.6 G5 (jhj/jhr) and G6 (gauss_newton).
  *
  * G5's defining shape: every row scatter-adds into the gain grid of BOTH
  * its antennas — a 2-way union keyed by (time_index, ant) followed by one
  * partial+final aggregation; no wide shuffle of the visibility data (the
  * output is gain-grid sized).
  */
object CalibrationQ {

  /** Per-(row, chan) model/observed vis + weight, all dyadic. */
  private def calRows(s: SparkSession, dir: String): DataFrame = {
    val ch = broadcast(Tables.nation(s, dir).filter(col("n_nationkey") < 4)
      .select(col("n_nationkey").cast("long").as("chan")))
    uvwRows(s, dir, 16).select("row_id", "time_index", "ant1", "ant2")
      .crossJoin(ch)
      .withColumn("m_re", ((col("row_id") * 13 + col("chan") * 5) % 19 - 9) / 16e0)
      .withColumn("m_im", ((col("row_id") * 17 + col("chan") * 7) % 11 - 5) / 16e0)
      .withColumn("v_re", ((col("row_id") * 19 + col("chan") * 3) % 23 - 11) / 16e0)
      .withColumn("v_im", ((col("row_id") * 23 + col("chan") * 9) % 17 - 8) / 16e0)
      .withColumn("wt", ((col("row_id") + col("chan")) % 4 + 1) / 4e0)
  }

  val qs: Seq[Q] = Seq(

    // -- G5: JᴴR / JᴴJ accumulation into the (time, ant, chan) gain grid.
    Q("g05_jhj_jhr",
      s"""WITH rws AS (${uvwRowsSql(16)}), g AS (${gainsSql()}),
         |ch AS (SELECT CAST(n_nationkey AS BIGINT) AS chan
         |       FROM nation WHERE n_nationkey < 4),
         |rc AS (
         |  SELECT rws.row_id, rws.time_index, rws.ant1, rws.ant2, ch.chan,
         |    ((rws.row_id * 13 + ch.chan * 5) % 19 - 9) / 16e0 AS m_re,
         |    ((rws.row_id * 17 + ch.chan * 7) % 11 - 5) / 16e0 AS m_im,
         |    ((rws.row_id * 19 + ch.chan * 3) % 23 - 11) / 16e0 AS v_re,
         |    ((rws.row_id * 23 + ch.chan * 9) % 17 - 8) / 16e0 AS v_im,
         |    ((rws.row_id + ch.chan) % 4 + 1) / 4e0 AS wt
         |  FROM rws, ch),
         |j AS (
         |  SELECT rc.*, gp.g_re AS gp_re, gp.g_im AS gp_im,
         |    gq.g_re AS gq_re, gq.g_im AS gq_im
         |  FROM rc JOIN g gp ON gp.time_index = rc.time_index AND gp.ant = rc.ant1
         |          JOIN g gq ON gq.time_index = rc.time_index AND gq.ant = rc.ant2),
         |t AS (
         |  SELECT *,
         |    (gp_re*m_re - gp_im*m_im)*gq_re + (gp_re*m_im + gp_im*m_re)*gq_im AS vm_re,
         |    (gp_re*m_im + gp_im*m_re)*gq_re - (gp_re*m_re - gp_im*m_im)*gq_im AS vm_im
         |  FROM j),
         |u AS (
         |  SELECT time_index, ant1 AS ant, chan,
         |    wt * (vm_re*(v_im - vm_im) - vm_im*(v_re - vm_re)) AS jhr_c,
         |    wt * (vm_re*vm_re + vm_im*vm_im) AS jhj_c
         |  FROM t
         |  UNION ALL
         |  SELECT time_index, ant2 AS ant, chan,
         |    -(wt * (vm_re*(v_im - vm_im) - vm_im*(v_re - vm_re))) AS jhr_c,
         |    wt * (vm_re*vm_re + vm_im*vm_im) AS jhj_c
         |  FROM t)
         |SELECT time_index, ant, chan, SUM(jhr_c) AS jhr, SUM(jhj_c) AS jhj,
         |  CAST(COUNT(*) AS BIGINT) AS n_terms
         |FROM u GROUP BY time_index, ant, chan""".stripMargin) { (s, dir) =>
      val t = Predict.withGains(calRows(s, dir), gains(s, dir))
      val gp = CxCol(col("gp_re"), col("gp_im"))
      val gq = CxCol(col("gq_re"), col("gq_im"))
      val m = CxCol(col("m_re"), col("m_im"))
      val v = CxCol(col("v_re"), col("v_im"))
      val vm = gp * m * gq.conj
      val r = v - vm
      val jhrTerm = col("wt") * (vm.re * r.im - vm.im * r.re)
      val jhjTerm = col("wt") * vm.abs2
      val withVm = t
      val p = withVm.select(col("time_index"), col("ant1").as("ant"),
        col("chan"), jhrTerm.as("jhr_c"), jhjTerm.as("jhj_c"))
      val q = withVm.select(col("time_index"), col("ant2").as("ant"),
        col("chan"), (-jhrTerm).as("jhr_c"), jhjTerm.as("jhj_c"))
      p.unionByName(q)
        .groupBy("time_index", "ant", "chan")
        .agg(sum(col("jhr_c")).as("jhr"), sum(col("jhj_c")).as("jhj"),
          count(lit(1)).as("n_terms"))
    },

    // -- G8: the Gauss-Newton UPDATE ALGEBRA under the hash gate
    //    (calibration/phase_only/phase_only.py:243-308) — two unrolled
    //    iterations of the phase-only solve, SQL-expressible as chained
    //    CTEs. Float determinism by construction (CLAUDE.md rule):
    //    * iteration 1 starts at jones = 1, so vm = model and every
    //      jhr/jhj term is exact dyadic arithmetic — plain SUM is exact
    //      in any order; p1 = 0.5·jhr1/jhj is one IEEE division of
    //      identical operands → BIT-identical cross-engine.
    //    * jhj is computed once and reused (the reference's DIAG_DIAG
    //      fast path, phase_only.py:264-268).
    //    * iteration 2 takes cos/sin of the bit-identical p1 (libm of a
    //      shared argument: ulp-level disagreement only) and aggregates
    //      jhr2 with fsum (terms rounded to 1e-6, summed as longs), so
    //      p2 = p1 + 0.5·jhr2/jhj is again bit-identical. p1 and p2 are
    //      hashed RAW — no rounding layer at all.
    Q("g08_gauss_newton_2iter",
      s"""WITH rws AS (${uvwRowsSql(16)}),
         |ch AS (SELECT CAST(n_nationkey AS BIGINT) AS chan
         |       FROM nation WHERE n_nationkey < 4),
         |rc AS (
         |  SELECT rws.row_id, rws.time_index, rws.ant1, rws.ant2, ch.chan,
         |    ((rws.row_id * 13 + ch.chan * 5) % 19 - 9) / 16e0 AS m_re,
         |    ((rws.row_id * 17 + ch.chan * 7) % 11 - 5) / 16e0 AS m_im,
         |    ((rws.row_id * 19 + ch.chan * 3) % 23 - 11) / 16e0 AS v_re,
         |    ((rws.row_id * 23 + ch.chan * 9) % 17 - 8) / 16e0 AS v_im,
         |    ((rws.row_id + ch.chan) % 4 + 1) / 4e0 AS wt
         |  FROM rws, ch),
         |u1 AS (
         |  SELECT time_index, ant1 AS ant, chan,
         |    wt * (m_re*(v_im - m_im) - m_im*(v_re - m_re)) AS jhr_c,
         |    wt * (m_re*m_re + m_im*m_im) AS jhj_c
         |  FROM rc
         |  UNION ALL
         |  SELECT time_index, ant2 AS ant, chan,
         |    -(wt * (m_re*(v_im - m_im) - m_im*(v_re - m_re))) AS jhr_c,
         |    wt * (m_re*m_re + m_im*m_im) AS jhj_c
         |  FROM rc),
         |p1t AS (
         |  SELECT time_index, ant, chan,
         |    5e-1 * (SUM(jhr_c) / SUM(jhj_c)) AS p1, SUM(jhj_c) AS jhj
         |  FROM u1 GROUP BY time_index, ant, chan),
         |t2 AS (
         |  SELECT rc.*, pp.p1 AS php, qq.p1 AS phq
         |  FROM rc
         |    JOIN p1t pp ON pp.time_index = rc.time_index
         |      AND pp.ant = rc.ant1 AND pp.chan = rc.chan
         |    JOIN p1t qq ON qq.time_index = rc.time_index
         |      AND qq.ant = rc.ant2 AND qq.chan = rc.chan),
         |v2 AS (
         |  SELECT *,
         |    (cos(php)*m_re - sin(php)*m_im)*cos(phq)
         |      + (cos(php)*m_im + sin(php)*m_re)*sin(phq) AS vm_re,
         |    (cos(php)*m_im + sin(php)*m_re)*cos(phq)
         |      - (cos(php)*m_re - sin(php)*m_im)*sin(phq) AS vm_im
         |  FROM t2),
         |u2 AS (
         |  SELECT time_index, ant1 AS ant, chan,
         |    wt * (vm_re*(v_im - vm_im) - vm_im*(v_re - vm_re)) AS jhr_c
         |  FROM v2
         |  UNION ALL
         |  SELECT time_index, ant2 AS ant, chan,
         |    -(wt * (vm_re*(v_im - vm_im) - vm_im*(v_re - vm_re))) AS jhr_c
         |  FROM v2),
         |jh2 AS (
         |  SELECT time_index, ant, chan,
         |    ${graft.core.Det.fsumSql("jhr_c")} AS jhr2
         |  FROM u2 GROUP BY time_index, ant, chan)
         |SELECT p1t.time_index, p1t.ant, p1t.chan, p1t.p1 AS p1,
         |  p1t.p1 + 5e-1 * (jh2.jhr2 / p1t.jhj) AS p2
         |FROM p1t JOIN jh2 ON jh2.time_index = p1t.time_index
         |  AND jh2.ant = p1t.ant AND jh2.chan = p1t.chan""".stripMargin) { (s, dir) =>
      val rc = calRows(s, dir)
      val m = CxCol(col("m_re"), col("m_im"))
      // iteration 1, jones = 1: vm = m, r = v − m — all dyadic-exact
      val r1re = col("v_re") - col("m_re")
      val r1im = col("v_im") - col("m_im")
      val jhr1T = col("wt") * (m.re * r1im - m.im * r1re)
      val jhjT = col("wt") * (m.re * m.re + m.im * m.im)
      val u1 = rc.select(col("time_index"), col("ant1").as("ant"), col("chan"),
          jhr1T.as("jhr_c"), jhjT.as("jhj_c"))
        .unionByName(rc.select(col("time_index"), col("ant2").as("ant"),
          col("chan"), (-jhr1T).as("jhr_c"), jhjT.as("jhj_c")))
      val p1t = u1.groupBy("time_index", "ant", "chan")
        .agg((lit(5e-1) * (sum(col("jhr_c")) / sum(col("jhj_c")))).as("p1"),
          sum(col("jhj_c")).as("jhj"))
      // iteration 2: gains from the bit-identical p1
      val pp = broadcast(p1t.select(col("time_index").as("pt"),
        col("ant").as("pa"), col("chan").as("pc"), col("p1").as("php")))
      val pq = broadcast(p1t.select(col("time_index").as("qt"),
        col("ant").as("qa"), col("chan").as("qc"), col("p1").as("phq")))
      val t2 = rc
        .join(pp, col("time_index") === col("pt") && col("ant1") === col("pa")
          && col("chan") === col("pc"))
        .join(pq, col("time_index") === col("qt") && col("ant2") === col("qa")
          && col("chan") === col("qc"))
      val gp = CxCol(cos(col("php")), sin(col("php")))
      val gq = CxCol(cos(col("phq")), sin(col("phq")))
      val vm = gp * m * gq.conj
      val r2re = col("v_re") - vm.re
      val r2im = col("v_im") - vm.im
      val jhr2T = col("wt") * (vm.re * r2im - vm.im * r2re)
      val u2 = t2.select(col("time_index"), col("ant1").as("ant"), col("chan"),
          jhr2T.as("jhr_c"))
        .unionByName(t2.select(col("time_index"), col("ant2").as("ant"),
          col("chan"), (-jhr2T).as("jhr_c")))
      val jh2 = u2.groupBy("time_index", "ant", "chan")
        .agg(graft.core.Det.fsum(col("jhr_c")).as("jhr2"))
      p1t.join(jh2, Seq("time_index", "ant", "chan"))
        .select(col("time_index"), col("ant"), col("chan"), col("p1"),
          (col("p1") + lit(5e-1) * (col("jhr2") / col("jhj"))).as("p2"))
    },

    // -- G9: the SOLVER ITSELF (operators/Calibrate.scala) under the hash
    //    gate at the reference's chan-resolved gain shape (time, ant, chan)
    //    — phase_only.py:30-241 — run for 2 iterations in detSum mode and
    //    mirrored by 2 unrolled CTE iterations (the g08 pattern, but here
    //    the oracle restates what Calibrate.gaussNewtonPhaseOnly computes,
    //    not an inline re-derivation). Float determinism:
    //    * observed v = gp·m·gq* from trig of BIT-IDENTICAL arguments
    //      ((t·7+a·3+c·5)%11 · 5e-2, exact int × literal) — class (b);
    //    * the solver runs detSum=true: jhr is fsum'd each iteration
    //      (terms are class (a)×(b) products — the g08-proven class (c)),
    //      jhj is the once-computed dyadic-exact model sum;
    //    * p1 and the output phase are IEEE-exact arithmetic on the
    //      resulting bit-identical rationals — hashed RAW.
    Q("g09_gauss_newton_chan",
      s"""WITH rws AS (${uvwRowsSql(16)}),
         |ch AS (SELECT CAST(n_nationkey AS BIGINT) AS chan
         |       FROM nation WHERE n_nationkey < 4),
         |rc AS (
         |  SELECT rws.time_index, rws.ant1, rws.ant2, ch.chan,
         |    ((rws.row_id * 13 + ch.chan * 5) % 19 - 9) / 16e0 AS m_re,
         |    ((rws.row_id * 17 + ch.chan * 7) % 11 - 5) / 16e0 AS m_im,
         |    ((rws.row_id + ch.chan) % 4 + 1) / 4e0 AS wt,
         |    (rws.time_index * 7 + rws.ant1 * 3 + ch.chan * 5) % 11 * 5e-2 AS tp,
         |    (rws.time_index * 7 + rws.ant2 * 3 + ch.chan * 5) % 11 * 5e-2 AS tq
         |  FROM rws, ch),
         |vv AS (
         |  SELECT *,
         |    (cos(tp)*m_re - sin(tp)*m_im)*cos(tq)
         |      + (cos(tp)*m_im + sin(tp)*m_re)*sin(tq) AS v_re,
         |    (cos(tp)*m_im + sin(tp)*m_re)*cos(tq)
         |      - (cos(tp)*m_re - sin(tp)*m_im)*sin(tq) AS v_im
         |  FROM rc),
         |u1 AS (
         |  SELECT time_index, ant1 AS ant, chan,
         |    wt * (m_re*(v_im - m_im) - m_im*(v_re - m_re)) AS jhr_c,
         |    wt * (m_re*m_re + m_im*m_im) AS jhj_c
         |  FROM vv
         |  UNION ALL
         |  SELECT time_index, ant2 AS ant, chan,
         |    -(wt * (m_re*(v_im - m_im) - m_im*(v_re - m_re))) AS jhr_c,
         |    wt * (m_re*m_re + m_im*m_im) AS jhj_c
         |  FROM vv),
         |p1t AS (
         |  SELECT time_index, ant, chan,
         |    5e-1 * ${graft.core.Det.fsumSql("jhr_c")} / SUM(jhj_c) AS p1,
         |    SUM(jhj_c) AS jhj
         |  FROM u1 GROUP BY time_index, ant, chan),
         |t2 AS (
         |  SELECT vv.*, pp.p1 AS php, qq.p1 AS phq
         |  FROM vv
         |    JOIN p1t pp ON pp.time_index = vv.time_index
         |      AND pp.ant = vv.ant1 AND pp.chan = vv.chan
         |    JOIN p1t qq ON qq.time_index = vv.time_index
         |      AND qq.ant = vv.ant2 AND qq.chan = vv.chan),
         |v2 AS (
         |  SELECT *,
         |    (cos(php)*m_re - sin(php)*m_im)*cos(phq)
         |      + (cos(php)*m_im + sin(php)*m_re)*sin(phq) AS vm_re,
         |    (cos(php)*m_im + sin(php)*m_re)*cos(phq)
         |      - (cos(php)*m_re - sin(php)*m_im)*sin(phq) AS vm_im
         |  FROM t2),
         |u2 AS (
         |  SELECT time_index, ant1 AS ant, chan,
         |    wt * (vm_re*(v_im - vm_im) - vm_im*(v_re - vm_re)) AS jhr_c
         |  FROM v2
         |  UNION ALL
         |  SELECT time_index, ant2 AS ant, chan,
         |    -(wt * (vm_re*(v_im - vm_im) - vm_im*(v_re - vm_re))) AS jhr_c
         |  FROM v2),
         |jh2 AS (
         |  SELECT time_index, ant, chan,
         |    ${graft.core.Det.fsumSql("jhr_c")} AS jhr2
         |  FROM u2 GROUP BY time_index, ant, chan)
         |SELECT p1t.time_index, p1t.ant, p1t.chan,
         |  p1t.p1 + 5e-1 * jh2.jhr2 / p1t.jhj AS phase
         |FROM p1t JOIN jh2 ON jh2.time_index = p1t.time_index
         |  AND jh2.ant = p1t.ant AND jh2.chan = p1t.chan""".stripMargin) { (s, dir) =>
      val base = calRows(s, dir)
      val tp = (col("time_index") * 7 + col("ant1") * 3 + col("chan") * 5) % 11 * 5e-2
      val tq = (col("time_index") * 7 + col("ant2") * 3 + col("chan") * 5) % 11 * 5e-2
      val gp = CxCol(cos(tp), sin(tp))
      val gq = CxCol(cos(tq), sin(tq))
      val m = CxCol(col("m_re"), col("m_im"))
      val vm = gp * m * gq.conj
      val in = base.select(col("time_index"), col("ant1"), col("ant2"),
        col("chan"), col("m_re"), col("m_im"),
        vm.re.as("v_re"), vm.im.as("v_im"), col("wt").as("w"))
      Calibrate.gaussNewtonPhaseOnly(in, maxIter = 2, tol = 1e-12,
        extraKeys = Seq("chan"), detSum = true)
    },

    // -- G10: the DIRECTION-DEPENDENT solver (Calibrate
    //    .gaussNewtonPhaseOnlyDirs) at the reference's FULL jones shape
    //    (time, ant, chan, dir) under the hash gate — phase_only.py's
    //    n_dir axis with the cross-direction residual coupling r = v −
    //    Σ_s gp_s·m_s·gq_s* (compute_jhj_and_jhr, phase_only.py:30-105).
    //    2 detSum iterations, n_dir = 2 (the direction sum is a 2-term
    //    IEEE-commutative add — bit-identical in any order); all other
    //    determinism is the g09 pattern.
    Q("g10_gauss_newton_dirs",
      s"""WITH rws AS (${uvwRowsSql(16)}),
         |ch AS (SELECT CAST(n_nationkey AS BIGINT) AS chan
         |       FROM nation WHERE n_nationkey < 2),
         |dd AS (SELECT CAST(n_nationkey AS BIGINT) AS dir
         |       FROM nation WHERE n_nationkey < 2),
         |rc AS (
         |  SELECT rws.row_id, rws.time_index, rws.ant1, rws.ant2,
         |    ch.chan, dd.dir,
         |    ((rws.row_id * 13 + ch.chan * 5 + dd.dir * 7) % 19 - 9) / 16e0 AS m_re,
         |    ((rws.row_id * 17 + ch.chan * 7 + dd.dir * 5) % 11 - 5) / 16e0 AS m_im,
         |    ((rws.row_id + ch.chan) % 4 + 1) / 4e0 AS wt,
         |    (rws.time_index * 7 + rws.ant1 * 3 + ch.chan * 5 + dd.dir * 9) % 11 * 5e-2 AS tp,
         |    (rws.time_index * 7 + rws.ant2 * 3 + ch.chan * 5 + dd.dir * 9) % 11 * 5e-2 AS tq
         |  FROM rws, ch, dd),
         |vv0 AS (
         |  SELECT *,
         |    (cos(tp)*m_re - sin(tp)*m_im)*cos(tq)
         |      + (cos(tp)*m_im + sin(tp)*m_re)*sin(tq) AS vmt_re,
         |    (cos(tp)*m_im + sin(tp)*m_re)*cos(tq)
         |      - (cos(tp)*m_re - sin(tp)*m_im)*sin(tq) AS vmt_im
         |  FROM rc),
         |vs AS (
         |  SELECT row_id, chan, SUM(vmt_re) AS v_re, SUM(vmt_im) AS v_im
         |  FROM vv0 GROUP BY row_id, chan),
         |ms AS (
         |  SELECT row_id, chan, SUM(m_re) AS ms_re, SUM(m_im) AS ms_im
         |  FROM rc GROUP BY row_id, chan),
         |vv AS (
         |  SELECT rc.*, vs.v_re, vs.v_im,
         |    vs.v_re - ms.ms_re AS r1_re, vs.v_im - ms.ms_im AS r1_im
         |  FROM rc
         |    JOIN vs ON vs.row_id = rc.row_id AND vs.chan = rc.chan
         |    JOIN ms ON ms.row_id = rc.row_id AND ms.chan = rc.chan),
         |u1 AS (
         |  SELECT time_index, ant1 AS ant, chan, dir,
         |    wt * (m_re*r1_im - m_im*r1_re) AS jhr_c,
         |    wt * (m_re*m_re + m_im*m_im) AS jhj_c
         |  FROM vv
         |  UNION ALL
         |  SELECT time_index, ant2 AS ant, chan, dir,
         |    -(wt * (m_re*r1_im - m_im*r1_re)) AS jhr_c,
         |    wt * (m_re*m_re + m_im*m_im) AS jhj_c
         |  FROM vv),
         |p1t AS (
         |  SELECT time_index, ant, chan, dir,
         |    5e-1 * ${graft.core.Det.fsumSql("jhr_c")} / SUM(jhj_c) AS p1,
         |    SUM(jhj_c) AS jhj
         |  FROM u1 GROUP BY time_index, ant, chan, dir),
         |t2 AS (
         |  SELECT vv.*, pp.p1 AS php, qq.p1 AS phq
         |  FROM vv
         |    JOIN p1t pp ON pp.time_index = vv.time_index
         |      AND pp.ant = vv.ant1 AND pp.chan = vv.chan AND pp.dir = vv.dir
         |    JOIN p1t qq ON qq.time_index = vv.time_index
         |      AND qq.ant = vv.ant2 AND qq.chan = vv.chan AND qq.dir = vv.dir),
         |v2 AS (
         |  SELECT *,
         |    (cos(php)*m_re - sin(php)*m_im)*cos(phq)
         |      + (cos(php)*m_im + sin(php)*m_re)*sin(phq) AS vm_re,
         |    (cos(php)*m_im + sin(php)*m_re)*cos(phq)
         |      - (cos(php)*m_re - sin(php)*m_im)*sin(phq) AS vm_im
         |  FROM t2),
         |vs2 AS (
         |  SELECT row_id, chan, SUM(vm_re) AS s_re, SUM(vm_im) AS s_im
         |  FROM v2 GROUP BY row_id, chan),
         |r2 AS (
         |  SELECT v2.*, v2.v_re - vs2.s_re AS r2_re, v2.v_im - vs2.s_im AS r2_im
         |  FROM v2 JOIN vs2 ON vs2.row_id = v2.row_id AND vs2.chan = v2.chan),
         |u2 AS (
         |  SELECT time_index, ant1 AS ant, chan, dir,
         |    wt * (vm_re*r2_im - vm_im*r2_re) AS jhr_c
         |  FROM r2
         |  UNION ALL
         |  SELECT time_index, ant2 AS ant, chan, dir,
         |    -(wt * (vm_re*r2_im - vm_im*r2_re)) AS jhr_c
         |  FROM r2),
         |jh2 AS (
         |  SELECT time_index, ant, chan, dir,
         |    ${graft.core.Det.fsumSql("jhr_c")} AS jhr2
         |  FROM u2 GROUP BY time_index, ant, chan, dir)
         |SELECT p1t.time_index, p1t.ant, p1t.chan, p1t.dir,
         |  p1t.p1 + 5e-1 * jh2.jhr2 / p1t.jhj AS phase
         |FROM p1t JOIN jh2 ON jh2.time_index = p1t.time_index
         |  AND jh2.ant = p1t.ant AND jh2.chan = p1t.chan
         |  AND jh2.dir = p1t.dir""".stripMargin) { (s, dir) =>
      val ch = broadcast(Tables.nation(s, dir).filter(col("n_nationkey") < 2)
        .select(col("n_nationkey").cast("long").as("chan")))
      val dd = broadcast(Tables.nation(s, dir).filter(col("n_nationkey") < 2)
        .select(col("n_nationkey").cast("long").as("dir")))
      val rc = uvwRows(s, dir, 16)
        .select("row_id", "time_index", "ant1", "ant2")
        .crossJoin(ch).crossJoin(dd)
        .withColumn("m_re",
          ((col("row_id") * 13 + col("chan") * 5 + col("dir") * 7) % 19 - 9) / 16e0)
        .withColumn("m_im",
          ((col("row_id") * 17 + col("chan") * 7 + col("dir") * 5) % 11 - 5) / 16e0)
        .withColumn("wt", ((col("row_id") + col("chan")) % 4 + 1) / 4e0)
      val tp = (col("time_index") * 7 + col("ant1") * 3
        + col("chan") * 5 + col("dir") * 9) % 11 * 5e-2
      val tq = (col("time_index") * 7 + col("ant2") * 3
        + col("chan") * 5 + col("dir") * 9) % 11 * 5e-2
      val gp = CxCol(cos(tp), sin(tp))
      val gq = CxCol(cos(tq), sin(tq))
      val m = CxCol(col("m_re"), col("m_im"))
      val vmt = gp * m * gq.conj
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("row_id", "chan")
      val in = rc
        .withColumn("vmt_re", vmt.re).withColumn("vmt_im", vmt.im)
        .withColumn("v_re", sum(col("vmt_re")).over(w))
        .withColumn("v_im", sum(col("vmt_im")).over(w))
        .select(col("row_id"), col("time_index"), col("ant1"), col("ant2"),
          col("chan"), col("dir"), col("m_re"), col("m_im"),
          col("v_re"), col("v_im"), col("wt").as("w"))
      Calibrate.gaussNewtonPhaseOnlyDirs(in, maxIter = 2, tol = 1e-12,
        extraKeys = Seq("chan"), detSum = true)
    },

    // -- G6: Gauss-Newton phase solver (iterative driver loop; no SQL
    //    oracle — convergence is asserted in CalibrateSpec; the driver
    //    records a rows-only check).
    Q.noOracle("g06_gauss_newton") { (s, dir) =>
      // observed vis predicted from known per-(time, ant) phases; the
      // solver must reproduce them (up to the global phase gauge).
      val base = calRows(s, dir).limit(2000)
      val truePhase = (t: org.apache.spark.sql.Column,
                       a: org.apache.spark.sql.Column) =>
        (t * 7 + a * 3) % 11 * 5e-2
      val php = truePhase(col("time_index"), col("ant1"))
      val phq = truePhase(col("time_index"), col("ant2"))
      val gp = CxCol(cos(php), sin(php))
      val gq = CxCol(cos(phq), sin(phq))
      val m = CxCol(col("m_re"), col("m_im"))
      val vm = gp * m * gq.conj
      val in = base.select(col("time_index"), col("ant1"), col("ant2"),
        col("m_re"), col("m_im"),
        vm.re.as("v_re"), vm.im.as("v_im"), col("wt").as("w"))
      Calibrate.gaussNewtonPhaseOnly(in, maxIter = 15, tol = 1e-12)
    })
}
