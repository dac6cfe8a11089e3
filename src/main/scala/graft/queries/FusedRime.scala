package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.core.Det.fsumSql
import graft.rime.RimeCompiler
import SyntheticMs._

/** Fused-RIME compiler queries — SURVEY §2.11. The oracle SQL states the
  * fully-expanded equation the compiler must assemble from the spec
  * string, so these verify parse → plan → execute end to end.
  */
object FusedRime {

  import SqlCx.{CS, MS, mulS, hermS}
  import graft.core.Det.r6Sql

  private val qSql = "((src_id % 3) - 1)/4e0"

  private def tri(re: String, im: String): (String, String) = (
    s"(gp.g_re*$re - gp.g_im*$im)*gq.g_re + (gp.g_re*$im + gp.g_im*$re)*gq.g_im",
    s"(gp.g_re*$im + gp.g_im*$re)*gq.g_re - (gp.g_re*$re - gp.g_im*$im)*gq.g_im")

  private def srcWithStokes(s: org.apache.spark.sql.SparkSession, dir: String) =
    sources(s, dir, 5)
      .withColumn("i", col("flux"))
      .withColumn("q", (col("src_id") % 3 - 1) / 4e0)

  /** x12/x14's oracle: the [I, Q] sources through the beam `elements`
    * (cube, coordinate chain, corner joins, blends — [[BeamSql.ctes]]),
    * sandwiched E·M·Eᴴ in the compiler's application order and fsum-ed
    * over the sources. */
  private def beamOracle(elements: Seq[BeamSql.Element], eM: MS): String = {
    val beam = BeamSql.ctes(elements, Seq("chan", "freq"),
      Seq(Seq("src_id", "flux", "l", "m", "chan", "freq")))
    val k = CS(s"cos($phaseSql)", s"sin($phaseSql)")
    def scaleS(b: String) = CS(s"(${k.re} * ($b))", s"(${k.im} * ($b))")
    val m0 = MS(
      scaleS(s"flux + $qSql"),
      CS("0e0", "0e0") * k,
      CS("0e0", "(-0e0)") * k,
      scaleS(s"flux - $qSql"))
    val v = mulS(mulS(eM, m0), hermS(eM))
    val sums = Seq("xx" -> v.m00, "xy" -> v.m01, "yx" -> v.m10, "yy" -> v.m11)
      .map { case (n, z) =>
        s"  ${fsumSql(z.re)} AS ${n}_re,\n  ${fsumSql(z.im)} AS ${n}_im"
      }.mkString(",\n")
    s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
       |ch AS (SELECT CAST(n_nationkey AS BIGINT) AS chan,
       |       7e8 + n_nationkey * 15e7 AS freq
       |       FROM nation WHERE n_nationkey < 9),
       |$beam
       |SELECT row_id, time_index, ant1, ant2, chan,
       |$sums
       |FROM rws, pe
       |GROUP BY row_id, time_index, ant1, ant2, chan""".stripMargin
  }

  val qs: Seq[Q] = Seq(

    // -- X1-X5: "(Kpq,Bpq): [I,Q] -> [XX,YY]" — parse, plan, execute.
    Q("x01_fused_rime",
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)})
         |SELECT row_id, chan,
         |  ${fsumSql(s"(flux + $qSql) * cos($phaseSql)")} AS xx_re,
         |  ${fsumSql(s"(flux + $qSql) * sin($phaseSql)")} AS xx_im,
         |  ${fsumSql(s"(flux - $qSql) * cos($phaseSql)")} AS yy_re,
         |  ${fsumSql(s"(flux - $qSql) * sin($phaseSql)")} AS yy_im
         |FROM rws, src, ch GROUP BY row_id, chan""".stripMargin) { (s, dir) =>
      RimeCompiler.plan("(Kpq,Bpq): [I,Q] -> [XX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), channels(s, dir, 8))
    },

    // -- with direction-independent gains applied outside the source sum:
    //    "(Gp,Kpq,Bpq,Gq): [I,Q] -> [XX,YY]".
    Q("x02_fused_rime_gains", {
      val (xxRe, xxIm) = tri("xs.xx_re", "xs.xx_im")
      val (yyRe, yyIm) = tri("xs.yy_re", "xs.yy_im")
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)}), g AS (${gainsSql()}),
         |xs AS (
         |  SELECT row_id, time_index, ant1, ant2, chan,
         |    ${fsumSql(s"(flux + $qSql) * cos($phaseSql)")} AS xx_re,
         |    ${fsumSql(s"(flux + $qSql) * sin($phaseSql)")} AS xx_im,
         |    ${fsumSql(s"(flux - $qSql) * cos($phaseSql)")} AS yy_re,
         |    ${fsumSql(s"(flux - $qSql) * sin($phaseSql)")} AS yy_im
         |  FROM rws, src, ch GROUP BY row_id, time_index, ant1, ant2, chan)
         |SELECT xs.row_id, xs.chan,
         |  $xxRe AS xx_re, $xxIm AS xx_im,
         |  $yyRe AS yy_re, $yyIm AS yy_im
         |FROM xs
         |JOIN g gp ON gp.time_index = xs.time_index AND gp.ant = xs.ant1
         |JOIN g gq ON gq.time_index = xs.time_index AND gq.ant = xs.ant2""".stripMargin
    }) { (s, dir) =>
      RimeCompiler.plan("(Gp,Kpq,Bpq,Gq): [I,Q] -> [XX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), channels(s, dir, 8),
        Some(gains(s, dir)))
    },

    // -- feed-rotation (L) term: the rotation mixes correlations, so the
    //    compiler carries the full 2x2 matrix through the source sum and
    //    applies R_p · M · R_q^T outside it:
    //    "(Lp,Kpq,Bpq,Lq): [I,Q] -> [XX,XY,YX,YY]".
    Q("x03_fused_rime_feed", {
      val k = CS(s"cos($phaseSql)", s"sin($phaseSql)")
      // mirrors sampler(): k.scale(b) for the real diag, CxCol(0,±0)*k off-diag
      def scaleS(b: String) = CS(s"(${k.re} * ($b))", s"(${k.im} * ($b))")
      val samplers = Seq(
        "xx" -> scaleS(s"flux + $qSql"),
        "xy" -> (CS("0e0", "0e0") * k),
        "yx" -> (CS("0e0", "(-0e0)") * k),
        "yy" -> scaleS(s"flux - $qSql"))
      val sumCols = samplers.map { case (n, z) =>
        s"    ${fsumSql(z.re)} AS ${n}_re,\n    ${fsumSql(z.im)} AS ${n}_im"
      }.mkString(",\n")
      val xsM = MS(CS("xs.xx_re", "xs.xx_im"), CS("xs.xy_re", "xs.xy_im"),
        CS("xs.yx_re", "xs.yx_im"), CS("xs.yy_re", "xs.yy_im"))
      def rot(p: String) = MS(
        CS(s"cos($p.pa)", "0e0"), CS(s"sin($p.pa)", "0e0"),
        CS(s"(-sin($p.pa))", "0e0"), CS(s"cos($p.pa)", "0e0"))
      val v = mulS(mulS(rot("pp"), xsM), hermS(rot("pq")))
      val out = Seq("xx" -> v.m00, "xy" -> v.m01, "yx" -> v.m10, "yy" -> v.m11)
        .map { case (n, z) =>
          s"  ${r6Sql(z.re)} AS ${n}_re,\n  ${r6Sql(z.im)} AS ${n}_im"
        }.mkString(",\n")
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)}), pat AS (${paTableSql()}),
         |xs AS (
         |  SELECT row_id, time_index, ant1, ant2, chan,
         |$sumCols
         |  FROM rws, src, ch GROUP BY row_id, time_index, ant1, ant2, chan)
         |SELECT xs.row_id, xs.chan,
         |$out
         |FROM xs
         |JOIN pat pp ON pp.time_index = xs.time_index AND pp.ant = xs.ant1
         |JOIN pat pq ON pq.time_index = xs.time_index AND pq.ant = xs.ant2""".stripMargin
    }) { (s, dir) =>
      val out = RimeCompiler.plan("(Lp,Kpq,Bpq,Lq): [I,Q] -> [XX,XY,YX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), channels(s, dir, 8),
        None, Some(paTable(s, dir)))
      val rounded = Seq("xx", "xy", "yx", "yy").flatMap { n =>
        Seq(graft.core.Det.r6(col(s"${n}_re")).as(s"${n}_re"),
          graft.core.Det.r6(col(s"${n}_im")).as(s"${n}_im"))
      }
      out.select((col("row_id") +: col("chan") +: rounded): _*)
    },

    // -- fully-fused zero-shuffle predict: the source dimension table is
    //    collected (it is driver-sized, like the reference's parsed sky
    //    model) and inlined as an array literal; the source sum runs as a
    //    single higher-order aggregate INSIDE the row projection — the
    //    closest Spark analogue of the reference's fused numba kernel
    //    (africanus/experimental/rime/fused/intrinsics.py). Same math and
    //    oracle as r09, with NO aggregation exchange in the plan at all.
    //    Measured tradeoff at sf0.1: the groupBy path (r09) is ~2x faster
    //    locally (hash-agg codegen beats HOF lambdas), but its shuffle
    //    grows with output size while this plan never shuffles — the
    //    preferred shape when the cluster's exchange is the bottleneck.
    Q("x04_fused_projection",
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)})
         |SELECT row_id, chan,
         |  ${fsumSql(s"(CASE WHEN log_poly THEN $specLogSql ELSE $specOrdSql END) * cos($phaseSql)")} AS vre,
         |  ${fsumSql(s"(CASE WHEN log_poly THEN $specLogSql ELSE $specOrdSql END) * sin($phaseSql)")} AS vim
         |FROM rws, src, ch GROUP BY row_id, chan""".stripMargin) { (s, dir) =>
      // the sky model rides in as ONE flat constant (the fused-projection
      // design: a few thousand components broadcast with the task binary,
      // never crossJoined) — contracted by the CODEGEN'D RimeSourceSum
      // expression. The earlier aggregate()-lambda formulation computed
      // the identical longs but ran interpreted, which at the 10× replica
      // was ~7 s of pure lambda-eval overhead; the expression transcribes
      // the same operation tree (oracle unchanged, FusedProjectionSpec
      // pins expression ≡ lambda bit-for-bit).
      val flatModel = sources(s, dir, 5).collect().flatMap { r =>
        Seq(r.getAs[Double]("l"), r.getAs[Double]("m"),
          r.getAs[Double]("flux"), r.getAs[Double]("spi0"),
          r.getAs[Double]("spi1"), r.getAs[Double]("ref_freq"),
          if (r.getAs[Boolean]("log_poly")) 1.0 else 0.0)
      }.toIndexedSeq
      graft.expr.GraftFunctions.register(s)
      def fusedSum(sine: Boolean) = call_function("rime_source_sum",
        col("u"), col("v"), col("w"), col("freq"),
        typedLit(flatModel), lit(sine)) / 1e6
      uvwRows(s, dir, 16)
        .crossJoin(broadcast(channels(s, dir, 8)))
        .select(col("row_id"), col("chan"),
          fusedSum(sine = false).as("vre"), fusedSum(sine = true).as("vim"))
    },

    // -- G and L COMBINED in spec order (the round-1 compiler rejected
    //    this): V = G_p·R_p·M·R_qᴴ·G_qᴴ with the full 2×2 carried through
    //    the source sum. The oracle states the same chain via the string
    //    matrix algebra in the compiler's application order.
    Q("x06_fused_rime_gl", {
      val k = CS(s"cos($phaseSql)", s"sin($phaseSql)")
      def scaleS(b: String) = CS(s"(${k.re} * ($b))", s"(${k.im} * ($b))")
      val samplers = Seq(
        "xx" -> scaleS(s"flux + $qSql"),
        "xy" -> (CS("0e0", "0e0") * k),
        "yx" -> (CS("0e0", "(-0e0)") * k),
        "yy" -> scaleS(s"flux - $qSql"))
      val sumCols = samplers.map { case (n, z) =>
        s"    ${fsumSql(z.re)} AS ${n}_re,\n    ${fsumSql(z.im)} AS ${n}_im"
      }.mkString(",\n")
      val xsM = MS(CS("xs.xx_re", "xs.xx_im"), CS("xs.xy_re", "xs.xy_im"),
        CS("xs.yx_re", "xs.yx_im"), CS("xs.yy_re", "xs.yy_im"))
      def gM(p: String) = {
        val g = CS(s"$p.g_re", s"$p.g_im")
        MS(g, CS("0e0", "0e0"), CS("0e0", "0e0"), g)
      }
      def rot(p: String) = MS(
        CS(s"cos($p.pa)", "0e0"), CS(s"sin($p.pa)", "0e0"),
        CS(s"(-sin($p.pa))", "0e0"), CS(s"cos($p.pa)", "0e0"))
      // compiler order: mul(mul(G_p, mul(L_p, M)), herm(mul(G_q, L_q)))
      val v = mulS(mulS(gM("gp"), mulS(rot("pp"), xsM)),
        hermS(mulS(gM("gq"), rot("pq"))))
      val out = Seq("xx" -> v.m00, "xy" -> v.m01, "yx" -> v.m10, "yy" -> v.m11)
        .map { case (n, z) =>
          s"  ${r6Sql(z.re)} AS ${n}_re,\n  ${r6Sql(z.im)} AS ${n}_im"
        }.mkString(",\n")
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)}), g AS (${gainsSql()}), pat AS (${paTableSql()}),
         |xs AS (
         |  SELECT row_id, time_index, ant1, ant2, chan,
         |$sumCols
         |  FROM rws, src, ch GROUP BY row_id, time_index, ant1, ant2, chan)
         |SELECT xs.row_id, xs.chan,
         |$out
         |FROM xs
         |JOIN g gp ON gp.time_index = xs.time_index AND gp.ant = xs.ant1
         |JOIN g gq ON gq.time_index = xs.time_index AND gq.ant = xs.ant2
         |JOIN pat pp ON pp.time_index = xs.time_index AND pp.ant = xs.ant1
         |JOIN pat pq ON pq.time_index = xs.time_index AND pq.ant = xs.ant2""".stripMargin
    }) { (s, dir) =>
      val out = RimeCompiler.plan("(Gp,Lp,Kpq,Bpq,Lq,Gq): [I,Q] -> [XX,XY,YX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), channels(s, dir, 8),
        Some(gains(s, dir)), Some(paTable(s, dir)))
      val rounded = Seq("xx", "xy", "yx", "yy").flatMap { n =>
        Seq(graft.core.Det.r6(col(s"${n}_re")).as(s"${n}_re"),
          graft.core.Det.r6(col(s"${n}_im")).as(s"${n}_im"))
      }
      out.select((col("row_id") +: col("chan") +: rounded): _*)
    },

    // -- X3 parallactic-angle TRANSFORMER: the same G+L chain as x06 but
    //    with NO PA table supplied — the compiler derives it from the
    //    rows' (time, antenna) domain through the GMST backend (the
    //    reference transformer's job). The oracle restates the IAU-1982
    //    formula over the identical 16×7 grid.
    Q("x09_fused_rime_derived_pa", {
      val k = CS(s"cos($phaseSql)", s"sin($phaseSql)")
      def scaleS(b: String) = CS(s"(${k.re} * ($b))", s"(${k.im} * ($b))")
      val samplers = Seq(
        "xx" -> scaleS(s"flux + $qSql"),
        "xy" -> (CS("0e0", "0e0") * k),
        "yx" -> (CS("0e0", "(-0e0)") * k),
        "yy" -> scaleS(s"flux - $qSql"))
      val sumCols = samplers.map { case (n, z) =>
        s"    ${fsumSql(z.re)} AS ${n}_re,\n    ${fsumSql(z.im)} AS ${n}_im"
      }.mkString(",\n")
      val xsM = MS(CS("xs.xx_re", "xs.xx_im"), CS("xs.xy_re", "xs.xy_im"),
        CS("xs.yx_re", "xs.yx_im"), CS("xs.yy_re", "xs.yy_im"))
      def gM(p: String) = {
        val g = CS(s"$p.g_re", s"$p.g_im")
        MS(g, CS("0e0", "0e0"), CS("0e0", "0e0"), g)
      }
      def rot(p: String) = MS(
        CS(s"cos($p.pa)", "0e0"), CS(s"sin($p.pa)", "0e0"),
        CS(s"(-sin($p.pa))", "0e0"), CS(s"cos($p.pa)", "0e0"))
      val v = mulS(mulS(gM("gp"), mulS(rot("pp"), xsM)),
        hermS(mulS(gM("gq"), rot("pq"))))
      // The transformer ROUNDS the derived PA at r6 (RimeCompiler.derivePa)
      // so both engines take cos/sin of the bit-identical angle — round 3
      // proved no rounding bucket absorbs trig of an engine-computed
      // atan2 chain (x09 red at r4 with measured 4.7e-6 margins). With
      // exact trig arguments this is x06's driver-green regime; r4 keeps
      // a 100× guard band over the few-ulp product noise.
      val out = Seq("xx" -> v.m00, "xy" -> v.m01, "yx" -> v.m10, "yy" -> v.m11)
        .map { case (n, z) =>
          s"  ${graft.core.Det.r4Sql(z.re)} AS ${n}_re,\n  ${graft.core.Det.r4Sql(z.im)} AS ${n}_im"
        }.mkString(",\n")
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)}), g AS (${gainsSql()}),
         |pat AS (
         |  SELECT CAST(t.n_nationkey AS BIGINT) AS time_index,
         |    CAST(a.n_nationkey AS BIGINT) AS ant,
         |    ${graft.core.Det.r6Sql(graft.queries.RimeMore.paGmstSql)} AS pa
         |  FROM nation t, nation a
         |  WHERE t.n_nationkey < 16 AND a.n_nationkey < 7),
         |xs AS (
         |  SELECT row_id, time_index, ant1, ant2, chan,
         |$sumCols
         |  FROM rws, src, ch GROUP BY row_id, time_index, ant1, ant2, chan)
         |SELECT xs.row_id, xs.chan,
         |$out
         |FROM xs
         |JOIN g gp ON gp.time_index = xs.time_index AND gp.ant = xs.ant1
         |JOIN g gq ON gq.time_index = xs.time_index AND gq.ant = xs.ant2
         |JOIN pat pp ON pp.time_index = xs.time_index AND pp.ant = xs.ant1
         |JOIN pat pq ON pq.time_index = xs.time_index AND pq.ant = xs.ant2""".stripMargin
    }) { (s, dir) =>
      val out = RimeCompiler.plan("(Gp,Lp,Kpq,Bpq,Lq,Gq): [I,Q] -> [XX,XY,YX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), channels(s, dir, 8),
        Some(gains(s, dir)), None) // no PA table: the transformer derives it
      val rounded = Seq("xx", "xy", "yx", "yy").flatMap { n =>
        Seq(graft.core.Det.r4(col(s"${n}_re")).as(s"${n}_re"),
          graft.core.Det.r4(col(s"${n}_im")).as(s"${n}_im"))
      }
      out.select((col("row_id") +: col("chan") +: rounded): _*)
    },

    // -- LM TRANSFORMER (experimental/rime/fused/transformers/lm.py): the
    //    source table carries only (ra, dec); the compiler derives the
    //    direction cosines about the phase centre before the K sampler.
    //    The derived l/m are r9-rounded shared rationals (the x09-PA
    //    recipe), so the phase is IEEE-exact arithmetic of bit-identical
    //    inputs on both engines; uvw is scaled by the dyadic 1/65536 to
    //    keep |phase| ≪ 1 rad, where trig of a bit-identical argument is
    //    cross-libm safe (SyntheticMs source-comment regime). The oracle
    //    restates the full derivation chain.
    Q("x10_fused_rime_lm", {
      val lD = "round((cos(dec)*sin(ra - 25e-2)) * 1e9) / 1e9"
      val mD = "round((sin(dec)*cos(-38e-2) - cos(dec)*sin(-38e-2)*cos(ra - 25e-2)) * 1e9) / 1e9"
      s"""WITH src0 AS (${sourcesSql(5)}),
         |src AS (
         |  SELECT src_id, flux, $lD AS l, $mD AS m FROM src0),
         |rws0 AS (${uvwRowsSql(16)}),
         |rws AS (
         |  SELECT row_id, u/65536e0 AS u, v/65536e0 AS v, w/65536e0 AS w,
         |    ant1, ant2, time_index FROM rws0),
         |ch AS (${channelsSql(8)})
         |SELECT row_id, chan,
         |  ${fsumSql(s"(flux + $qSql) * cos($phaseSql)")} AS xx_re,
         |  ${fsumSql(s"(flux + $qSql) * sin($phaseSql)")} AS xx_im,
         |  ${fsumSql(s"(flux - $qSql) * cos($phaseSql)")} AS yy_re,
         |  ${fsumSql(s"(flux - $qSql) * sin($phaseSql)")} AS yy_im
         |FROM rws, src, ch GROUP BY row_id, chan""".stripMargin
    }) { (s, dir) =>
      val src = srcWithStokes(s, dir).drop("l", "m")
      val rws = uvwRows(s, dir, 16)
        .withColumn("u", col("u") / 65536e0)
        .withColumn("v", col("v") / 65536e0)
        .withColumn("w", col("w") / 65536e0)
      RimeCompiler.plan("(Kpq,Bpq): [I,Q] -> [XX,YY]",
        src, rws, channels(s, dir, 8), phaseDir = Some((Ra0, Dec0)))
    },

    // -- X1 feed inference: a CIRCULAR correlation basis switches the
    //    brightness sampler to the RR/RL/LR/LL tables —
    //    "(Kpq,Bpq): [I,V] -> [RR,LL]".
    Q("x07_fused_rime_circular", {
      val vSql = "((src_id % 5) - 2)/8e0"
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)})
         |SELECT row_id, chan,
         |  ${fsumSql(s"(flux + $vSql) * cos($phaseSql)")} AS rr_re,
         |  ${fsumSql(s"(flux + $vSql) * sin($phaseSql)")} AS rr_im,
         |  ${fsumSql(s"(flux - $vSql) * cos($phaseSql)")} AS ll_re,
         |  ${fsumSql(s"(flux - $vSql) * sin($phaseSql)")} AS ll_im
         |FROM rws, src, ch GROUP BY row_id, chan""".stripMargin
    }) { (s, dir) =>
      val src = sources(s, dir, 5)
        .withColumn("i", col("flux"))
        .withColumn("v", (col("src_id") % 5 - 2) / 8e0)
      RimeCompiler.plan("(Kpq,Bpq): [I,V] -> [RR,LL]",
        src, uvwRows(s, dir, 16), channels(s, dir, 8))
    },

    // -- X2 custom-term registry: the pre-registered per-source 'E' beam
    //    multiplied INSIDE the source sum —
    //    "(Ep,Kpq,Bpq,Eq): [I,Q] -> [XX,XY,YX,YY]". Output keeps the
    //    antenna keys (no DIE factors collapse them).
    Q("x08_fused_rime_dde", {
      val k = CS(s"cos($phaseSql)", s"sin($phaseSql)")
      def scaleS(b: String) = CS(s"(${k.re} * ($b))", s"(${k.im} * ($b))")
      val m0 = MS(
        scaleS(s"flux + $qSql"),
        CS("0e0", "0e0") * k,
        CS("0e0", "(-0e0)") * k,
        scaleS(s"flux - $qSql"))
      val ep = PredictFull.e2("src_id", "time_index", "ant1")
      val eq = PredictFull.e2("src_id", "time_index", "ant2")
      // compiler order: mul(mul(E_p, M), herm(E_q))
      val v = mulS(mulS(ep, m0), hermS(eq))
      val sums = Seq("xx" -> v.m00, "xy" -> v.m01, "yx" -> v.m10, "yy" -> v.m11)
        .map { case (n, z) =>
          s"  ${fsumSql(z.re)} AS ${n}_re,\n  ${fsumSql(z.im)} AS ${n}_im"
        }.mkString(",\n")
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)})
         |SELECT row_id, time_index, ant1, ant2, chan,
         |$sums
         |FROM rws, src, ch GROUP BY row_id, time_index, ant1, ant2, chan""".stripMargin
    }) { (s, dir) =>
      RimeCompiler.plan("(Ep,Kpq,Bpq,Eq): [I,Q] -> [XX,XY,YX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), channels(s, dir, 8))
    },

    // -- X2 registry GENERALITY: a second custom DDE term 'Z' — a
    //    Zernike-defocus-shaped diagonal Jones over dyadic per-(src, ant)
    //    radial coordinates (the full Zernike surface is verified by
    //    r08/r12; here the registry wiring itself is under the gate).
    //    Diagonal terms still route through the full-2×2 sum path, so
    //    the oracle states Z·M·Zᴴ with implicit-zero off-diagonals.
    Q("x11_fused_rime_zernike", {
      val k = CS(s"cos($phaseSql)", s"sin($phaseSql)")
      def scaleS(b: String) = CS(s"(${k.re} * ($b))", s"(${k.im} * ($b))")
      val m0 = MS(
        scaleS(s"flux + $qSql"),
        CS("0e0", "0e0") * k,
        CS("0e0", "(-0e0)") * k,
        scaleS(s"flux - $qSql"))
      def zM(a: String) = {
        val q = s"(((src_id * 3 + $a * 2) % 8) / 16e0)"
        MS(CS(s"(2e0 * $q - 1e0)", "0e0"), CS("0e0", "0e0"),
          CS("0e0", "0e0"), CS(s"(1e0 - $q / 2e0)", "0e0"))
      }
      val v = mulS(mulS(zM("ant1"), m0), hermS(zM("ant2")))
      val sums = Seq("xx" -> v.m00, "xy" -> v.m01, "yx" -> v.m10, "yy" -> v.m11)
        .map { case (n, z) =>
          s"  ${fsumSql(z.re)} AS ${n}_re,\n  ${fsumSql(z.im)} AS ${n}_im"
        }.mkString(",\n")
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)})
         |SELECT row_id, time_index, ant1, ant2, chan,
         |$sums
         |FROM rws, src, ch GROUP BY row_id, time_index, ant1, ant2, chan""".stripMargin
    }) { (s, dir) =>
      import graft.core.{Cx, CxCol}
      import graft.functions.Feeds.Jones2x2
      RimeCompiler.registerDde('Z', (src, _, ant) => {
        val q = ((src * 3 + ant * 2) % 8) / 16e0
        Jones2x2(CxCol(lit(2e0) * q - 1e0, lit(0e0)), Cx.zero, Cx.zero,
          CxCol(lit(1e0) - q / 2e0, lit(0e0)))
      })
      RimeCompiler.plan("(Zp,Kpq,Bpq,Zq): [I,Q] -> [XX,XY,YX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), channels(s, dir, 8))
    },

    // -- X2 with the REAL beam: the FITS cube sampler as a fused term —
    //    "(Cp,Kpq,Bpq,Cq)" where C is graft.rime.BeamCubeTerm: complex
    //    cube ingested from a FITS file pair via the $(corr)/$(reim)
    //    filename schema, header-derived geometry, irregular-GFREQ
    //    frequency interpolation WITH boundary extrapolation (clamp plane,
    //    scale lm by f/f_boundary — channels 0-1 and 7-8 of the widened
    //    SPW fall outside the cube grid), snap-clamped spatial
    //    coordinates (sources 0 and 4 overflow the grid at lmZoom=2048),
    //    8-corner trilinear gather, amplitude renormalization — matching
    //    fused/terms/cube_dde.py:19-333 ∘ fast_beam_cubes.py:10-238. The
    //    oracle restates the cube from the fixture's closed-form
    //    generating model (r4 shared rationals, the r16-proven bucket),
    //    the full coordinate chain, the corner joins, and E·M·Eᴴ.
    Q("x12_fused_rime_beam",
      // x12 spells its XX closed forms with spaces
      beamOracle(Seq(BeamSql.Element("", "cos(a) * cos(a) * cos(a)",
          "cos(a) * cos(a) * sin(a) * 25e-2")),
        MS(CS("e_re", "e_im"), CS("0e0", "0e0"),
          CS("0e0", "0e0"), CS("e_re", "e_im")))
    ) { (s, dir) =>
      import graft.io.BeamFixture
      import graft.rime.BeamCubeTerm
      RimeCompiler.registerTerm('C',
        BeamCubeTerm(BeamFixture.defaultSchema, 2048.0))
      val ch = graft.core.Tables.nation(s, dir)
        .filter(col("n_nationkey") < 9)
        .select(col("n_nationkey").cast("long").as("chan"),
          (lit(7e8) + col("n_nationkey") * 15e7).as("freq"))
      RimeCompiler.plan("(Cp,Kpq,Bpq,Cq): [I,Q] -> [XX,XY,YX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), ch)
    },

    // -- FULL-JONES beam DDE (the 4-element MeqTrees beamset): every
    //    E-matrix element (xx, xy, yx, yy) is its own complex cube pair,
    //    sampled independently through the x12 trilinear machinery
    //    (per-element amplitude renorm), and the full 2x2 E — leakage
    //    off-diagonals included — sandwiches the brightness as E·B·Eᴴ.
    //    Same determinism class as x12: r4 shared-rational voxels, every
    //    downstream op IEEE-exact class (a).
    Q("x14_fused_rime_beam_full",
      beamOracle(BeamSql.quad,
        MS(CS("e_xx_re", "e_xx_im"), CS("e_xy_re", "e_xy_im"),
          CS("e_yx_re", "e_yx_im"), CS("e_yy_re", "e_yy_im")))
    ) { (s, dir) =>
      import graft.io.BeamFixture
      import graft.rime.BeamCubeTerm
      RimeCompiler.registerTerm('J', BeamCubeTerm(
        BeamFixture.defaultQuadSchema, 2048.0, BeamCubeTerm.FullJones))
      val ch = graft.core.Tables.nation(s, dir)
        .filter(col("n_nationkey") < 9)
        .select(col("n_nationkey").cast("long").as("chan"),
          (lit(7e8) + col("n_nationkey") * 15e7).as("freq"))
      RimeCompiler.plan("(Jp,Kpq,Bpq,Jq): [I,Q] -> [XX,XY,YX,YY]",
        srcWithStokes(s, dir), uvwRows(s, dir, 16), ch)
    },

    // -- The fused GAUSSIAN SHAPE term (fused/terms/gaussian.py:9-80): a
    //    scalar pq envelope scaling every correlation of the coherency
    //    inside the source sum — r10's taper expression registered as
    //    pair term 'S'. The envelope is r6-rounded to a shared rational
    //    (the compound exp(trig) chain of the r10-proven bucket), so the
    //    fsum terms stay class (a)x(b) of bit-identical factors.
    Q("x13_fused_rime_gaussian", {
      val shape = graft.core.Det.r6Sql(
        "exp(-(pi()*pi()/(4e0*ln(2e0))) * ((freq/299792458e0)*(freq/299792458e0)) * " +
        "(((u*cos(ang) - v*sin(ang)) * (emin/emaj)) * ((u*cos(ang) - v*sin(ang)) * (emin/emaj)) " +
        "+ (u*sin(ang) + v*cos(ang)) * (u*sin(ang) + v*cos(ang))) * (emaj*emaj))")
      s"""WITH src AS (${sourcesSql(5)}), rws AS (${uvwRowsSql(16)}),
         |ch AS (${channelsSql(8)}),
         |gp AS (
         |  SELECT src_id, flux, l, m,
         |    1e-4 * (src_id + 2) AS emaj, 5e-5 * (src_id + 1) AS emin,
         |    3e-1 * src_id AS ang
         |  FROM src)
         |SELECT row_id, chan,
         |  ${fsumSql(s"((flux + $qSql) * cos($phaseSql)) * $shape")} AS xx_re,
         |  ${fsumSql(s"((flux + $qSql) * sin($phaseSql)) * $shape")} AS xx_im,
         |  ${fsumSql(s"((flux - $qSql) * cos($phaseSql)) * $shape")} AS yy_re,
         |  ${fsumSql(s"((flux - $qSql) * sin($phaseSql)) * $shape")} AS yy_im
         |FROM rws, gp, ch GROUP BY row_id, chan""".stripMargin
    }) { (s, dir) =>
      val u1 = (col("u") * cos(col("ang")) - col("v") * sin(col("ang"))) *
        (col("emin") / col("emaj"))
      val v1 = col("u") * sin(col("ang")) + col("v") * cos(col("ang"))
      val fsq = (col("freq") / 299792458e0) * (col("freq") / 299792458e0)
      val kc = lit(-(math.Pi * math.Pi)) / (lit(4e0) * log(lit(2e0)))
      RimeCompiler.registerPair('S', () => graft.core.Det.r6(
        exp(kc * fsq * (u1 * u1 + v1 * v1) * (col("emaj") * col("emaj")))))
      val src = srcWithStokes(s, dir)
        .withColumn("emaj", lit(1e-4) * (col("src_id") + 2))
        .withColumn("emin", lit(5e-5) * (col("src_id") + 1))
        .withColumn("ang", lit(3e-1) * col("src_id"))
      RimeCompiler.plan("(Kpq,Spq,Bpq): [I,Q] -> [XX,YY]",
        src, uvwRows(s, dir, 16), channels(s, dir, 8))
    },

    // -- X4's compensated summation in the PRODUCT path: the source
    //    contraction routed through the native `kahan_sum` Catalyst
    //    aggregate (expr/GraftExpressions.scala). On this fixture the
    //    terms are exact dyadics, so the compensated result coincides with
    //    the oracle's plain SUM bit for bit — which is precisely what
    //    makes it hash-verifiable; on non-dyadic data the compensation is
    //    what keeps the fused sum stable.
    Q("x05_kahan_source_sum",
      s"""WITH rws AS (${uvwRowsSql(16)}), src AS (${sourcesSql(5)}),
         |ch AS (${channelsSql(8)})
         |SELECT row_id, chan,
         |  SUM($cohReSql) AS vre, SUM($cohImSql) AS vim
         |FROM rws, src, ch GROUP BY row_id, chan""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      uvwRows(s, dir, 16)
        .crossJoin(broadcast(sources(s, dir, 5)))
        .crossJoin(broadcast(channels(s, dir, 8)))
        .groupBy("row_id", "chan")
        .agg(
          expr(s"kahan_sum($cohReSql)").as("vre"),
          expr(s"kahan_sum($cohImSql)").as("vim"))
    })

  /** Sky-model component for x04's typedLit array literal. */
  final case class SrcLit(l: Double, m: Double, flux: Double, spi0: Double,
                          spi1: Double, rf: Double, lp: Boolean)
}
