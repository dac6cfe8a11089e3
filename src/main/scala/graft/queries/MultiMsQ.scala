package graft.queries

import org.apache.spark.sql.functions._
import graft.Q
import graft.core.Det
import graft.io.MsDataset

/** Multi-field / multi-SPW grouped predict — the reference's flagship
  * example opens the MS grouped by (FIELD_ID, DATA_DESC_ID) and runs one
  * independent graph per group, each with its own phase centre, channel
  * grid, and sky model (rime/examples/predict.py:548-559). The Spark-first
  * shape is ONE declarative plan over all groups: MAIN is partitioned on
  * disk by the group keys (so any per-group read prunes at the scan —
  * `writeSyntheticMulti`), the group-resolved dimensions (DATA_DESCRIPTION
  * → SPECTRAL_WINDOW channels, per-field source components) broadcast, and
  * the per-(row, chan) source sum is one partial+final aggregation. The
  * per-group independence the reference encodes as separate dask graphs
  * falls out of grouping keys instead of orchestration.
  *
  * Determinism (the x01 pattern): uvw / lm / flux are closed-form rationals
  * restated by the oracle, the phase is an IEEE-exact chain of bit-identical
  * operands, and the source sum is Det.fsum of flux·trig(bit-identical
  * phase) terms — CLAUDE.md class (c).
  */
object MultiMsQ {

  val qs: Seq[Q] = Seq(

    Q("r18_multifield_predict",
      s"""WITH r AS (SELECT range AS row_id FROM range(0, 400)),
         |mn AS (
         |  SELECT row_id,
         |    CAST((row_id // 100) % 2 AS INTEGER) AS field_id,
         |    CAST((row_id // 50) % 2 AS INTEGER) AS ddid,
         |    ((row_id * 7) % 2001 - 1000) / 2e0 AS u,
         |    ((row_id * 3) % 2001 - 1000) / 2e0 AS v,
         |    ((row_id * 11) % 201 - 100) / 2e1 AS w
         |  FROM r),
         |ch AS (SELECT unnest(generate_series(0, 3)) AS chan),
         |src AS (
         |  SELECT * FROM (VALUES
         |    (0, 15625e-6, -234375e-7, 25e-1),
         |    (0, -78125e-7, 46875e-6, 15e-1),
         |    (1, -1953125e-8, 13671875e-9, 125e-2),
         |    (1, 9765625e-9, -5859375e-9, 75e-2))
         |    AS t(field_id, l, m, flux)),
         |sp AS (
         |  SELECT mn.*, ch.chan, src.l, src.m, src.flux,
         |    CASE WHEN mn.ddid = 0 THEN 856e6 + ch.chan * 107e6
         |         ELSE 1712e6 + ch.chan * 535e5 END AS freq
         |  FROM mn, ch
         |  JOIN src ON src.field_id = mn.field_id)
         |SELECT field_id, ddid, row_id, chan,
         |  ${Det.fsumSql(s"flux * cos(${SyntheticMs.phaseSql})")} AS vre,
         |  ${Det.fsumSql(s"flux * sin(${SyntheticMs.phaseSql})")} AS vim
         |FROM sp GROUP BY field_id, ddid, row_id, chan""".stripMargin) {
      (s, dir) =>
      import s.implicits._
      val msDir = MsDataset.ensureMultiFixture(s)
      val ms = MsDataset.read(s, msDir)
      // group-resolved channel grid: DATA_DESC_ID -> SPW -> (chan, freq)
      val chans = broadcast(ms.dataDescription.get
        .join(ms.spectralWindow,
          col("SPECTRAL_WINDOW_ID") === col("spw_id"))
        .select(col("ddid").as("c_ddid"),
          posexplode(col("CHAN_FREQ")).as(Seq("chan", "freq")))
        .select(col("c_ddid"), col("chan").cast("long").as("chan"),
          col("freq")))
      // per-field sky model (2 components each) — dyadic lm/flux
      val srcs = broadcast(Seq(
        (0, 0.015625, -0.0234375, 2.5),
        (0, -0.0078125, 0.046875, 1.5),
        (1, -0.01953125, 0.013671875, 1.25),
        (1, 0.009765625, -0.005859375, 0.75))
        .toDF("s_field", "l", "m", "flux"))
      val main = ms.main.select(col("row_id"),
        col("FIELD_ID").cast("int").as("field_id"),
        col("DATA_DESC_ID").cast("int").as("ddid"),
        element_at(col("UVW"), 1).as("u"),
        element_at(col("UVW"), 2).as("v"),
        element_at(col("UVW"), 3).as("w"))
      val ph = graft.functions.Phase.realPhase(col("l"), col("m"),
        col("u"), col("v"), col("w")) * col("freq")
      main
        .join(chans, col("ddid") === col("c_ddid"))
        .join(srcs, col("field_id") === col("s_field"))
        .groupBy("field_id", "ddid", "row_id", "chan")
        .agg(Det.fsum(col("flux") * cos(ph)).as("vre"),
          Det.fsum(col("flux") * sin(ph)).as("vim"))
    },

    // -- the same multi-group MS through the fused-RIME COMPILER: one
    //    parsed spec plans all (FIELD_ID, DATA_DESC_ID) groups — per-field
    //    sky models resolved by the group join, per-field phase centres
    //    through the grouped LM transformer (FIELD.PHASE_DIR), per-SPW
    //    channel grids from DATA_DESCRIPTION, and the model-table groups
    //    pushed as partition filters on the MAIN scan (PlanSpec asserts
    //    the pruned read). Reference: rime/examples/predict.py:548-559's
    //    per-group graphs, here as ONE declarative plan.
    //    Determinism: x10's LM-transformer treatment (r9-rounded trig of
    //    bit-identical dyadic/decimal-literal arguments — class (b) + the
    //    shared-rational collapse), x01's fsum source sum.
    Q("x15_fused_rime_grouped", {
      val lD = Det.r9Sql("cos(dec)*sin(ra - ra0)")
      val mD = Det.r9Sql("sin(dec)*cos(dec0) - cos(dec)*sin(dec0)*cos(ra - ra0)")
      s"""WITH r AS (SELECT range AS row_id FROM range(0, 400)),
         |mn AS (
         |  SELECT row_id,
         |    CAST((row_id // 100) % 2 AS INTEGER) AS field_id,
         |    CAST((row_id // 50) % 2 AS INTEGER) AS ddid,
         |    ((row_id * 7) % 2001 - 1000) / 2e0 AS u,
         |    ((row_id * 3) % 2001 - 1000) / 2e0 AS v,
         |    ((row_id * 11) % 201 - 100) / 2e1 AS w
         |  FROM r),
         |ch AS (SELECT unnest(generate_series(0, 3)) AS chan),
         |pc AS (SELECT * FROM (VALUES
         |    (0, 25e-2, -38e-2), (1, 75e-2, 11e-2)) AS t(field_id, ra0, dec0)),
         |src0 AS (
         |  SELECT * FROM (VALUES
         |    (0, 265625e-6, -3878125e-7, 25e-1, 25e-2),
         |    (0, 2421875e-7, -36875e-5, 15e-1, -25e-2),
         |    (1, 7578125e-7, 1178125e-7, 125e-2, 125e-3),
         |    (1, 734375e-6, 965625e-7, 75e-2, -125e-3))
         |    AS t(field_id, ra, dec, i, q)),
         |src AS (
         |  SELECT src0.field_id, $lD AS l, $mD AS m, i, q
         |  FROM src0 JOIN pc ON pc.field_id = src0.field_id),
         |sp AS (
         |  SELECT mn.*, ch.chan, src.l, src.m, src.i, src.q,
         |    CASE WHEN mn.ddid = 0 THEN 856e6 + ch.chan * 107e6
         |         ELSE 1712e6 + ch.chan * 535e5 END AS freq
         |  FROM mn, ch
         |  JOIN src ON src.field_id = mn.field_id)
         |SELECT field_id, ddid, row_id, chan,
         |  ${Det.fsumSql(s"(i + q) * cos(${SyntheticMs.phaseSql})")} AS xx_re,
         |  ${Det.fsumSql(s"(i + q) * sin(${SyntheticMs.phaseSql})")} AS xx_im,
         |  ${Det.fsumSql(s"(i - q) * cos(${SyntheticMs.phaseSql})")} AS yy_re,
         |  ${Det.fsumSql(s"(i - q) * sin(${SyntheticMs.phaseSql})")} AS yy_im
         |FROM sp GROUP BY field_id, ddid, row_id, chan""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val msDir = MsDataset.ensureMultiFixture(s)
      val ms = MsDataset.read(s, msDir)
      val chans = ms.dataDescription.get
        .join(ms.spectralWindow,
          col("SPECTRAL_WINDOW_ID") === col("spw_id"))
        .select(col("ddid"),
          posexplode(col("CHAN_FREQ")).as(Seq("chan", "freq")))
        .select(col("ddid"), col("chan").cast("long").as("chan"),
          col("freq"))
      val fieldDirs = ms.field.select(col("field_id"),
        element_at(col("PHASE_DIR"), 1).as("ra0"),
        element_at(col("PHASE_DIR"), 2).as("dec0"))
      // per-field components: (ra, dec) decimal literals — both engines'
      // correctly-rounded parses of the same decimal, so the LM trig
      // arguments are bit-identical; stokes dyadic
      val src = Seq(
        (0L, 0, 0.265625, -0.3878125, 2.5, 0.25),
        (1L, 0, 0.2421875, -0.36875, 1.5, -0.25),
        (2L, 1, 0.7578125, 0.1178125, 1.25, 0.125),
        (3L, 1, 0.734375, 0.0965625, 0.75, -0.125))
        .toDF("src_id", "field_id", "ra", "dec", "i", "q")
      val rows = ms.main.select(col("row_id"),
        col("FIELD_ID").cast("int").as("field_id"),
        col("DATA_DESC_ID").cast("int").as("ddid"),
        element_at(col("UVW"), 1).as("u"),
        element_at(col("UVW"), 2).as("v"),
        element_at(col("UVW"), 3).as("w"))
      graft.rime.RimeCompiler.planGrouped("(Kpq,Bpq): [I,Q] -> [XX,YY]",
        src, rows, chans, fieldDirs = Some(fieldDirs))
    },

    // -- the grouped compiler composed with the DIE chain: per-(time, ant)
    //    gains applied OUTSIDE the grouped source sum —
    //    "(Gp,Kpq,Bpq,Gq): [I] -> [XX]" over the 2-field x 2-SPW MS. The
    //    source sum now carries (field_id, ddid) PLUS the antenna keys
    //    (the needsAnts grouped path), and the g_p·X·g_q* product applies
    //    per requested corr after the broadcast gains join (the x02
    //    algebra, group columns riding through). time_index / antennas
    //    come from the MS columns (TIME's closed form restated by the
    //    oracle); gains are dyadic rationals on the (16-time x 5-ant)
    //    grid.
    Q("x16_fused_rime_grouped_gains", {
      def tri(re: String, im: String): (String, String) = (
        s"(gp.g_re*$re - gp.g_im*$im)*gq.g_re + (gp.g_re*$im + gp.g_im*$re)*gq.g_im",
        s"(gp.g_re*$im + gp.g_im*$re)*gq.g_re - (gp.g_re*$re - gp.g_im*$im)*gq.g_im")
      val (xxRe, xxIm) = tri("xs.xx_re", "xs.xx_im")
      s"""WITH r AS (SELECT range AS row_id FROM range(0, 400)),
         |mn AS (
         |  SELECT row_id,
         |    CAST((row_id // 100) % 2 AS INTEGER) AS field_id,
         |    CAST((row_id // 50) % 2 AS INTEGER) AS ddid,
         |    row_id // 25 AS time_index,
         |    row_id % 5 AS ant1,
         |    (row_id // 5) % 5 AS ant2,
         |    ((row_id * 7) % 2001 - 1000) / 2e0 AS u,
         |    ((row_id * 3) % 2001 - 1000) / 2e0 AS v,
         |    ((row_id * 11) % 201 - 100) / 2e1 AS w
         |  FROM r),
         |ch AS (SELECT unnest(generate_series(0, 3)) AS chan),
         |src AS (
         |  SELECT * FROM (VALUES
         |    (0, 15625e-6, -234375e-7, 25e-1),
         |    (0, -78125e-7, 46875e-6, 15e-1),
         |    (1, -1953125e-8, 13671875e-9, 125e-2),
         |    (1, 9765625e-9, -5859375e-9, 75e-2))
         |    AS t(field_id, l, m, flux)),
         |g AS (
         |  SELECT tt.t AS time_index, aa.a AS ant,
         |    1e0 + ((tt.t*5 + aa.a) % 7 - 3)/64e0 AS g_re,
         |    ((tt.t*3 + aa.a*2) % 5 - 2)/64e0 AS g_im
         |  FROM (SELECT unnest(generate_series(0, 15)) AS t) tt,
         |       (SELECT unnest(generate_series(0, 4)) AS a) aa),
         |sp AS (
         |  SELECT mn.*, ch.chan, src.l, src.m, src.flux,
         |    CASE WHEN mn.ddid = 0 THEN 856e6 + ch.chan * 107e6
         |         ELSE 1712e6 + ch.chan * 535e5 END AS freq
         |  FROM mn, ch
         |  JOIN src ON src.field_id = mn.field_id),
         |xs AS (
         |  SELECT field_id, ddid, row_id, time_index, ant1, ant2, chan,
         |    ${Det.fsumSql(s"flux * cos(${SyntheticMs.phaseSql})")} AS xx_re,
         |    ${Det.fsumSql(s"flux * sin(${SyntheticMs.phaseSql})")} AS xx_im
         |  FROM sp GROUP BY field_id, ddid, row_id, time_index, ant1, ant2, chan)
         |SELECT xs.field_id, xs.ddid, xs.row_id, xs.chan,
         |  $xxRe AS xx_re, $xxIm AS xx_im
         |FROM xs
         |JOIN g gp ON gp.time_index = xs.time_index AND gp.ant = xs.ant1
         |JOIN g gq ON gq.time_index = xs.time_index AND gq.ant = xs.ant2""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      val msDir = MsDataset.ensureMultiFixture(s)
      val ms = MsDataset.read(s, msDir)
      val chans = ms.dataDescription.get
        .join(ms.spectralWindow,
          col("SPECTRAL_WINDOW_ID") === col("spw_id"))
        .select(col("ddid"),
          posexplode(col("CHAN_FREQ")).as(Seq("chan", "freq")))
        .select(col("ddid"), col("chan").cast("long").as("chan"),
          col("freq"))
      val src = Seq(
        (0L, 0, 0.015625, -0.0234375, 2.5),
        (1L, 0, -0.0078125, 0.046875, 1.5),
        (2L, 1, -0.01953125, 0.013671875, 1.25),
        (3L, 1, 0.009765625, -0.005859375, 0.75))
        .toDF("src_id", "field_id", "l", "m", "i")
      val rows = ms.main.select(col("row_id"),
        col("FIELD_ID").cast("int").as("field_id"),
        col("DATA_DESC_ID").cast("int").as("ddid"),
        ((col("TIME") - lit(5084553600.0)) / lit(8.0)).cast("long")
          .as("time_index"),
        col("ANTENNA1").cast("long").as("ant1"),
        col("ANTENNA2").cast("long").as("ant2"),
        element_at(col("UVW"), 1).as("u"),
        element_at(col("UVW"), 2).as("v"),
        element_at(col("UVW"), 3).as("w"))
      val gains = (for (t <- 0L to 15L; a <- 0L to 4L) yield
        (t, a, 1.0 + ((t * 5 + a) % 7 - 3) / 64.0,
          ((t * 3 + a * 2) % 5 - 2) / 64.0))
        .toDF("time_index", "ant", "g_re", "g_im")
      graft.rime.RimeCompiler.planGrouped("(Gp,Kpq,Bpq,Gq): [I] -> [XX]",
        src, rows, chans, gainsDf = Some(gains))
    },

    // -- x17 (round-10, the r9 composition ask): the FULL-JONES quad-beam
    //    DDE (x14's 4-element MeqTrees beamset, trilinear gather +
    //    per-element amplitude renorm) through the GROUPED compiler path
    //    (x15/x16's 2-field × 2-SPW MS) — "(Jp,Kpq,Bpq,Jq)" planned ONCE
    //    over all (FIELD_ID, DATA_DESC_ID) groups. The load-bearing new
    //    semantics is PER-SPW GFREQ interpolation: each DATA_DESC's
    //    channel grid maps onto the beam's irregular GFREQ planes
    //    independently — SPW 0 (856–1177 MHz) interpolates interior
    //    planes, SPW 1 (1712–1872.5 MHz) clamps at the top plane and
    //    SCALES (l, m) by f/f_max (the reference's extrapolation,
    //    fast_beam_cubes.py:10-54) — so the staged blend dimension is
    //    keyed (src_id, chan, ddid), not (src_id, chan) (the
    //    BeamCubeTerm group-aware key). Staging stays the x14
    //    dimension-frame shape: blends computed once per (src, ddid,
    //    chan) on the driver, broadcast-joined back as a local table —
    //    the PlanSpec staged-dimension-blend guard. Determinism: x14's class —
    //    r4 shared-rational voxels, IEEE-exact blend chain, fsum sums.
    //    Reference: rime/examples/predict.py:475-527 (vis_factory per
    //    group with --beam).
    Q("x17_fused_rime_grouped_beam", {
      import SqlCx.{CS, MS, mulS, hermS}
      import graft.core.Det.fsumSql
      val beam = BeamSql.ctes(BeamSql.quad, Seq("ddid", "chan", "freq"),
        Seq(Seq("src_id", "field_id", "i", "q", "l", "m"),
          Seq("ddid", "chan", "freq")))
      val k = CS(s"cos(${SyntheticMs.phaseSql})", s"sin(${SyntheticMs.phaseSql})")
      def scaleS(b: String) = CS(s"(${k.re} * ($b))", s"(${k.im} * ($b))")
      val m0 = MS(
        scaleS("i + q"),
        CS("0e0", "0e0") * k,
        CS("0e0", "(-0e0)") * k,
        scaleS("i - q"))
      val eM = MS(CS("e_xx_re", "e_xx_im"), CS("e_xy_re", "e_xy_im"),
        CS("e_yx_re", "e_yx_im"), CS("e_yy_re", "e_yy_im"))
      val v = mulS(mulS(eM, m0), hermS(eM))
      val sums = Seq("xx" -> v.m00, "xy" -> v.m01, "yx" -> v.m10, "yy" -> v.m11)
        .map { case (n, z) =>
          s"  ${fsumSql(z.re)} AS ${n}_re,\n  ${fsumSql(z.im)} AS ${n}_im"
        }.mkString(",\n")
      s"""WITH r AS (SELECT range AS row_id FROM range(0, 400)),
         |mn AS (
         |  SELECT row_id,
         |    CAST((row_id // 100) % 2 AS INTEGER) AS field_id,
         |    CAST((row_id // 50) % 2 AS INTEGER) AS ddid,
         |    row_id // 25 AS time_index,
         |    row_id % 5 AS ant1,
         |    (row_id // 5) % 5 AS ant2,
         |    ((row_id * 7) % 2001 - 1000) / 2e0 AS u,
         |    ((row_id * 3) % 2001 - 1000) / 2e0 AS v,
         |    ((row_id * 11) % 201 - 100) / 2e1 AS w
         |  FROM r),
         |ch AS (
         |  SELECT d.ddid, c.chan,
         |    CASE WHEN d.ddid = 0 THEN 856e6 + c.chan * 107e6
         |         ELSE 1712e6 + c.chan * 535e5 END AS freq
         |  FROM (VALUES (0), (1)) AS d(ddid),
         |       (SELECT unnest(generate_series(0, 3)) AS chan) c),
         |src AS (
         |  SELECT * FROM (VALUES
         |    (0, 0, (-2e-2)/1024e0, (1e-2)/1024e0, 25e-1, 25e-2),
         |    (1, 0, (-1e-2)/1024e0, (5e-3)/1024e0, 15e-1, -25e-2),
         |    (2, 1, (1e-2)/1024e0, (-5e-3)/1024e0, 125e-2, 125e-3),
         |    (3, 1, (3e-2)/1024e0, (-1e-2)/1024e0, 75e-2, -125e-3))
         |    AS t(src_id, field_id, l, m, i, q)),
         |$beam
         |SELECT mn.field_id, mn.ddid, row_id, time_index, ant1, ant2, chan,
         |$sums
         |FROM mn JOIN pe ON pe.field_id = mn.field_id AND pe.ddid = mn.ddid
         |GROUP BY mn.field_id, mn.ddid, row_id, time_index, ant1, ant2, chan""".stripMargin
    }) { (s, dir) =>
      import s.implicits._
      import graft.io.BeamFixture
      import graft.rime.{BeamCubeTerm, RimeCompiler}
      RimeCompiler.registerTerm('J', BeamCubeTerm(
        BeamFixture.defaultQuadSchema, 2048.0, BeamCubeTerm.FullJones))
      val msDir = MsDataset.ensureMultiFixture(s)
      val ms = MsDataset.read(s, msDir)
      val chans = ms.dataDescription.get
        .join(ms.spectralWindow,
          col("SPECTRAL_WINDOW_ID") === col("spw_id"))
        .select(col("ddid"),
          posexplode(col("CHAN_FREQ")).as(Seq("chan", "freq")))
        .select(col("ddid"), col("chan").cast("long").as("chan"),
          col("freq"))
      // decimal-literal (l, m) at the x14 beam scale (/2^10 is exact):
      // both engines parse the same decimals, so every pix/blend operand
      // downstream is bit-identical
      val src = Seq(
        (0L, 0, -2e-2 / 1024e0, 1e-2 / 1024e0, 2.5, 0.25),
        (1L, 0, -1e-2 / 1024e0, 5e-3 / 1024e0, 1.5, -0.25),
        (2L, 1, 1e-2 / 1024e0, -5e-3 / 1024e0, 1.25, 0.125),
        (3L, 1, 3e-2 / 1024e0, -1e-2 / 1024e0, 0.75, -0.125))
        .toDF("src_id", "field_id", "l", "m", "i", "q")
      val rows = ms.main.select(col("row_id"),
        col("FIELD_ID").cast("int").as("field_id"),
        col("DATA_DESC_ID").cast("int").as("ddid"),
        ((col("TIME") - lit(5084553600.0)) / lit(8.0)).cast("long")
          .as("time_index"),
        col("ANTENNA1").cast("long").as("ant1"),
        col("ANTENNA2").cast("long").as("ant2"),
        element_at(col("UVW"), 1).as("u"),
        element_at(col("UVW"), 2).as("v"),
        element_at(col("UVW"), 3).as("w"))
      RimeCompiler.planGrouped("(Jp,Kpq,Bpq,Jq): [I,Q] -> [XX,XY,YX,YY]",
        src, rows, chans)
    })
}
