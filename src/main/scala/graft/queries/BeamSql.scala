package graft.queries

import graft.core.Det
import graft.io.BeamFixture.{NFreq, NPix}
import graft.rime.BeamCubeTerm

/** The DuckDB oracle's statement of the beam-cube DDE term
  * ([[graft.rime.BeamCubeTerm]]) over the BeamFixture cubes — one builder
  * for x12, x14 and x17: the closed-form r4 voxel cube, the GFREQ map
  * (boundary clamp + lm scaling), the snap-clamped pixel map, the
  * 8-corner joins and the trilinear blend with amplitude renormalization,
  * one blend per E-matrix element. */
object BeamSql {

  /** One E-matrix element: the suffix of its cube (`b<suffix>_re/_im`)
    * and blend (`e<suffix>_re/_im`) columns, and its re/im closed forms
    * of the clamped Westerbork argument `a` (BeamFixture.beamValueCorr
    * restated; callers spell their own forms, so every oracle string
    * stays as its row has always hashed it). */
  final case class Element(suffix: String, re: String, im: String)

  /** The full-Jones quad of x14/x17. */
  val quad: Seq[Element] = Seq(
    Element("_xx", "cos(a)*cos(a)*cos(a)", "cos(a)*cos(a)*sin(a) * 25e-2"),
    Element("_xy", "cos(a)*cos(a)*sin(a) * 125e-3", "cos(a)*sin(a)*sin(a) * 625e-4"),
    Element("_yx", "cos(a)*sin(a)*sin(a) * 625e-4", "(-(cos(a)*cos(a)*sin(a))) * 125e-3"),
    Element("_yy", "cos(a)*cos(a)*cos(a) * 75e-2 + cos(a) * 25e-2",
      "cos(a)*cos(a)*sin(a) * 125e-3"))

  /** The CTE chain `cube, fm0, fm1, fm, pt, pp, pe` over the caller's
    * `src` and `ch` CTEs. `chCols` are the channel columns fm carries;
    * `carry` the columns pt/pp carry from `src` × `fm`, in the groups pe
    * lists them (one line per group). pe adds `e<suffix>_re/_im` per
    * element. */
  def ctes(elements: Seq[Element], chCols: Seq[String],
           carry: Seq[Seq[String]]): String = {
    val arg = "LEAST(65e0 * (freq * 1e-9) * sqrt(l*l + m*m), 10881e-4)"
    val valCols = elements.map { e =>
      s"    ${Det.r4Sql(e.re)} AS b${e.suffix}_re,\n" +
        s"    ${Det.r4Sql(e.im)} AS b${e.suffix}_im"
    }.mkString(",\n")
    val cubeSql =
      s"""SELECT x AS li, y AS mi, f AS fi,
         |$valCols
         |  FROM (
         |    SELECT x, y, f, $arg AS a
         |    FROM (
         |      SELECT CAST(px.n_nationkey AS BIGINT) AS x,
         |        CAST(py.n_nationkey AS BIGINT) AS y,
         |        CAST(pf.n_nationkey AS BIGINT) AS f,
         |        ((CAST(px.n_nationkey AS DOUBLE) - 4e0) * 375e-3) * (pi() / 180e0) AS l,
         |        ((CAST(py.n_nationkey AS DOUBLE) - 4e0) * 375e-3) * (pi() / 180e0) AS m,
         |        856e6 + pf.n_nationkey * 214e6 + (CASE WHEN pf.n_nationkey = 0
         |          OR pf.n_nationkey = ${NFreq - 1} THEN 0e0
         |          ELSE ((pf.n_nationkey*3) % 5 - 2) * 1e5 END) AS freq
         |      FROM nation px, nation py, nation pf
         |      WHERE px.n_nationkey < $NPix AND py.n_nationkey < $NPix
         |        AND pf.n_nationkey < $NFreq))""".stripMargin
    // GFREQ grid values (exact integers; jitter per BeamFixture.freq)
    val gf = (0 until NFreq).map(f => 856e6 + f * 214e6 +
      (if (f == 0 || f == NFreq - 1) 0.0 else ((f * 3) % 5 - 2) * 1e5))
    def gfLit(v: Double): String = s"${v.toLong}e0"
    def planeCase(off: Int): String =
      "(CASE f0 " + (0 until NFreq - 1).map(k =>
        s"WHEN $k THEN ${gfLit(gf(k + off))} ").mkString + "ELSE 0e0 END)"
    val fmin = gfLit(gf.head); val fmax = gfLit(gf.last)
    val f0Sql = (1 until NFreq - 1).map(k =>
      s"(CASE WHEN fc >= ${gfLit(gf(k))} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    // spatial map (mirrors BeamCubeTerm.pixCols: crpix-1 = 4, zoom 2048)
    def pixSql(lm: String, p: String): String =
      s"""GREATEST(0e0, LEAST(4e0 + ($lm * 2048e0 * fscale)
         |      / (375e-3 * (pi() / 180e0)), ${NPix - 1}e0)) AS ${p}cc""".stripMargin
    val corners = BeamCubeTerm.corners
    def wS(a: Int, b: Int, c: Int): String = Seq(
      if (a == 0) "(1e0-dl)" else "dl",
      if (b == 0) "(1e0-dm)" else "dm",
      if (c == 0) "(1e0-fw)" else "fw").mkString("*")
    def blendS(f: String => String): String =
      corners.map { case (nm, a, b, c) => s"${wS(a, b, c)}*${f(nm)}" }
        .mkString(" + ")
    // one renormalized complex blend per element
    val eCols = elements.map(_.suffix).map { c =>
      val wre = blendS(nm => s"$nm.b${c}_re")
      val wim = blendS(nm => s"$nm.b${c}_im")
      val wabs = blendS(nm =>
        s"sqrt($nm.b${c}_re*$nm.b${c}_re + $nm.b${c}_im*$nm.b${c}_im)")
      val den = s"sqrt(($wre)*($wre) + ($wim)*($wim))"
      s"""    CASE WHEN $den = 0e0 THEN $wre
         |         ELSE ($wre) * (($wabs) / ($den)) END AS e${c}_re,
         |    CASE WHEN $den = 0e0 THEN $wim
         |         ELSE ($wim) * (($wabs) / ($den)) END AS e${c}_im""".stripMargin
    }.mkString(",\n")
    val joins = corners.map { case (nm, a, b, c) =>
      s"JOIN cube $nm ON $nm.li = pp.l0+$a AND $nm.mi = pp.m0+$b AND $nm.fi = pp.f0+$c"
    }.mkString("\n")
    val ch = chCols.mkString(", ")
    val pt = carry.flatten.mkString(", ")
    val pe = carry.map(_.map("pp." + _).mkString(", ")).mkString(",\n    ")
    s"""cube AS ($cubeSql),
       |fm0 AS (
       |  SELECT $ch,
       |    CASE WHEN freq < $fmin THEN freq/$fmin
       |         WHEN freq > $fmax THEN freq/$fmax ELSE 1e0 END AS fscale,
       |    CASE WHEN freq < $fmin THEN $fmin
       |         WHEN freq > $fmax THEN $fmax ELSE freq END AS fc
       |  FROM ch),
       |fm1 AS (SELECT *, $f0Sql AS f0 FROM fm0),
       |fm AS (
       |  SELECT $ch, fscale, CAST(f0 AS BIGINT) AS f0,
       |    (fc - ${planeCase(0)}) / (${planeCase(1)} - ${planeCase(0)}) AS fw
       |  FROM fm1),
       |pt AS (
       |  SELECT $pt, f0, fw,
       |    ${pixSql("l", "l")},
       |    ${pixSql("m", "m")}
       |  FROM src, fm),
       |pp AS (
       |  SELECT $pt, f0, fw,
       |    LEAST(CAST(FLOOR(lcc) AS BIGINT), ${NPix - 2}) AS l0,
       |    LEAST(CAST(FLOOR(mcc) AS BIGINT), ${NPix - 2}) AS m0,
       |    lcc - CAST(LEAST(CAST(FLOOR(lcc) AS BIGINT), ${NPix - 2}) AS DOUBLE) AS dl,
       |    mcc - CAST(LEAST(CAST(FLOOR(mcc) AS BIGINT), ${NPix - 2}) AS DOUBLE) AS dm
       |  FROM pt),
       |pe AS (
       |  SELECT $pe,
       |$eCols
       |  FROM pp
       |$joins)""".stripMargin
  }
}
