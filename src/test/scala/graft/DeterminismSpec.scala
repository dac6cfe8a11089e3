package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SyntheticMs

/** Guards the cross-engine float-determinism contract for the hash-compared
  * transcendental queries (CLAUDE.md float rules).
  *
  * r01 itself no longer hashes trig — it hashes the phase, which is pure
  * IEEE-correctly-rounded arithmetic (*, /, +, -, sqrt) and therefore
  * bit-identical cross-engine unconditionally. These guards now protect
  * the queries that DO evaluate cos/sin of this same phase grid and pass
  * through a rounding layer (r09 and the x01-x08 fsum aggregates):
  *
  * 1. Trig arguments must stay SMALL: for |phase| ≲ a few radians the JVM
  *    and DuckDB libms agree to ≤1 ulp (~2.2e-16); large arguments go
  *    through env-sensitive range reduction with errors up to ~1e-11 —
  *    which is what flipped r01's round(x·1e6) hash in rounds 1-2 before
  *    the phase-only rewrite.
  * 2. No rounded value may sit NEAR a .5 boundary of its scale: a 1-ulp
  *    disagreement then cannot flip the rounded digit. With small args the
  *    flip window is |frac(x·1e6) − .5| < 2.2e-10; we assert a 100× margin.
  */
class DeterminismSpec extends AnyFunSuite {
  import TestSpark.spark

  private def grid(dir: String) = {
    val src = SyntheticMs.sources(spark, dir, 5)
    val rws = SyntheticMs.uvwRows(spark, dir, 16)
    val ch = SyntheticMs.channels(spark, dir, 8)
    rws.crossJoin(broadcast(src)).crossJoin(broadcast(ch))
      .select(graft.functions.Phase.realPhase(col("l"), col("m"),
        col("u"), col("v"), col("w")).multiply(col("freq")).as("phase"))
  }

  private def dirs = Seq(TestSpark.sf, "/root/testdata/sf0.01") ++
    (if (new java.io.File("/root/testdata/sf0.1").isDirectory)
      Seq("/root/testdata/sf0.1") else Nil)

  test("r01 phase arguments are small (libm-safe regime)") {
    for (d <- dirs) {
      val m = grid(d).agg(max(abs(col("phase")))).head.getDouble(0)
      assert(m < 4.0, s"max |phase| = $m at $d — must stay ≲ π for " +
        "cross-engine trig agreement")
    }
  }

  test("rounded hashed surfaces (r15 basis / x09 derived PA / r16) stay far from flip boundaries") {
    // After the round-3 reds, NO hashed surface carries per-row trig of an
    // engine-computed argument any more. What remains rounding-sensitive:
    //  * r15/r13's r6 basis (exp of exact dyadic args — r13 driver-green),
    //  * x09's transformer PA, rounded at r6 BEFORE any trig
    //    (RimeCompiler.derivePa) — the round itself must be cross-engine
    //    stable, i.e. pa·1e6 far from .5 boundaries (r04b's green class),
    //  * r16's r4 beam values.
    // PRINT the measured minimum so the margin is a fact, not a hope.
    import org.apache.spark.sql.DataFrame
    def minBoundaryDist(df: DataFrame, cols: Seq[String], scale: Double): Double = {
      val dists = cols.map { c =>
        abs(abs(col(c) * scale - floor(col(c) * scale)) - 0.5)
      }
      val d = if (dists.size == 1) dists.head else least(dists: _*)
      df.select(d.as("d")).agg(min(col("d"))).head.getDouble(0)
    }
    for (d <- dirs) {
      val basis = {
        val b = expr(graft.queries.RimeMore.shapelet2dSql)
        SyntheticMs.sources(spark, d, 5)
          .crossJoin(SyntheticMs.uvwRows(spark, d, 64).select("row_id", "u", "v"))
          .select(b.as("a"))
      }
      val mBasis = minBoundaryDist(basis, Seq("a"), 1e6)
      val basisGen = {
        // r17's general-order surface rides the same r6 class — measure
        // its flip margin with the identical boundary probe
        val b = expr(graft.queries.RimeMore.shapeletGeneralSql(5, 4))
        SyntheticMs.sources(spark, d, 5)
          .crossJoin(SyntheticMs.uvwRows(spark, d, 64).select("row_id", "u", "v"))
          .select(b.as("a"))
      }
      val mBasisGen = minBoundaryDist(basisGen, Seq("a"), 1e6)
      val paX09 = {
        // the 16×7 (time_index, ant) grid x09's transformer derives over
        val t = spark.range(16).select(col("id").as("time_index"))
        val a = spark.range(7).select(col("id").as("ant"))
        t.crossJoin(a).select(expr(graft.queries.RimeMore.paGmstSql).as("pa"))
      }
      val mPa = minBoundaryDist(paX09, Seq("pa"), 1e6)
      val r16 = {
        import graft.io.BeamFixture
        (for (f <- 0 until BeamFixture.NFreq; y <- 0 until BeamFixture.NPix;
              x <- 0 until BeamFixture.NPix)
          yield BeamFixture.beamValueCorr("xx", false, x, y, f))
          .map(v => math.abs(math.abs(v * 1e4 - math.floor(v * 1e4)) - 0.5)).min
      }
      info(s"$d: r15 basis min |frac(x·1e6)−.5| = $mBasis, " +
        s"r17 general basis = $mBasisGen, x09 pa = $mPa, " +
        s"r16 = $r16 (flip window ~1e-12)")
      assert(mBasis > 1e-7, s"r15 basis value within 1e-7 of an r6 boundary at $d")
      assert(mBasisGen > 1e-7,
        s"r17 general basis value within 1e-7 of an r6 boundary at $d")
      assert(mPa > 1e-7, "x09 derived PA within 1e-7 of an r6 boundary")
      assert(r16 > 1e-7, "r16 beam value within 1e-7 of an r4 boundary")
    }
  }

  test("x10 derived l/m stay far from r9 flip boundaries and its phase stays small") {
    // The LM transformer (RimeCompiler.deriveLm) r9-rounds trig-derived
    // direction cosines; both engines must round the same way, so the
    // 10 derived values (5 sources × {l, m}) need measurable distance
    // from the .5 boundaries of x·1e9. The few-ulp cross-libm noise on
    // the cosines is ~1e-16 absolute, so a 1e-7 margin is ~1e9× cover.
    for (d <- dirs) {
      val src = SyntheticMs.sources(spark, d, 5)
      val da = col("ra") - lit(SyntheticMs.Ra0)
      val lD = cos(col("dec")) * sin(da)
      val mD = sin(col("dec")) * cos(lit(SyntheticMs.Dec0)) -
        cos(col("dec")) * sin(lit(SyntheticMs.Dec0)) * cos(da)
      def bd(c: org.apache.spark.sql.Column) =
        abs(abs(c * 1e9 - floor(c * 1e9)) - 0.5)
      val m = src.select(least(bd(lD), bd(mD)).as("d"))
        .agg(min(col("d"))).head.getDouble(0)
      info(s"$d: x10 derived-lm min |frac(x·1e9)−.5| = $m")
      assert(m > 1e-7, s"derived l/m within 1e-7 of an r9 boundary at $d")
      // the x10 phase over the 1/65536-scaled uvw must stay in the
      // small-argument libm-safe regime
      val rws = SyntheticMs.uvwRows(spark, d, 16)
        .withColumn("u", col("u") / 65536e0)
        .withColumn("v", col("v") / 65536e0)
        .withColumn("w", col("w") / 65536e0)
      val lr = graft.core.Det.r9(lD)
      val mr = graft.core.Det.r9(mD)
      val ph = rws.crossJoin(broadcast(src.select(lr.as("l"), mr.as("m"))))
        .crossJoin(broadcast(SyntheticMs.channels(spark, d, 8)))
        .select((graft.functions.Phase.realPhase(col("l"), col("m"),
          col("u"), col("v"), col("w")) * col("freq")).as("phase"))
        .agg(max(abs(col("phase")))).head.getDouble(0)
      info(s"$d: x10 max |phase| = $ph")
      assert(ph < 1.0, s"x10 phase $ph leaves the small-arg trig regime at $d")
    }
  }

  test("r04d ERA-backend rounded surfaces stay far from flip boundaries") {
    // r04d r9-rounds lat and ha before the posangle and r6-rounds the
    // result; all three roundings must be cross-engine stable on the
    // 16×7 query grid.
    import graft.functions.ParAngles
    val t = spark.range(16).select(col("id").as("time_index"))
    val a = spark.range(7).select(col("id").as("ant"))
    val mjdDay = (lit(5084553600e0) + col("time_index") * 5400e0) / 86400.0
    val x = lit(-1601710e0) + col("ant") * 64e0
    val y = lit(-5042006e0) + col("ant") * 128e0
    val z = lit(3554880e0) + col("ant") * 32e0
    val p = ParAngles.itrfP(x, y)
    val lat0 = ParAngles.itrfLat(p, z, ParAngles.bowringTheta(p, z))
    val ha0 = ParAngles.eraRad(mjdDay) + ParAngles.itrfLon(x, y) - lit(25e-2)
    val pa = ParAngles.astropyPa(lit(5084553600e0) + col("time_index") * 5400e0,
      x, y, z, lit(25e-2), lit(-38e-2))
    def bd(c: org.apache.spark.sql.Column, scale: Double) =
      abs(abs(c * scale - floor(c * scale)) - 0.5)
    val m = t.crossJoin(a)
      .select(least(bd(lat0, 1e9), bd(ha0, 1e9), bd(pa, 1e6)).as("d"))
      .agg(min(col("d"))).head.getDouble(0)
    info(s"r04d min flip-boundary distance (lat/ha at 1e9, pa at 1e6) = $m")
    assert(m > 1e-7, "an r04d rounded value sits within 1e-7 of a flip boundary")
    val haMax = t.crossJoin(a).select(abs(ha0).as("h"))
      .agg(max(col("h"))).head.getDouble(0)
    info(s"r04d max |ha| = $haMax (libm-safe range)")
    assert(haMax < 10.0, s"r04d hour angle $haMax outside the small-arg regime")
  }

  test("t16 BM25 scores stay far from their r6 round boundaries") {
    // t16 hashes r6(score) and ranks by it: every score·1e6 must sit far
    // from .5 flips AND the raw rank-20/21 gap must dwarf cross-libm ulps
    // so the top-20 membership cannot change engine-to-engine.
    for (d <- dirs) {
      val q = graft.SparkEntry.queries
      val scores = {
        // recompute the raw (unrounded) scores via the registered query's
        // own pipeline: take the rounded output margins directly
        val df = q("t16_bm25")(spark, d)
        df.select(col("bm25")).collect().map(_.getDouble(0))
      }
      // rounded outputs are exact multiples of 1e-6 by construction; the
      // real exposure is the ROUNDING of the raw score, measured below
      val t = graft.queries.TrainingData
      val m = {
        import org.apache.spark.sql.DataFrame
        // raw-score margin: rebuild the un-rounded score exactly as the
        // query does, then measure |frac(x·1e6) − .5|
        val docs = graft.core.Tables.documents(spark, d)
        def cnt(w: String) = (length(col("text")) -
          length(expr(s"replace(text, ' $w ', '')"))) / (w.length + 2)
        val dl = length(col("text")) - length(expr("replace(text, ' ', '')")) + 1
        val tt = docs.select(col("doc_id"), dl.as("dl"),
          cnt("the").as("c_the"), cnt("data").as("c_data"), cnt("join").as("c_join"))
        def dfAgg(c: String) =
          sum(when(col(c) > 0, 1).otherwise(0)).cast("long").as(s"df_${c.drop(2)}")
        val g = tt.agg(count(lit(1)).as("n"), avg(col("dl").cast("double")).as("avgdl"),
          dfAgg("c_the"), dfAgg("c_data"), dfAgg("c_join"))
        def idf(df0: org.apache.spark.sql.Column) =
          log((col("n").cast("double") - df0.cast("double") + lit(5e-1)) /
            (df0.cast("double") + lit(5e-1)) + lit(1e0))
        def part(c: org.apache.spark.sql.Column, df0: org.apache.spark.sql.Column) =
          idf(df0) * ((c.cast("double") * lit(22e-1)) /
            (c.cast("double") + lit(12e-1) * (lit(25e-2) + lit(75e-2) *
              (col("dl").cast("double") / col("avgdl")))))
        val raw = part(col("c_the"), col("df_the")) +
          part(col("c_data"), col("df_data")) + part(col("c_join"), col("df_join"))
        tt.crossJoin(broadcast(g))
          .select(abs(abs(raw * 1e6 - floor(raw * 1e6)) - 0.5).as("m"))
          .agg(min(col("m"))).head.getDouble(0)
      }
      info(s"$d: t16 raw-score min |frac(x·1e6)−.5| = $m over the corpus")
      assert(m > 1e-6, s"a t16 score sits within 1e-6 of an r6 flip at $d")
      // the rank-20/21 gap on the rounded surface (ties broken by doc_id
      // deterministically, so equality is also safe — only require the
      // measured flip margin above)
      assert(scores.length == 20)
    }
  }

  test("t22 bigram ln terms stay far from their fsum 1e-6 round boundaries") {
    // t22 fsums ln(c2/c1) per bigram occurrence: c2/c1 is one IEEE
    // division of exact integer counts (bit-identical cross-engine), so
    // the only exposure is rounding ln() of it to 1e-6 — a 1-ulp libm
    // disagreement flips a term only within ~ulp of a .5 boundary.
    for (d <- dirs) {
      val docs = graft.core.Tables.documents(spark, d)
      val pr = docs.filter(length(col("text")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
          .as("pair"))
      val bg = pr.groupBy("pair").agg(count(lit(1)).as("c2"))
      val un = pr.groupBy(substring(col("pair"), 1, 1).as("ch"))
        .agg(count(lit(1)).as("c1"))
      val term = log(col("c2") / col("c1"))
      val m = pr.join(broadcast(bg), "pair")
        .join(broadcast(un), substring(col("pair"), 1, 1) === col("ch"))
        .select(abs(abs(term * 1e6 - floor(term * 1e6)) - 0.5).as("m"))
        .agg(min(col("m"))).head.getDouble(0)
      info(s"$d: t22 ln-term min |frac(x·1e6)−.5| = $m over all occurrences")
      assert(m > 1e-6, s"a t22 ln term sits within 1e-6 of its round boundary at $d")
    }
  }

  test("t49 KL terms stay far from their fsum 1e-9 round boundaries") {
    // t49 fsums ps·ln(ps/pc) per (source, corpus-support code) at 1e-9:
    // ps, pc are IEEE quotients of exact integers (bit-identical), so
    // the exposure is again the ln() ulp — measure the minimum distance
    // of every term from its .5 round boundary at the 1e9 scale.
    import graft.operators.TextCombiner
    for (d <- dirs) {
      val docs2 = graft.core.Tables.documents(spark, d)
        .filter(length(col("text")) >= 2)
      val bySrc = TextCombiner.pairCodeCountsBy(docs2, "source", "text")
      val corpus = bySrc.groupBy("code").agg(sum(col("cnt")).as("cc"))
      val srcTot = bySrc.groupBy("source").agg(sum(col("cnt")).as("ts"))
      val tc = corpus.agg(sum(col("cc"))).head.getLong(0)
      val grid = srcTot.crossJoin(broadcast(corpus))
        .join(bySrc, Seq("source", "code"), "left")
        .withColumn("cs", coalesce(col("cnt"), lit(0L)))
      val ps = (col("cs") + 1).cast("double") /
        (col("ts") + 16384L).cast("double")
      val pc = (col("cc") + 1).cast("double") / lit((tc + 16384L).toDouble)
      val term = ps * log(ps / pc)
      val m = grid
        .select(abs(abs(term * 1e9 - floor(term * 1e9)) - 0.5).as("m"))
        .agg(min(col("m"))).head.getDouble(0)
      info(s"$d: t49 KL-term min |frac(x·1e9)−.5| = $m over the grid")
      assert(m > 1e-6, s"a t49 KL term sits within 1e-6 of its round boundary at $d")
    }
  }

  test("t30 DSIR ln-ratio terms stay far from their fsum 1e-6 round boundaries") {
    // t30 fsums ln of a ratio of two smoothed IEEE quotients of exact
    // integer counts — the argument is bit-identical cross-engine, so as
    // with t22 the only exposure is rounding the libm ln() to 1e-6.
    for (d <- dirs) {
      val docs = graft.core.Tables.documents(spark, d)
        .filter(length(col("text")) >= 2)
      val pr = docs
        .select(col("doc_id"), col("lang"), explode(expr(
          "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
          .as("pair"))
      val cr = pr.groupBy("pair").agg(count(lit(1)).as("cr"))
      val ct = pr.filter(col("lang") === "en")
        .groupBy(col("pair").as("tpair")).agg(count(lit(1)).as("ct"))
      val tr = pr.count()
      val tt = pr.filter(col("lang") === "en").count()
      val term = log(((coalesce(col("ct"), lit(0L)) + 1) / lit(tt + 16384L)) /
        ((col("cr") + 1) / lit(tr + 16384L)))
      val m = pr.join(broadcast(cr), "pair")
        .join(broadcast(ct), col("pair") === col("tpair"), "left")
        .select(abs(abs(term * 1e6 - floor(term * 1e6)) - 0.5).as("m"))
        .agg(min(col("m"))).head.getDouble(0)
      info(s"$d: t30 ln-term min |frac(x·1e6)−.5| = $m over all occurrences")
      assert(m > 1e-6, s"a t30 ln term sits within 1e-6 of its round boundary at $d")
    }
  }

  test("t31 sigmoid outputs stay far from their r6 round boundaries") {
    // t31's z is pure IEEE arithmetic (bit-identical; rounding IT needs
    // no margin per the exact-rational rule), but the sigmoid evaluates
    // libm exp of the r6-rounded z — so the r6-rounded prob needs the
    // usual 1-ulp flip margin. Also pin keep's 0.5 comparison margin.
    import graft.core.Det
    for (d <- dirs) {
      val docs = graft.core.Tables.documents(spark, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"),
          expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)")
            .as("n_typ"),
          expr("CAST(size(filter(split(text, ' '), " +
            "t -> t = 'a' OR t = 'the')) AS BIGINT)").as("n_stop"))
      val z = ((col("n_tok").cast("double") / 1024e0
        + lit(2e0) * (col("n_typ").cast("double") / col("n_tok").cast("double")))
        - lit(15e-1) * (col("n_stop").cast("double") / col("n_tok").cast("double"))) - 1e0
      val praw = lit(1e0) / (lit(1e0) + exp(-Det.r6(z)))
      val row = docs
        .select(abs(abs(praw * 1e6 - floor(praw * 1e6)) - 0.5).as("m"),
          abs(Det.r6(praw) - 0.5).as("k"))
        .agg(min(col("m")), min(col("k"))).head
      info(s"$d: t31 sigmoid min r6 margin = ${row.getDouble(0)}, " +
        s"min |prob−.5| = ${row.getDouble(1)}")
      assert(row.getDouble(0) > 1e-6,
        s"a t31 sigmoid sits within 1e-6 of its r6 boundary at $d")
      assert(row.getDouble(1) > 1e-7,
        s"a t31 prob sits on the keep threshold at $d")
    }
  }

  test("i02 restore exp terms stay far from their fsum 1e-6 round boundaries") {
    // i02 fsums flux·exp(−q) where q is pure IEEE arithmetic of the
    // SF-independent beam-fit rationals — the argument is bit-identical
    // cross-engine, so the only exposure is a 1-ulp libm disagreement on
    // exp() flipping a round(term·1e6). The fixture is driver-sized;
    // replicate the exact op order (JVM Math == Spark's codegen libm)
    // and measure every term's distance to its .5 boundary. Mirrors the
    // t22 ln-term margin test per the round-5 ADVICE.
    val ws = for (dx <- -3 to 3; dy <- -3 to 3)
      yield (dx, dy, math.max(0L, 4096L - 256L * dx * dx - 512L * dy * dy - 64L * dx))
    val mx = ws.map(_._3).max
    val lobe = ws.filter(_._3 * 2 >= mx)
    val sw = lobe.map(_._3).sum
    val swx = lobe.map(t => t._3 * t._1).sum
    val swy = lobe.map(t => t._3 * t._2).sum
    val sxx = lobe.map(t => t._3 * t._1 * t._1).sum
    val sxy = lobe.map(t => t._3 * t._1 * t._2).sum
    val syy = lobe.map(t => t._3 * t._2 * t._2).sum
    val corr = 0.30685281944005469
    val cxx = (sxx.toDouble / sw - (swx.toDouble / sw) * (swx.toDouble / sw)) / corr
    val cxy = (sxy.toDouble / sw - (swx.toDouble / sw) * (swy.toDouble / sw)) / corr
    val cyy = (syy.toDouble / sw - (swy.toDouble / sw) * (swy.toDouble / sw)) / corr
    val det = cxx * cyy - cxy * cxy
    val ba = cyy / (2.0 * det); val bb = -cxy / (2.0 * det)
    val bc = cxx / (2.0 * det)
    var minM = Double.MaxValue
    for (x <- 0 until 16; y <- 0 until 16; k <- 0 until 5) {
      val cx = k * 3 % 16; val cy = k * 7 % 16
      if (math.abs(x - cx) <= 3 && math.abs(y - cy) <= 3) {
        val q = ba * (x - cx) * (x - cx) +
          2.0 * bb * (x - cx) * (y - cy) + bc * (y - cy) * (y - cy)
        val t = (k % 4 + 1).toDouble * math.exp(-q) * 1e6
        minM = math.min(minM, math.abs(t - math.floor(t) - 0.5))
      }
    }
    info(s"i02 exp-term min |frac(x·1e6)−.5| = $minM over the support")
    assert(minM > 1e-6,
      s"an i02 exp term sits within 1e-6 of its round boundary: $minM")
  }

  test("e05/e03 centroid averages are exact rationals (sums inside 2^53)") {
    // ROUND(avg(qv)) needs NO flip margin: the average is an exact
    // integer sum divided by an exact count — bit-identical on both
    // engines — and .5-EXACT averages round identically (both engines
    // round half away from zero; sf0.001 exercises a .5-exact centroid
    // and the driver gate hashes green). The one precondition is that
    // every double-held partial sum stays an exact integer, i.e. the
    // per-(k, pos) |sum| is far inside 2^53. Assert that with audit
    // headroom for 1e6x corpus growth.
    for (d <- dirs) {
      val emb = graft.core.Tables.embeddings(spark, d)
      val m = emb.select(col("vec_id"), posexplode(col("embedding")))
        .select((col("pos") + 1).as("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
        .groupBy("pos").agg(sum(abs(col("qv"))).as("s"))
        .agg(max(col("s"))).head.getLong(0)
      info(s"$d: max per-position |qv| sum = $m (2^53 = ${1L << 53})")
      assert(m < (1L << 53) / 1000000L,
        s"per-position sums at $d leave <1e6x headroom under 2^53 — " +
          "switch centroid sums to exact long aggregation before avg")
    }
  }

  test("list_dot_product oracle dots are exact doubles (|qv| < 2^23)") {
    // Round 12: the t29/e20/neardup oracles compute per-pair dots as
    // DuckDB list_dot_product over DOUBLE lists. That reproduces the
    // exact integer dot bit for bit IFF every product and partial sum is
    // an exact double: |qv| < 2^23 gives products < 2^46 and 64-term
    // partial sums < 2^52 < 2^53, exact in ANY association order. Assert
    // the bound with 8x headroom over the measured max.
    for (d <- dirs) {
      val m = graft.core.Tables.embeddings(spark, d)
        .select(posexplode(col("embedding")))
        .select(abs(round(col("col").cast("double") * 1e6)).cast("long")
          .as("aqv"))
        .agg(max(col("aqv"))).head.getLong(0)
      info(s"$d: max |qv| = $m (2^23 = ${1L << 23})")
      assert(m < (1L << 23),
        s"|qv| at $d breaks the list_dot_product exactness bound — " +
          "restore the pos-join integer dot in the oracles")
    }
  }

  test("e11 scatter entries are exact integers inside 2^53") {
    // The PCA matrix A = n·Σxxᵀ − SSᵀ is CAST to double and divided by
    // 2^48; both steps are exact ONLY while every entry stays inside
    // 2^53. Compute the true max |A| entry per SF and assert headroom.
    // (At 1e4 quantization: |qv| ≤ ~6e3, so |A| ≲ n²·3.6e7 — the bound
    // grows with n², which is why the quantization is 1e4 here and not
    // the e-family's 1e6.)
    for (d <- dirs) {
      val q = graft.core.Tables.embeddings(spark, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("i"),
          round(col("col").cast("double") * 1e4).cast("long").as("qv"))
      val n = q.select("vec_id").distinct().count()
      val sxx = q.as("a").join(q.as("b"), "vec_id")
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(col("a.qv") * col("b.qv")).as("sxx"))
      val sv = q.groupBy("i").agg(sum(col("qv")).as("sv"))
      val m = sxx
        .join(sv.select(col("i"), col("sv").as("svi")), "i")
        .join(sv.select(col("i").as("j"), col("sv").as("svj")), "j")
        .select(abs(lit(n) * col("sxx") - col("svi") * col("svj")).as("a"))
        .agg(max(col("a"))).head.getLong(0)
      info(s"$d: max |A| entry = $m (2^53 = ${1L << 53})")
      assert(m < (1L << 53) / 16L,
        s"PCA scatter at $d leaves <16x headroom under 2^53 — lower the " +
          "quantization scale or subsample the scatter pass")
    }
  }

  test("a17 spline knot sums are exact integers inside 2^53") {
    // a17's oracle mirrors the unrolled Thomas algorithm op-for-op, so
    // the hash match rests solely on the knot inputs being bit-identical
    // doubles cross-engine — i.e. the per-(nation, bucket) cent sums must
    // be exact integers under 2^53. The spline arithmetic itself is pure
    // IEEE (+,−,×,/) on those operands and needs no margin (CLAUDE.md
    // class (a)). Assert the precondition with 1e6x corpus headroom.
    import graft.core.Det
    for (d <- dirs) {
      val m = graft.core.Tables.customer(spark, d)
        .groupBy(col("c_nationkey"), col("c_custkey") % 6)
        .agg(sum(abs(Det.cents(col("c_acctbal")))).as("s"))
        .agg(max(col("s"))).head.getLong(0)
      info(s"$d: max per-(nation,bucket) |cents| sum = $m")
      assert(m < (1L << 53) / 1000000L,
        s"a17 knot sums at $d leave <1e6x headroom under 2^53 — " +
          "keep knots as long cents and divide after the fit instead")
    }
  }

  test("signed zero: Spark round() never emits -0.0 (the r*Sql +0e0 contract)") {
    // Root cause of the round-3/4 x09-class driver reds, found in round 5:
    // DuckDB's std::round keeps the sign of zero (round(-1e-9) = -0.0 and
    // -0.0/1e4 stays -0.0) while Spark's round() goes through BigDecimal,
    // which HAS no negative zero — so a tiny-negative value rounds to
    // +0.0 in Spark and -0.0 in DuckDB. Numerically equal, but a byte- or
    // repr-level hash (the driver's) sees them as different. The oracle
    // helpers r4Sql/r6Sql/r9Sql therefore append `+ 0e0` (exact identity
    // for every value except -0.0 → +0.0). This test pins the Spark half
    // of that contract: Det.r4/r6/r9 of a tiny negative must be POSITIVE
    // zero, else the +0e0 normalization would mismatch in the other
    // direction.
    import graft.core.Det
    val row = spark.range(1).select(
      Det.r4(lit(-1e-9)).as("a"), Det.r6(lit(-1e-12)).as("b"),
      Det.r9(lit(-1e-15)).as("c"), Det.r4(lit(-0.0)).as("d")).head
    for (i <- 0 until 4) {
      val v = row.getDouble(i)
      assert(v == 0.0 && java.lang.Double.doubleToRawLongBits(v) == 0L,
        s"col $i: Spark rounding emitted negative zero (bits ${
          java.lang.Double.doubleToRawLongBits(v)})")
    }
  }

  test("e06 per-position variances are strictly positive (no x/0 surface)") {
    // e06_standardize divides by sqrt(var). A zero-variance dimension
    // (constant embedding position) would yield Infinity/NaN in Spark but
    // NULL in DuckDB (float division by zero) — a silent hash-gate
    // divergence. Assert the precondition that makes the surface safe:
    // every per-position variance of the quantized values is bounded away
    // from zero.
    for (d <- dirs) {
      val emb = graft.core.Tables.embeddings(spark, d)
      val minVar = emb.select(col("vec_id"), posexplode(col("embedding")))
        .select((col("pos") + 1).as("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
        .groupBy("pos").agg(count(lit(1)).as("n"),
          sum(col("qv")).as("s1"), sum(col("qv") * col("qv")).as("s2"))
        .select((col("s2").cast("double") / col("n") -
          (col("s1").cast("double") / col("n")) *
            (col("s1").cast("double") / col("n"))).as("v"))
        .agg(min(col("v"))).head.getDouble(0)
      info(s"$d: min per-position variance = $minVar")
      assert(minVar > 1.0,
        s"a near-constant embedding position at $d puts x/~0 on the e06 " +
          "surface — guard the divisor or drop the position")
    }
  }

  test("r01 rounded cos/sin stay far from .5 rounding boundaries") {
    for (d <- dirs) {
      // distance of x*1e6 from the nearest .5 flip boundary, minimized
      // over both trig outputs of every grid row
      val dist = grid(d).select(
        least(
          abs(abs(cos(col("phase")) * 1e6 - floor(cos(col("phase")) * 1e6)) - 0.5),
          abs(abs(sin(col("phase")) * 1e6 - floor(sin(col("phase")) * 1e6)) - 0.5))
          .as("dst"))
        .agg(min(col("dst"))).head.getDouble(0)
      assert(dist > 1e-8, s"min boundary distance $dist at $d — a value " +
        "sits within 1e-8 of a round(x*1e6) flip; adjust the fixture")
    }
  }

  test("s17 sketch quantiles bracket the exact percentiles within one bin") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("s17_quantile_sketch")(spark, TestSpark.sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getLong(5), r.getLong(7))).toMap
    // the sketch targets the ceil(q·n)-th ORDER STATISTIC (not an
    // interpolated percentile — interpolation can sit bins lower in a
    // sparse tail); that value must land inside the selected bin
    val exact = graft.core.Tables.events(spark, TestSpark.sf)
      .groupBy("event_type")
      .agg(expr("sort_array(collect_list(value))").as("vs"))
      .collect().map { r =>
        val vs = r.getSeq[Double](1)
        val n = vs.length
        def kth(num: Int, den: Int) = vs((num * n + den - 1) / den - 1)
        r.getString(0) -> (kth(1, 2), kth(9, 10), kth(99, 100))
      }.toMap
    assert(df.keySet === exact.keySet)
    for ((t, (e50, e90, e99)) <- exact) {
      val (b50, b90, b99) = df(t)
      for ((edge, ex, nm) <- Seq((b50, e50, "p50"), (b90, e90, "p90"),
          (b99, e99, "p99"))) {
        assert(ex >= edge && ex < edge + 2.0,
          s"$t $nm: order stat $ex outside sketch bin [$edge, ${edge + 2})")
      }
    }
  }

  test("s18 count-min estimates dominate exact counts for every user") {
    import org.apache.spark.sql.functions._
    // the query surfaces the CMS over-count only for the pinned probe
    // set; the guarantee est >= exact holds for EVERY key — prove it
    // over the full user range by probing all of them
    val ev = graft.core.Tables.events(spark, TestSpark.sf)
    val rows = spark.range(0, 4).select(col("id").as("r"))
    def cOf(uid: org.apache.spark.sql.Column) =
      ((uid + 1) * (lit(48271L) + col("r") * 1009L)) % 2147483647L % 256
    val cms = ev.select(col("user_id")).crossJoin(broadcast(rows))
      .select(col("r"), cOf(col("user_id")).as("c"))
      .groupBy("r", "c").agg(count(lit(1)).as("cnt"))
    val est = ev.select("user_id").distinct().crossJoin(broadcast(rows))
      .select(col("user_id"), col("r"), cOf(col("user_id")).as("c"))
      .join(broadcast(cms), Seq("r", "c"))
      .groupBy("user_id").agg(min(col("cnt")).as("est"))
    val bad = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .join(est, Seq("user_id"))
      .filter(col("est") < col("n")).count()
    assert(bad === 0L, "count-min under-estimated a key")
  }

  test("round 14: Det.r4Local mirrors the Column r4 bit-for-bit over the " +
      "live beam-cube voxels (the surface BeamCube rounds driver-side)") {
    import graft.core.Det
    val schema = "/tmp/graft_det_beam/beam_$(corr)_$(reim).fits"
    new java.io.File("/tmp/graft_det_beam").mkdirs()
    val (reP, imP) = graft.io.BeamFixture.ensurePair(schema)
    val vals = Seq(reP, imP).flatMap { p =>
      val c = graft.io.Fits.beamCube(p)
      for (f <- 0 until c.nFreq; y <- 0 until c.npixY; x <- 0 until c.npixX)
        yield c.value(x, y, f)
    } ++ Seq(0.0, -0.0, 0.00005, -0.00005, 1.23455, -1.23455, 17.5e-4)
    import spark.implicits._
    val viaColumn = vals.toDF("x").select(Det.r4(col("x")).as("r"))
      .collect().map(_.getDouble(0))
    val viaLocal = vals.map(Det.r4Local)
    viaColumn.zip(viaLocal).zip(vals).foreach { case ((a, b), v) =>
      assert(java.lang.Double.doubleToRawLongBits(a) ===
        java.lang.Double.doubleToRawLongBits(b), s"r4 mismatch at $v: $a vs $b")
    }
  }

  test("e10 silhouettes are in [-1, 1] and labels separate on average") {
    val rows = SparkEntry.queries("e10_silhouette")(spark, TestSpark.sf)
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length === 64)
    for ((a, b, sil) <- rows) {
      assert(a > 0 && b > 0)
      assert(sil >= -1.0 && sil <= 1.0, s"silhouette $sil out of range")
      assert(math.abs(sil - (b - a) / math.max(a, b)) < 1e-12)
    }
  }
}
