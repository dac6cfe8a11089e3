package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Det
import graft.functions.{Coordinates, Phase, Spectral}
import graft.io.WSCleanReader

/** The end-to-end predict pipeline — the Spark port of the reference's
  * flagship example (africanus/rime/examples/predict.py:548-586, traced in
  * SURVEY §3.2):
  *
  *   sky-model text file → broadcast source table
  *   → radec→lm about the phase centre (C1)
  *   → WSClean spectra (M2) × phase delay (R1), summed over source (R9)
  *   → MODEL_DATA written back to parquet.
  *
  * One shuffle total (the partial+final source sum keyed by row/chan —
  * volume = output size); everything else is broadcast expansion inside
  * whole-stage codegen. At 100 TB the uvw table is the only large input.
  */
object PredictPipeline {

  /** skyModelPath: WSClean component list. uvw: (row_id, u, v, w).
    * chans: (chan, freq). Returns (row_id, chan, vre, vim). */
  def modelData(spark: SparkSession, skyModelPath: String,
                uvw: DataFrame, chans: DataFrame,
                ra0: Double, dec0: Double): DataFrame = {
    val srcRaw = WSCleanReader.read(spark, skyModelPath)
    val src = srcRaw.select(
      col("flux"),
      col("logSI").as("log_poly"),
      col("refFreq").as("ref_freq"),
      // first two spectral terms (pad with 0; try_element_at -> null when
      // the component has fewer terms)
      coalesce(try_element_at(col("spi"), lit(1)), lit(0.0)).as("spi0"),
      coalesce(try_element_at(col("spi"), lit(2)), lit(0.0)).as("spi1"),
      col("ra"), col("dec"))
    val lmn = Coordinates.radecToLmn(col("ra"), col("dec"), lit(ra0), lit(dec0))
    val srcLm = src.withColumn("l", lmn.l).withColumn("m", lmn.m)
    val spec = Spectral.wscleanSpectra(col("flux"),
      Seq(col("spi0"), col("spi1")), col("log_poly"),
      col("ref_freq"), col("freq"))
    val ph = Phase.phaseDelay(col("l"), col("m"),
      col("u"), col("v"), col("w"), col("freq"))
    uvw.crossJoin(broadcast(srcLm)).crossJoin(broadcast(chans))
      .groupBy("row_id", "chan")
      .agg(Det.fsum(spec * ph.re).as("vre"), Det.fsum(spec * ph.im).as("vim"))
  }

  /** The flagship example WITH the beam (`predict.py -b`): MS dataset +
    * WSClean sky model + MeqTrees FITS beam-cube schema → full 2×2
    * MODEL_DATA. This is the reference's dde_factory wired end to end
    * (rime/examples/predict.py:404-471):
    *
    *   POLARIZATION.CORR_TYPE → feed basis (linear/circular, the
    *     dde_factory corr_type dispatch);
    *   distinct TIME × ANTENNA.POSITION × FIELD.PHASE_DIR →
    *     parallactic angles (the casa-convention chain, R4);
    *   FITS beam cube → full-Jones E term (R7, trilinear + renorm);
    *   DDE = E·L (beam times feed rotation — predict.py:471's einsum),
    *     so V = E·L·B·Lᴴ·Eᴴ with the K phase on the pair.
    *
    * Scale shape: times/antennas/sources/channels are all dimension
    * tables (the PA grid and staged beam blends are broadcast); the only
    * data-sized relation is MAIN, and the one shuffle is the source-sum
    * aggregation. The time-index ranking runs on the DISTINCT epochs —
    * dimension-sized by definition, never on MAIN. */
  def modelDataFullJones(spark: SparkSession, msDir: String,
                         skyModelPath: String, beamSchema: String,
                         lmZoom: Double = 2048.0,
                         regenerateBeam: Boolean = false,
                         mainRows: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.io.MsDataset
    import graft.functions.ParAngles
    import graft.rime.{BeamCubeTerm, RimeCompiler}
    val ms = MsDataset.read(spark, msDir)
    val (ra0, dec0) = MsDataset.phaseCentre(spark, ms)
    // feed basis from CORR_TYPE, as dde_factory does (predict.py:409-428)
    val corrType = ms.polarization
      .map(_.select(col("CORR_TYPE")).head.getAs[scala.collection.Seq[Int]](0).toSeq)
      .getOrElse(Seq(9, 10, 11, 12))
    require(corrType.length == 4, "Need four correlations for DDEs")
    val basis =
      if (corrType.toSet.subsetOf(Set(5, 6, 7, 8))) "RR,RL,LR,LL"
      else if (corrType.toSet.subsetOf(Set(9, 10, 11, 12))) "XX,XY,YX,YY"
      else throw new IllegalArgumentException(
        s"Cannot determine polarisation type from correlations $corrType")
    // utime ranking — distributed (MsDataset.rankTimes; the windowed
    // form funneled all epochs through one buffering task)
    val times = MsDataset.rankTimes(ms.main)
    // t44 class, scan-side (the p04 lesson): MAIN's integer columns
    // compress to ~85 MB on disk for 10M rows, so the file scan
    // coalesces to a handful of splits — and the fused-RIME source sum
    // downstream holds a rows-unique (row_id, chan) hash map with EIGHT
    // agg buffers per group, which at one-split width OOMed a 4 GB
    // executor at the 100× replica. One explicit shuffle of the narrow
    // geometry to a DATA-SCALED width (defaultParallelism alone still
    // left 625k-row tasks whose partial maps + concurrent parquet
    // writers overran the small heap) bounds every task's group count;
    // fsum aggregation is order-free, values unchanged.
    // count threaded by callers that already know it (ADVICE r12: one
    // count per invocation otherwise — metadata-cheap on parquet)
    val width = graft.core.Env.scaledWidth(spark,
      mainRows.getOrElse(ms.main.count()), 32768L)
    val rows = ms.main
      .join(broadcast(times), "TIME")
      .select(col("row_id"),
        element_at(col("UVW"), 1).as("u"),
        element_at(col("UVW"), 2).as("v"),
        element_at(col("UVW"), 3).as("w"),
        col("time_index"),
        col("ANTENNA1").cast("long").as("ant1"),
        col("ANTENNA2").cast("long").as("ant2"))
      .repartition(width, col("row_id"))
    // real parallactic angles from the MS geometry (predict.py:414)
    val ants = ms.antenna.select(
      col("antenna_id").cast("long").as("ant"),
      element_at(col("POSITION"), 1).as("ax"),
      element_at(col("POSITION"), 2).as("ay"),
      element_at(col("POSITION"), 3).as("az"))
    val pa = times.crossJoin(ants)
      .select(col("time_index"), col("ant"),
        Det.r6(ParAngles.casaPa(col("TIME"), col("ax"), col("ay"),
          col("az"), lit(ra0), lit(dec0))).as("pa"))
    // src_id keys the beam-blend staging frame (model-sized window)
    val src = WSCleanReader.read(spark, skyModelPath)
      .select(col("ra"), col("dec"), col("flux").as("i"))
      .withColumn("src_id",
        (row_number().over(Window.orderBy("ra", "dec")) - 1).cast("long"))
    // SCOPED 'E' override: 'E' has a session-wide default (the dyadic
    // test beam) other plans rely on — a bare registerTerm here poisoned
    // every later default-'E' plan in the session (round-11 x08 lesson)
    RimeCompiler.withTerm('E',
      BeamCubeTerm(beamSchema, lmZoom, BeamCubeTerm.FullJones,
        regenerate = regenerateBeam)) {
      RimeCompiler.plan(s"(Ep,Lp,Kpq,Bpq,Lq,Eq): [I] -> [$basis]",
        src, rows, MsDataset.chans(ms), paDf = Some(pa),
        phaseDir = Some((ra0, dec0)))
    }
  }

  /** The FUSED form of [[modelData]] — same math, same fsum rounding, NO
    * aggregation exchange: the parsed sky model is collected (it is
    * driver-sized, exactly like the reference's parsed component list)
    * and contracted per row by the codegen'd `rime_source_sum` expression
    * (the x04 fused-projection face; FusedProjectionSpec pins it
    * bit-identical to the groupBy fsum). Preferred when the exchange is
    * the bottleneck: at the 100× replica under 4 GB executors the groupBy
    * path's per-input-row-unique (row_id, chan) groups spilled 3.8 GB in
    * the partial hash aggregation — this plan never shuffles at all. */
  def modelDataFused(spark: SparkSession, skyModelPath: String,
                     uvw: DataFrame, chans: DataFrame,
                     ra0: Double, dec0: Double): DataFrame = {
    val (vre, vim) = fusedModelCols(spark, skyModelPath, ra0, dec0)
    uvw.crossJoin(broadcast(chans))
      .select(col("row_id"), col("chan"), vre.as("vre"), vim.as("vim"))
  }

  /** The fused source-sum columns (vre, vim) over (u, v, w, freq) input
    * columns — exposed so composed pipelines (p04 self-cal) can carry
    * geometry keys through the same projection instead of joining the
    * model back by row_id. */
  private[graft] def fusedModelCols(spark: SparkSession, skyModelPath: String,
                                    ra0: Double, dec0: Double)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val src = WSCleanReader.read(spark, skyModelPath).select(
      col("flux"),
      col("logSI").as("log_poly"),
      col("refFreq").as("ref_freq"),
      coalesce(try_element_at(col("spi"), lit(1)), lit(0.0)).as("spi0"),
      coalesce(try_element_at(col("spi"), lit(2)), lit(0.0)).as("spi1"),
      col("ra"), col("dec"))
    val lmn = Coordinates.radecToLmn(col("ra"), col("dec"), lit(ra0), lit(dec0))
    // model-sized collect (the x04 idiom): 7 doubles per source, flat
    val flatModel = src.withColumn("l", lmn.l).withColumn("m", lmn.m)
      .select("l", "m", "flux", "spi0", "spi1", "ref_freq", "log_poly")
      .collect()
      .flatMap { r =>
        Seq(r.getAs[Double]("l"), r.getAs[Double]("m"),
          r.getAs[Double]("flux"), r.getAs[Double]("spi0"),
          r.getAs[Double]("spi1"), r.getAs[Double]("ref_freq"),
          if (r.getAs[Boolean]("log_poly")) 1.0 else 0.0)
      }.toIndexedSeq
    graft.expr.GraftFunctions.register(spark)
    def fused(sine: Boolean) = call_function("rime_source_sum",
      col("u"), col("v"), col("w"), col("freq"),
      typedLit(flatModel), lit(sine)) / 1e6
    (fused(sine = false), fused(sine = true))
  }

  /** dft/examples/predict_from_fits.py analogue: a FITS model IMAGE
    * (pure-JVM [[graft.io.Fits.read]]) becomes the component list — every
    * non-zero pixel is a point source at the (l, m) of its CRPIX/CRVAL/
    * CDELT grid position (DEG→RAD) — and the same broadcast expansion +
    * fixed-point source sum predicts (row_id, chan, vre, vim). The image
    * is driver-read like any sky model (components are broadcast-sized);
    * the vis table never leaves the executors. */
  def predictFromFits(spark: SparkSession, fitsPath: String,
                      uvw: DataFrame, chans: DataFrame): DataFrame = {
    val hdu = graft.io.Fits.read(fitsPath)
    val Seq(nx, ny) = hdu.naxis.take(2).toSeq
    def axis(i: Int): (Double, Double, Double) = (
      hdu.num(s"CRPIX$i").getOrElse(1.0),
      hdu.num(s"CRVAL$i").getOrElse(0.0),
      hdu.num(s"CDELT$i").getOrElse(1.0))
    val (px1, v1, d1) = axis(1); val (px2, v2, d2) = axis(2)
    val degRad = math.Pi / 180.0
    val comps = for {
      y <- 0 until ny; x <- 0 until nx
      flux = hdu.data(y * nx + x) if flux != 0.0
    } yield (
      ((x + 1 - px1) * d1 + v1) * degRad,
      ((y + 1 - px2) * d2 + v2) * degRad,
      flux)
    import spark.implicits._
    val src = broadcast(comps.toDF("l", "m", "flux"))
    val ph = Phase.phaseDelay(col("l"), col("m"),
      col("u"), col("v"), col("w"), col("freq"))
    uvw.crossJoin(src).crossJoin(broadcast(chans))
      .groupBy("row_id", "chan")
      .agg(Det.fsum(col("flux") * ph.re).as("vre"),
        Det.fsum(col("flux") * ph.im).as("vim"))
  }

  /** Full run: predict + write-back (the MODEL_DATA sink). */
  def run(spark: SparkSession, skyModelPath: String, uvw: DataFrame,
          chans: DataFrame, ra0: Double, dec0: Double, outPath: String): Unit =
    modelData(spark, skyModelPath, uvw, chans, ra0, dec0)
      .write.mode("overwrite").partitionBy("chan").parquet(outPath)

  /** The same pipeline fed from a Tigger ASCII sky model
    * (rime/examples/predict.py:248-347): point AND gaussian morphologies,
    * the standard power-law spectrum I·(ν/ν₀)^spi, and the gaussian uv
    * taper (model/shape/gaussian_shape.py:11-66) applied to 'gau'
    * components inside the same broadcast expansion + source sum. */
  def modelDataFromTigger(spark: SparkSession, lsmPath: String,
                          uvw: DataFrame, chans: DataFrame,
                          ra0: Double, dec0: Double): DataFrame = {
    // stokes U/V would collide with the uvw baseline columns downstream
    val src = graft.io.TiggerReader.read(spark, lsmPath)
      .withColumnsRenamed(Map("u" -> "stokes_u", "v" -> "stokes_v"))
    val lmn = Coordinates.radecToLmn(col("ra"), col("dec"), lit(ra0), lit(dec0))
    val srcLm = src.withColumn("l", lmn.l).withColumn("m", lmn.m)
      .drop("ra", "dec")
    val spec = col("i") * pow(col("freq") / col("freq0"), col("spi"))
    // gaussian taper: rotate uv by pa, squash by the axis ratio,
    // exp-decay with the frequency-scaled major extent. Rotation matches
    // gaussian_shape.py:46-56 (el = sin pa, em = cos pa):
    //   u1 = (u·em − v·el)·er,  v1 = u·el + v·em
    val u1 = (col("u") * cos(col("pa")) - col("v") * sin(col("pa"))) *
      (col("emin") / col("emaj"))
    val v1 = col("u") * sin(col("pa")) + col("v") * cos(col("pa"))
    val fsq = (col("freq") / Phase.C) * (col("freq") / Phase.C)
    val k = lit(-(math.Pi * math.Pi)) / (lit(4e0) * log(lit(2e0)))
    // degenerate extents fall back to the point response (the reference's
    // shapelet/gauss kernels do the same for zero beta) — without the
    // guard an explicitly-typed 'gau' row with emaj = 0 would inject
    // 0/0 = NaN into every (row, chan) sum it touches
    val taper = when(col("typecode") === "gau"
        && col("emaj") =!= 0e0 && col("emin") =!= 0e0,
      exp(k * fsq * (u1 * u1 + v1 * v1) * (col("emaj") * col("emaj"))))
      .otherwise(lit(1e0))
    val ph = Phase.phaseDelay(col("l"), col("m"),
      col("u"), col("v"), col("w"), col("freq"))
    uvw.crossJoin(broadcast(srcLm)).crossJoin(broadcast(chans))
      .groupBy("row_id", "chan")
      .agg(Det.fsum(spec * taper * ph.re).as("vre"),
        Det.fsum(spec * taper * ph.im).as("vim"))
  }
}
