package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.CxCol
import graft.operators.{Deconv, FacetClean, WStack}

/** End-to-end imaging MAJOR CYCLE — the workflow a reference user runs as
  * vis2im → hogbom → model predict → residual
  * (gridding/wgridder/vis2im.py, deconv/hogbom/clean.py,
  * gridding/wgridder/im2residim.py), composed from this repo's operators:
  *
  *   1. w-stacked convolutional gridding ([[WStack.planeGrids]]),
  *   2. per-plane transform + w-correction + plane sum + detaper
  *      ([[WStack.dirtyImageDft]]; [[graft.operators.Fft.planeImages]] is
  *      the dense production path, FftSpec-equivalent),
  *   3. facet-parallel Hogbom CLEAN ([[FacetClean.clean]] — sequential
  *      within a facet, perfectly parallel across facets),
  *   4. model visibilities from the clean components (the d01 DFT) and
  *      row-level subtraction → residual visibilities.
  *
  * Scale shape: the vis table is the only data-sized input and it is
  * touched exactly twice (one keyed grid aggregation; one broadcast-join
  * subtraction). The image lives as a (plane, cell)/(x, y) keyed
  * DataFrame, facets clean in parallel executors, and the component list
  * — like the reference's sky models — is broadcast-sized. Nothing
  * data-sized reaches the driver except the PSF patch (bounded by
  * (2·psfHalf+1)², independent of data and image size).
  */
object ImagingPipeline {

  /** @param facets facets per axis (facets² clean tasks)
    * @param cell   direction-cosine step per pixel; pixel (x, y) maps to
    *               l = (x − nx/2)·cell, m = (y − ny/2)·cell */
  final case class Config(
      nx: Int, ny: Int, cell: Double,
      taps: Seq[(Int, Double)],
      nPlanes: Int, wMax: Double, eta: Double,
      facets: Int,
      gamma: Double, threshold: Double, maxIter: Int, psfHalf: Int)

  /** The (x, y, lx, my) pixel grid as a DataFrame. */
  def pixelGrid(spark: SparkSession, cfg: Config): DataFrame = {
    val xs = spark.range(cfg.nx).select(col("id").as("x"))
    val ys = spark.range(cfg.ny).select(col("id").as("y"))
    xs.crossJoin(ys)
      .withColumn("lx", (col("x").cast("double") - cfg.nx / 2.0) * cfg.cell)
      .withColumn("my", (col("y").cast("double") - cfg.ny / 2.0) * cfg.cell)
  }

  /** vis columns: (row_id, w, pu, pv, re, im) → detapered dirty image
    * (x, y, dirty, dirty_dt). */
  def dirtyImage(vis: DataFrame, cfg: Config): DataFrame = {
    val grids = WStack.planeGrids(vis, cfg.taps, cfg.nPlanes, cfg.wMax,
      cfg.eta, fsum = c => sum(c)).drop("n_hits")
    WStack.dirtyImageDft(grids, pixelGrid(vis.sparkSession, cfg), cfg.taps,
      cfg.nPlanes, cfg.wMax, fsum = c => sum(c), r6 = identity)
  }

  /** The PSF patch around the beam centre, normalized to unit peak:
    * image the SAME uv rows with unit visibilities, cut ±psfHalf around
    * (nx/2, ny/2). Returns (patch row-major, peak value). The collect is
    * (2·psfHalf+1)² scalars — bounded, never data-sized. */
  def psfPatch(vis: DataFrame, cfg: Config): (Array[Double], Double) = {
    val unit = vis.withColumn("re", lit(1e0)).withColumn("im", lit(0e0))
    val grids = WStack.planeGrids(unit, cfg.taps, cfg.nPlanes, cfg.wMax,
      cfg.eta, fsum = c => sum(c)).drop("n_hits")
    psfFromGrids(grids, cfg)
  }

  /** PSF patch from an already-gridded unit-vis frame. The pixel grid is
    * RESTRICTED to the ±psfHalf window before the DFT (round 14): the
    * plane DFT + w-correction + detaper are all per-pixel, so computing
    * only the (2·psfHalf+1)² pixels the collect reads is value-identical
    * and drops the PSF job's trig volume by nx·ny/(2·psfHalf+1)²
    * (48×48/49 ≈ 47× on the registered p02 geometry). */
  private def psfFromGrids(grids: DataFrame, cfg: Config)
      : (Array[Double], Double) = {
    val h = cfg.psfHalf
    val cx = cfg.nx / 2; val cy = cfg.ny / 2
    val px = pixelGrid(grids.sparkSession, cfg)
      .filter(col("x").between(cx - h, cx + h) &&
        col("y").between(cy - h, cy + h))
    val img = WStack.dirtyImageDft(grids, px, cfg.taps,
      cfg.nPlanes, cfg.wMax, fsum = c => sum(c), r6 = identity)
    val cut = img
      .select(col("x"), col("y"), col("dirty_dt")).collect()
      .map(r => ((r.getLong(0).toInt - (cx - h), r.getLong(1).toInt - (cy - h)),
        r.getDouble(2))).toMap
    val n = 2 * h + 1
    val patch = Array.tabulate(n * n)(i => cut.getOrElse((i / n, i % n), 0.0))
    val peak = patch(h * n + h)
    (patch.map(_ / peak), peak)
  }

  /** ONE pass over vis gridding BOTH the actual visibilities (g_re/g_im)
    * and the unit PSF visibilities (u_re/u_im) — the planeGrids algebra
    * with six aggregates in the same keyed shuffle, so the PSF and the
    * dirty image share a single vis scan + exchange (round 14; guide
    * §2.4). The unit columns use the exact expression planeGrids sees
    * when the caller literals re/im to (1, 0), and adding aggregate
    * columns never moves an existing column's value, so both consumers
    * read bit-identical grids. */
  private def combinedGrids(vis: DataFrame, cfg: Config)
      : DataFrame = {
    val s = vis.sparkSession
    import s.implicits._
    val (p, _, dw) = WStack.planeCols(col("w"), cfg.nPlanes, cfg.wMax)
    val f = WStack.residualFactor(dw, cfg.eta)
    val v = CxCol(col("re"), col("im")) * f
    val u = CxCol(lit(1e0), lit(0e0)) * f
    val t = cfg.taps.toDF("off", "tap")
    val ti = broadcast(t.select(col("off").as("oi"), col("tap").as("wi")))
    val tj = broadcast(t.select(col("off").as("oj"), col("tap").as("wj")))
    vis.withColumn("wplane", p)
      .withColumn("cre", v.re).withColumn("cim", v.im)
      .withColumn("ure", u.re).withColumn("uim", u.im)
      .crossJoin(ti).crossJoin(tj)
      .withColumn("gu", col("pu") + col("oi"))
      .withColumn("gv", col("pv") + col("oj"))
      .groupBy("wplane", "gu", "gv")
      .agg(sum(col("cre") * col("wi") * col("wj")).as("g_re"),
        sum(col("cim") * col("wi") * col("wj")).as("g_im"),
        sum(col("ure") * col("wi") * col("wj")).as("u_re"),
        sum(col("uim") * col("wi") * col("wj")).as("u_im"))
  }

  /** Facet-split the (x, y, value) image and clean every facet in
    * parallel; returns GLOBAL-coordinate components (x, y, flux). */
  def cleanFacets(img: DataFrame, psf: Array[Double], cfg: Config): DataFrame = {
    require(cfg.nx % cfg.facets == 0 && cfg.ny % cfg.facets == 0,
      s"facets (${cfg.facets}) must divide nx=${cfg.nx} and ny=${cfg.ny}")
    val fx = cfg.nx / cfg.facets; val fy = cfg.ny / cfg.facets
    val split = img.select(
      ((col("x") / fx).cast("long") * cfg.facets + (col("y") / fy).cast("long"))
        .as("facet_id"),
      (col("x") % fx).as("x"), (col("y") % fy).as("y"), col("value"))
    val comps = FacetClean.clean(split, fx, fy, psf, cfg.psfHalf,
      cfg.gamma, cfg.threshold, cfg.maxIter)
    comps.select(
      ((col("facet_id") / cfg.facets).cast("long") * fx + col("x")).as("x"),
      ((col("facet_id") % cfg.facets) * fy + col("y")).as("y"),
      col("flux"))
      .groupBy("x", "y").agg(sum(col("flux")).as("flux"))
  }

  /** Residual visibilities: the component list's model (the d01 im_to_vis
    * DFT, components broadcast — sky models are driver-sized in the
    * reference too) evaluated at each vis row's uv cell and subtracted IN
    * THE SAME aggregation. The vis table crosses exactly ONE keyed
    * shuffle: map-side combine collapses the per-component expansion back
    * to one row per visibility before the exchange, and the row's own
    * payload rides the grouping key — no join-back. (Round 12: the 4-JVM
    * 100× bench caught the previous groupBy-then-sort-merge-join-back
    * spilling 2.8 GB in 4 GB executors; the one-pass agg removes the
    * join and with it the sort.) A zero-flux sentinel component keeps the
    * cross join total, so an empty CLEAN yields residual = vis rather
    * than an empty frame. */
  def residualVis(vis: DataFrame, comps: DataFrame, cfg: Config): DataFrame = {
    val spark = vis.sparkSession
    import spark.implicits._
    val sentinel = Seq((0.0, 0.0, 0.0)).toDF("lx", "my", "flux")
    val c = broadcast(comps
      .withColumn("lx", (col("x").cast("double") - cfg.nx / 2.0) * cfg.cell)
      .withColumn("my", (col("y").cast("double") - cfg.ny / 2.0) * cfg.cell)
      .select(col("lx"), col("my"), col("flux"))
      .unionAll(sentinel))
    val theta: Column = lit(2.0 * math.Pi) *
      (col("pu") * col("lx") + col("pv") * col("my"))
    vis.crossJoin(c)
      .groupBy("row_id", "pu", "pv", "w", "re", "im")
      .agg(sum(col("flux") * cos(theta)).as("m_re"),
        (-sum(col("flux") * sin(theta))).as("m_im"))
      .select(col("row_id"), col("pu"), col("pv"), col("w"),
        (col("re") - col("m_re")).as("re"),
        (col("im") - col("m_im")).as("im"))
  }

  final case class MajorCycleResult(
      dirty: DataFrame, components: DataFrame, residualVis: DataFrame)

  /** One full major cycle: image, clean, predict, subtract.
    *
    * Round 14 (VERDICT item 2 — the r13 1.65× sf0.1 regression): the PSF
    * and dirty grids are built in ONE vis pass ([[combinedGrids]]) and
    * the grid-sized result is localCheckpointed, so the PSF collect and
    * the clean/broadcast build read materialized cells instead of each
    * re-scanning + re-gridding vis. Vis passes per cycle: 3 → 2 (one
    * combined grid aggregation, one residual subtraction); the PSF's DFT
    * additionally shrinks to the collected ±psfHalf window. All values
    * bit-identical (per-pixel DFT, per-cell grids, unchanged residual
    * algebra). */
  def majorCycle(vis: DataFrame, cfg: Config): MajorCycleResult = {
    val both = combinedGrids(vis, cfg).localCheckpoint()
    val (psf, peak) = psfFromGrids(both.select(col("wplane"),
      col("gu"), col("gv"),
      col("u_re").as("g_re"), col("u_im").as("g_im")), cfg)
    val dirty = WStack.dirtyImageDft(
      both.select(col("wplane"), col("gu"), col("gv"),
        col("g_re"), col("g_im")),
      pixelGrid(vis.sparkSession, cfg), cfg.taps,
      cfg.nPlanes, cfg.wMax, fsum = c => sum(c), r6 = identity)
    val comps = cleanFacets(
      dirty.select(col("x"), col("y"), (col("dirty_dt") / peak).as("value")),
      psf, cfg)
    MajorCycleResult(dirty, comps, residualVis(vis, comps, cfg))
  }
}
