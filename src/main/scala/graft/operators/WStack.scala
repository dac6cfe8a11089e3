package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Cx, CxCol}

/** W-stacking layout — the Spark-native face of the wgridder family
  * (SURVEY §2.7 F1-F5; africanus/gridding/wgridder/vis2im.py:15-196
  * delegates the whole pipeline to ducc0's C++ kernel).
  *
  * The distributed part of a wgridder is exactly what Spark is good at:
  * (1) snap every row to its nearest w-plane, (2) rotate the visibility
  * by the RESIDUAL w phase e^{2πi·Δw·η} (η = the field-centre (n−1)
  * scale), (3) grid each plane independently — one aggregation keyed by
  * (plane, cell), shuffle volume = occupied cells × planes. The per-plane
  * FFT + image-domain accumulation that ducc0 performs stays a
  * plane-parallel driver/executor-local step downstream (each plane's
  * grid is independent), exactly like the reference's dask wrapper hands
  * each chunk to the C++ kernel.
  */
object WStack {

  /** Broadcast hint for the degrid gathers' grid side. The grid is
    * image-bounded BY CONTRACT (occupied cells × planes ≤ image size —
    * the same per-node bound the plane-parallel FFT and gridDense already
    * assume; callers gate image size, not this operator), so the hint is
    * safe where the contract holds — but it must not override a session
    * that DISABLED broadcasting (autoBroadcastJoinThreshold ≤ 0, the
    * escape hatch when an image outgrows driver memory): there the
    * gather degrades to the pre-round-13 shuffle join instead of
    * collecting the grid to the driver (round-14 ADVICE). */
  private def gridBcast(grid: DataFrame): DataFrame =
    if (graft.core.Escalate.broadcastThreshold(grid.sparkSession) > 0) broadcast(grid)
    else grid

  /** Row_id-hash repartition at the session's shuffle width (AQE
    * coalesces it by size) — the degrid gathers' width guard (see
    * planeDegrid). This is the same N-row exchange the final agg used to
    * pay, moved BEFORE the stencil explode; locally it stops the
    * broadcast gather from inheriting a 1-2-split compressed-scan width.
    * (Not `pts.rdd.getNumPartitions`: under AQE that materializes the
    * child's query stages eagerly — measured 1.6× on the whole family.) */
  private def widened(pts: DataFrame): DataFrame =
    pts.repartition(col("row_id"))

  /** Plane assignment: index p ∈ [0, nPlanes) of the nearest plane on the
    * uniform grid [-wMax, wMax]; returns (plane, wPlane, dw). */
  def planeCols(w: Column, nPlanes: Int, wMax: Double): (Column, Column, Column) = {
    val spacing = 2.0 * wMax / (nPlanes - 1)
    val p = least(greatest(round((w + wMax) / spacing).cast("long"), lit(0L)),
      lit(nPlanes - 1L))
    val wp = lit(-wMax) + p.cast("double") * spacing
    (p, wp, w - wp)
  }

  /** Residual-w phase rotation factor e^{i·2π·dw·eta}. */
  def residualFactor(dw: Column, eta: Double): CxCol =
    Cx.expi(lit(2.0 * math.Pi * eta) * dw)

  /** Per-plane convolutional grid of residual-corrected visibilities.
    * pts columns: pu, pv, re, im, w. Output: (wplane, gu, gv, sums). */
  def planeGrids(pts: DataFrame, taps: Seq[(Int, Double)],
                 nPlanes: Int, wMax: Double, eta: Double,
                 fsum: Column => Column): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val (p, _, dw) = planeCols(col("w"), nPlanes, wMax)
    val f = residualFactor(dw, eta)
    val v = CxCol(col("re"), col("im")) * f
    val t = taps.toDF("off", "tap")
    val ti = broadcast(t.select(col("off").as("oi"), col("tap").as("wi")))
    val tj = broadcast(t.select(col("off").as("oj"), col("tap").as("wj")))
    pts.withColumn("wplane", p)
      .withColumn("cre", v.re).withColumn("cim", v.im)
      .crossJoin(ti).crossJoin(tj)
      .withColumn("gu", col("pu") + col("oi"))
      .withColumn("gv", col("pv") + col("oj"))
      .groupBy("wplane", "gu", "gv")
      .agg(fsum(col("cre") * col("wi") * col("wj")).as("g_re"),
        fsum(col("cim") * col("wi") * col("wj")).as("g_im"),
        count(lit(1)).as("n_hits"))
  }

  /** The imaging back half on the ORACLE-CHECKABLE path: a sparse DFT of
    * each plane's occupied cells at a small pixel set, per-plane
    * image-domain w-correction e^{2πi·w_p·η(l,m)} (η = −(l²+m²)/2, the
    * small-angle (n−1) map of vis2im.py's per-plane correction), plane
    * sum, and detaper (division by the gridding kernel's transform,
    * perleypolyhedron/kernels.py:99-186's compute_detaper analogue).
    *
    * For a production-size image the dense plane-parallel FFT
    * ([[Fft.planeImages]]) replaces the sparse DFT — same surrounding
    * algebra, validated equivalent in FftSpec. Here every sum is
    * fixed-point (fsum) and every trig argument stays ≲ 2π, so the whole
    * vis→image pipeline hash-matches DuckDB.
    *
    * `px` columns: x, y (longs), lx, my (pixel coords, dyadic). Output:
    * (x, y, dirty, dirty_dt). */
  def dirtyImageDft(grids: DataFrame, px: DataFrame,
                    taps: Seq[(Int, Double)],
                    nPlanes: Int, wMax: Double,
                    fsum: Column => Column,
                    r6: Column => Column): DataFrame = {
    val dirty = dirtyPlanesSum(grids, px, nPlanes, wMax, fsum)
    def taper(c: Column): Column = taps.map { case (off, tap) =>
      lit(tap) * cos(lit(2.0 * math.Pi) * lit(off.toDouble) * c)
    }.reduce(_ + _)
    dirty.select(col("x"), col("y"), col("dirty"),
      r6(col("dirty") / (taper(col("lx")) * taper(col("my")))).as("dirty_dt"))
  }

  /** The detaper-free plane sum of [[dirtyImageDft]]: sparse DFT of each
    * plane's cells at the pixel set + per-plane image-domain w-correction
    * + plane sum. Output: (x, y, lx, my, dirty). */
  def dirtyPlanesSum(grids: DataFrame, px: DataFrame,
                     nPlanes: Int, wMax: Double,
                     fsum: Column => Column): DataFrame = {
    val spacing = 2.0 * wMax / (nPlanes - 1)
    val theta = lit(2.0 * math.Pi) * (col("gu") * col("lx") + col("gv") * col("my"))
    // t44 class, grid side (round 14): the (plane, cell) grid is a few
    // hundred KB, so AQE coalesces whatever aggregation produced it to ONE
    // partition — and the ×(npx) broadcast DFT expansion below (the trig-
    // heavy part of the whole image path) then runs on one core. An
    // EXPLICIT-width repartition of the grid (a dimension-sized exchange,
    // ~10⁴ rows; the explicit count keeps AQE from re-coalescing it)
    // spreads the expansion across the session's cores. fsum consumers
    // are order-free longs, so the partition change cannot move a bit;
    // the plain-sum consumer (p02's pipeline) is a rows-checked face.
    val spread = grids.repartition(
      grids.sparkSession.sparkContext.defaultParallelism,
      col("wplane"), col("gu"), col("gv"))
    val pimg = spread.crossJoin(broadcast(px))
      .groupBy("wplane", "x", "y", "lx", "my")
      .agg(
        fsum(col("g_re") * cos(theta) - col("g_im") * sin(theta)).as("img_re"),
        fsum(col("g_re") * sin(theta) + col("g_im") * cos(theta)).as("img_im"))
    val wp = lit(-wMax) + col("wplane").cast("double") * spacing
    val etam = -(col("lx") * col("lx") + col("my") * col("my")) / 2.0
    val ph = lit(2.0 * math.Pi) * wp * etam
    pimg
      .groupBy("x", "y", "lx", "my")
      .agg(fsum(col("img_re") * cos(ph) - col("img_im") * sin(ph)).as("dirty"))
  }

  /** ES-kernel fractional-offset weight k(x) as a codegen'd expression
    * (graft.functions.Kernels.esKernel's Column twin). */
  def esWeight(x: Column, w: Int, beta: Double): Column =
    when(abs(x) >= w, lit(0.0)).otherwise(
      exp(lit(beta) *
        (sqrt(greatest(lit(0.0), lit(1.0) - (x / w) * (x / w))) - lit(1.0))))

  /** The ε-CONTROLLED grid: NO uv snap — each visibility at continuous
    * cell coordinates (cu, cv) scatters onto the (2w+1)² surrounding cells
    * with the ES kernel evaluated at the exact fractional offset
    * k(off − frac), the ducc0/FINUFFT kernel-corrected scheme
    * (gridding/wgridder/vis2im.py:77-106's epsilon knob ↦ half-support w,
    * β ≈ 2.3·w; see Kernels.esSupportFor). Downstream, divide the image by
    * Kernels.esTransform(w, β, ·) per axis instead of the discrete taper —
    * WGridderAccuracySpec measures the resulting total error against the
    * exact continuous DFT. Plan shape is identical to [[planeGrids]]: one
    * (plane, cell)-keyed aggregation, broadcast offset dims, shuffle
    * volume = occupied cells × planes.
    *
    * pts columns: cu, cv (continuous cell coords), w, re, im. */
  def planeGridsFrac(pts: DataFrame, w: Int, beta: Double,
                     nPlanes: Int, wMax: Double, eta: Double,
                     fsum: Column => Column): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val (p, _, dw) = planeCols(col("w"), nPlanes, wMax)
    val f = residualFactor(dw, eta)
    val v = CxCol(col("re"), col("im")) * f
    val offs = (-w to w).map(_.toLong)
    val ti = broadcast(offs.toDF("oi"))
    val tj = broadcast(offs.toDF("oj"))
    val wt = esWeight(col("oi") - col("fru"), w, beta) *
      esWeight(col("oj") - col("frv"), w, beta)
    pts.withColumn("wplane", p)
      .withColumn("cre", v.re).withColumn("cim", v.im)
      .withColumn("pu", round(col("cu")).cast("long"))
      .withColumn("pv", round(col("cv")).cast("long"))
      .withColumn("fru", col("cu") - col("pu"))
      .withColumn("frv", col("cv") - col("pv"))
      .crossJoin(ti).crossJoin(tj)
      .withColumn("gu", col("pu") + col("oi"))
      .withColumn("gv", col("pv") + col("oj"))
      .groupBy("wplane", "gu", "gv")
      .agg(fsum(col("cre") * wt).as("g_re"),
        fsum(col("cim") * wt).as("g_im"),
        count(lit(1)).as("n_hits"))
  }

  /** Two-plane linear w-INTERPOLATION scatter — the deep-ε upgrade of
    * [[planeGridsFrac]]: instead of snapping each row to its nearest
    * w-plane (truncation error LINEAR in the plane spacing — measured
    * 2.9e-5 → 1.9e-6 over 8 → 128 planes, one digit per 4x planes), every
    * visibility scatters onto its TWO bracketing planes with weights
    * (1−t, t), t the fractional position between them. Linear
    * interpolation of e^{2πi·w·η} between plane phases is second-order:
    * error ∝ (2π·Δw·η)²/8, so 32 planes reach the 1e-9 class at the
    * WGridderAccuracySpec operating point where the snap path needs
    * thousands. This is the first step of ducc0's w-direction kernel
    * (vis2im.py:77-106 delegates to a full ES kernel across w; linear =
    * the W=1 member). Shuffle volume doubles the occupied (plane, cell)
    * groups at most — still bounded by 2 × rows × stencil, nPlanes-free
    * on sparse data. Output: (wplane, gu, gv, g_re, g_im, n_hits). */
  def planeGridsFracW2(pts: DataFrame, w: Int, beta: Double,
                       nPlanes: Int, wMax: Double,
                       fsum: Column => Column): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val spacing = 2.0 * wMax / (nPlanes - 1)
    val p0 = least(greatest(
      floor((col("w") + wMax) / spacing).cast("long"), lit(0L)),
      lit(nPlanes - 1L))
    val wp0 = lit(-wMax) + p0.cast("double") * spacing
    val t = least(greatest((col("w") - wp0) / spacing, lit(0.0)), lit(1.0))
    val planes = explode(array(
      struct(p0.as("wplane"), (lit(1.0) - t).as("pw")),
      struct(least(p0 + 1L, lit(nPlanes - 1L)).as("wplane"), t.as("pw"))))
    val offs = (-w to w).map(_.toLong)
    val ti = broadcast(offs.toDF("oi"))
    val tj = broadcast(offs.toDF("oj"))
    val wt = esWeight(col("oi") - col("fru"), w, beta) *
      esWeight(col("oj") - col("frv"), w, beta)
    pts
      .select(col("*"), planes.as("pl"))
      .select(col("*"), col("pl.wplane").as("wplane"), col("pl.pw").as("pw"))
      .drop("pl")
      // On-plane rows (t = 0) and the wMax edge (both interp rows collapse
      // to the same plane) emit a zero-weight second row — exact 0.0, so
      // accuracy-neutral to drop; keeps n_hits/occupied groups meaningful
      // and trims the doubled shuffle back toward 1x on snapped data.
      .filter(col("pw") =!= 0.0)
      .withColumn("pu", round(col("cu")).cast("long"))
      .withColumn("pv", round(col("cv")).cast("long"))
      .withColumn("fru", col("cu") - col("pu"))
      .withColumn("frv", col("cv") - col("pv"))
      .crossJoin(ti).crossJoin(tj)
      .withColumn("gu", col("pu") + col("oi"))
      .withColumn("gv", col("pv") + col("oj"))
      .groupBy("wplane", "gu", "gv")
      .agg(fsum(col("re") * (col("pw") * wt)).as("g_re"),
        fsum(col("im") * (col("pw") * wt)).as("g_im"),
        count(lit(1)).as("n_hits"))
  }

  /** ε-controlled adjoint: sample each row's w-plane grid with the ES
    * kernel at the row's EXACT fractional offset — the degrid half of the
    * kernel-corrected scheme ([[planeGridsFrac]]'s mirror; the image side
    * must divide by Kernels.esTransform before the grid DFT, and then
    * vis(u) = Σ_g k(u−g)·G(g) reconstructs the continuous-coordinate
    * visibility to the kernel's aliasing ε — im2vis.py:16-183's epsilon).
    * Output: (row_id, carry..., dg_re, dg_im).
    *
    * `carry` (round 14): extra pts columns — MUST be functionally
    * dependent on row_id — threaded through the gather's groupBy as
    * additional grouping keys and emitted alongside the result. A
    * consumer that needs the row payload next to the degridded value
    * (f18's residual subtraction) then skips a whole join-back — and the
    * extra scan of pts that recomputing the left side costs — while the
    * groups (row_id already among the keys) and therefore every fsum are
    * unchanged. Default Nil keeps the narrow shuffle for consumers that
    * only need the values (f17; guide §2.3 — shuffle fewer bytes). */
  def planeDegridFrac(pts: DataFrame, grids: DataFrame,
                      w: Int, beta: Double,
                      nPlanes: Int, wMax: Double, eta: Double,
                      fsum: Column => Column,
                      carry: Seq[String] = Nil): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val (p, _, dw) = planeCols(col("w"), nPlanes, wMax)
    val offs = (-w to w).map(_.toLong)
    val ti = broadcast(offs.toDF("oi"))
    val tj = broadcast(offs.toDF("oj"))
    val wt = esWeight(col("oi") - col("fru"), w, beta) *
      esWeight(col("oj") - col("frv"), w, beta)
    // one explicit N-row exchange BEFORE the stencil explode (t44 class:
    // without it the broadcast gather below runs at the scan's width —
    // 1-2 splits for the compressed uvw columns — on one core). Hash
    // partitioning by row_id also pre-satisfies the (row_id, dw) groupBy
    // distribution, so the agg needs NO second exchange: net plan change
    // vs the old sort-merge gather is "N×stencil² exchange + two sorts +
    // N-row agg exchange" → "one N-row exchange".
    val gathered = widened(pts).withColumn("wplane", p).withColumn("dw", dw)
      .withColumn("pu", round(col("cu")).cast("long"))
      .withColumn("pv", round(col("cv")).cast("long"))
      .withColumn("fru", col("cu") - col("pu"))
      .withColumn("frv", col("cv") - col("pv"))
      .crossJoin(ti).crossJoin(tj)
      .withColumn("gu", col("pu") + col("oi"))
      .withColumn("gv", col("pv") + col("oj"))
      // grid side BROADCAST (round 13, guide §3.1): the grid is bounded
      // by occupied cells × planes ≤ image size — the same per-node bound
      // the plane-parallel FFT (Fft.planeImages) and gridDense already
      // assume — while the left side is the 49×-exploded DATA-sized
      // stream; the planner's stats put it through a sort-merge join,
      // shuffling AND sorting rows × stencil² by (wplane, gu, gv). With
      // the broadcast the stencil terms of each row stay in its scan
      // partition and the (row_id, dw) partial agg collapses them 49→1
      // map-side. fsum terms are 1e-6-rounded longs — order-free, so the
      // join-order change cannot move a bit. (Hint gated on the session
      // threshold — see gridBcast.)
      .join(gridBcast(grids), Seq("wplane", "gu", "gv"))
      .groupBy("row_id", ("dw" +: carry): _*)
      .agg(fsum(col("g_re") * wt).as("s_re"),
        fsum(col("g_im") * wt).as("s_im"))
    val f = residualFactor(col("dw"), eta).conj
    val v = CxCol(col("s_re"), col("s_im")) * f
    gathered.select((col("row_id") +: carry.map(col)) :+
      v.re.as("dg_re") :+ v.im.as("dg_im"): _*)
  }

  /** Adjoint: sample each row's OWN w-plane grid with the stencil, then
    * back-rotate by the residual-w phase conjugate — the degrid half of
    * the w-stacked round trip. The gather uses the same fixed-point sum
    * discipline as the grid (grid values are inexact doubles; a raw sum
    * would be order-dependent). Output: (row_id, dg_re, dg_im). */
  def planeDegrid(pts: DataFrame, grids: DataFrame,
                  taps: Seq[(Int, Double)],
                  nPlanes: Int, wMax: Double, eta: Double,
                  fsum: Column => Column): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val (p, _, dw) = planeCols(col("w"), nPlanes, wMax)
    val t = taps.toDF("off", "tap")
    val ti = broadcast(t.select(col("off").as("oi"), col("tap").as("wi")))
    val tj = broadcast(t.select(col("off").as("oj"), col("tap").as("wj")))
    val gathered = widened(pts).withColumn("wplane", p).withColumn("dw", dw)
      .crossJoin(ti).crossJoin(tj)
      .withColumn("gu", col("pu") + col("oi"))
      .withColumn("gv", col("pv") + col("oj"))
      // broadcast gather (see planeDegridFrac): image-bounded grid vs
      // 25×-exploded data-sized stream; fsum keeps every bit in place
      .join(gridBcast(grids), Seq("wplane", "gu", "gv"))
      .groupBy("row_id", "dw")
      .agg(fsum(col("g_re") * col("wi") * col("wj")).as("s_re"),
        fsum(col("g_im") * col("wi") * col("wj")).as("s_im"))
    val f = residualFactor(col("dw"), eta).conj
    val v = CxCol(col("s_re"), col("s_im")) * f
    gathered.select(col("row_id"), v.re.as("dg_re"), v.im.as("dg_im"))
  }
}
