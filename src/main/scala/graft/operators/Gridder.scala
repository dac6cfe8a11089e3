package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Convolutional gridding / degridding — SURVEY §2.7 F6/F7
  * (africanus/gridding/perleypolyhedron/gridder.py:12-117,
  * degridder.py:16-276), with the separable anti-alias kernel abstraction
  * of kernels.py:17-186 reduced to (offset, weight) taps.
  *
  * Two physical strategies, matching the reference's dask layer
  * (partial grids per row block, summed over blocks):
  *
  *  - `scatter`: sparse grid as a DataFrame aggregation — explode each
  *    point over the 2-D tap stencil, groupBy target cell. Partial
  *    aggregation IS the per-partition partial grid; the shuffle carries
  *    only occupied cells. Right choice when the grid is large/sparse
  *    (shuffle volume = occupied cells, never row count x taps).
  *
  *  - `gridDense`: treeAggregate with an Array[Double] buffer — one dense
  *    grid per partition, combined pairwise on the driver side. Right
  *    choice when npix² is small relative to rows/partition (the classic
  *    radio-astronomy regime; the reference's nifty/wgridder wrappers do
  *    exactly this per row chunk, gridding/nifty/dask.py:270-410).
  */
object Gridder {

  /** pts columns: pu, pv (long pixel coords), re, im.
    * Output: (gu, gv, g_re, g_im, n_hits). */
  def scatter(pts: DataFrame, taps: Seq[(Int, Double)]): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val t = taps.toDF("off", "tap")
    val ti = broadcast(t.select(col("off").as("oi"), col("tap").as("wi")))
    val tj = broadcast(t.select(col("off").as("oj"), col("tap").as("wj")))
    pts.crossJoin(ti).crossJoin(tj)
      .withColumn("gu", col("pu") + col("oi"))
      .withColumn("gv", col("pv") + col("oj"))
      .groupBy("gu", "gv")
      .agg(sum(col("re") * col("wi") * col("wj")).as("g_re"),
        sum(col("im") * col("wi") * col("wj")).as("g_im"),
        count(lit(1)).as("n_hits"))
  }

  /** Adjoint of `scatter`: sample the grid at each point with the same
    * stencil. Output: (row_id, dg_re, dg_im). */
  def degrid(pts: DataFrame, grid: DataFrame, taps: Seq[(Int, Double)]): DataFrame = {
    val s = pts.sparkSession
    import s.implicits._
    val t = taps.toDF("off", "tap")
    val ti = broadcast(t.select(col("off").as("oi"), col("tap").as("wi")))
    val tj = broadcast(t.select(col("off").as("oj"), col("tap").as("wj")))
    // explicit row_id-hash width guard + broadcast gather (round 13,
    // guide §3.1 — the WStack.planeDegrid rationale): the grid is
    // image-bounded BY CONTRACT (callers gate image size), the left side
    // is the exploded data-sized stream; the repartition replaces the old
    // N×25 join exchange AND the final agg exchange with one N-row
    // exchange, at full width. Registered inputs are dyadic, so the
    // per-group sum is exact in any order and the join-strategy change
    // cannot move a bit (f07's oracle already sums in DuckDB's order).
    // The hint respects a session that disabled broadcasting
    // (threshold ≤ 0) — the escape hatch for an image past driver memory
    // (round-14 ADVICE; same gate as WStack.gridBcast).
    val g = if (graft.core.Escalate.broadcastThreshold(s) > 0) broadcast(grid) else grid
    pts.repartition(col("row_id"))
      .crossJoin(ti).crossJoin(tj)
      .withColumn("gu", col("pu") + col("oi"))
      .withColumn("gv", col("pv") + col("oj"))
      .join(g, Seq("gu", "gv"))
      .groupBy("row_id")
      .agg(sum(col("g_re") * col("wi") * col("wj")).as("dg_re"),
        sum(col("g_im") * col("wi") * col("wj")).as("dg_im"))
  }

  /** Dense partial-grid path: per-partition Array accumulation + pairwise
    * tree combine. Grid is (npix x npix), centre-origin; out-of-range taps
    * are dropped. Returns interleaved [re, im] of length 2·npix². */
  def gridDense(pts: DataFrame, npix: Int, taps: Seq[(Int, Double)]): Array[Double] = {
    val half = npix / 2
    val tapArr = taps.toArray
    pts.select(col("pu").cast("long"), col("pv").cast("long"),
        col("re").cast("double"), col("im").cast("double"))
      .rdd.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .treeAggregate(new Array[Double](2 * npix * npix))(
        seqOp = { (g, p) =>
          var i = 0
          while (i < tapArr.length) {
            var j = 0
            while (j < tapArr.length) {
              val gu = p._1 + tapArr(i)._1 + half
              val gv = p._2 + tapArr(j)._1 + half
              if (gu >= 0 && gu < npix && gv >= 0 && gv < npix) {
                val w = tapArr(i)._2 * tapArr(j)._2
                val idx = 2 * (gu.toInt * npix + gv.toInt)
                g(idx) += p._3 * w
                g(idx + 1) += p._4 * w
              }
              j += 1
            }
            i += 1
          }
          g
        },
        combOp = { (a, b) =>
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          a
        })
  }
}
