package graft.operators

import org.apache.spark.graft.Blocks
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{CxCol, Det, Escalate}

/** Phase-only gain calibration — SURVEY §2.6 G5/G6
  * (africanus/calibration/phase_only/phase_only.py:30-308).
  *
  * G5 building blocks: each visibility row contributes to the gain grid of
  * BOTH its antennas — implemented as a 2-way union (row exploded into p-
  * and q-keyed contributions) followed by one groupBy(gridKeys)
  * partial+final aggregation:
  *   jhr_p = Σ w·Im(conj(v_model)·r),  jhr_q = −jhr_p's term,
  *   jhj   = Σ w·|v_model|²,           r = v − v_model.
  *
  * Gain shape: the reference's jones grid is (time, ant, chan, dir)
  * (phase_only.py:30-241) — `extraKeys` carries the chan/dir axes, so the
  * grid keys are (time_index, extraKeys..., ant). jhj is computed ONCE
  * before the loop from the model alone — the reference's DIAG_DIAG fast
  * path ("can avoid recomputing JHJ in DIAG_DIAG mode",
  * phase_only.py:264-270) — and rides the grid thereafter.
  *
  * G6 driver loop: iterate jhr → φ += ½·jhr/jhj → re-predict, until
  * max|Δφ| < tol or maxIter. The phase grid lives as a DataFrame for the
  * whole solve — the ONLY driver-side value is the scalar max|Δφ|.
  *
  * Grid-size-aware gather join: a (time, ant) phase-only grid is tiny and
  * broadcasts, but the reference's full chan/dir-resolved grid can exceed
  * driver memory — `broadcast()` COLLECTS the build side to the driver, so
  * forcing it would OOM exactly the case the grid shape exists for. The
  * grid row count is known exactly (counted when the initial checkpoint
  * materializes), so the gather broadcasts ONLY while
  * `Escalate.broadcastable` passes the estimated grid bytes (under
  * spark.sql.autoBroadcastJoinThreshold) and degrades to a shuffle join
  * (both sides exchanged on the grid keys) beyond it — the same plan
  * Catalyst would pick for a fact-fact join.
  *
  * Both solvers share one iteration driver ([[iterate]]): the input pin,
  * the `Escalate.local` solve gate, the grid gate and both grid loops
  * live there once; the DIE and DDE solvers supply their driver mirror
  * and their per-iteration jhr terms. Iteration constants (the
  * local-latency side of the distributed design):
  *  - ONE broadcast (or one exchange) of the grid per iteration serves
  *    BOTH gather sides — the p- and q-joins reference the same plan
  *    through two aliases, and exchange reuse ships it once;
  *  - grid materialization (RDD localCheckpoint) and the max|Δφ|
  *    convergence scalar happen in the SAME job (the reduce runs as the
  *    checkpoint caches), halving the per-iteration job count. Every
  *    iteration checkpoints: the update plan contains the data-sized jhr
  *    aggregation, and a broadcast of an unmaterialized grid re-executes
  *    its stacked joins (checkpointing every third iteration ran 40×
  *    slower on g06);
  *  - each materialized checkpoint is unpersisted as soon as its
  *    successor exists, so executor block storage holds ≤2 grid copies
  *    instead of one per iteration.
  */
object Calibrate {

  /** Driver mirror of one fsum TERM: round(x·scale) via the same
    * BigDecimal HALF_UP path Spark's Round uses, cast-to-long truncation
    * of the integral double — bit-identical to
    * `round(term * 1e6).cast("long")`. */
  private def fsumTermLong(x: Double): Long = {
    val s = x * 1e6
    if (s.isNaN || s.isInfinite) s.toLong
    else java.math.BigDecimal.valueOf(s)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** The DIE solve entirely on the driver — the sub-threshold fast path
    * of [[gaussNewtonPhaseOnly]]. Every double operation mirrors the
    * distributed Column tree op for op (CxCol products, the fsum
    * term rounding, d = (0.5·jhr)/jhj, cos/sin of the updated phase on
    * the same JVM's Math), so detSum solves are BIT-identical to the
    * distributed path (jhr terms are order-free rounded longs; jhj terms
    * are dyadic-exact per the operator contract — g09 hash-gates this).
    * Plain-sum (detSum=false) solves accumulate in row order instead of
    * partition order — the same association-order freedom the g06/p04
    * rows-only contracts already document. */
  private def solveLocalDie(in: DataFrame, keyCols: Seq[String],
                            maxIter: Int, tol: Double,
                            detSum: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = in.sparkSession
    val rows = in.collect()
    val k = keyCols.size
    // layout: keys 0..k-1, ant1 k, ant2 k+1, m_re k+2, m_im k+3,
    //         v_re k+4, v_im k+5, w k+6
    val idx = scala.collection.mutable.HashMap[Seq[Any], Int]()
    val gridKeysBuf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    def gidx(r: Row, antPos: Int): Int = {
      val key = (0 until k).map(r.get) :+ r.get(antPos)
      idx.getOrElseUpdate(key, { gridKeysBuf += key; gridKeysBuf.size - 1 })
    }
    val nr = rows.length
    val i1s = new Array[Int](nr); val i2s = new Array[Int](nr)
    val mre = new Array[Double](nr); val mim = new Array[Double](nr)
    val vre = new Array[Double](nr); val vim = new Array[Double](nr)
    val wgt = new Array[Double](nr)
    var i = 0
    while (i < nr) {
      val r = rows(i)
      i1s(i) = gidx(r, k); i2s(i) = gidx(r, k + 1)
      mre(i) = r.getDouble(k + 2); mim(i) = r.getDouble(k + 3)
      vre(i) = r.getDouble(k + 4); vim(i) = r.getDouble(k + 5)
      wgt(i) = r.getDouble(k + 6)
      i += 1
    }
    val n = gridKeysBuf.size
    val jhj = new Array[Double](n)
    i = 0
    while (i < nr) { // model-only jhj, the DIAG_DIAG fast path
      val t = wgt(i) * (mre(i) * mre(i) + mim(i) * mim(i))
      jhj(i1s(i)) += t; jhj(i2s(i)) += t
      i += 1
    }
    val phase = new Array[Double](n)
    val gc = Array.fill(n)(1.0); val gs = new Array[Double](n)
    var it = 0
    var maxDelta = Double.MaxValue
    while (it < maxIter && maxDelta > tol) {
      val accL = if (detSum) new Array[Long](n) else null
      val accD = if (detSum) null else new Array[Double](n)
      i = 0
      while (i < nr) {
        val i1 = i1s(i); val i2 = i2s(i)
        // gp·m (CxCol mul order), then ·gq.conj — x − (−y) ≡ x + y in
        // IEEE doubles (single rounding either way)
        val a1 = gc(i1) * mre(i) - gs(i1) * mim(i)
        val b1 = gc(i1) * mim(i) + gs(i1) * mre(i)
        val vmre = a1 * gc(i2) + b1 * gs(i2)
        val vmim = b1 * gc(i2) - a1 * gs(i2)
        val rre = vre(i) - vmre; val rim = vim(i) - vmim
        val t = wgt(i) * (vmre * rim - vmim * rre)
        if (detSum) { accL(i1) += fsumTermLong(t); accL(i2) += fsumTermLong(-t) }
        else { accD(i1) += t; accD(i2) += -t }
        i += 1
      }
      maxDelta = 0.0
      var j = 0
      while (j < n) {
        val jhr = if (detSum) accL(j).toDouble / 1e6 else accD(j)
        // the distributed coalesce(…, 0.0) only covers the left-join
        // MISS (a grid key with no step row) — impossible here, since
        // every grid key comes from a data row that contributes every
        // iteration; so d mirrors the raw 0.5·jhr/jhj exactly
        val d = (0.5 * jhr) / jhj(j)
        val np = phase(j) + d
        phase(j) = np; gc(j) = math.cos(np); gs(j) = math.sin(np)
        val ad = math.abs(d)
        if (ad > maxDelta) maxDelta = ad
        j += 1
      }
      it += 1
    }
    val inSch = in.schema
    val outKeys = Seq("time_index", "ant") ++ keyCols.drop(1)
    val outSchema = StructType(
      StructField("time_index", inSch(keyCols.head).dataType) +:
        StructField("ant", inSch("ant1").dataType) +:
        keyCols.drop(1).map(c => StructField(c, inSch(c).dataType)) :+
        StructField("phase", DoubleType))
    val out = (0 until n).map { j =>
      val key = gridKeysBuf(j) // keyCols values :+ ant
      Row.fromSeq((key.head +: key.last +: key.slice(1, k)) :+ phase(j))
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy(outKeys.map(col): _*)
  }

  /** The per-iteration gather: `in` (aliased x) joined against the gain
    * grid twice — p-side on ant1, q-side on ant2 — through ONE broadcast
    * (or one exchange) of the grid. Extracted so PlanSpec can assert the
    * physical join shape the solver builds under either hint decision. */
  private[graft] def gatherJoin(in: DataFrame, grid: DataFrame,
                                keyCols: Seq[String],
                                bcast: Boolean): DataFrame = {
    val b = if (bcast) broadcast(grid) else grid
    val pCond = keyCols.map(k => col(s"x.$k") === col(s"gp.$k"))
      .reduce(_ && _) && col("x.ant1") === col("gp.ant")
    val qCond = keyCols.map(k => col(s"x.$k") === col(s"gq.$k"))
      .reduce(_ && _) && col("x.ant2") === col("gq.ant")
    in.as("x").join(b.as("gp"), pCond).join(b.as("gq"), qCond)
  }

  /** The p/q scatter of one per-row term onto the grid keys (keyCols...,
    * ant): ONE explode, not a union of two projections — a union's
    * children are independent codegen stages, so the pinned fact frame
    * (and the gather join) would be scanned twice per pass; same terms,
    * same order-free aggregation. */
  private def scatter(df: DataFrame, keys: Seq[Column], keyCols: Seq[String],
                      ant1: Column, ant2: Column, termP: Column,
                      termQ: Column, name: String): DataFrame =
    df.select((keys :+ explode(array(
        struct(ant1.as("ant"), termP.as(name)),
        struct(ant2.as("ant"), termQ.as(name)))).as("c")): _*)
      .select((keyCols.map(col) :+ col("c.ant").as("ant")
        :+ col(s"c.$name").as(name)): _*)

  /** The iteration driver both solvers share. `inCols` are pinned from
    * `df`; `local` is the solver's driver mirror over the pinned input;
    * `jhrTerms` turns one iteration's gather join (`in` aliased x, the
    * grid as gp/gq) into its scattered (keyCols..., ant, jhr_c) terms,
    * summed per grid key with Det.fsum when `detSum`. Returns
    * (time_index, ant, keyCols.tail..., phase) sorted on its keys. */
  private def iterate(df: DataFrame, inCols: Seq[String],
                      keyCols: Seq[String], maxIter: Int, tol: Double,
                      detSum: Boolean)(
      local: DataFrame => DataFrame,
      jhrTerms: DataFrame => DataFrame): DataFrame = {
    val spark = df.sparkSession
    val gridKeys = keyCols :+ "ant"
    // localCheckpoint, not cache (round 14, VERDICT item 6): a cached
    // Dataset keeps its FULL logical plan (p04's carries the fused
    // source-sum predict), and every iteration's stepPlan re-analyzes +
    // re-optimizes that whole tree — measured ~0.9 s/iteration on p04 at
    // sf0.1, planning-dominated. The checkpoint truncates the solver's
    // input to a LogicalRDD LEAF: same rows, same partitions, same
    // per-partition order (so even the plain-double jhr sums accumulate
    // in the same order), while each iteration now plans leaf + grid +
    // gather only. Lineage truncation is the engine-wide trade already
    // taken for the grid checkpoints; blocks are freed via the id delta
    // below (Dataset.unpersist cannot release checkpoint blocks).
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val in = df.select(inCols.map(col): _*).localCheckpoint()
    val inRddIds =
      spark.sparkContext.getPersistentRDDs.keySet.diff(persistedBefore)
    def releaseIn(): Unit =
      inRddIds.foreach(id => spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(Blocks.release))
    // sub-threshold escalation (round 14): when the solution-interval
    // problem is this small, each distributed iteration is pure overhead,
    // and the reference itself solves per-chunk in-process
    // (phase_only.py runs on in-memory numpy chunks)
    if (Escalate.local(spark, "calibrate.solve",
        Escalate.rowBytes(in.count(), inCols.size))) {
      val out = local(in)
      releaseIn()
      return out
    }

    // initial grid: every (keys, ant) on either side, φ = 0, with the
    // model-only jhj (DIAG_DIAG fast path) aggregated in the same pass.
    // The grid carries cos/sin of its own phase (gc, gs): trig of the
    // NEW phase is computed once per GRID ENTRY as the checkpoint
    // materializes, not once per visibility row per gather side — at
    // 100 TB that moves ~4 libm calls/row/iteration onto a broadcast-
    // class relation. Values are bit-identical: cos/sin of the very
    // same double the phase column stores (round-13, guide §1.2 step 2).
    val jhjTerm = col("w") * (col("m_re") * col("m_re")
      + col("m_im") * col("m_im"))
    val grid0 = scatter(in, keyCols.map(col), keyCols, col("ant1"),
        col("ant2"), jhjTerm, jhjTerm, "jhj_c")
      .groupBy(gridKeys.map(col): _*)
      .agg(sum(col("jhj_c")).as("jhj"))
      .withColumn("phase", lit(0.0))
      .select((gridKeys.map(col) :+ col("phase") :+ col("jhj")
        :+ lit(1.0).as("gc") :+ lit(0.0).as("gs")): _*)
    var ckptRdd: RDD[Row] = grid0.rdd.localCheckpoint()
    val gridRows = ckptRdd.count() // eager + exact size for the join hint
    val bcastGrid = Escalate.broadcastable(spark, "calibrate.grid",
      Escalate.rowBytes(gridRows, gridKeys.size + 4))
    val dIdx = gridKeys.size + 4  // layout: keys..., phase, jhj, gc, gs, d
    val jhrAgg: Column => Column =
      if (detSum) c => Det.fsum(c) else c => sum(c)

    // one iteration's update plan over whatever grid frame is current
    def stepPlan(phasesDf: DataFrame): DataFrame = {
      val step = jhrTerms(gatherJoin(in, phasesDf, keyCols, bcastGrid))
        .groupBy(gridKeys.map(col): _*)
        .agg(jhrAgg(col("jhr_c")).as("jhr"))
      val d = coalesce(lit(0.5) * col("jhr") / col("jhj"), lit(0.0))
      val newPhase = col("phase") + d
      phasesDf.join(step, gridKeys, "left")
        .select((gridKeys.map(col) :+ newPhase.as("phase")
          :+ col("jhj") :+ cos(newPhase).as("gc") :+ sin(newPhase).as("gs")
          :+ d.as("d")): _*)
    }

    var it = 0
    var maxDelta = Double.MaxValue
    var phases: DataFrame = null
    if (bcastGrid) {
      // DRIVER-RESIDENT grid loop (round 13): the broadcast gate already
      // certifies the grid is collect-safe — so instead of re-reading a
      // checkpointed RDD through a broadcast-build JOB each iteration,
      // hold the rows on the driver and hand each iteration a
      // LocalRelation (its broadcast builds on the driver thread, no
      // job) whose collect IS the convergence check: per-iteration jobs
      // drop 2 → 1 and the checkpoint/unpersist machinery disappears.
      // Same gather plan, same aggregation, same doubles — the grid just
      // lives one hop closer.
      var localRows: Array[Row] = ckptRdd.collect()
      Blocks.release(ckptRdd)
      val schema = grid0.schema
      while (it < maxIter && maxDelta > tol) {
        val phasesL = spark.createDataFrame(
          java.util.Arrays.asList(localRows: _*), schema)
        val withD = stepPlan(phasesL).collect()
        maxDelta = 0.0
        localRows = withD.map { row =>
          val d = math.abs(row.getDouble(dIdx))
          if (d > maxDelta) maxDelta = d
          Row.fromSeq(row.toSeq.dropRight(1))
        }
        it += 1
      }
      phases = spark.createDataFrame(
        java.util.Arrays.asList(localRows: _*), schema)
    } else {
      // distributed checkpoint loop for grids past the threshold. Fresh
      // LogicalRDD wrap: localCheckpoint alone keeps the child plan's
      // STATISTICS, and this loop joins the grid against itself — the
      // size estimate would compound every iteration and Catalyst's
      // BigInt stats arithmetic becomes the (exponential) bottleneck
      phases = spark.createDataFrame(ckptRdd, grid0.schema)
      var prevRdd: RDD[Row] = null
      while (it < maxIter && maxDelta > tol) {
        val updated = stepPlan(phases)
        it += 1
        // materialize the grid AND compute the convergence scalar in one
        // job: localCheckpoint caches the partitions as this reduce runs
        val rdd = updated.rdd.localCheckpoint()
        maxDelta = rdd
          .map(row => math.abs(row.getDouble(dIdx)))
          .fold(0.0)(math.max)
        if (prevRdd != null) Blocks.release(prevRdd)
        prevRdd = ckptRdd
        ckptRdd = rdd
        phases = spark.createDataFrame(rdd, updated.schema).drop("d")
      }
    }
    releaseIn()
    // output axis order mirrors the reference jones shape: time, ant, chan/dir
    val outKeys = Seq("time_index", "ant") ++ keyCols.drop(1)
    phases.select((outKeys.map(col) :+ col("phase")): _*)
      .orderBy(outKeys.map(col): _*)
  }

  /** Input df columns: time_index, ant1, ant2, extraKeys..., m_re, m_im
    * (model), v_re, v_im (observed), w (weight). Returns
    * (time_index, ant, extraKeys..., phase).
    *
    * `extraKeys` resolves the gain grid beyond (time, ant) — pass
    * Seq("chan") (or Seq("chan", "dir")) for the reference's full jones
    * shape; the keys must be columns of `df` shared by both antennas of a
    * row. `detSum` switches the jhr aggregation to Det.fsum (terms rounded
    * to 1e-6, summed as longs) — the order-free deterministic mode hashed
    * oracle surfaces require (g09); the performance path keeps plain double
    * sums. jhj is always a plain sum: it is computed once from the model,
    * and the registered inputs are dyadic rationals whose products/sums are
    * IEEE-exact in any order. */
  def gaussNewtonPhaseOnly(df: DataFrame, maxIter: Int = 20,
                           tol: Double = 1e-10,
                           extraKeys: Seq[String] = Nil,
                           detSum: Boolean = false): DataFrame = {
    val keyCols = Seq("time_index") ++ extraKeys
    iterate(df, keyCols ++ Seq("ant1", "ant2", "m_re", "m_im", "v_re",
        "v_im", "w"), keyCols, maxIter, tol, detSum)(
      solveLocalDie(_, keyCols, maxIter, tol, detSum),
      withG => {
        val gp = CxCol(col("gp.gc"), col("gp.gs"))
        val gq = CxCol(col("gq.gc"), col("gq.gs"))
        val m = CxCol(col("m_re"), col("m_im"))
        val v = CxCol(col("v_re"), col("v_im"))
        val vm = gp * m * gq.conj
        val r = v - vm
        val jhrTerm = col("w") * (vm.re * r.im - vm.im * r.re)
        // the jacobian antisymmetry rides in the exploded pair, so the
        // gather join runs once per iteration
        scatter(withG, keyCols.map(k => col(s"x.$k").as(k)), keyCols,
            col("x.ant1"), col("x.ant2"), jhrTerm, -jhrTerm, "jhr_c")
      })
  }

  /** Driver-resident DDE solve — [[solveLocalDie]]'s sibling for
    * [[gaussNewtonPhaseOnlyDirs]]. The shared residual r = v − Σ_dir vm
    * mirrors the distributed window sum; the registered face's n_dir = 2
    * makes that 2-term add IEEE-exact in any order (the g10 determinism
    * note), so detSum solves stay bit-identical. */
  private def solveLocalDirs(in: DataFrame, keyCols: Seq[String],
                             extraKeys: Seq[String],
                             maxIter: Int, tol: Double,
                             detSum: Boolean): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = in.sparkSession
    val rows = in.collect()
    val k = keyCols.size
    // layout: row_id 0, keys 1..k, ant1 k+1, ant2 k+2, m_re k+3,
    //         m_im k+4, v_re k+5, v_im k+6, w k+7
    val idx = scala.collection.mutable.HashMap[Seq[Any], Int]()
    val gridKeysBuf = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    def gidx(r: Row, antPos: Int): Int = {
      val key = (1 to k).map(r.get) :+ r.get(antPos)
      idx.getOrElseUpdate(key, { gridKeysBuf += key; gridKeysBuf.size - 1 })
    }
    // shared-residual group: (row_id, extraKeys...) — extraKeys sit at
    // keyCols indices 1..k-2, i.e. in positions 2..k-1
    val gidxMap = scala.collection.mutable.HashMap[Seq[Any], Int]()
    val nr = rows.length
    val i1s = new Array[Int](nr); val i2s = new Array[Int](nr)
    val grp = new Array[Int](nr)
    val mre = new Array[Double](nr); val mim = new Array[Double](nr)
    val vre = new Array[Double](nr); val vim = new Array[Double](nr)
    val wgt = new Array[Double](nr)
    var i = 0
    while (i < nr) {
      val r = rows(i)
      i1s(i) = gidx(r, k + 1); i2s(i) = gidx(r, k + 2)
      grp(i) = gidxMap.getOrElseUpdate(
        r.get(0) +: extraKeys.indices.map(e => r.get(2 + e)), gidxMap.size)
      mre(i) = r.getDouble(k + 3); mim(i) = r.getDouble(k + 4)
      vre(i) = r.getDouble(k + 5); vim(i) = r.getDouble(k + 6)
      wgt(i) = r.getDouble(k + 7)
      i += 1
    }
    val n = gridKeysBuf.size; val ng = gidxMap.size
    val jhj = new Array[Double](n)
    i = 0
    while (i < nr) {
      val t = wgt(i) * (mre(i) * mre(i) + mim(i) * mim(i))
      jhj(i1s(i)) += t; jhj(i2s(i)) += t
      i += 1
    }
    val phase = new Array[Double](n)
    val gc = Array.fill(n)(1.0); val gs = new Array[Double](n)
    val vmre = new Array[Double](nr); val vmim = new Array[Double](nr)
    var it = 0
    var maxDelta = Double.MaxValue
    while (it < maxIter && maxDelta > tol) {
      val sre = new Array[Double](ng); val sim = new Array[Double](ng)
      i = 0
      while (i < nr) {
        val i1 = i1s(i); val i2 = i2s(i)
        val a1 = gc(i1) * mre(i) - gs(i1) * mim(i)
        val b1 = gc(i1) * mim(i) + gs(i1) * mre(i)
        vmre(i) = a1 * gc(i2) + b1 * gs(i2)
        vmim(i) = b1 * gc(i2) - a1 * gs(i2)
        sre(grp(i)) += vmre(i); sim(grp(i)) += vmim(i)
        i += 1
      }
      val accL = if (detSum) new Array[Long](n) else null
      val accD = if (detSum) null else new Array[Double](n)
      i = 0
      while (i < nr) {
        val rre = vre(i) - sre(grp(i)); val rim = vim(i) - sim(grp(i))
        val t = wgt(i) * (vmre(i) * rim - vmim(i) * rre)
        if (detSum) {
          accL(i1s(i)) += fsumTermLong(t); accL(i2s(i)) += fsumTermLong(-t)
        } else { accD(i1s(i)) += t; accD(i2s(i)) += -t }
        i += 1
      }
      maxDelta = 0.0
      var j = 0
      while (j < n) {
        val jhr = if (detSum) accL(j).toDouble / 1e6 else accD(j)
        val d = (0.5 * jhr) / jhj(j)
        val np = phase(j) + d
        phase(j) = np; gc(j) = math.cos(np); gs(j) = math.sin(np)
        val ad = math.abs(d)
        if (ad > maxDelta) maxDelta = ad
        j += 1
      }
      it += 1
    }
    val inSch = in.schema
    val outKeys = Seq("time_index", "ant") ++ keyCols.drop(1)
    val outSchema = StructType(
      StructField("time_index", inSch(keyCols.head).dataType) +:
        StructField("ant", inSch("ant1").dataType) +:
        keyCols.drop(1).map(c => StructField(c, inSch(c).dataType)) :+
        StructField("phase", DoubleType))
    val out = (0 until n).map { j =>
      val key = gridKeysBuf(j)
      Row.fromSeq((key.head +: key.last +: key.slice(1, k)) :+ phase(j))
    }
    spark.createDataFrame(java.util.Arrays.asList(out: _*), outSchema)
      .orderBy(outKeys.map(col): _*)
  }

  /** DIRECTION-DEPENDENT phase-only solve — the reference's FULL jones
    * shape (time, ant, chan, dir) with the cross-direction residual
    * coupling of compute_jhj_and_jhr (phase_only.py:30-105): the model is
    * per-direction, but the residual each direction's jacobian contracts
    * against is r = v − Σ_s gp_s·m_s·gq_s* — one value per (row, chan)
    * shared by all directions.
    *
    * Input df: row_id, time_index, ant1, ant2, extraKeys..., dir, m_re,
    * m_im (per-direction model), v_re, v_im (per-(row, chan) observed,
    * REPEATED on each dir row), w. Returns (time_index, ant, extraKeys...,
    * dir, phase).
    *
    * Spark shape per iteration: the same size-aware double gather as the
    * DIE solve (grid keys now include dir), then ONE window over
    * (row_id, extraKeys) sums the per-direction corrupted models into the
    * shared residual — a second data-sized but keyed exchange; the jhr
    * scatter-add reuses the shared explode+groupBy. The direction sum is a
    * 2-term-exact commutative add at the registered n_dir = 2; detSum mode
    * keeps jhr order-free via fsum exactly as the DIE path. */
  def gaussNewtonPhaseOnlyDirs(df: DataFrame, maxIter: Int = 20,
                               tol: Double = 1e-10,
                               extraKeys: Seq[String] = Nil,
                               detSum: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyCols = Seq("time_index") ++ extraKeys :+ "dir"
    // the residual is shared across directions: window over the
    // per-(row, chan) group (row_id makes it unique; extraKeys for clarity)
    val rowWin = Window.partitionBy(
      (Seq("row_id") ++ extraKeys).map(col): _*)
    iterate(df, Seq("row_id") ++ keyCols ++ Seq("ant1", "ant2", "m_re",
        "m_im", "v_re", "v_im", "w"), keyCols, maxIter, tol, detSum)(
      solveLocalDirs(_, keyCols, extraKeys, maxIter, tol, detSum),
      withG => {
        val gp = CxCol(col("gp.gc"), col("gp.gs"))
        val gq = CxCol(col("gq.gc"), col("gq.gs"))
        val m = CxCol(col("m_re"), col("m_im"))
        val vm = gp * m * gq.conj
        val perDir = withG.select((Seq(col("x.row_id").as("row_id")) ++
          keyCols.map(k => col(s"x.$k").as(k)) ++
          Seq(col("x.ant1").as("ant1"), col("x.ant2").as("ant2"),
            col("v_re"), col("v_im"), col("w"),
            vm.re.as("vm_re"), vm.im.as("vm_im"))): _*)
        val withR = perDir
          .withColumn("r_re", col("v_re") - sum(col("vm_re")).over(rowWin))
          .withColumn("r_im", col("v_im") - sum(col("vm_im")).over(rowWin))
        val jhrTerm = col("w") *
          (col("vm_re") * col("r_im") - col("vm_im") * col("r_re"))
        // one-pass p/q scatter: the union form would re-run the gather
        // join AND the shared-residual window once per side
        scatter(withR, keyCols.map(col), keyCols, col("ant1"), col("ant2"),
            jhrTerm, -jhrTerm, "jhr_c")
      })
  }
}
