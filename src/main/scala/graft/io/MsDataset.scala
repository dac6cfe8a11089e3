package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** CASA Measurement Set as an on-disk dataset of tables — the dask-ms
  * `xds_from_ms` analogue the reference's flagship example is built on
  * (rime/examples/predict.py:548-586 opens MAIN + FIELD +
  * SPECTRAL_WINDOW + ANTENNA + POLARIZATION through dask-ms and predicts
  * MODEL_DATA). The reference reads casacore tables directly; the Spark
  * engine reads the same RELATIONAL content from a parquet dataset
  * directory (`<name>.ms.pq/<TABLE>.parquet`), produced from a real MS
  * by `tools/ms2parquet.py` (python-casacore, one `getcol` pass per
  * column, row order preserved, MAIN gets an explicit `row_id`).
  *
  * Column names follow the MSv2 definition (MAIN: TIME, ANTENNA1,
  * ANTENNA2, UVW[3], FIELD_ID, DATA_DESC_ID, …; SPECTRAL_WINDOW:
  * CHAN_FREQ[nchan]; FIELD: PHASE_DIR[2]; ANTENNA: POSITION[3], NAME),
  * so a user coming from dask-ms sees the schema they know — SURVEY
  * §1.1. Subtables are dimension-sized (broadcast class); MAIN is the
  * only large relation and arrives as ordinary parquet, so partition
  * pruning / predicate pushdown / column pruning all apply unchanged.
  */
object MsDataset {

  /** The opened dataset: MAIN + the subtables the predict path needs.
    * Missing optional subtables surface as None, like dask-ms. */
  final case class Ms(main: DataFrame, antenna: DataFrame,
                      spectralWindow: DataFrame, field: DataFrame,
                      polarization: Option[DataFrame],
                      dataDescription: Option[DataFrame] = None)

  private def sub(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.parquet(spark, s"$dir/$name.parquet")

  private def optSub(spark: SparkSession, dir: String,
                     name: String): Option[DataFrame] =
    if (new java.io.File(s"$dir/$name.parquet").exists)
      Some(sub(spark, dir, name)) else None

  def read(spark: SparkSession, dir: String): Ms = Ms(
    main = sub(spark, dir, "MAIN"),
    antenna = sub(spark, dir, "ANTENNA"),
    spectralWindow = sub(spark, dir, "SPECTRAL_WINDOW"),
    field = sub(spark, dir, "FIELD"),
    polarization = optSub(spark, dir, "POLARIZATION"),
    dataDescription = optSub(spark, dir, "DATA_DESCRIPTION"))

  /** (row_id, u, v, w) from MAIN's UVW[3] — the large relation of every
    * RIME query; one zero-shuffle projection. */
  def uvw(ms: Ms): DataFrame =
    ms.main.select(col("row_id"),
      element_at(col("UVW"), 1).as("u"),
      element_at(col("UVW"), 2).as("v"),
      element_at(col("UVW"), 3).as("w"))

  /** (chan, freq) from SPECTRAL_WINDOW's CHAN_FREQ array for one spw —
    * dimension-sized, posexplode preserves channel order. */
  def chans(ms: Ms, spwId: Int = 0): DataFrame =
    ms.spectralWindow.filter(col("spw_id") === spwId)
      .select(posexplode(col("CHAN_FREQ")).as(Seq("chan", "freq")))
      .select(col("chan").cast("long").as("chan"), col("freq"))

  /** Distinct-epoch ranking (TIME → time_index), the dask-ms utime
    * index. NOT a `row_number() OVER (ORDER BY TIME)` window: that plan
    * funnels every epoch through ONE task and WindowExec's row buffer
    * starts spilling past 4096 rows regardless of memory — at the 100×
    * replica (204k epochs) it was the only "spill" left in the p01 4 GB
    * gate, and at 100 TB utimes are millions. Distributed sort +
    * zipWithIndex gives the identical dense 0-based rank with no
    * single-partition stage. */
  def rankTimes(main: DataFrame): DataFrame = {
    val spark = main.sparkSession
    import org.apache.spark.sql.types._
    val rdd = main.select(col("TIME")).distinct()
      .rdd.map(_.getDouble(0))
      .sortBy(identity)
      .zipWithIndex()
      .map { case (t, i) => org.apache.spark.sql.Row(t, i) }
      // pin (t11 idiom): the rank is used by several downstream joins
      // (geometry, PA grid) and the sortBy+zipWithIndex chain would
      // otherwise re-run its sample/sort/count jobs per use. Persist, not
      // localCheckpoint: persist keeps lineage, so a lost executor
      // (preemption, OOM kill in the 4 GB gate) recomputes the blocks
      // instead of failing every downstream job unrecoverably — this sits
      // on the flagship p01/p04 path. The eager count materializes it
      // once so later uses hit the cache.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("TIME", DoubleType, nullable = false),
      StructField("time_index", LongType, nullable = false))))
  }

  /** The J2000 phase centre (ra0, dec0) of a field — a driver-side
    * 2-double lookup (model-sized, the e05 idiom). */
  def phaseCentre(spark: SparkSession, ms: Ms, fieldId: Int = 0): (Double, Double) = {
    val r = ms.field.filter(col("field_id") === fieldId)
      .select(element_at(col("PHASE_DIR"), 1), element_at(col("PHASE_DIR"), 2))
      .head()
    (r.getDouble(0), r.getDouble(1))
  }

  /** The reference example end to end from the MS-format input: open the
    * dataset, take uvw/chans/phase-centre from its tables, run the
    * WSClean-component predict (pipelines.PredictPipeline.modelData) and
    * return (row_id, chan, vre, vim) ready to write back as MODEL_DATA
    * (rime/examples/predict.py:548-586). */
  def predictModelData(spark: SparkSession, msDir: String,
                       skyModelPath: String): DataFrame = {
    val ms = read(spark, msDir)
    val (ra0, dec0) = phaseCentre(spark, ms)
    graft.pipelines.PredictPipeline.modelData(
      spark, skyModelPath, uvw(ms), chans(ms), ra0, dec0)
  }

  /** Write a predicted MODEL_DATA relation back INTO the dataset — the
    * example's closing step (rime/examples/predict.py:580-586 assigns
    * vis to the MS MODEL_DATA column and dask-ms writes it). The
    * relational face is a `MODEL_DATA.parquet` member table keyed by
    * (row_id, chan), partitioned by chan so per-channel consumers prune;
    * `readModelData` joins it back against MAIN by row_id. */
  def writeModelData(modelData: DataFrame, msDir: String,
                     rowHint: Option[Long] = None): Unit =
    writeMember(modelData, msDir, "MODEL_DATA", rowHint)

  def readModelData(spark: SparkSession, msDir: String): DataFrame =
    readMember(spark, msDir, "MODEL_DATA")

  /** Generic (row_id, chan, …)-keyed member-table sink — the dask-ms
    * `xds_to_table(..., [column])` face for any MAIN-shaped column
    * (MODEL_DATA, CORRECTED_DATA, …): partitioned by chan so per-channel
    * consumers prune at the scan.
    *
    * chan is a BOUNDED dimension (one value per SPW channel), so the
    * dynamic-partition write runs with concurrent per-chan writers
    * instead of the planner's sort-by-partition-column: the sort
    * buffered each task's full row set and was the one spill left in the
    * p04 4 GB-executor gate (1.7 GB at the 100× replica); with ≤8 chans
    * per task the sort never happens, and wider SPWs gracefully sort
    * only the overflow.
    *
    * Concurrency: the writer-count override is a SESSION conf, visible to
    * anything else running on the same SparkSession while the write is in
    * flight. `writeLock` serializes concurrent writeMember calls in this
    * JVM so a second writer can never capture the first one's temporary
    * value as the conf to "restore"; unrelated concurrent queries that
    * depend on the session default during a member write are out of
    * contract (none of the registry faces do — the pipelines sink
    * sequentially). */
  private val writeLock = new Object

  /** Below this row count the per-chan dynamic-partition layout is
    * skipped (round 14, guide §6): a member table this small is a few
    * dozen MB at most, any consumer scans it in one or two tasks, so the
    * chan directories buy no pruning while the dynamic-partition commit
    * constants (per-partition directories + rename dance + concurrent
    * writers) dominate the write. Above it the partitioned layout and
    * the concurrent-writer path stay exactly as before — the threshold
    * is data-derived, not machine-derived, so the same binary picks the
    * scan-pruning layout wherever it can matter (session-overridable via
    * spark.graft.memberPartitionMinRows). */
  private def partitionMinRows(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.memberPartitionMinRows")
      .map(_.toLong).getOrElse(4000000L)

  /** `rowHint`: the member table's row count when the caller already
    * knows it (the pipelines derive it from ensureMs's fingerprint —
    * counting here would re-execute the upstream plan). None keeps the
    * partitioned layout unconditionally. */
  def writeMember(df: DataFrame, msDir: String, name: String,
                  rowHint: Option[Long] = None): Unit = writeLock.synchronized {
    val spark = df.sparkSession
    if (rowHint.exists(_ < partitionMinRows(spark))) {
      // plain layout: chan stays a regular column (readMember's cast is
      // a no-op on it), moved LAST so the read-back column order matches
      // the partitioned layout's (partition columns append at the end)
      df.select((df.columns.filter(_ != "chan").map(col) :+ col("chan"))
          .toIndexedSeq: _*)
        .write.mode("overwrite").parquet(s"$msDir/$name.parquet")
      return
    }
    val key = "spark.sql.maxConcurrentOutputFileWriters"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "8")
    try df.write.mode("overwrite").partitionBy("chan")
      .parquet(s"$msDir/$name.parquet")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def readMember(spark: SparkSession, msDir: String, name: String): DataFrame =
    // chan is a partition DIRECTORY on disk; partition-column inference
    // reads it as int — restore the long contract
    Tables.parquet(spark, s"$msDir/$name.parquet")
      .withColumn("chan", col("chan").cast("long"))

  /** Synthetic MS dataset writer — the JVM twin of
    * `tools/ms2parquet.py --synthetic` (identical layout and schema), so
    * the spec can exercise file→MODEL_DATA without casacore. Baselines
    * cycle over antenna pairs; uvw is a deterministic dyadic spread. */
  def writeSynthetic(spark: SparkSession, dir: String, nrow: Int,
                     nchan: Int, nant: Int,
                     ra0: Double, dec0: Double): Unit = {
    import spark.implicits._
    val ants = (0 until nant)
      .map(a => (a, s"ST-$a", Array(-1601710.0 + a * 64, -5042006.0 + a * 128,
        3554880.0 + a * 32)))
      .toDF("antenna_id", "NAME", "POSITION")
    val main = (0 until nrow).map { r =>
      val a1 = r % nant
      val a2 = (r / nant) % nant
      (r.toLong, 5084553600.0 + (r / (nant * nant)) * 8.0, a1, a2,
        Array(((r * 7) % 2001 - 1000) / 2.0, ((r * 3) % 2001 - 1000) / 2.0,
          ((r * 11) % 201 - 100) / 20.0), 0, 0)
    }.toDF("row_id", "TIME", "ANTENNA1", "ANTENNA2", "UVW",
      "FIELD_ID", "DATA_DESC_ID")
    val spw = Seq((0, nchan, (0 until nchan).map(k => 856e6 + k * 107e6).toArray))
      .toDF("spw_id", "NUM_CHAN", "CHAN_FREQ")
    val field = Seq((0, "FIELD0", Array(ra0, dec0)))
      .toDF("field_id", "NAME", "PHASE_DIR")
    val pol = Seq((0, Array(9, 10, 11, 12))) // XX XY YX YY (MSv2 codes)
      .toDF("pol_id", "CORR_TYPE")
    main.coalesce(1).write.mode("overwrite").parquet(s"$dir/MAIN.parquet")
    ants.coalesce(1).write.mode("overwrite").parquet(s"$dir/ANTENNA.parquet")
    spw.coalesce(1).write.mode("overwrite").parquet(s"$dir/SPECTRAL_WINDOW.parquet")
    field.coalesce(1).write.mode("overwrite").parquet(s"$dir/FIELD.parquet")
    pol.coalesce(1).write.mode("overwrite").parquet(s"$dir/POLARIZATION.parquet")
  }

  /** Data-scaled synthetic MS: the same layout/geometry as
    * [[writeSynthetic]] but with MAIN derived from a caller-supplied
    * row-id column ENGINE-side (one distributed projection + write — the
    * driver never materializes a row), so the dataset grows with the
    * source table feeding it. Every MAIN column is exact integer/dyadic
    * arithmetic of `row_id` (the writeSynthetic formulas restated as
    * Catalyst expressions), so any replica scale produces the same
    * per-row values a driver loop would. */
  def writeSyntheticScaled(spark: SparkSession, dir: String,
                           rowIds: DataFrame, nchan: Int, nant: Int,
                           ra0: Double, dec0: Double): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, expr, lit, pmod}
    val n2 = (nant * nant).toLong
    val main = rowIds.select(
      col("row_id"),
      (lit(5084553600.0) +
        expr(s"row_id div $n2").cast("double") * 8.0).as("TIME"),
      pmod(col("row_id"), lit(nant.toLong)).cast("int").as("ANTENNA1"),
      pmod(expr(s"row_id div $nant"), lit(nant.toLong)).cast("int")
        .as("ANTENNA2"),
      array(
        (pmod(col("row_id") * 7, lit(2001L)).cast("double") - 1000.0) / 2.0,
        (pmod(col("row_id") * 3, lit(2001L)).cast("double") - 1000.0) / 2.0,
        (pmod(col("row_id") * 11, lit(201L)).cast("double") - 100.0) / 20.0
      ).as("UVW"),
      lit(0).as("FIELD_ID"), lit(0).as("DATA_DESC_ID"))
    val ants = (0 until nant)
      .map(a => (a, s"ST-$a", Array(-1601710.0 + a * 64, -5042006.0 + a * 128,
        3554880.0 + a * 32)))
      .toDF("antenna_id", "NAME", "POSITION")
    val spw = Seq((0, nchan, (0 until nchan).map(k => 856e6 + k * 107e6).toArray))
      .toDF("spw_id", "NUM_CHAN", "CHAN_FREQ")
    val field = Seq((0, "FIELD0", Array(ra0, dec0)))
      .toDF("field_id", "NAME", "PHASE_DIR")
    val pol = Seq((0, Array(9, 10, 11, 12)))
      .toDF("pol_id", "CORR_TYPE")
    main.write.mode("overwrite").parquet(s"$dir/MAIN.parquet")
    ants.coalesce(1).write.mode("overwrite").parquet(s"$dir/ANTENNA.parquet")
    spw.coalesce(1).write.mode("overwrite").parquet(s"$dir/SPECTRAL_WINDOW.parquet")
    field.coalesce(1).write.mode("overwrite").parquet(s"$dir/FIELD.parquet")
    pol.coalesce(1).write.mode("overwrite").parquet(s"$dir/POLARIZATION.parquet")
  }

  /** 2-field × 2-SPW synthetic MS — the grouped-dataset shape the
    * reference's flagship example iterates over (it opens the MS with
    * `group_cols=["FIELD_ID", "DATA_DESC_ID"]` and runs one independent
    * graph per group, rime/examples/predict.py:548-559). MAIN is written
    * PARTITIONED by (FIELD_ID, DATA_DESC_ID), so a per-group read prunes
    * to that group's files at the scan — the Spark-native equivalent of
    * dask-ms's per-group datasets, and the property that matters at 100 TB
    * (a 4-group query touches 1/4 of the bytes). DATA_DESCRIPTION maps
    * DATA_DESC_ID → (SPECTRAL_WINDOW_ID, POLARIZATION_ID) exactly as MSv2
    * defines it. All values are closed-form in row_id so oracles can
    * restate them. */
  def writeSyntheticMulti(spark: SparkSession, dir: String,
                          nrow: Int = 400, nant: Int = 5): Unit = {
    import spark.implicits._
    val main = (0 until nrow).map { r =>
      (r.toLong, 5084553600.0 + (r / (nant * nant)) * 8.0,
        r % nant, (r / nant) % nant,
        Array(((r * 7) % 2001 - 1000) / 2.0, ((r * 3) % 2001 - 1000) / 2.0,
          ((r * 11) % 201 - 100) / 20.0),
        (r / 100) % 2, (r / 50) % 2)
    }.toDF("row_id", "TIME", "ANTENNA1", "ANTENNA2", "UVW",
      "FIELD_ID", "DATA_DESC_ID")
    val ants = (0 until nant)
      .map(a => (a, s"ST-$a", Array(-1601710.0 + a * 64, -5042006.0 + a * 128,
        3554880.0 + a * 32)))
      .toDF("antenna_id", "NAME", "POSITION")
    val spw = Seq(
      (0, 4, (0 until 4).map(k => 856e6 + k * 107e6).toArray),
      (1, 4, (0 until 4).map(k => 1712e6 + k * 535e5).toArray))
      .toDF("spw_id", "NUM_CHAN", "CHAN_FREQ")
    val field = Seq(
      (0, "FIELD0", Array(0.25, -0.38)),
      (1, "FIELD1", Array(0.75, 0.11)))
      .toDF("field_id", "NAME", "PHASE_DIR")
    val dd = Seq((0, 0, 0), (1, 1, 0))
      .toDF("ddid", "SPECTRAL_WINDOW_ID", "POLARIZATION_ID")
    val pol = Seq((0, Array(9, 10, 11, 12)))
      .toDF("pol_id", "CORR_TYPE")
    main.coalesce(1).write.mode("overwrite")
      .partitionBy("FIELD_ID", "DATA_DESC_ID").parquet(s"$dir/MAIN.parquet")
    ants.coalesce(1).write.mode("overwrite").parquet(s"$dir/ANTENNA.parquet")
    spw.coalesce(1).write.mode("overwrite").parquet(s"$dir/SPECTRAL_WINDOW.parquet")
    field.coalesce(1).write.mode("overwrite").parquet(s"$dir/FIELD.parquet")
    dd.coalesce(1).write.mode("overwrite").parquet(s"$dir/DATA_DESCRIPTION.parquet")
    pol.coalesce(1).write.mode("overwrite").parquet(s"$dir/POLARIZATION.parquet")
  }

  /** Lazily-written shared multi-group fixture (the f16/BeamFixture
    * idiom): content is deterministic, so regenerate-if-missing is safe. */
  def ensureMultiFixture(spark: SparkSession): String = {
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_ms_multi.ms.pq")
    if (!new java.io.File(dir, "_DONE").exists) {
      writeSyntheticMulti(spark, dir.toString)
      new java.io.FileOutputStream(new java.io.File(dir, "_DONE")).close()
    }
    dir.toString
  }
}
