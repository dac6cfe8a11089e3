package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graft.Listing

/** Loaders for the driver-provided parquet tables (see TESTDATA.md), and
  * the one way the program opens a parquet table: [[Tables.parquet]].
  *
  * All tables live as single parquet files under a scale-factor directory.
  * At cluster scale these would be partitioned datasets; the loaders return
  * an ordinary parquet scan either way, so predicate pushdown / column
  * pruning apply identically.
  *
  * A plain `spark.read.parquet(path)` infers the schema with a Spark JOB
  * (ParquetUtils.inferSchema → SchemaMergeUtils.mergeSchemasInParallel →
  * parallelize(...).collect()), even with mergeSchema off, where that job
  * reads a single footer. At registry scale that job was the largest item
  * of plan construction (80–105 ms per open against 11–16 ms with a
  * supplied schema, local[2], warm). [[parquet]] reads that one footer on
  * the driver instead and hands the schema to the reader, so an open
  * submits no job — the lazy, descriptor-only open of dask-ms's
  * `xds_from_ms`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Open a parquet file or directory without a schema-inference job.
    *
    *  1. List `path` on the driver with the session's Hadoop conf and take
    *     the file Spark's inference would read: names pass Spark's own
    *     listing filter, a `_common_metadata` or `_metadata` summary comes
    *     first, then the first data file in full-path order, recursing
    *     into the `k=v` partition directories.
    *  2. Read that file's footer and convert it exactly as Spark's
    *     inference task does (`ParquetFooterReader.readFooter` with
    *     SKIP_ROW_GROUPS, then `ParquetFileFormat.readSchemaFromFooter`
    *     with a converter built from the session conf), so the Spark
    *     schema key in the footer, `nanosAsLong` and TIMESTAMP_NTZ
    *     inference behave the same.
    *  3. `spark.read.schema(s).parquet(path)`: partition discovery still
    *     appends the partition columns with their inferred types.
    *
    * With no data file (missing path, empty directory) it is the plain
    * `spark.read.parquet(path)`, so the error is Spark's own. Stateless on
    * purpose — every call reads the current footer, so an overwritten
    * member table is never opened with a stale schema. Like Spark with
    * `mergeSchema` off, it assumes every file of the table has the same
    * schema. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    schemaFile(new Path(path), hconf) match {
      case Some(st) =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, hconf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        val schema = ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
        spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  /** The file whose footer Spark's inference would read, found without
    * listing the whole tree: a summary file first, then files in the
    * order their full paths sort (a directory sorts as `name/`). */
  private def schemaFile(path: Path, hconf: Configuration): Option[FileStatus] = {
    val fs = path.getFileSystem(hconf)
    def order(st: FileStatus): (Int, String) = {
      val n = st.getPath.getName
      val summary = Seq("_common_metadata", "_metadata").indexOf(n)
      (if (summary < 0) 2 else summary, if (st.isDirectory) s"$n/" else n)
    }
    def first(st: FileStatus): Option[FileStatus] =
      if (st.isFile) Some(st)
      else fs.listStatus(st.getPath)
        .filterNot(c => Listing.filteredOut(c.getPath.getName))
        .sortBy(order).iterator.flatMap(first).nextOption()
    try first(fs.getFileStatus(path))
    catch { case _: java.io.FileNotFoundException => None }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Events stream table. The generator has produced two physical layouts
    * for `ts`: parquet TIMESTAMP(NANOS) (read as a raw ns long under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and TIMESTAMP(MICROS)
    * (read as TIMESTAMP_NTZ). Normalize both to the repo-wide convention:
    * `ts` = nanoseconds since epoch as LONG, so every consumer's µs logic
    * (`ts div 1000`) is layout-independent. The NTZ→LTZ cast is exact
    * because every entry point pins `spark.sql.session.timeZone=UTC`;
    * ×1000 is exact in long range (2024 epoch ≈ 1.7e18 ns). DuckDB reads
    * the µs layout natively, so the oracles' `epoch_ns(ts)` stays exact. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast("timestamp")) * lit(1000L))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Floating-point determinism helpers.
  *
  * The driver's correctness gate hash-compares our parquet output against a
  * DuckDB run of the oracle SQL. Double summation order differs between
  * engines, so money-like aggregates are computed in exact integer units
  * (cents) and divided back at the end; transcendental outputs are rounded
  * to a fixed number of decimals on BOTH sides.
  */
object Det {
  /** Exact integer cents from a 2-decimal double column. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact integer percent from a 2-decimal fraction column (e.g. discount 0.05 -> 5). */
  def pct(c: Column): Column = round(c * 100).cast("long")

  /** Deterministic cross-engine rounding to 1/scale: round(x*scale)/scale
    * with the scaling done in doubles on BOTH sides. Plain ROUND(x, d)
    * disagrees between Spark (exact BigDecimal of the double) and DuckDB
    * (scaled-double) when x*scale lands exactly on .5 — write the scaled
    * form in the oracle SQL too: round((expr) * 1e6) / 1e6. */
  def r4(c: Column): Column = round(c * 1e4) / 1e4
  def r6(c: Column): Column = round(c * 1e6) / 1e6
  def r9(c: Column): Column = round(c * 1e9) / 1e9

  /** DRIVER-side mirror of [[r4]] — bit-identical to evaluating the
    * Column form (Spark's Round on a double is
    * BigDecimal.valueOf(x).setScale(0, HALF_UP).doubleValue(); NaN/Inf
    * pass through). Lets driver-resident model data (the beam cube's
    * voxels, already in JVM arrays) be rounded without a Spark job;
    * DeterminismSpec asserts equality against the Column form over the
    * live cube values. */
  def r4Local(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x * 1e4)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue() / 1e4

  /** SQL-side mirror of r4/r6/r9. r4 is for hashed surfaces whose values
    * pass through COMPOUND transcendental evaluation (trig of trig, cubes
    * of cos, large per-query value counts): the 100× wider rounding bucket
    * makes a 1-ulp cross-engine libm disagreement harmlessly far from any
    * flip boundary.
    *
    * The trailing `+ 0e0` is load-bearing: DuckDB's std::round keeps the
    * SIGN of zero (round(-1e-9) = -0.0, surviving the /scale divide),
    * while Spark's round() goes through BigDecimal, which has no negative
    * zero and emits +0.0. The two compare equal numerically but hash
    * differently at byte/repr level — the round-3/4 x09-class red.
    * Adding +0.0 normalizes -0.0 to +0.0 (exact identity for every other
    * value), matching Spark's output bit-for-bit. */
  def r4Sql(e: String): String = s"(round(($e) * 1e4) / 1e4 + 0e0)"
  def r6Sql(e: String): String = s"(round(($e) * 1e6) / 1e6 + 0e0)"
  def r9Sql(e: String): String = s"(round(($e) * 1e9) / 1e9 + 0e0)"

  /** Exact fixed-point sum: terms are rounded to 1/scale, accumulated as
    * longs (order-independent, overflow-free at our magnitudes), divided
    * back at the end. This is the deterministic analogue of the
    * reference's Kahan-compensated source sums
    * (africanus/experimental/rime/fused/core.py:98-118) for oracle
    * hash-matching; the performance path uses plain double sums. */
  def fsum(term: Column, scale: Double = 1e6): Column =
    sum(round(term * scale).cast("long")) / scale

  /** SQL mirror of fsum (DuckDB SUM(BIGINT) is HUGEINT — cast back). */
  def fsumSql(e: String, scale: String = "1e6"): String =
    s"CAST(SUM(CAST(ROUND(($e) * $scale) AS BIGINT)) AS BIGINT)/$scale"
}
