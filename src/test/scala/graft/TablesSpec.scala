package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.core.Tables
import graft.io.MsDataset

/** Pins [[Tables.parquet]], the program's one parquet open: on every
  * layout the program reads it returns exactly what `spark.read.parquet`
  * returns (schema with names, types, nullability and order; rows), and
  * the open itself submits no Spark job. A source scan keeps every other
  * parquet open in `src/main` routed through it. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSame(path: String): Unit = {
    val ours = Tables.parquet(spark, path)
    val spark0 = spark.read.parquet(path)
    assert(ours.schema === spark0.schema, s"schema differs at $path")
    assert(ours.schema.map(_.nullable) === spark0.schema.map(_.nullable))
    assert(rows(ours) === rows(spark0), s"rows differ at $path")
  }

  /** Jobs submitted by `f` on this thread (tagged by a job group, so a
    * concurrent job elsewhere in the shared session is not counted). */
  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "TablesSpec open")
      try f finally sc.clearJobGroup()
      org.apache.spark.graft.Listeners.drain(sc)
    } finally sc.removeSparkListener(l)
    n.get
  }

  private lazy val flatDir: String = {
    val d = tmp("tables_flat")
    spark.range(1000).repartition(4)
      .select(col("id"), (col("id") * 0.5).as("x"),
        concat(lit("k"), (col("id") % 7).cast("string")).as("s"),
        array(col("id"), col("id") + 1).as("a"))
      .write.mode("overwrite").parquet(d)
    d
  }

  private def memberTable: DataFrame =
    spark.range(96).select(col("id").as("row_id"),
      (col("id") % 3).as("chan"), (col("id") * 0.25).as("re"),
      (col("id") * -0.125).as("im"))

  /** writeMember's two layouts: the chan-partitioned one (gate at 0) and
    * the plain one (default gate, 96 rows below it). */
  private lazy val memberDirs: Seq[(String, String)] = {
    val key = "spark.graft.memberPartitionMinRows"
    Seq("partitioned" -> Some("0"), "plain" -> None).map { case (tag, gate) =>
      val ms = tmp(s"tables_member_$tag")
      gate.foreach(spark.conf.set(key, _))
      try MsDataset.writeMember(memberTable, ms, "MODEL_DATA", Some(96L))
      finally spark.conf.unset(key)
      tag -> s"$ms/MODEL_DATA.parquet"
    }
  }

  private lazy val p03Dir: String = {
    val d = tmp("tables_p03")
    graft.pipelines.CurationPipeline.run(spark, TestSpark.sf, d)
    d
  }

  test("every sf0.001 table: same schema and rows as spark.read.parquet") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    Tables.all.foreach(t => assertSame(s"${TestSpark.sf}/$t.parquet"))
    // the µs layout of events reads as TIMESTAMP_NTZ on both paths
    assert(Tables.load(spark, TestSpark.sf, "events").schema("ts").dataType
      === org.apache.spark.sql.types.TimestampNTZType)
  }

  test("multi-part flat directory") {
    assert(new java.io.File(flatDir).list().count(_.endsWith(".parquet")) > 1)
    assertSame(flatDir)
  }

  test("writeMember output on both branches of its size gate") {
    val Seq(part, plain) = memberDirs.map(_._2)
    assert(new java.io.File(part, "chan=0").isDirectory)
    assert(!new java.io.File(plain, "chan=0").exists)
    memberDirs.foreach { case (_, p) => assertSame(p) }
    // the partition column is appended with its inferred type, as before
    assert(Tables.parquet(spark, part).columns.last === "chan")
    assert(MsDataset.readMember(spark, new java.io.File(part).getParent,
      "MODEL_DATA").schema("chan").dataType
      === org.apache.spark.sql.types.LongType)
  }

  /** MAIN of the multi-field fixture: two partition levels
    * (FIELD_ID=/DATA_DESC_ID=), as MultiMsQ opens it. */
  private lazy val multiMain: String =
    s"${MsDataset.ensureMultiFixture(spark)}/MAIN.parquet"

  test("two-level partitioned MAIN of the multi-field fixture") {
    assert(new java.io.File(multiMain).list().exists(_.startsWith("FIELD_ID=")))
    assertSame(multiMain)
    assert(Tables.parquet(spark, multiMain).columns.takeRight(2)
      === Array("FIELD_ID", "DATA_DESC_ID"))
  }

  test("p03 partitionBy(source) sink") {
    assert(new java.io.File(p03Dir).list().exists(_.startsWith("source=")))
    assertSame(p03Dir)
  }

  test("an overwritten table is opened with its new schema") {
    val d = tmp("tables_overwrite")
    spark.range(4).select(col("id").as("a")).write.mode("overwrite").parquet(d)
    assert(Tables.parquet(spark, d).columns === Array("a"))
    spark.range(4).select(col("id").cast("string").as("b"), col("id").as("c"))
      .write.mode("overwrite").parquet(d)
    assertSame(d)
    assert(Tables.parquet(spark, d).columns === Array("b", "c"))
  }

  test("an open submits no Spark job") {
    val paths = Seq(s"${TestSpark.sf}/lineitem.parquet",
      s"${TestSpark.sf}/events.parquet", flatDir, p03Dir, multiMain) ++
      memberDirs.map(_._2)
    // control: the listener sees the inference job of a plain open
    assert(jobsOf(spark.read.parquet(flatDir)) > 0)
    paths.foreach(p => assert(jobsOf(Tables.parquet(spark, p)) === 0, p))
    assert(jobsOf(Tables.events(spark, TestSpark.sf)) === 0)
  }

  test("a missing path raises Spark's own error") {
    val missing = s"${tmp("tables_missing")}/nope.parquet"
    val ours = intercept[AnalysisException](Tables.parquet(spark, missing))
    val theirs = intercept[AnalysisException](spark.read.parquet(missing))
    assert(ours.getClass === theirs.getClass)
    assert(ours.getCondition === theirs.getCondition)
    val empty = tmp("tables_empty")
    val e1 = intercept[AnalysisException](Tables.parquet(spark, empty))
    val e2 = intercept[AnalysisException](spark.read.parquet(empty))
    assert(e1.getCondition === e2.getCondition)
  }

  test("src/main opens parquet only through Tables.parquet") {
    // a direct open pays a schema-inference job per call: a parquet( or
    // load( call anywhere in a `.read` chain, unless the chain names
    // another source by a literal (`format("fits")`)
    val chain = ("""read(\s*\.\s*(options?|format|schema)\s*\([^)]*\))*""" +
      """\s*\.\s*(parquet|load)\s*\(""").r
    val otherSource = """format\s*\(\s*"(?!parquet")""".r
    def opensParquet(src: String): Boolean = chain.findAllIn(src)
      .exists(m => m.matches("""(?s).*parquet\s*\(""") ||
        otherSource.findFirstIn(m).isEmpty)
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = files(root)
      .filterNot(_.getPath.endsWith("graft/core/Tables.scala"))
      .filter(f => opensParquet(new String(Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)))
    // the scan itself: it sees each spelling of a direct open
    Seq("spark.read.parquet(p)", "spark.read.option(\"k\", 1).parquet(p)",
      "s.read\n  .options(m)\n  .parquet(p)", "spark.read.load(p)",
      "spark.read.format(\"parquet\").load(p)",
      "spark.read.schema(st).format(fmt).load(p)")
      .foreach(src => assert(opensParquet(src), src))
    assert(!opensParquet("spark.read.format(\"fits\").load(p)"))
    assert(offenders.isEmpty,
      s"open parquet with graft.core.Tables.parquet in: ${offenders.mkString(", ")}")
  }
}
