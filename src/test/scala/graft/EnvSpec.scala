package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Env

/** Pins the conf of [[Env.session]], the harness session of every main
  * but `ExtensionsCheck`, through its pure conf list (no session starts),
  * and keeps it the only session builder in `src/main`; and pins the
  * runtime plan findings [[Env.TaskMetrics]] reports per span. */
class EnvSpec extends AnyFunSuite {
  private def conf(env: Map[String, String], cpus: Int = 32,
                   extra: Seq[(String, String)] = Nil): Map[String, String] =
    Env.sessionConf(env, cpus, extra).toMap

  test("the exclusion confs apply on local-cluster only, one attempt below maxFailures per node") {
    for (master <- Seq("local[4]", "local", "local-cluster[2,1,1024]")) {
      val c = conf(Map("SPARK_GRAFT_MASTER" -> master))
      assert(c("spark.master") === master)
      val exclusion = c.keySet.filter(k =>
        k == "spark.task.maxFailures" || k.startsWith("spark.excludeOnFailure."))
      if (master.startsWith("local-cluster")) {
        assert(exclusion.size === 6)
        assert(c("spark.excludeOnFailure.enabled") === "true")
        assert(c("spark.excludeOnFailure.task.maxTaskAttemptsPerNode").toInt ===
          c("spark.task.maxFailures").toInt - 1)
      } else assert(exclusion.isEmpty, s"$master: $exclusion")
    }
  }

  test("UTC and nanosAsLong are set on every master") {
    for (master <- Seq("local[4]", "local", "local-cluster[2,1,1024]")) {
      val c = conf(Map("SPARK_GRAFT_MASTER" -> master))
      assert(c("spark.sql.session.timeZone") === "UTC")
      assert(c("spark.sql.legacy.parquet.nanosAsLong") === "true")
      assert(c("spark.ui.enabled") === "false")
      assert(c("spark.log.level") === "WARN")
      assert(conf(Map("SPARK_GRAFT_MASTER" -> master, "SPARK_GRAFT_LOG" -> "INFO"))
        ("spark.log.level") === "INFO")
    }
  }

  test("master and shuffle partitions follow the main's default cpus or SPARK_GRAFT_CPUS") {
    val byDefault = conf(Map.empty, cpus = 8)
    assert(byDefault("spark.master") === "local[8]")
    assert(byDefault("spark.sql.shuffle.partitions") === "8")
    val byEnv = conf(Map("SPARK_GRAFT_CPUS" -> "3"), cpus = 8)
    assert(byEnv("spark.master") === "local[3]")
    assert(byEnv("spark.sql.shuffle.partitions") === "3")
    assert(conf(Map.empty, extra = Seq("spark.sql.adaptive.enabled" -> "false"))
      ("spark.sql.adaptive.enabled") === "false")
  }

  test("SPARK_GRAFT_EXTRA_CONF is applied last and overrides every default") {
    val env = Map("SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]",
      "SPARK_GRAFT_EXTRA_CONF" -> ("spark.sql.session.timeZone=America/Chicago;" +
        "spark.excludeOnFailure.task.maxTaskAttemptsPerNode=6;" +
        "spark.sql.adaptive.enabled=true;;spark.executor.extraJavaOptions=-Da=b"))
    val c = conf(env, extra = Seq("spark.sql.adaptive.enabled" -> "false"))
    assert(c("spark.sql.session.timeZone") === "America/Chicago")
    assert(c("spark.excludeOnFailure.task.maxTaskAttemptsPerNode") === "6")
    assert(c("spark.sql.adaptive.enabled") === "true")
    assert(c("spark.executor.extraJavaOptions") === "-Da=b")
    assert(Env.sessionConf(env, 32, Nil).takeRight(4) === Env.extraConf(env))
    val bad = intercept[IllegalArgumentException](
      conf(Map("SPARK_GRAFT_EXTRA_CONF" -> "spark.a=1;oops")))
    assert(bad.getMessage.contains("'oops'"))
  }

  test("a span counts the executed plans and their runtime AQE findings") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    def sink(df: DataFrame) = TestSpark.withConf("spark.sql.adaptive.enabled" -> "true") {
      TestSpark.span(df.write.mode("overwrite").format("noop").save()).runtime
    }
    val global = sink(spark.range(0, 1000, 1, 4).agg(sum("id")))
    assert(global.plans === 1, global)
    assert(global.spExch >= 1, global)
    val coalesced = sink(spark.range(0, 100, 1, 4).repartition(4)
      .groupBy(col("id") % 3).count())
    assert(coalesced.aqeOne >= 1, coalesced)
    val projection = sink(spark.range(0, 100, 1, 4).select(col("id") * 2))
    assert(projection.plans === 1, projection)
    assert((projection.spExch, projection.aqeOne, projection.skew) === ((0, 0, 0)),
      projection)
    assert(projection.aqe === "")
  }

  test("src/main builds sessions only in Env.session and ExtensionsCheck") {
    val builder = """SparkSession\s*\.\s*builder\b|new\s+SparkSession\s*\.\s*Builder\b""".r
    Seq("SparkSession.builder()", "SparkSession\n  .builder()",
      "new SparkSession.Builder()")
      .foreach(src => assert(builder.findFirstIn(src).nonEmpty, src))
    assert(builder.findFirstIn("def f(b: SparkSession.Builder)").isEmpty)
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = files(root)
      .filterNot(f => f.getPath.endsWith("graft/core/Env.scala") ||
        f.getPath.endsWith("graft/ExtensionsCheck.scala"))
      .filter(f => builder.findFirstIn(new String(Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)).nonEmpty)
    assert(offenders.isEmpty,
      s"build the session with graft.core.Env.session in: ${offenders.mkString(", ")}")
  }
}
