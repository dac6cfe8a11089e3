package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. It logs at
  * [[graft.core.Env.logLevel]] like every main, but keeps its own
  * `local[4]` and 4 shuffle partitions rather than `Env.sessionConf`,
  * which would follow `SPARK_GRAFT_CPUS`.
  *
  * Local iteration only (CI/driver default is plain local[4]):
  * `SPARK_GRAFT_MASTER=local-cluster[2,4,4096]` re-runs the ENTIRE suite
  * across real executor JVMs — the round-11 extension of the round-10
  * Verify/Bench multi-JVM discipline to the spec surface (streaming
  * state stores, the custom AsOfJoinExec, test-defined encoders all
  * cross a real serialization boundary). Needs SPARK_HOME=/opt/spark,
  * SPARK_SCALA_VERSION=2.13 and SPARK_GRAFT_EXTRA_CONF=
  * spark.executor.extraClassPath=<main-classes>:<test-classes>. */
object TestSpark {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", graft.core.Env.logLevel(sys.env))
    graft.core.Env.extraConf(sys.env).foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  val sf: String = "/root/testdata/sf0.001"

  private lazy val metrics = graft.core.Env.taskMetrics(spark)

  /** Run `f` under the harness listener, as Bench measures a query. */
  def span[A](f: => A): graft.core.Env.Span[A] = metrics.span(f)

  /** Run `f` and return its value with the `Escalate` decisions it posted. */
  def gates[A](f: => A): (A, Seq[graft.core.Escalate.Decision]) = {
    val m = span(f)
    (m.value, m.gates)
  }

  /** Run `f` with the session confs `kv` set, restoring the previous
    * values (or unsetting) afterwards. */
  def withConf[A](kv: (String, String)*)(f: => A): A = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
