package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local iteration only): comma-separated query-name
    // filter; the driver always calls with exactly (sfDir, outDir)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // local iteration only: SPARK_GRAFT_MASTER=local-cluster[2,8,4096]
    // re-gates the engine across REAL executor JVM boundaries (closure
    // serialization, torrent broadcasts, off-driver task state) — the
    // round-10 multi-JVM discipline; the driver always runs plain local
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    // local-cluster (the multi-executor master): retry away from a dying
    // executor immediately (see Bench — scheduler placement only,
    // single-host node thresholds lifted so "localhost" is never starved)
    if (master.startsWith("local-cluster")) builder
      .config("spark.task.maxFailures", "8")
      .config("spark.excludeOnFailure.enabled", "true")
      .config("spark.excludeOnFailure.task.maxTaskAttemptsPerExecutor", "1")
      .config("spark.excludeOnFailure.task.maxTaskAttemptsPerNode", "7")
      .config("spark.excludeOnFailure.stage.maxFailedExecutorsPerNode", "1000")
      .config("spark.excludeOnFailure.application.maxFailedExecutorsPerNode", "1000")
    // local iteration only (driver never sets it): "k=v;k=v" extra confs —
    // e.g. a lowered autoBroadcastJoinThreshold to hash-gate the size-aware
    // escalations (SemDedup.assignAuto) with the escalation ENGAGED
    graft.core.Env.applyExtraConf(builder)
    val spark = builder.getOrCreate()
    // SPARK_GRAFT_LOG=INFO captures per-task serialized sizes (TaskSetManager)
    // for the multi-JVM task-binary distribution audit; default stays WARN
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    new java.io.File(outDir).mkdirs()
    // executor-quorum guard — same rationale and mechanics as Bench's:
    // on a multi-JVM master an executor lost to the previous query's OOM
    // respawns asynchronously, and tasks scheduled in that window abort
    // on the dying executor (no healthy-node exclusion on one host).
    // Scheduler-level add/remove listener seeded with the current
    // topology; BM-based counting lags executor death (see Bench).
    // one tiny warmup job so a multi-JVM master's executors register
    // BEFORE the quorum seed below is read (Verify has no bench warmup)
    spark.range(spark.sparkContext.defaultParallelism.toLong)
      .repartition(spark.sparkContext.defaultParallelism).count()
    val liveExecs = new java.util.concurrent.atomic.AtomicInteger(
      math.max(0, spark.sparkContext.getExecutorMemoryStatus.size - 1))
    // FIXED seed quorum with adopt-on-timeout — NOT a high watermark;
    // see Bench for the transient-overlap stall this avoids. local[*]:
    // seed 0, guard is a no-op.
    val quorum = new java.util.concurrent.atomic.AtomicInteger(liveExecs.get())
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onExecutorAdded(
            e: org.apache.spark.scheduler.SparkListenerExecutorAdded): Unit =
          liveExecs.incrementAndGet()
        override def onExecutorRemoved(
            e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
          liveExecs.decrementAndGet()
      })
    def awaitQuorum(): Unit = {
      org.apache.spark.graft.Listeners.drain(spark.sparkContext)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (liveExecs.get() < quorum.get() && System.nanoTime() < deadline)
        Thread.sleep(500)
      if (liveExecs.get() < quorum.get()) quorum.set(liveExecs.get())
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .zipWithIndex
      .foreach { case ((name, fn), i) =>
      // same periodic hygiene as Bench: localCheckpoint graphs and
      // pending shuffle cleanup accumulate across a long sequential run
      // (ContextCleaner only fires on driver GC); at 10-20x data the
      // backlog measurably taxed later queries' single write task
      // self-contained-queries invariant stated at Env.sweepSession
      if (i % 16 == 15) graft.core.Env.sweepSession(spark)
      awaitQuorum()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
