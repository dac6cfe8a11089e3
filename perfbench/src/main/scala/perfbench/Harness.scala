package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in a fresh JVM, driving the program only through
  * `SparkEntry.registry`, `q.fn(spark, dir)` and a `noop` sink write.
  *
  * Order: session → warm-up jobs → calibration probe → cold pass → one
  * untimed evaluation per query, written as parquet for the output checks
  * → warm passes until `--seconds` have elapsed (at least `--min-warm`) →
  * calibration probe. Every evaluation is preceded, outside its timed
  * region, by `Env.sweepSession` and a listener-bus drain. The result is one JSON
  * document written to `--result`; `run.py` turns it into metrics.
  */
object Harness {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }
  private def list(s: String): Seq[String] = s.split(",").toSeq.filter(_.nonEmpty)

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def main(args: Array[String]): Unit = {
    val dir = arg(args, "--data")
    val names = list(arg(args, "--queries"))
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val cores = arg(args, "--cores").toInt
    val out = arg(args, "--out")
    val minWarm = arg(args, "--min-warm").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "100000")
      .config("spark.local.dir", arg(args, "--local-dir"))
      .config("spark.sql.warehouse.dir", arg(args, "--warehouse"))
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"not in SparkEntry.registry: ${missing.mkString(",")}")
    val qs = names.map(registry)

    val peakL = new PeakListener
    sc.addSparkListener(peakL)
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    def drain(): Unit = org.apache.spark.graft.Listeners.drain(sc)

    // -- warm-up jobs: JVM and codegen machinery, parquet footers
    val w0Setup = System.nanoTime()
    spark.range(1L << 22).selectExpr("sum(id * 3)").collect()
    Seq("lineitem", "orders", "events").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").count()
    }
    val warmupS = (System.nanoTime() - w0Setup) / 1e9

    def calib(): Double = {
      import org.apache.spark.sql.functions._
      val t0 = System.nanoTime()
      spark.range(1L << 23)
        .select(pmod(xxhash64(col("id")), lit(4096L)).as("k"),
          sin(col("id").cast("double") * 1e-6).as("x"))
        .groupBy("k").agg(sum(col("x")).as("sx"), count(lit(1)).as("c"))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    calib()
    val calibStart = calib()

    val failed = mutable.LinkedHashMap.empty[String, String]
    def fail(q: graft.Q, e: Throwable): Unit = {
      System.err.println(s"[perfbench] ${q.name} failed: $e")
      failed.getOrElseUpdate(q.name, String.valueOf(e.getMessage).take(300))
    }

    var betweenNs = 0L
    def between(): Unit = {
      val t0 = System.nanoTime()
      graft.core.Env.sweepSession(spark)
      drain()
      tracer.foreach(_.take())
      betweenNs += System.nanoTime() - t0
    }

    /** One timed evaluation; returns the per-query record (wall time and,
      * when traced, the layer split). */
    def timed(q: graft.Q): Map[String, Double] = {
      between()
      val gc0 = gcMs; val jit0 = jitMs
      sc.setLocalProperty(Phase.Key, Phase.Construct)
      val m0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val ok = try {
        val df = q.fn(spark, dir)
        val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
        sc.setLocalProperty(Phase.Key, Phase.Sink)
        df.write.mode("overwrite").format("noop").save()
        Some((t1, m1))
      } catch { case e: Throwable => fail(q, e); None }
      val t2 = System.nanoTime(); val m2 = System.currentTimeMillis()
      sc.setLocalProperty(Phase.Key, null)
      val base = Map("wall_s" -> (t2 - t0) / 1e9,
        "jvm.gc_s" -> (gcMs - gc0) / 1e3, "jvm.jit_s" -> (jitMs - jit0) / 1e3)
      (tracer, ok) match {
        case (Some(t), Some((t1, m1))) =>
          drain()
          base ++ layers(t.take(), (t1 - t0) / 1e9, (t2 - t0) / 1e9, m0, m1, m2)
        case _ => base
      }
    }

    def layers(e: QueryEvents, constructS: Double, wallS: Double,
               m0: Long, m1: Long, m2: Long): Map[String, Double] = {
      val all = e.jobs.map(j => (j._1, j._2)).toSeq
      val cons = e.jobs.filter(_._3).map(j => (j._1, j._2)).toSeq
      val mb = 1024.0 * 1024.0
      Map(
        "construct.wall_s" -> constructS,
        "construct.jobs" -> cons.size.toDouble,
        "construct.driver_s" ->
          math.max(0.0, constructS - Intervals.covered(cons, m0, m1) / 1e3),
        "catalyst.analysis_s" -> e.analysisMs / 1e3,
        "catalyst.optimization_s" -> e.optimizationMs / 1e3,
        "catalyst.planning_s" -> e.planningMs / 1e3,
        "catalyst.executions" -> e.executions.toDouble,
        "schedule.jobs" -> all.size.toDouble,
        "schedule.stages" -> e.stages.toDouble,
        "schedule.tasks" -> e.tasks.toDouble,
        "schedule.driver_gap_s" ->
          math.max(0.0, wallS - Intervals.covered(all, m0, m2) / 1e3),
        "schedule.task_deser_s" -> e.taskDeserMs / 1e3,
        "schedule.job_wall_s" -> Intervals.covered(all, m0, m2) / 1e3,
        "exec.task_run_s" -> e.taskRunMs / 1e3,
        "exec.task_cpu_s" -> e.taskCpuNs / 1e9,
        "exec.task_gc_s" -> e.taskGcMs / 1e3,
        "exec.shuffle_write_mb" -> e.shuffleWriteB / mb,
        "exec.shuffle_read_mb" -> e.shuffleReadB / mb,
        "exec.spill_mb" -> e.spillB / mb,
        "exec.peak_task_mem_mb" -> e.peakTaskMem / mb,
        "io.input_mb" -> e.inputB / mb,
        "io.output_mb" -> e.outputB / mb,
        "io.output_rows" -> e.outputRows.toDouble)
    }

    def pass(label: String): Seq[Map[String, Double]] = qs.map { q =>
      val r = timed(q)
      System.err.println(f"[perfbench] $label ${q.name} ${r("wall_s")}%.3f s")
      r
    }

    val runStart = System.nanoTime()
    val cold = pass("cold")
    // -- output checks: one more evaluation per query, untimed, written
    //    where the checker reads it. It runs between the cold and the warm
    //    passes, where it is also the settling pass: the JIT is still
    //    compiling the cold pass's code, and a warm pass straight after it
    //    read 10-30 % slower than the next.
    qs.foreach { q =>
      between()
      try q.fn(spark, dir).write.mode("overwrite").parquet(s"$out/${q.name}")
      catch { case e: Throwable => fail(q, e) }
    }
    drain(); peakL.take()
    val warm = mutable.ArrayBuffer.empty[Seq[Map[String, Double]]]
    val peaks = mutable.ArrayBuffer.empty[Long]
    val w0 = System.nanoTime()
    while (warm.size < minWarm || (System.nanoTime() - w0) / 1e9 < seconds) {
      warm += pass(s"warm${warm.size + 1}")
      drain()
      peaks += peakL.take()
    }
    val calibEnd = calib()
    val timedS = (System.nanoTime() - runStart) / 1e9

    spark.stop()

    val result = Json.obj(
      "queries" -> names,
      "cores" -> cores,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "calib_start_s" -> calibStart,
      "calib_end_s" -> calibEnd,
      "passes_wall_s" -> timedS,
      "sweep_s" -> betweenNs / 1e9,
      "peak_task_mem_bytes" -> peaks.toSeq,
      "failed" -> failed.toMap,
      "oracle_sql" -> qs.flatMap(q => q.sql.map(q.name -> _)).toMap,
      "cold" -> cold,
      "warm" -> warm.toSeq)
    val w = new java.io.PrintWriter(arg(args, "--result"), "UTF-8")
    try w.print(result) finally w.close()
  }
}

/** Minimal JSON writer for the result document. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case x => render(x.toString)
  }
}
