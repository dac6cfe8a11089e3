package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerExecutorAdded, SparkListenerExecutorRemoved,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._
import graft.Explain

/** The harness layer of every main: the one session builder
  * ([[Env.session]]), the executor-quorum guard and per-query hygiene of
  * the sequential mains ([[Env.Quorum]]), the per-task spill/peak,
  * gate-decision and executed-plan listener ([[Env.TaskMetrics]]) and the
  * `SPARK_GRAFT_*`
  * env-var plumbing they read. The env vars are local-iteration only — the driver
  * never sets them. `ExtensionsCheck` is the one main that builds its own
  * session: it tests a static `spark.sql.extensions` conf in a fresh JVM,
  * which a shared builder would mask. */
object Env {
  /** The `SPARK_GRAFT_EXTRA_CONF` ("k=v;k=v") entries of `env`, in order.
    * Each ';'-separated entry must contain '='; a malformed token fails
    * loudly BY NAME (the old `val Array(k, v) = ...` threw an opaque
    * MatchError). Values may contain '=' (split at the first one) but not
    * ';' — none of the Spark confs this repo gates on do; if one ever
    * does, add escaping here rather than picking it apart at call sites. */
  def extraConf(env: Map[String, String]): Seq[(String, String)] =
    env.get("SPARK_GRAFT_EXTRA_CONF").toSeq.flatMap {
      _.split(";").toSeq.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_EXTRA_CONF: malformed entry '$kv' " +
              "(expected key=value, ';'-separated)")
        }
      }
    }

  /** Multi-executor masters only (round 14, the 4-JVM 100× gate): when a
    * query's memory pressure kills an executor, its in-flight tasks die
    * with RejectedExecutionException and ALL FOUR retries burn on the
    * same dying JVM within milliseconds — long before the scheduler
    * processes the executor's removal — because a single-host
    * local-cluster has no topology spread. Task-level exclusion sends
    * retry 2 to a DIFFERENT executor immediately (what a real cluster's
    * node spread gives for free); the node-level thresholds are lifted
    * so the one shared "localhost" node can never be starved (per-node
    * attempts = maxFailures - 1, the largest value Spark's health tracker
    * accepts — at maxFailures it refuses to start the context; at 4 the
    * node exclusion left a task no executor after 4 of its 8 attempts).
    * Scheduler placement only — cannot change any result. Guarded on
    * local-cluster, the one multi-executor master: on a bare `local` the
    * per-executor limit of 1 would exclude the only executor at the first
    * task failure; local and local[*] keep stock behavior. */
  private val LocalClusterExclusion: Seq[(String, String)] = Seq(
    "spark.task.maxFailures" -> "8",
    "spark.excludeOnFailure.enabled" -> "true",
    "spark.excludeOnFailure.task.maxTaskAttemptsPerExecutor" -> "1",
    "spark.excludeOnFailure.task.maxTaskAttemptsPerNode" -> "7",
    "spark.excludeOnFailure.stage.maxFailedExecutorsPerNode" -> "1000",
    "spark.excludeOnFailure.application.maxFailedExecutorsPerNode" -> "1000")

  /** The `spark.log.level` of a session: `SPARK_GRAFT_LOG`, default WARN. */
  def logLevel(env: Map[String, String]): String =
    env.getOrElse("SPARK_GRAFT_LOG", "WARN")

  /** Every conf a harness session sets, in the order it is set (a later
    * entry overrides an earlier one of the same key). Pure in `env`:
    *  - master `SPARK_GRAFT_MASTER`, else `local[cpus]`, where cpus is
    *    `SPARK_GRAFT_CPUS` or `defaultCpus`; shuffle partitions = cpus —
    *    e.g. `local-cluster[2,8,4096]` re-gates the engine across REAL
    *    executor JVM boundaries (closure serialization, torrent
    *    broadcasts, off-driver task state), the round-10 multi-JVM
    *    discipline; the driver always runs plain local;
    *  - UTC, `nanosAsLong` (the events table's TIMESTAMP(NANOS) as a raw
    *    long), UI off;
    *  - log level `SPARK_GRAFT_LOG` (default WARN; INFO captures per-task
    *    serialized sizes from TaskSetManager for the multi-JVM
    *    task-binary distribution audit), as `spark.log.level`, which the
    *    context applies as it starts — so its own start-up stays quiet;
    *  - the caller's `extra` pairs;
    *  - the exclusion confs above, on a `local-cluster` master only;
    *  - `SPARK_GRAFT_EXTRA_CONF` last, so it overrides everything above —
    *    e.g. a lowered autoBroadcastJoinThreshold to hash-gate the
    *    size-aware escalations with the escalation ENGAGED. */
  def sessionConf(env: Map[String, String], defaultCpus: Int,
                  extra: Seq[(String, String)]): Seq[(String, String)] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val master = env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    Seq("spark.master" -> master,
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> logLevel(env)) ++
      extra ++
      (if (master.startsWith("local-cluster")) LocalClusterExclusion else Nil) ++
      extraConf(env)
  }

  /** The session of every main but `ExtensionsCheck`: [[sessionConf]] of
    * the process environment. */
  def session(defaultCpus: Int, extra: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
    sessionConf(sys.env, defaultCpus, extra)
      .foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  /** Between-query session hygiene for the sequential harness mains
    * (Bench/Verify): drop SQL-cached DataFrames AND every raw persisted
    * RDD, then force a GC so the ContextCleaner's shuffle/broadcast
    * backlog drains (it only fires on driver GC; over 200+ queries the
    * backlog measurably taxed late queries — round 13: p01 15.8 s late
    * in the sweep vs ~6 s solo, same binary).
    *
    * INVARIANT (round-14 ADVICE, stated loudly): queries must be
    * SELF-CONTAINED — no query may rely on a cached/localCheckpointed
    * DataFrame or RDD surviving from an earlier query. The sweep
    * unpersists localCheckpointed RDDs whose blocks are the ONLY copy
    * (lineage is truncated), so a future cross-query memoized fixture
    * would fail far from here with "Checkpoint block not found". If such
    * a fixture is ever needed, exempt it by name here rather than
    * weakening the sweep. */
  def sweepSession(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(org.apache.spark.graft.Blocks.release)
    System.gc()
  }

  /** Executor-quorum guard (round 14, the 4-JVM 100× gate lesson): when
    * a query's own OOM kills an executor, the replacement registers
    * ASYNCHRONOUSLY — and until it does, the next run's tasks (and all
    * their retries: a same-host local-cluster has no healthy-node
    * exclusion, so every attempt re-lands on the dying executor's
    * thread pool) abort as RejectedExecutionException. Three of the
    * four 100×-sweep "failures" were exactly this window — each query
    * passed solo. Waiting for the seeded executor count to recover,
    * OUTSIDE every timed region, makes each query start from the same
    * healthy topology.
    *
    * Live executors are a set of ids from scheduler-level add/remove
    * events, NOT getExecutorMemoryStatus — dead executors' block managers
    * linger in that map long enough for the next query to schedule onto
    * the dying JVMs anyway (measured: the guard's first BM-based version
    * was a no-op through a 4-executor OOM storm). Spark never reuses an
    * executor id within an application, so a removal is final: live =
    * (seed ∪ added) − removed, which no event order or duplicate can
    * miscount — including events racing the seed read.
    *
    * quorum = the FIXED seeded topology. NOT a high watermark: a
    * replacement registering while its dead predecessor's removal is
    * still unprocessed makes live momentarily read seed+1, and a
    * watermark would freeze that transient as the forever-unreachable
    * target (measured: a 240 s/query stall through the back half of a
    * 100× sweep). Unseeded (every master but local-cluster) the quorum
    * is 0 and the guard is a no-op. */
  final class Quorum(drain: () => Unit, sweep: () => Unit,
                     timeoutMs: Long, pollMs: Long) extends SparkListener {
    private val added, removed = ConcurrentHashMap.newKeySet[String]()
    @volatile private var seeded = Set.empty[String]
    @volatile private var target = 0

    override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit =
      added.add(e.executorId)
    override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
      removed.add(e.executorId)

    /** Seed with the executors registered before this listener attached;
      * the quorum becomes the live count. */
    def seed(ids: Seq[String]): Unit = { seeded = ids.toSet; target = live }
    def live: Int = (seeded ++ added.asScala).count(id => !removed.contains(id))
    def quorum: Int = target

    /** Wait until live ≥ quorum. A timeout means the cluster's steady size
      * genuinely changed: adopt the observed size, so ONE wait is the cap,
      * not a per-query tax for the rest of the sweep. */
    def await(): Unit = {
      // removal events ride the async listener bus — drain it first so a
      // loss that already happened is visible to the check below
      drain()
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (live < target && System.nanoTime() < deadline)
        Thread.sleep(pollMs)
      if (live < target) target = live
    }

    /** Per-query hygiene of query `i` in a sequential sweep: every 16th
      * query sweeps the session, then the quorum is awaited. A few queries
      * pin block-manager state (localCheckpoint graphs; raw persisted RDDs
      * such as rankTimes' epoch rank, the BPE corpus, solver/beam-staging
      * localCheckpoints, pcaIterates' moment matrix) and every run leaves
      * shuffle files whose cleanup rides the ContextCleaner, which only
      * fires on driver GC. Over 160+ queries that accumulated state taxes
      * later queries (at 10-20x data, even Verify's single write task), so
      * the sweep keeps the JVM at steady state and timings measure the
      * QUERY, not the backlog. Queries are SELF-CONTAINED — the invariant
      * is stated at [[sweepSession]]. */
    def beforeQuery(i: Int): Unit = {
      if (i % 16 == 15) sweep()
      await()
    }
  }

  /** Attach a [[Quorum]] to `spark` with the sweep's 60 s cap. The
    * listener attaches BEFORE the seed is read, so no executor that
    * registers in between is missed; the seed is the scheduler's executor
    * list, read on local-cluster only (elsewhere Spark just logs that the
    * scheduler cannot list executors). Seed after a warm-up job, so a
    * multi-JVM master's executors have registered. */
  def quorum(spark: SparkSession): Quorum = {
    val sc = spark.sparkContext
    val q = new Quorum(() => org.apache.spark.graft.Listeners.drain(sc),
      () => sweepSession(spark), timeoutMs = 60000L, pollMs = 500L)
    sc.addSparkListener(q)
    if (sc.master.startsWith("local-cluster"))
      q.seed(org.apache.spark.graft.Executors.ids(sc))
    q
  }

  /** One measured span: the body's value, bytes its tasks spilled
    * (memory + disk), the largest single-task peak execution memory, the
    * `Escalate` decisions its gates posted, in order, and the runtime AQE
    * findings summed over every plan it executed. */
  final case class Span[A](value: A, spillBytes: Long, peakBytes: Long,
                           gates: Seq[Escalate.Decision],
                           runtime: Explain.Runtime)

  /** Executor-memory instrumentation (round 10): per-task spill bytes and
    * peak execution memory accumulate in one listener and are read per
    * [[span]]. At the 50x replica this is the CI-asserted no-spill
    * evidence — a plan that silently spills at scale is a plan that lies
    * at 100 TB. Deltas are read per span, so a reused session never
    * double-counts (ADVICE r12). The same listener collects the
    * `Escalate` decisions, so each span also says which path every size
    * gate it consulted took, and — as a QueryExecutionListener — walks
    * each successful query's final plan with [[Explain.runtimeFindings]],
    * keeping only the counts. */
  final class TaskMetrics(drain: () => Unit)
      extends SparkListener with QueryExecutionListener {
    private val spill = new AtomicLong
    private val peak = new AtomicLong
    private val gates = new ConcurrentLinkedQueue[Escalate.Decision]
    private val runtime = new ConcurrentLinkedQueue[Explain.Runtime]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case d: Escalate.Decision => gates.add(d)
      case _ =>
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
      }
    }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      runtime.add(Explain.runtimeFindings(qe.executedPlan))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()

    /** Run `f` and measure it. The async listener bus is drained on BOTH
      * sides, outside any time `f` takes itself, so the attribution is
      * exact: task-end events from before the span can neither land inside
      * it nor be clobbered by the peak reset, and none of its own arrive
      * late. */
    def span[A](f: => A): Span[A] = {
      drain()
      val s0 = spill.get(); peak.set(0L); gates.clear(); runtime.clear()
      val a = f
      drain()
      Span(a, spill.get() - s0, peak.get(), gates.asScala.toList,
        runtime.asScala.foldLeft(Explain.Runtime.Zero)(_ + _))
    }
  }

  /** Attach a [[TaskMetrics]] listener to both of `spark`'s buses. */
  def taskMetrics(spark: SparkSession): TaskMetrics = {
    val sc = spark.sparkContext
    val tm = new TaskMetrics(() => org.apache.spark.graft.Listeners.drain(sc))
    sc.addSparkListener(tm)
    spark.listenerManager.register(tm)
    tm
  }

  /** Data-scaled repartition width: at least the session's default
    * parallelism (all cores busy), and at least enough partitions that
    * no task handles more than `unitsPerTask` work units. A FIXED width
    * is the scale bug in both directions — defaultParallelism alone
    * leaves 100×-replica tasks holding millions of rows-unique aggregate
    * groups (the p01 4 GB-executor OOM), while rows/unitsPerTask alone
    * under-parallelizes small inputs. */
  def scaledWidth(spark: SparkSession, units: Long,
                  unitsPerTask: Long): Int = {
    require(unitsPerTask > 0, "unitsPerTask must be positive")
    val byData = (units + unitsPerTask - 1) / unitsPerTask
    math.max(spark.sparkContext.defaultParallelism,
      math.min(byData, 100000L).toInt)
  }
}
