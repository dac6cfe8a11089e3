package graft.core

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession

/** The one escalation policy: whether a loop runs on the driver or stays
  * distributed, and whether a gathered relation broadcasts or shuffles.
  * The reference solves small problems in-process on numpy chunks and
  * lifts kernels into Dask only for scale; every size gate in the engine
  * makes that choice here, from a byte estimate the caller computes
  * BEFORE any collect, so the gate bounds the driver transfer instead of
  * reporting it afterwards. The estimates are data-derived: a corpus- or
  * survey-scale input always exceeds them and keeps the distributed path.
  *
  * Every decision is posted to the listener bus as a [[Decision]], so a
  * harness listener (`Env.TaskMetrics`) sees per query which path each
  * gate took, and `EscalateSpec` proves both branches of every gate run.
  *
  * Two settings: `spark.graft.localMaxBytes` (default 64 MB) bounds the
  * driver-resident loops, and Spark's own
  * `spark.sql.autoBroadcastJoinThreshold` bounds the broadcasts. */
object Escalate {
  val LocalMaxBytesKey = "spark.graft.localMaxBytes"

  /** One gate decision: the gate's name, the path taken (`driver` /
    * `distributed` for the loops, `broadcast` / `shuffle` for gathers,
    * `flat` / `chunked` for SemDedup's seed LUT), the caller's byte
    * estimate and the limit it was held against. */
  final case class Decision(gate: String, path: String, bytes: Long,
                            limit: Long) extends SparkListenerEvent {
    override def toString: String = s"$gate=$path"
  }

  /** Byte bound under which a loop runs driver-resident. Each distributed
    * round is a plan plus a few jobs for microseconds of arithmetic when
    * the problem is model-sized (measured 0.14-0.5 s per solver iteration
    * at sf0.1); the driver mirrors are pinned bit-identical by their
    * operator specs. */
  def localMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption(LocalMaxBytesKey).map(_.toLong).getOrElse(64L << 20)

  /** Parse spark.sql.autoBroadcastJoinThreshold ("10485760", "10MB", "-1");
    * ≤0 disables broadcasting. */
  def broadcastThreshold(spark: SparkSession): Long = {
    val s = spark.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10485760").trim
    if (s.startsWith("-")) -1L
    else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
  }

  /** Bytes of `rows` rows of `nCols` longs/doubles: 8 bytes per field plus
    * the UnsafeRow header/null-bitmap overhead. */
  def rowBytes(rows: Long, nCols: Int): Long = rows * (8L * nCols + 16L)

  /** True iff the loop behind `gate` runs on the driver: `bytes` fits
    * under [[localMaxBytes]]. */
  def local(spark: SparkSession, gate: String, bytes: Long): Boolean = {
    val limit = localMaxBytes(spark)
    val onDriver = bytes <= limit
    record(spark, Decision(gate, if (onDriver) "driver" else "distributed",
      bytes, limit))
    onDriver
  }

  /** True iff the relation behind `gate` is safe to collect and broadcast
    * under the session threshold; a disabled threshold never broadcasts. */
  def broadcastable(spark: SparkSession, gate: String, bytes: Long): Boolean = {
    val thr = broadcastThreshold(spark)
    val ok = thr > 0 && bytes <= thr
    record(spark, Decision(gate, if (ok) "broadcast" else "shuffle", bytes, thr))
    ok
  }

  /** Post a decision to the session's listener bus. */
  def record(spark: SparkSession, d: Decision): Unit =
    org.apache.spark.graft.Listeners.post(spark.sparkContext, d)
}
