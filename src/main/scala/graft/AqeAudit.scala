package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** EXECUTION-time AQE audit (round 13, VERDICT item 4) — the runtime
  * complement of [[Explain]]'s planning-only audit. `Explain audit` runs
  * with AQE OFF because codegen markers hide under AdaptiveSparkPlan;
  * that leaves a blind spot: decisions AQE takes at RUNTIME from observed
  * shuffle statistics — coalescing a tiny-but-expensive exchange to one
  * partition (the t44/q15 serialization class), engaging a skew-join
  * fallback, or degrading a broadcast to a shuffled join — never appear
  * in any static plan. This main executes each named query exactly as
  * Bench does (noop sink, AQE ON, honoring SPARK_GRAFT_MASTER /
  * SPARK_GRAFT_EXTRA_CONF so the 4-JVM layout is auditable), captures
  * every FINAL executed plan through a QueryExecutionListener, resolves
  * the adaptive tree (AdaptiveSparkPlanExec.executedPlan, stages via
  * QueryStageExec.plan), and reports per query:
  *
  *  - `sp_exch`: ShuffleExchange nodes whose output partitioning is
  *    SinglePartition in the final plan (legit only for one-long-per-
  *    partition count/sum merges — the frozen AuditSpec class);
  *  - `aqe_one`: AQEShuffleRead nodes coalesced to EXACTLY ONE partition
  *    spec — the runtime funnel the static audit cannot see;
  *  - `skew`: sort-merge/shuffled-hash joins with isSkewJoin = true
  *    (AQE's skew mitigation engaged — information, not a defect);
  *  - `plans`: how many QueryExecutions the query ran (driver-loop
  *    solvers and pipelines run many).
  *
  * Usage: runMain graft.AqeAudit <sfDir> [csvNames]
  * (no names = the full registry). One CSV line per query on stdout;
  * detail lines for each finding are indented below it.
  */
object AqeAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val only: Option[Set[String]] =
      if (args.length > 1) Some(args(1).split(",").toSet) else None
    val spark = graft.core.Env.session(32)

    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    println("query,wall_s,sp_exch,aqe_one,skew,plans")
    SparkEntry.registry
      .filter(q => only.forall(_.contains(q.name)))
      .foreach { q =>
        captured.clear()
        val t0 = System.nanoTime()
        val err = try {
          q.fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          None
        } catch { case e: Throwable => Some(e.getMessage) }
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events ride the async bus — drain before reading
        org.apache.spark.graft.Listeners.drain(spark.sparkContext)
        val findings = Seq.newBuilder[String]
        var spExch, aqeOne, skew = 0
        def walk(p: SparkPlan): Unit = p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case s: QueryStageExec => walk(s.plan)
          case r: AQEShuffleReadExec =>
            if (r.partitionSpecs.length == 1) {
              aqeOne += 1
              findings += s"aqe_one: ${r.child.nodeName} read as 1 partition"
            }
            walk(r.child)
          case j: SortMergeJoinExec =>
            if (j.isSkewJoin) { skew += 1; findings += "skew: SortMergeJoin" }
            j.children.foreach(walk)
          case j: ShuffledHashJoinExec =>
            if (j.isSkewJoin) { skew += 1; findings += "skew: ShuffledHashJoin" }
            j.children.foreach(walk)
          case e: ShuffleExchangeExec =>
            if (e.outputPartitioning == SinglePartition) {
              spExch += 1
              findings += s"sp_exch: above ${e.child.nodeName}"
            }
            e.children.foreach(walk)
          case other =>
            other.children.foreach(walk)
            other.subqueries.foreach(walk)
        }
        val plans = captured.toArray(Array.empty[SparkPlan])
        plans.foreach(walk)
        err.foreach(e => findings += s"ERROR: $e")
        println(f"${q.name},$wall%.2f,$spExch,$aqeOne,$skew,${plans.length}")
        // dedup identical finding lines but keep multiplicity counts
        findings.result().groupBy(identity).toSeq.sortBy(_._1)
          .foreach { case (l, n) =>
            println(s"    $l${if (n.length > 1) s" x${n.length}" else ""}")
          }
      }
    spark.listenerManager.unregister(listener)
    spark.stop()
  }
}
