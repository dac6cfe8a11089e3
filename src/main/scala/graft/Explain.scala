package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}

/** Plan inspector: prints the formatted physical plan of one registered
  * query, plus the generated-code statistics (`debugCodegen`) that show
  * whether the hot path stays inside whole-stage codegen and how large
  * each generated method is (methods past the 8 KB JIT threshold or the
  * 64 KB javac limit fall out of compilation and run interpreted).
  * It owns plan auditing: the planning-time registry audit
  * ([[auditFindings]]) and the execution-time AQE findings
  * ([[runtimeFindings]]) that Bench reports per query.
  *
  * Usage: runMain graft.Explain <queryName> [sfDir] [codegen]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    // AQE wraps the plan in AdaptiveSparkPlan whose codegen subtrees
    // only materialize at execution; disable it so debugCodegen sees
    // the static plan the stages will compile to.
    val spark = graft.core.Env.session(8, "spark.sql.adaptive.enabled" -> "false")
    if (name == "audit") { audit(spark, sfDir); spark.stop(); return }
    val q = SparkEntry.registry.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))
    val df = q.fn(spark, sfDir)
    df.explain("formatted")
    if (args.length > 2 && args(2) == "codegen") {
      import org.apache.spark.sql.execution.debug._
      df.debugCodegen()
    }
    spark.stop()
  }

  /** One query's audit result. `interpreted` lists compute nodes outside
    * whole-stage codegen; `oversized` the generated-method sizes past the
    * 8 KB JIT threshold; `funnels` SinglePartition exchanges fed by
    * per-row compute (the t44 bug class). */
  final case class Finding(query: String, interpreted: Seq[String],
                           oversized: Seq[Int], funnels: Seq[String],
                           error: Option[String]) {
    def isEmpty: Boolean =
      interpreted.isEmpty && oversized.isEmpty && funnels.isEmpty && error.isEmpty
  }

  /** Registry-wide codegen audit: flags queries whose plans leave compute
    * nodes outside whole-stage codegen (interpreted row-at-a-time
    * evaluation in the hot path) or whose generated methods exceed the
    * 8 KB JIT compilation threshold. Planning-only — nothing executes.
    * Requires a session with AQE DISABLED (AdaptiveSparkPlan hides the
    * codegen markers until execution). AuditSpec runs this in CI against
    * a frozen allowlist, so a regression fails `sbt test` instead of
    * waiting for a bench diff. */
  def auditFindings(spark: SparkSession, sfDir: String): Seq[Finding] = {
    import org.apache.spark.sql.execution.debug.codegenString
    val MethodLimit = 8000
    SparkEntry.registry.map { q =>
      try {
        val plan = q.fn(spark, sfDir).queryExecution.executedPlan
        val allLines = plan.toString.split("\n")
        // a MATERIALIZED cache entry (another session persisted the same
        // canonical subtree) prints its stored child plan nested under
        // InMemoryRelation — that subtree executed once at caching time
        // and is NOT this query's live shape, so drop everything indented
        // under it (the parallel-suite audit flake this guards against:
        // e11's a2 cache made 12 stored-plan Projects look interpreted).
        // Anchor the skip at the InMemoryTableScan line, NOT the
        // InMemoryRelation below it: a stored plan cached under an AQE
        // session prints AdaptiveSparkPlan "== Final/Initial Plan =="
        // sections whose tree indentation RESETS to plain spaces — often
        // SHALLOWER than the InMemoryRelation line, which un-skipped 32
        // star-less stored-plan Projects in t53 once the round-14 local
        // label table made its cached subtrees canonical across suites.
        // The section indent stays deeper than the scan line's, so the
        // scan anchor covers both print shapes.
        val lines = {
          val out = Seq.newBuilder[String]
          var skipBelow = -1
          def indentOf(l: String): Int = {
            val i = l.indexWhere(c => !" :+-".contains(c)); if (i < 0) l.length else i
          }
          for (l <- allLines) {
            val ind = indentOf(l)
            if (skipBelow >= 0 && ind > skipBelow) () // inside cached subtree
            else {
              skipBelow =
                if (l.contains("InMemoryTableScan") ||
                  l.contains("InMemoryRelation")) ind
                else -1
              if (skipBelow < 0) out += l
            }
          }
          out.result()
        }
        // in a non-AQE executed plan, codegen'd nodes carry a "*(id)"
        // marker; a compute node without one runs interpreted. Window,
        // WindowGroupLimit, ObjectHashAggregate and Sort never join
        // whole-stage codegen in Spark, so only the node types that
        // SHOULD codegen are actionable findings.
        val fallback = lines.filter { l =>
          val t = l.dropWhile(c => c == ' ' || c == ':' || c == '+' || c == '-')
          t.matches("^(Project|Filter|HashAggregate|SortAggregate|Expand|Generate) .*") &&
            !l.contains("*(")
        }
        val big = "maxMethodCodeSize:(\\d+)".r
          .findAllMatchIn(codegenString(plan)).map(_.group(1).toInt)
          .filter(_ > MethodLimit).toSeq
        // the t44 bug class: a SinglePartition exchange (or a
        // single-partition window: "Window ... AS ..., []" with an empty
        // partition spec) whose downstream does real per-row compute
        // serializes the operator on one core. Legit for tiny final
        // aggregates — review hits manually.
        val funnels = lines.zipWithIndex.collect {
          case (l, i) if l.contains("SinglePartition") &&
            lines.take(i).exists(_.matches(
              ".*(Project|Filter|Generate).*[a-z]+\\(.*")) => l.trim.take(80)
        }
        Finding(q.name, fallback.toSeq, big, funnels.toSeq, None)
      } catch {
        case e: Throwable =>
          Finding(q.name, Nil, Nil, Nil, Some(e.getMessage))
      }
    }
  }

  /** Execution-time AQE findings of final executed plans — the runtime
    * complement of [[auditFindings]], which plans with AQE OFF and so
    * cannot see the decisions AQE takes from observed shuffle statistics:
    *  - `spExch`: ShuffleExchange nodes whose output partitioning is
    *    SinglePartition (legit only for one-long-per-partition count/sum
    *    merges — the frozen AuditSpec class);
    *  - `aqeOne`: AQEShuffleRead nodes coalesced to EXACTLY ONE partition
    *    spec — the runtime funnel (the t44/q15 serialization class);
    *  - `skew`: sort-merge/shuffled-hash joins with isSkewJoin = true
    *    (AQE's skew mitigation engaged — information, not a defect);
    *  - `plans`: how many executed plans were walked (driver-loop solvers
    *    and pipelines run many per query).
    * Counts only: `Env.TaskMetrics` sums them per span without holding on
    * to any plan. */
  final case class Runtime(plans: Int, spExch: Int, aqeOne: Int, skew: Int) {
    def +(o: Runtime): Runtime = Runtime(plans + o.plans, spExch + o.spExch,
      aqeOne + o.aqeOne, skew + o.skew)
    /** `sp_exch=…,aqe_one=…,skew=…`, or empty when all three are 0. */
    def aqe: String =
      if (spExch + aqeOne + skew == 0) ""
      else s"sp_exch=$spExch,aqe_one=$aqeOne,skew=$skew"
  }

  object Runtime {
    val Zero: Runtime = Runtime(0, 0, 0, 0)
  }

  /** [[Runtime]] findings of one final executed plan, resolving the
    * adaptive tree (AdaptiveSparkPlanExec.executedPlan, stages via
    * QueryStageExec.plan). */
  def runtimeFindings(plan: SparkPlan): Runtime = {
    var spExch, aqeOne, skew = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case r: AQEShuffleReadExec =>
        if (r.partitionSpecs.length == 1) aqeOne += 1
        walk(r.child)
      case j: SortMergeJoinExec =>
        if (j.isSkewJoin) skew += 1
        j.children.foreach(walk)
      case j: ShuffledHashJoinExec =>
        if (j.isSkewJoin) skew += 1
        j.children.foreach(walk)
      case e: ShuffleExchangeExec =>
        if (e.outputPartitioning == SinglePartition) spExch += 1
        e.children.foreach(walk)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    Runtime(1, spExch, aqeOne, skew)
  }

  private def audit(spark: SparkSession, sfDir: String): Unit = {
    auditFindings(spark, sfDir).filterNot(_.isEmpty).foreach { f =>
      f.error match {
        case Some(e) => println(s"AUDIT ${f.query}: plan failed: $e")
        case None =>
          println(s"AUDIT ${f.query}: ${f.interpreted.length} interpreted compute node(s)" +
            (if (f.oversized.nonEmpty)
              s", oversized methods: ${f.oversized.mkString(",")}" else "") +
            (if (f.funnels.nonEmpty)
              s", ${f.funnels.length} single-partition exchange(s)" else ""))
          f.interpreted.take(4).foreach(l => println(s"    $l"))
      }
    }
    println("AUDIT done")
  }
}
