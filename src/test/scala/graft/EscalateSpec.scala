package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Escalate

/** Runs both branches of every `Escalate` size gate from the registry:
  * each gated row at sf0.001 under three settings, with the decision
  * events proving which branch each run took, and the results required
  * equal across the three. Also keeps `core/Escalate.scala` the only
  * reader of the gate confs in `src/main`. */
class EscalateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val thrKey = "spark.sql.autoBroadcastJoinThreshold"

  /** Oracle-gated rows: results must be equal to the last bit. */
  private val exact = Seq("t11_dup_clusters", "t17_pagerank", "t51_bpe_train",
    "t52_bpe_vocab64", "t53_triangle_census", "g09_gauss_newton_chan",
    "g10_gauss_newton_dirs")
  /** g06 solves with plain double sums: same keys, phases within 1e-9. */
  private val g06 = "g06_gauss_newton"
  private val solvers =
    Set("g06_gauss_newton", "g09_gauss_newton_chan", "g10_gauss_newton_dirs")

  /** (confs, path of every loop gate, path of the solvers' grid gate). */
  private val settings = Seq(
    (Seq(Escalate.LocalMaxBytesKey -> Long.MaxValue.toString), "driver", None),
    (Seq(Escalate.LocalMaxBytesKey -> "0"), "distributed", Some("broadcast")),
    (Seq(Escalate.LocalMaxBytesKey -> "0", thrKey -> "-1"), "distributed",
      Some("shuffle")))

  private def run(name: String): (Seq[Row], Seq[Escalate.Decision]) = {
    val q = SparkEntry.registry.find(_.name == name)
      .getOrElse(fail(s"not registered: $name"))
    TestSpark.gates(q.fn(spark, TestSpark.sf).collect().toSeq.sortBy(_.toString))
  }

  /** Every row under every setting, after asserting the branch it took. */
  private lazy val results: Map[String, Seq[Seq[Row]]] =
    (exact :+ g06).map { name =>
      name -> settings.map { case (confs, loopPath, gridPath) =>
        val (rows, decisions) = TestSpark.withConf(confs: _*)(run(name))
        val seen = decisions.map(_.toString).distinct
        val at = s"$name under ${confs.mkString(", ")}: $seen"
        val loops = decisions.filter(d => d.path == "driver" || d.path == "distributed")
        assert(loops.nonEmpty, s"no loop gate consulted — $at")
        // a loop runs on the driver only when every gate it consults says
        // so: connected components asks the edge gate, then the node gate
        // (an empty edge set fits even a zero limit, as t11's does here)
        val took = if (loops.forall(_.path == "driver")) "driver" else "distributed"
        assert(took === loopPath, at)
        val grid = decisions.filter(_.gate == "calibrate.grid").map(_.path)
        if (solvers(name) && gridPath.nonEmpty) {
          assert(grid.nonEmpty, s"no grid gate consulted — $at")
          assert(grid.forall(p => gridPath.contains(p)), at)
        } else assert(grid.isEmpty, at)
        assert(rows.nonEmpty, s"empty result — $at")
        rows
      }
    }.toMap

  test("each gated row takes the driver, broadcast-grid and shuffle-grid " +
      "branches and returns the same rows on all three") {
    for (name <- exact) {
      val Seq(driver, bcast, shuffle) = results(name)
      assert(bcast === driver, s"$name: distributed ≠ driver")
      assert(shuffle === driver, s"$name: shuffle grid ≠ driver")
    }
    def phases(rows: Seq[Row]): Map[Seq[Any], Double] = rows.map { r =>
      r.toSeq.init -> r.getDouble(r.length - 1)
    }.toMap
    val Seq(driver, bcast, shuffle) = results(g06).map(phases)
    for (other <- Seq(bcast, shuffle)) {
      assert(other.keySet === driver.keySet)
      val maxDiff = driver.map { case (k, v) => math.abs(v - other(k)) }.max
      assert(maxDiff < 1e-9, s"g06 paths diverge by $maxDiff")
    }
  }

  test("src/main reads the gate confs only in core/Escalate.scala") {
    val gateConf = ("\"spark\\.graft\\.\\w*[lL]ocalMaxBytes\"|" +
      "\"spark\\.sql\\.autoBroadcastJoinThreshold\"|AUTO_BROADCASTJOIN_THRESHOLD|" +
      """(conf|get)\s*\.\s*autoBroadcastJoinThreshold\b""").r
    Seq("conf.get(\"spark.sql.autoBroadcastJoinThreshold\", \"10485760\")",
      "getOption(\"spark.graft.gridLocalMaxBytes\")",
      "getOption(\"spark.graft.localMaxBytes\")",
      "SQLConf.AUTO_BROADCASTJOIN_THRESHOLD", "SQLConf.get.autoBroadcastJoinThreshold")
      .foreach(src => assert(gateConf.findFirstIn(src).nonEmpty, src))
    assert(gateConf.findFirstIn("// under spark.sql.autoBroadcastJoinThreshold").isEmpty)
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = files(root)
      .filterNot(_.getPath.endsWith("graft/core/Escalate.scala"))
      .filter(f => gateConf.findFirstIn(new String(Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)).nonEmpty)
    assert(offenders.isEmpty,
      s"read size-gate confs through graft.core.Escalate in: ${offenders.mkString(", ")}")
  }
}
