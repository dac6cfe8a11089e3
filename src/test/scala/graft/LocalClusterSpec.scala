package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The harness session on a real multi-JVM master: `graft.Verify` runs one
  * query on `local-cluster[2,1,1024]` (two executor JVMs launched through
  * the Spark installation's `bin/spark-class`) in a forked driver JVM. This pins the
  * local-cluster-only confs of [[graft.core.Env.sessionConf]] against
  * Spark's own start-up validation — its health tracker refuses
  * `excludeOnFailure.task.maxTaskAttemptsPerNode >= task.maxFailures`
  * when the context starts — and the quorum guard's seeding from the
  * scheduler's executor list. */
class LocalClusterSpec extends AnyFunSuite {
  // the installation whose jars the build compiles against
  private val sparkHome = Paths.get(classOf[org.apache.spark.SparkContext]
    .getProtectionDomain.getCodeSource.getLocation.toURI).getParent.getParent

  test("Verify runs a query on a local-cluster master") {
    val sparkClass = sparkHome.resolve("bin/spark-class")
    if (!Files.isExecutable(sparkClass))
      cancel(s"no $sparkClass: a local-cluster master cannot launch " +
        "executors without a Spark installation")
    val out = Files.createTempDirectory("graft_local_cluster").toString
    val (exit, log) = Fork.run("graft.Verify",
      Seq(TestSpark.sf, out, "q01_pricing_summary"),
      env = Map(
        "SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]",
        "SPARK_HOME" -> sparkHome.toString,
        // without it the worker's command builder throws "Cannot find
        // any build directories"
        "SPARK_SCALA_VERSION" -> "2.13",
        "SPARK_GRAFT_EXTRA_CONF" ->
          s"spark.executor.extraClassPath=${Fork.classPath}"),
      xmx = "1g")
    assert(exit === 0, s"Verify failed:\n${log.takeRight(3000)}")
    assert(Files.exists(Paths.get(s"$out/q01_pricing_summary/_SUCCESS")),
      s"no q01_pricing_summary output:\n${log.takeRight(3000)}")
  }
}
