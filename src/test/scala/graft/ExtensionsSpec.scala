package graft

import org.scalatest.funsuite.AnyFunSuite

/** The deployment story: `spark.sql.extensions=graft.expr.GraftExtensions`
  * must wire functions + the custom planner strategy from config alone.
  * Static SQL conf binds at SparkContext creation, so the check runs in a
  * FORKED JVM (this suite's JVM already owns the shared test context) —
  * `graft.ExtensionsCheck` builds its own session and asserts the wiring.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("spark.sql.extensions wires functions and the as-of strategy by config") {
    val (exit, out) = Fork.run("graft.ExtensionsCheck")
    assert(exit === 0, s"ExtensionsCheck failed:\n${out.takeRight(2000)}")
    assert(out.contains("EXTENSIONS OK"))
  }
}
