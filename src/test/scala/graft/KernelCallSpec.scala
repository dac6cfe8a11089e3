package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.expr.GraftFunctions

/** Every kernel of the `KernelCall` table through both evaluation paths:
  * whole-stage codegen (codegen only, no silent fallback) against the
  * interpreted path, null propagation in each argument position, and the
  * result type and nullability the kernel's own expression class had. */
class KernelCallSpec extends AnyFunSuite {
  private lazy val spark = { val s = TestSpark.spark; GraftFunctions.register(s); s }

  /** Three non-null rows; every column depends on `id`, so no call is
    * constant-folded away from the path under test. */
  private lazy val input: DataFrame = spark.range(3).selectExpr(
    "id",
    "concat('the cat ', CAST(id AS STRING), ' a the hello a') AS s",
    "split(concat('x y ', CAST(id AS STRING), ' z'), ' ') AS toks",
    "array_repeat(id + 1, 16384) AS lut",
    "array(CAST(id + 0.5 AS FLOAT), CAST(-1.25 AS FLOAT), CAST(2 AS FLOAT)) AS emb",
    "CAST(id + 10 AS DOUBLE) AS scale",
    "array(id, id + 1, 3L) AS qv",
    "array(2L, id, 1L) AS qv2",
    "array(0L, id + 1) AS ks",
    "array(0L, 1L, 2L, id, 3L, 4L) AS cqs",
    "id + 5 AS denom",
    "concat('a=1&utm_x=', CAST(id AS STRING), '&b=2') AS url")
    .selectExpr("*", "size(toks) - 2 AS k") // an int that is not nullable

  /** (name, arguments, the result type of the kernel's own expression
    * class before the table replaced it). */
  private val cases: Seq[(String, Seq[String], DataType)] = {
    val longs = ArrayType(LongType, containsNull = false)
    val strings = ArrayType(StringType, containsNull = false)
    Seq(
      ("rolling_fp", Seq("s"), LongType),
      ("simhash8", Seq("s"), LongType),
      ("gopher_stats", Seq("s"), longs),
      ("substr_count", Seq("s", "'a'"), LongType),
      ("minhash4", Seq("s"), strings),
      ("bigram_fsum", Seq("s", "lut"), LongType),
      ("winnow_fps", Seq("s"), ArrayType(StructType(Seq(
        StructField("pos", LongType, nullable = false),
        StructField("fp", LongType, nullable = false))), containsNull = false)),
      ("char_grams", Seq("s", "k"), strings),
      ("word_grams", Seq("toks", "k"), strings),
      ("token_ct_in", Seq("s", "array('a', 'the')"), IntegerType),
      ("drop_prefixed", Seq("url", "'&'", "'utm_'"), StringType),
      ("subword_sum", Seq("toks", "k"), LongType),
      ("qquant", Seq("emb", "scale"), longs),
      ("sq8", Seq("qv", "denom"), longs),
      ("qdot", Seq("qv", "qv2"), LongType),
      ("ql2", Seq("qv", "qv2"), LongType),
      ("nearest_centroid", Seq("qv", "ks", "cqs"), LongType),
      ("nearest_min", Seq("qv", "ks", "cqs"), longs))
  }

  private def run(sql: String): (StructField, Seq[Row], Seq[Row]) = {
    val df = input.selectExpr(sql)
    val codegen = TestSpark.withConf(
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true")(input.selectExpr(sql).collect().toSeq)
    val interpreted = TestSpark.withConf(
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(input.selectExpr(sql).collect().toSeq)
    (df.schema.head, codegen, interpreted)
  }

  test("the registered function set is the 28 graft functions") {
    val expected = Set("sinc", "kahan_sum", "lsh_code16", "lsh_code",
      "rime_source_sum", "chan_bin_avg", "scatter_moments", "kmv_minhash",
      "bloom_filter_agg", "bloom_might_contain") ++ cases.map(_._1)
    assert(expected.size === 28)
    assert(GraftFunctions.names.toSet === expected)
    assert(GraftFunctions.names.size === 28)
    expected.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  for ((name, args, dataType) <- cases) {
    test(s"$name: codegen ≡ interpreted, null in each argument gives null, type pinned") {
      val (field, codegen, interpreted) = run(s"$name(${args.mkString(", ")}) AS r")
      assert(field.dataType === dataType)
      assert(!field.nullable, "non-null inputs must give a non-nullable result")
      assert(codegen.size === 3)
      assert(codegen.forall(!_.isNullAt(0)))
      assert(codegen === interpreted)

      for (i <- args.indices) {
        // a literal argument stays a (typed) null literal, so the
        // registration-time literal checks still see a foldable argument
        val arg = args(i)
        val nulled =
          if (arg.startsWith("'")) "CAST(NULL AS STRING)"
          else s"IF(id < 100, NULL, $arg)"
        val sql = s"$name(${args.updated(i, nulled).mkString(", ")}) AS r"
        if (name == "drop_prefixed" && i == 1) {
          // the delimiter must be one literal byte: a null one is refused
          intercept[IllegalArgumentException](run(sql))
        } else {
          val (f, cg, ip) = run(sql)
          assert(f.dataType === dataType)
          assert(f.nullable, s"argument $i nullable, result not")
          assert(cg.forall(_.isNullAt(0)), s"codegen, null argument $i")
          assert(ip.forall(_.isNullAt(0)), s"interpreted, null argument $i")
        }
      }
    }
  }
}
