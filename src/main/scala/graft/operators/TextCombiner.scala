package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-partition bounded text statistics — the classic combiner pattern
  * for alphabet-bounded models over unbounded corpora.
  *
  * The declarative shape (explode one row per character pair, hash-agg
  * the corpus-chars-sized stream) is correct but pays per-OCCURRENCE
  * costs: a 2-char string allocation, a generator row, and a hash-agg
  * probe for every character in the corpus. Since the aggregate's key
  * space is bounded by alphabet² (≤ 16 384 codes under the ASCII corpus
  * contract), the per-partition image of the whole aggregation fits in
  * one long[16384]: each partition makes ONE imperative pass over its
  * documents into the LUT and emits at most 16 384 (code, cnt) rows, so
  * the shuffle and the final agg are alphabet-bounded at ANY corpus
  * size — at 100 TB each of ~10⁵ partitions ships ≤ 16 384 rows instead
  * of ~10⁹ pair occurrences. `mapPartitions` is justified here exactly
  * by SURVEY §7.3's last-resort rule: genuine per-partition imperative
  * state that no built-in pre-aggregation expresses as cheaply.
  *
  * Counts are exact integers with the same totals as the explode plan,
  * so every oracle stays bit-identical. Non-ASCII input throws (the
  * `bigram_fsum` corpus contract) rather than silently mis-bucketing.
  */
object TextCombiner {

  /** Adjacent-character-pair counts over `textCol`, keyed by the pair
    * code `cp(i)·128 + cp(i+1)`: (code: long, cnt: long), one row per
    * DISTINCT pair corpus-wide. Strings shorter than 2 contribute
    * nothing (the explode-plan `length ≥ 2` filter is implicit). */
  def pairCodeCounts(docs: DataFrame, textCol: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col(textCol)).as[String].mapPartitions { it =>
      val c = new Array[Long](16384)
      it.foreach { t =>
        if (t != null) {
          var i = 0
          val n = t.length
          while (i + 1 < n) {
            val a = t.charAt(i).toInt
            val b = t.charAt(i + 1).toInt
            if (a >= 128 || b >= 128)
              throw new IllegalArgumentException(
                s"pairCodeCounts: non-ASCII code point (corpus contract)")
            c(a * 128 + b) += 1L
            i += 1
          }
        }
      }
      Iterator.range(0, 16384).filter(c(_) != 0L)
        .map(i => (i.toLong, c(i)))
    }.toDF("code", "cnt")
      .groupBy("code").agg(sum(col("cnt")).as("cnt"))
  }

  // (the 256-wide BPE variant moved into graft.operators.Bpe's round
  // loop in round 13 — the trainer no longer round-trips through SQL)

  /** Keyed variant: adjacent-pair counts PER GROUP —
    * (key: string, code: long, cnt: long). The per-partition state is
    * one long[16384] per DISTINCT key seen in the partition, so the
    * bound becomes keys-per-partition × alphabet² — the right shape for
    * low-cardinality grouping columns (source, lang: tens of values).
    * High-cardinality keys would make this the explode plan with extra
    * steps; callers own that judgement. */
  def pairCodeCountsBy(docs: DataFrame, keyCol: String,
                       textCol: String): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select(col(keyCol).cast("string"), col(textCol))
      .as[(String, String)].mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[String, Array[Long]]
        it.foreach { case (k, t) =>
          if (t != null && k != null) {
            val c = m.getOrElseUpdate(k, new Array[Long](16384))
            var i = 0
            val n = t.length
            while (i + 1 < n) {
              val a = t.charAt(i).toInt
              val b = t.charAt(i + 1).toInt
              if (a >= 128 || b >= 128)
                throw new IllegalArgumentException(
                  s"pairCodeCountsBy: non-ASCII code point (corpus contract)")
              c(a * 128 + b) += 1L
              i += 1
            }
          }
        }
        m.iterator.flatMap { case (k, c) =>
          Iterator.range(0, 16384).filter(c(_) != 0L)
            .map(i => (k, i.toLong, c(i)))
        }
      }.toDF(keyCol, "code", "cnt")
      .groupBy(keyCol, "code").agg(sum(col("cnt")).as("cnt"))
  }

  /** The pair string for a pair code — `char` is ASCII-safe under the
    * corpus contract; matches `substr(text, i, 2)` byte for byte. */
  def pairString(codeCol: String): org.apache.spark.sql.Column =
    expr(s"concat(char($codeCol div 128), char($codeCol % 128))")
}
