package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.Escalate

/** The BPE trainer's ROUND LOOP as an RDD driver loop — the t51/t52 body
  * (Sennrich et al. 2015: count adjacent pairs → global argmax → rewrite
  * the corpus with the merged symbol, iterated to a learned vocabulary).
  *
  * Round-13 rewrite of the per-round DataFrame loop, for two measured
  * reasons (OPTIMIZATION_r13.md "t51/t52"):
  *
  *  1. **Lineage depth.** The DataFrame loop chained `select(replace(..))`
  *     + `persist()` per round; persist caches DATA but the logical plan
  *     (and the cached RDD's dependency graph) still reached back through
  *     every earlier round, so round r's task binary serialized an
  *     O(r)-deep object graph. At 64 rounds the executor-side task
  *     deserialization recursion overflowed a 1 MB thread stack —
  *     the inherited round-13 `sbt test` crash (SparkUncaughtException
  *     → exit 50, half the suites never ran). Here every round ends in
  *     `localCheckpoint()`, so the lineage is CONSTANT depth: one
  *     checkpointed parent + one mapValues.
  *  2. **Per-round constant.** Catalyst re-analyzed/re-optimized the
  *     ever-growing plan and re-compiled fresh codegen (new literals) for
  *     EVERY round — ~125 ms/round at sf0.1 against ~1.5 MB of corpus.
  *     The round's whole model update is alphabet²-bounded, so it needs no
  *     SQL machinery at all: one `treeReduce` merges the per-partition
  *     long[alphabet²] LUTs (the TextCombiner combiner pattern, §2.3
  *     map-side aggregation taken to its limit) and the 1-row argmax that
  *     used to be a TakeOrdered job becomes an array scan on the driver.
  *
  * Scale shape (unchanged claims, different plumbing): per round each of P
  * partitions ships ONE long[alphabet²] partial (≤512 KB). At ≤64
  * partitions `treeReduce` runs depth 1 — no executor-side merge
  * layer, the driver reduces up to 64 partials itself (≤32 MB transient,
  * fine); past 64 partitions the depth-⌈log₆₄ P⌉ executor layers take
  * over and the driver receives exactly one array (the 10⁵-partition
  * case merges 64-way twice). The rewrite is a per-string projection; the
  * corpus is the only data-sized relation and lives MEMORY_AND_DISK.
  *
  * Determinism: counts are exact integers, the argmax tie-break is
  * (count DESC, pair-code ASC) — an ascending scan keeping strict maxima —
  * and `java.lang.String.replace` is the same leftmost-non-overlapping
  * literal rewrite as Spark's UTF8String replace for codepoints < 256
  * (single UTF-16 units; UTF-8 is self-synchronizing, so byte-level and
  * char-level matching agree). BpeSpec pins both against a driver-side
  * reference BPE, including overlapping-pair and merged-symbol cases; the
  * t51/t52 oracles hash the same merge table + encoded corpus as before.
  */
object Bpe {

  /** `(docs, textCol, idCol)` → the t51/t52 hashed surface: merge-table
    * rows (id = −round, val = pair code a·alphabet+b, s = '') UNION the
    * encoded corpus (id = doc id, val = length, s = md5). Strings shorter
    * than 2 are dropped (they contribute no pairs and are not encoded —
    * the registered query contract). `firstSym` is the codepoint of the
    * first merged symbol (round r merges to chr(firstSym + r − 1)); all
    * corpus codepoints must stay < alphabet or the pair scan throws (the
    * BigramFsum corpus contract, unchanged from TextCombiner).
    *
    * CACHE LIFETIME (round-14 ADVICE, documented contract): the returned
    * DataFrame is backed by the final persisted+localCheckpointed corpus
    * RDD, which this method never releases — the result would otherwise
    * recompute every merge round on each action. Each call therefore pins
    * one corpus-sized cached RDD for the session. The sequential harness
    * mains sweep it between queries (Env.sweepSession); any other caller
    * that fully materializes the result and keeps the session alive
    * should unpersist via `spark.sparkContext.getPersistentRDDs` (or
    * Env.sweepSession) when done. */
  def train(docs: DataFrame, textCol: String, idCol: String,
            nMerges: Int, alphabet: Int, firstSym: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(firstSym + nMerges <= alphabet,
      s"merged symbols chr($firstSym..${firstSym + nMerges - 1}) must stay " +
        s"inside the $alphabet-symbol space")

    var cur: RDD[(Long, String)] = docs
      .filter(length(col(textCol)) >= 2)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .rdd
    cur.persist(StorageLevel.MEMORY_AND_DISK)
    // Sub-threshold escalation (round 14): when the filtered corpus fits
    // the `Escalate.local` gate (2 bytes per code point + 32 per doc,
    // measured BEFORE any collect), the whole round loop runs on the
    // driver — nMerges distributed rounds at sf0.1 were ~3.5 s of pure
    // per-round job overhead for ~1.5 MB of corpus. Counts are exact
    // integers (order-free sums), the argmax tie-break and the
    // String.replace rewrite are the very same JVM code the executors
    // run, and the md5/length surface is mirrored exactly (BpeSpec pins
    // local ≡ distributed) — so t51/t52's hashed bytes cannot move. A
    // corpus-scale input exceeds the gate and keeps the RDD loop. The
    // size probe is the pass that fills the corpus cache, so either path
    // reads the corpus from the cache: the input is scanned once.
    val (nDocs, totChars) = cur.aggregate((0L, 0L))(
      (a, kv) => (a._1 + 1L, a._2 + kv._2.codePointCount(0, kv._2.length)),
      (a, b) => (a._1 + b._1, a._2 + b._2))
    if (Escalate.local(spark, "bpe.corpus", totChars * 2L + nDocs * 32L)) {
      val corpus = cur.collect()
      cur.unpersist(blocking = false)
      return trainLocal(spark, corpus, nMerges, alphabet, firstSym)
    }
    var prev: RDD[(Long, String)] = null
    val merges = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
    val alpha = alphabet // primitive capture: keep task closures tiny

    for (r <- 1 to nMerges) {
      // ONE job per round: the LUT treeReduce materializes the
      // lazily-checkpointed frame (truncating its lineage), merges the
      // per-partition partials executor-side, and hands the driver a
      // single alphabet²-long array — the argmax is then free. Each
      // partition builds its own LUT: a treeAggregate zero value would
      // serialize the alphabet² array (512 KB at 256 symbols) into every
      // round's task binary; the closure carries only `alpha`.
      val counts = cur.mapPartitions { it =>
        val c = new Array[Long](alpha * alpha)
        it.foreach(kv => countPairs(c, kv._2, alpha))
        Iterator.single(c)
      }.treeReduce((a, b) => { var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }; a },
        depth = treeDepth(cur.getNumPartitions))
      // cur is materialized now — its predecessor can be released
      if (prev != null) { prev.unpersist(blocking = false); prev = null }
      var bestCnt = 0L; var code = -1
      var i = 0
      while (i < counts.length) {
        if (counts(i) > bestCnt) { bestCnt = counts(i); code = i }
        i += 1
      }
      require(code >= 0, s"BPE round $r: no adjacent pairs left")
      merges += ((-r.toLong, code.toLong))
      val pair = s"${(code / alpha).toChar.toString}${(code % alpha).toChar.toString}"
      val sym = (firstSym + r - 1).toChar.toString
      prev = cur
      cur = cur.mapValues(_.replace(pair, sym))
      cur.persist(StorageLevel.MEMORY_AND_DISK)
      // truncate lineage once materialized: round r+1's task binary then
      // carries ONE checkpointed parent, never the whole merge history
      cur.localCheckpoint()
    }
    // the loop leaves the LAST predecessor pinned (normally released at
    // the top of the next round, which never comes): one count job
    // materializes the final frame so the predecessor is safe to drop
    cur.count()
    if (prev != null) prev.unpersist(blocking = false)

    val mtab = merges.toSeq.toDF("id", "val")
      .select(col("id"), col("val"), lit("").as("s"))
    mtab.unionByName(cur.toDF(idCol, "e")
      .select(col(idCol).as("id"),
        length(col("e")).cast("long").as("val"), md5(col("e")).as("s")))
  }

  /** Driver-resident round loop for sub-threshold corpora — the same
    * pair-count/argmax/replace sequence the RDD loop runs, on local
    * arrays. Identical integers, identical tie-break, identical
    * String.replace; the output surface (merge rows + per-doc
    * length/md5) mirrors the Spark expressions exactly (Spark's length =
    * codepoint count — equal to String.length for our sub-0x10000
    * symbol space — and md5 = lowercase hex over UTF-8 bytes). */
  private def trainLocal(spark: org.apache.spark.sql.SparkSession,
                         corpus0: Array[(Long, String)], nMerges: Int,
                         alphabet: Int, firstSym: Int): DataFrame = {
    val ids = corpus0.map(_._1)
    val texts = corpus0.map(_._2)
    val merges = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
    val counts = new Array[Long](alphabet * alphabet)
    for (r <- 1 to nMerges) {
      java.util.Arrays.fill(counts, 0L)
      texts.foreach(t => countPairs(counts, t, alphabet))
      var bestCnt = 0L; var code = -1
      var i = 0
      while (i < counts.length) {
        if (counts(i) > bestCnt) { bestCnt = counts(i); code = i }
        i += 1
      }
      require(code >= 0, s"BPE round $r: no adjacent pairs left")
      merges += ((-r.toLong, code.toLong))
      val pair =
        s"${(code / alphabet).toChar.toString}${(code % alphabet).toChar.toString}"
      val sym = (firstSym + r - 1).toChar.toString
      var d = 0
      while (d < texts.length) { texts(d) = texts(d).replace(pair, sym); d += 1 }
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String = {
      md.reset()
      md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("val", LongType), StructField("s", StringType)))
    val rows = merges.map { case (id, v) =>
      org.apache.spark.sql.Row(id, v, "")
    } ++ ids.indices.map { i =>
      org.apache.spark.sql.Row(
        ids(i), texts(i).codePointCount(0, texts(i).length).toLong,
        md5hex(texts(i)))
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows.toIndexedSeq: _*), schema)
  }

  /** Executor-side merge layers: 64-way fan-in per layer keeps the driver
    * at exactly one array regardless of partition count. */
  private def treeDepth(partitions: Int): Int =
    if (partitions <= 64) 1 else if (partitions <= 64 * 64) 2 else 3

  /** One string's adjacent pairs into the LUT — the TextCombiner pass,
    * with the same loud non-contract-codepoint failure. */
  private def countPairs(c: Array[Long], t: String, alphabet: Int)
      : Array[Long] = {
    if (t != null) {
      var i = 0
      val n = t.length
      while (i + 1 < n) {
        val a = t.charAt(i).toInt
        val b = t.charAt(i + 1).toInt
        if (a >= alphabet || b >= alphabet)
          throw new IllegalArgumentException(
            s"Bpe.train: code point past the $alphabet-symbol space " +
              "(corpus contract)")
        c(a * alphabet + b) += 1L
        i += 1
      }
    }
    c
  }
}
