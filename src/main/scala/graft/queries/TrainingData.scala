package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.core.{Det, Tables}

/** Large-scale training-data pipeline operators over the `documents` and
  * `embeddings` tables: deduplication (exact, token-Jaccard, SimHash),
  * text analysis (quality metrics, language id, fingerprinting) and
  * similarity search (brute-force cosine top-k + LSH-bucketed variant,
  * per-label centroids).
  *
  * Cross-engine determinism strategy: every inexact quantity is reduced to
  * INTEGER arithmetic before aggregation — embedding floats are quantized
  * to round(x·1e6) longs (dot products and norms are then exact,
  * order-independent integer sums), text features are character counts via
  * length/replace, and hashes are positional polynomial sums under small
  * moduli. Divisions/sqrt happen once, after aggregation, so Spark and
  * DuckDB agree bit-for-bit.
  *
  * Scale notes (100 TB): exact dedup and fingerprints are single
  * shuffle-by-hash aggs; Jaccard uses token-postings self-join (bounded by
  * blocking keys at scale); brute-force ANN is the correctness baseline
  * while the LSH variant is the scale path (bucket join replaces the full
  * cross product); centroids are one partial+final agg.
  */
object TrainingData {

  // ---- tuning knobs (demo-sized here; the QUERY SHAPES are what hold at
  // scale — raise the caps and the plans are unchanged) -------------------

  /** t05: doc-id cap for the near-dup demo output. */
  val T05MaxDoc = 64
  /** t05: stop-token blocking threshold — max document frequency a token
    * may have and still enter the postings self-join. */
  val T05DfMax = 16
  /** t08: doc-id cap for the banded-minhash pair output. */
  val T08MaxDoc = 256

  // ---- shared quantized-embedding explodes ------------------------------

  /** (id, pos 1-based, qv = round(val·1e6) as long). */
  private def qExplode(df: DataFrame, idAs: String): DataFrame =
    df.select(col("vec_id").as(idAs), posexplode(col("embedding")))
      .select(col(idAs), (col("pos") + 1).cast("long").as("pos"),
        round(col("col").cast("double") * 1e6).cast("long").as("qv"))

  private def qExplodeSql(idAs: String, filter: String): String =
    s"""SELECT vec_id AS $idAs,
       |  unnest(generate_series(1, len(embedding))) AS pos,
       |  CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qv
       |FROM embeddings $filter""".stripMargin

  /** Σ qv² per vector (exact). */
  private def norms(e: DataFrame, idAs: String): DataFrame =
    e.groupBy(idAs).agg(sum(col("qv") * col("qv")).as(s"${idAs}_n2"))

  // ---- shared PCA power iteration (e11/e12) -----------------------------
  //
  // n·Cov = n·Σxxᵀ − SSᵀ in exact longs (1e4 quantization keeps every
  // entry < 2^49), divided by the dyadic 2^48 so each matrix entry is an
  // EXACT double; two fsum matvec iterations (terms are exact dyadic ×
  // shared-rational products), each iterate renormalized by its exact
  // max-abs and r6-rounded to a shared rational — no libm anywhere.

  /** Oracle CTE chain ending in v1 (j, vv) and v2 (i, v2); also exposes
    * `q` (vec_id, pos, qv), the 1e4-quantized explode. */
  private val pcaCtesSql: String = {
    val p48 = "281474976710656e0" // 2^48
    s"""q AS (
       |  SELECT vec_id,
       |    unnest(generate_series(1, len(embedding))) AS pos,
       |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e4) AS BIGINT)
       |      AS qv
       |  FROM embeddings),
       |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
       |sv AS (SELECT pos AS i, CAST(SUM(qv) AS BIGINT) AS sv
       |       FROM q GROUP BY pos),
       |sxx AS (
       |  SELECT a.pos AS i, b.pos AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS sxx
       |  FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY a.pos, b.pos),
       |a2 AS (
       |  SELECT sxx.i, sxx.j,
       |    CAST(cnt.n * sxx.sxx - si.sv * sj.sv AS DOUBLE) / $p48 AS a2
       |  FROM sxx JOIN sv si ON si.i = sxx.i
       |           JOIN sv sj ON sj.i = sxx.j, cnt),
       |w1 AS (SELECT i, ${Det.fsumSql("a2 * 125e-3")} AS w
       |       FROM a2 GROUP BY i),
       |m1 AS (SELECT MAX(ABS(w)) AS m FROM w1),
       |v1 AS (SELECT i AS j, ${Det.r6Sql("w / m")} AS vv FROM w1, m1),
       |w2 AS (SELECT a2.i, ${Det.fsumSql("a2.a2 * v1.vv")} AS w
       |       FROM a2 JOIN v1 ON v1.j = a2.j GROUP BY a2.i),
       |m2 AS (SELECT MAX(ABS(w)) AS m FROM w2),
       |v2 AS (SELECT i, ${Det.r6Sql("w / m")} AS v2 FROM w2, m2)""".stripMargin
  }

  /** Spark mirror: (v1 as (j, vv), v2 as (i, v2)). The scatter is ONE
    * `scatter_moments` typed aggregate — (Σxxᵀ, Σx, n) accumulate inside
    * the d²-long aggregation buffer, so the corpus scan emits NOTHING per
    * row and the exchange carries one buffer per partition. The previous
    * double-posexplode shape materialized n·d² generated rows before the
    * same d²-bounded aggregation (A/B at sf0.1: e11 1.59 → 0.83 s,
    * e12 1.92 → 0.97 s; the gap widens with the corpus — at sf1x the
    * generate was 820M rows). Two earlier data points
    * for the record: a mapPartitions long[d²] combiner with object
    * encoders measured ~30% SLOWER than the generate chain (encoder
    * deserialization per vector), and the generate chain itself was the
    * round-5 baseline — the typed aggregate beats both because the
    * accumulation runs inside codegen'd HashAggregate with primitive
    * buffers. Sums are exact longs either way; hashed surfaces unchanged.
    * Each iteration is a broadcast join on the d²-row matrix. */
  private def pcaIterates(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    graft.expr.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, dir)
    // the (i, j) unflattening of the d²-long scatter buffer must use the
    // ACTUAL embedding width, not a literal — one first-row probe (limit-1
    // parquet read, negligible) keeps it in lockstep with ScatterMoments
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val q = emb.select(col("vec_id"), expr(
      "qquant(embedding, 1e4)")
      .as("qv"))
    val mom = q.agg(expr("scatter_moments(qv)").as("m"))
      .select(col("m.n").as("n"), col("m.sv").as("sv"),
        posexplode(col("m.sxx")).as(Seq("p", "sxx")))
    val a2 = mom
      .select(
        (expr(s"p div $d") + 1).cast("long").as("i"),
        (col("p") % d + 1).cast("long").as("j"),
        ((col("n") * col("sxx") -
          element_at(col("sv"), (expr(s"p div $d") + 1).cast("int")) *
          element_at(col("sv"), (col("p") % d + 1).cast("int"))).cast("double") /
          lit(281474976710656e0)).as("a2"))
      .persist()
    def matvec(v: DataFrame): DataFrame =
      a2.join(broadcast(v), "j")
        .groupBy("i").agg(Det.fsum(col("a2") * col("vv")).as("w"))
    // any dyadic non-degenerate start vector works (normalization is by
    // max-abs each iteration), so the 1/8 literal is dim-independent.
    // The max-abs normalizer is ONE scalar of a d-row frame — round 13
    // collects it to the driver (the e05 model-sized idiom) instead of
    // crossJoin(broadcast(1-row agg)): same double, same division, two
    // broadcast-build jobs and two joins less per consumer plan.
    val v0 = s.range(1, d + 1L)
      .select(col("id").as("j"), lit(125e-3).as("vv"))
    val w1 = matvec(v0)
    val m1 = w1.agg(max(abs(col("w"))).as("m")).head().getDouble(0)
    val v1 = w1.select(col("i").as("j"), Det.r6(col("w") / lit(m1)).as("vv"))
    val w2 = matvec(v1)
    val m2 = w2.agg(max(abs(col("w"))).as("m")).head().getDouble(0)
    val v2 = w2.select(col("i"), Det.r6(col("w") / lit(m2)).as("v2"))
    (v1, v2)
  }

  /** Corpus-scaled LSH code width: the smallest width keeping expected
    * bucket occupancy ≤ 1/8 (2^nbits ≥ 8n), floored at the historical 16
    * — so the sf0.001..sf0.1 gates stay at 16 and growth engages on
    * larger corpora (sf1x runs 18). A FIXED width caps the bucket table:
    * occupancy then grows ∝ n and the bucketed pair join degrades
    * quadratically once n ≫ 2^nbits × target occupancy. ceil(log2 n) is
    * exact here (bit length); the oracle mirrors it as
    * GREATEST(16, CEIL(LOG2(n)) + 3), which agrees cross-engine because
    * log2 of an integer is exact at powers of two and otherwise at least
    * ~1/(n·ln2) ≫ double-ulp away from any integer. */
  private def lshBits(n: Long): Int =
    math.max(16,
      (if (n <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)) + 3)

  /** SQL mirror of [[lshBits]] over the embeddings corpus, as a 1-row
    * relation usable in a cross join. */
  private val lshBitsSql: String =
    """(SELECT GREATEST(16, CAST(CEIL(LOG2(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) + 3)
      |   AS nbits FROM embeddings)""".stripMargin

  /** The hyperplane-index relation 0..nbits-1 for the oracle's projection
    * sum, width derived from the corpus count exactly like the engine. */
  private val lshJsSql: String =
    s"""(SELECT unnest(generate_series(0,
       |  (SELECT nbits FROM $lshBitsSql nb) - 1)) AS j)""".stripMargin

  /** Multiprobe masks: the identity, every single-bit flip, and (for
    * Hamming radius 2) every bit pair — 1 + nbits (+ nbits(nbits−1)/2)
    * masks, exploded on the tiny probe side only. */
  private def hammingMasks(nbits: Int, radius: Int): Seq[Long] = {
    val singles = (0 until nbits).map(i => 1L << i)
    val pairs =
      if (radius < 2) Seq.empty
      else for (i <- 0 until nbits; j <- i + 1 until nbits)
        yield (1L << i) | (1L << j)
    0L +: singles ++: pairs
  }

  /** Shared CTE prefix for t10/t11/t43: LSH-coded corpus, Hamming≤1
    * candidate pairs, exact integer dot products + norms. The candidate
    * CTE mirrors the engine's MULTIPROBE equi-join rather than the naive
    * `bit_count(xor) <= 1` theta-join: Hamming ≤ 1 means xor(a, b) is 0
    * or a single bit, so joining on `b.code = xor(a.code, mask)` over the
    * identity+single-bit mask set yields the IDENTICAL pair set (each
    * pair matched by exactly one mask) while staying a hash join — the
    * theta-join form is all-pairs (10^10 comparisons at the 50x gate's
    * 100k vectors) and made the oracle, not the engine, the scale
    * bottleneck.
    *
    * Round 12: per-pair dots go through `list_dot_product` over one
    * per-vector list (P pair rows) instead of the pos-join + GROUP BY
    * (P × dim rows) — 14× faster at the 20× replica, byte-identical by
    * the 2^53 bound: |qv| < 2^23 (DeterminismSpec asserts it), so every
    * product < 2^46 and any 64-term partial sum < 2^52 — double
    * arithmetic on them is EXACT in any association order, and the
    * BIGINT cast reproduces the integer dot bit for bit. */
  private lazy val neardupCtesSql: String =
    s"""ce AS MATERIALIZED (${qExplodeSql("cid", "")}),
       |proj AS (
       |  SELECT cid, j,
       |    SUM(qv * ((pos * (2654435761 + j * 40503)) % 2048 - 1024)) AS s
       |  FROM ce, $lshJsSql
       |  GROUP BY cid, j),
       |bk AS MATERIALIZED (
       |  SELECT cid, CAST(SUM(CASE WHEN s > 0
       |    THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS code
       |  FROM proj GROUP BY cid),
       |n2t AS MATERIALIZED (SELECT cid, SUM(qv*qv) AS n2 FROM ce GROUP BY cid),
       |masks AS (SELECT CAST(0 AS BIGINT) AS mask
       |  UNION ALL SELECT (1::BIGINT << CAST(j AS INT)) AS mask FROM $lshJsSql),
       |cand AS MATERIALIZED (
       |  SELECT a.cid AS cid_a, b.cid AS cid_b
       |  FROM bk a CROSS JOIN masks
       |    JOIN bk b ON b.code = xor(a.code, masks.mask) AND a.cid < b.cid),
       |cl AS MATERIALIZED (
       |  SELECT cid, list(CAST(qv AS DOUBLE) ORDER BY pos) AS v
       |  FROM ce GROUP BY cid),
       |dot AS MATERIALIZED (
       |  SELECT cand.cid_a, cand.cid_b,
       |    CAST(list_dot_product(a.v, b.v) AS BIGINT) AS d
       |  FROM cand
       |    JOIN cl a ON a.cid = cand.cid_a
       |    JOIN cl b ON b.cid = cand.cid_b)""".stripMargin

  /** The t10 candidate relation: (cid_a, cid_b, cosine, is_dup) — every
    * Hamming≤1 pair with its exact-integer cosine and τ = 0.5 verdict. */
  private def neardupPairs(s: SparkSession, dir: String): DataFrame = {
    graft.expr.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, dir)
    val nbits = lshBits(emb.count())
    val qCol = expr(
      "qquant(embedding, 1e6)")
    val bk = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
      .withColumn("n2", expr("qdot(qv, qv)"))
      .withColumn("code", expr(s"lsh_code(qv, $nbits)"))
    val maskDf = { import s.implicits._; hammingMasks(nbits, 1).toDF("mask") }
    val probes = bk.select(col("cid").as("cid_a"), col("code").as("code_a"),
        col("n2").as("n2_a"), col("qv").as("qv_a"))
      .crossJoin(broadcast(maskDf))
      .withColumn("probe", expr("code_a ^ mask")).drop("mask", "code_a")
    val cand = probes.join(bk, col("code") === col("probe")
        && col("cid_a") < col("cid"))
    val dot = expr(
      "qdot(qv_a, qv)")
    val cosine = dot.cast("double") /
      (sqrt(col("n2_a").cast("double")) * sqrt(col("n2").cast("double")))
    cand.select(col("cid_a"), col("cid").as("cid_b"),
      cosine.as("cosine"), (cosine >= 5e-1).as("is_dup"))
  }

  // ---- queries ----------------------------------------------------------

  val qs: Seq[Q] = Seq(

    // -- exact deduplication: hash-groupBy on content; keeper = min id.
    Q("t01_exact_dedup",
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    },

    // -- text quality metrics: token/punctuation/stopword densities from
    //    exact character counts; single projection, no shuffle.
    Q("t02_text_quality",
      """SELECT doc_id,
        |  length(text) AS n_chars_m,
        |  length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens,
        |  length(text) - length(replace(text, '.', '')) AS n_periods,
        |  (length(text) - length(replace(text, ' the ', ''))) / 5 AS n_the,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / (length(text) - length(replace(text, ' ', '')) + 1) AS avg_token_len,
        |  CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS DOUBLE)
        |    / (length(text) - length(replace(text, ' ', '')) + 1) AS stop_ratio,
        |  CAST(CEIL(length(text) / 4e0) AS BIGINT) AS n_bpe_est
        |FROM documents""".stripMargin) { (s, dir) =>
      val t = col("text")
      val noSpace = expr("replace(text, ' ', '')")
      val nTokens = length(t) - length(noSpace) + 1
      val nThe = (length(t) - length(expr("replace(text, ' the ', '')"))) / 5
      Tables.documents(s, dir).select(
        col("doc_id"),
        length(t).cast("long").as("n_chars_m"),
        nTokens.cast("long").as("n_tokens"),
        (length(t) - length(expr("replace(text, '.', '')"))).cast("long")
          .as("n_periods"),
        nThe.as("n_the"),
        (length(noSpace).cast("double") / nTokens).as("avg_token_len"),
        (nThe.cast("double") / nTokens).as("stop_ratio"),
        // BPE-ish token estimate: ~4 chars/token heuristic
        ceil(length(t) / 4e0).cast("long").as("n_bpe_est"))
    },

    // -- vocabulary histogram: token frequencies, deterministic top-50.
    Q("t09_vocab_topk",
      """SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 50""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(50)
    },

    // -- language id: n-gram (function-word) indicator scores, argmax with
    //    deterministic tie order en > de > es > fr.
    Q("t03_language_id",
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    (length(text) - length(replace(text, ' the ', ''))) / 5
        |      + (length(text) - length(replace(text, ' and ', ''))) / 5 AS s_en,
        |    (length(text) - length(replace(text, ' der ', ''))) / 5
        |      + (length(text) - length(replace(text, ' und ', ''))) / 5 AS s_de,
        |    (length(text) - length(replace(text, ' el ', ''))) / 4
        |      + (length(text) - length(replace(text, ' los ', ''))) / 5 AS s_es,
        |    (length(text) - length(replace(text, ' le ', ''))) / 4
        |      + (length(text) - length(replace(text, ' et ', ''))) / 4 AS s_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred,
        |  (CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
        |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
        |       WHEN s_es >= s_fr THEN 'es'
        |       ELSE 'fr' END = lang) AS hit
        |FROM sc""".stripMargin) { (s, dir) =>
      def cnt(w: String): org.apache.spark.sql.Column =
        (length(col("text")) - length(expr(s"replace(text, ' $w ', '')"))) / (w.length + 2)
      val sEn = cnt("the") + cnt("and")
      val sDe = cnt("der") + cnt("und")
      val sEs = cnt("el") + cnt("los")
      val sFr = cnt("le") + cnt("et")
      val pred = when(sEn >= sDe && sEn >= sEs && sEn >= sFr, "en")
        .when(sDe >= sEs && sDe >= sFr, "de")
        .when(sEs >= sFr, "es")
        .otherwise("fr")
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), pred.as("lang_pred"),
        (pred === col("lang")).as("hit"))
    },

    // -- rolling positional fingerprint: Σ ascii(c_i)·w(i) mod 2^30 with
    //    integer position weights (exact, order-free).
    Q("t04_fingerprint",
      """WITH cp AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text))) AS i
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(SUM(CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)
        |        * ((i * 2654435761) % 1048576 + 1)) % 1073741824 AS BIGINT) AS fp
        |FROM cp GROUP BY doc_id""".stripMargin) { (s, dir) =>
      // Spark side: the one-pass codegen `rolling_fp` expression — no row
      // explosion, no shuffle, no interpreted per-character lambda (the
      // oracle states the equivalent explode+sum; integer sums are
      // order-free so the two agree exactly)
      graft.expr.GraftFunctions.register(s)
      Tables.documents(s, dir).select(col("doc_id"),
        expr("rolling_fp(text)").as("fp"))
    },

    // -- token-set Jaccard near-duplicates over the PRUNED vocabulary:
    //    tokens with document frequency > DfMax are stop-tokens — they
    //    carry no dedup signal and make the postings self-join quadratic
    //    in the hottest bucket (one stop-token at 100 TB = an (N·df)²
    //    blowup). Dropping them BEFORE the join (standard blocking) bounds
    //    every posting list at DfMax entries, so candidate volume is
    //    ≤ df·DfMax per token. Jaccard is then computed self-consistently
    //    over the pruned token sets.
    Q("t05_token_jaccard",
      s"""WITH toks0 AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < $T05MaxDoc),
        |df AS (SELECT tok, COUNT(*) AS df FROM toks0 GROUP BY tok),
        |toks AS (
        |  SELECT toks0.doc_id, toks0.tok
        |  FROM toks0 JOIN df ON toks0.tok = df.tok WHERE df.df <= $T05DfMax),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, c, sa.n AS n_a, sb.n AS n_b,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 25e-2""".stripMargin) { (s, dir) =>
      val toks0 = Tables.documents(s, dir).filter(col("doc_id") < T05MaxDoc)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val dfT = toks0.groupBy("tok").agg(count(lit(1)).as("df"))
        .filter(col("df") <= T05DfMax).select("tok")
      val toks = toks0.join(dfT, "tok").select("doc_id", "tok")
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = toks.select(col("doc_id").as("id_a"), col("tok"))
      val b = toks.select(col("doc_id").as("id_b"), col("tok").as("tok_b"))
      val pairs = a.join(b, col("tok") === col("tok_b") && col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      val sa = sizes.select(col("doc_id").as("ida2"), col("n").as("n_a"))
      val sb = sizes.select(col("doc_id").as("idb2"), col("n").as("n_b"))
      val jac = col("c").cast("double") / (col("n_a") + col("n_b") - col("c"))
      pairs.join(sa, col("id_a") === col("ida2"))
        .join(sb, col("id_b") === col("idb2"))
        .select(col("id_a"), col("id_b"), col("c"), col("n_a"), col("n_b"),
          jac.as("jaccard"))
        .filter(col("jaccard") >= 25e-2)
    },

    // -- character n-gram (5-shingle) Jaccard near-duplicates: the
    //    char-level sibling of t05. Shingles keep token ORDER information,
    //    so this catches rewordings token-set Jaccard inflates (shared
    //    vocabulary, different sentences) and survives whitespace/
    //    punctuation drift that breaks token equality. Same scale shape as
    //    t05: DISTINCT doc shingles -> df-threshold stop-shingle blocking
    //    (every posting list bounded at DfMax entries BEFORE the
    //    self-join) -> postings equi-join -> exact integer intersection
    //    counts; Jaccard is one exact double division at the end. The
    //    c >= 10 evidence floor drops tiny-surviving-set artifacts (after
    //    aggressive pruning two docs can share their only 1-2 rare
    //    shingles, a spurious jaccard of 1.0).
    Q("t12_ngram_jaccard",
      s"""WITH sh0 AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 5) AS sh
        |  FROM (SELECT doc_id, text,
        |          unnest(generate_series(1, length(text) - 4)) AS i
        |        FROM documents
        |        WHERE doc_id < $T05MaxDoc AND length(text) >= 5)),
        |dfs AS (SELECT sh, COUNT(*) AS df FROM sh0 GROUP BY sh),
        |shp AS (
        |  SELECT sh0.doc_id, sh0.sh
        |  FROM sh0 JOIN dfs ON sh0.sh = dfs.sh WHERE dfs.df <= $T05DfMax),
        |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shp GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM shp a JOIN shp b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, c, sa.n AS n_a, sb.n AS n_b,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM pairs
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE c >= 10 AND CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 1e-1""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val sh0 = Tables.documents(s, dir)
        .filter(col("doc_id") < T05MaxDoc && length(col("text")) >= 5)
        .select(col("doc_id"),
          explode(expr("char_grams(text, 5)"))
            .as("sh"))
        .distinct()
      val dfS = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") <= T05DfMax).select("sh")
      val shp = sh0.join(dfS, "sh").select("doc_id", "sh")
      val sizes = shp.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val a = shp.select(col("doc_id").as("id_a"), col("sh"))
      val b = shp.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      val pairs = a.join(b, col("sh") === col("sh_b") && col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      val sa = sizes.select(col("doc_id").as("ida2"), col("n").as("n_a"))
      val sb = sizes.select(col("doc_id").as("idb2"), col("n").as("n_b"))
      val jac = col("c").cast("double") / (col("n_a") + col("n_b") - col("c"))
      pairs.join(sa, col("id_a") === col("ida2"))
        .join(sb, col("id_b") === col("idb2"))
        .select(col("id_a"), col("id_b"), col("c"), col("n_a"), col("n_b"),
          jac.as("jaccard"))
        .filter(col("c") >= 10 && col("jaccard") >= 1e-1)
    },

    // -- eval DECONTAMINATION: flag evaluation documents whose word
    //    5-grams leak from the training split — the standard
    //    train/test-overlap hygiene pass of an LLM data pipeline. Eval =
    //    sources src0/src1; overlap = distinct eval grams present in ANY
    //    train doc; contaminated at ≥ 3 shared grams. One gram-keyed
    //    equi-join (the postings shape); at production scale the train
    //    side compresses to a bloom/minhash filter, the join key and
    //    per-doc rollup are unchanged.
    Q("t19_decontamination",
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_slice(tk, i, i + 4), ' ') AS gram
        |  FROM (SELECT doc_id, source, tk,
        |          unnest(generate_series(1, len(tk) - 4)) AS i
        |        FROM toks WHERE len(tk) >= 5)),
        |ev AS (SELECT DISTINCT doc_id, gram FROM g
        |       WHERE source IN ('src0', 'src1')),
        |tr AS (SELECT DISTINCT gram FROM g
        |       WHERE source NOT IN ('src0', 'src1')),
        |ov AS (SELECT ev.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |       FROM ev JOIN tr ON ev.gram = tr.gram GROUP BY ev.doc_id),
        |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
        |        FROM ev GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_grams,
        |  CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  COALESCE(ov.n_overlap, 0) >= 3 AS contaminated
        |FROM tot LEFT JOIN ov ON tot.doc_id = ov.doc_id""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val g = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 5)
        .select(col("doc_id"), col("source"), explode(expr("word_grams(tk, 5)"))
          .as("gram"))
        // the gram relation feeds FOUR consumers (eval join side, train
        // join side, bloom build, per-doc totals) — materialize the
        // explode once instead of re-tokenizing the corpus per consumer
        .persist()
      val isEval = col("source").isin("src0", "src1")
      val ev = g.filter(isEval).select("doc_id", "gram").distinct()
      val tr = g.filter(!isEval).select("gram").distinct()
      // TRAIN-SIDE SKETCH: the train grams compress to a bloom filter
      // built by ONE distributed aggregate (Spark's own runtime-filter
      // shape: bloom_filter_agg in a scalar subquery, its one-row result
      // inlined before the main query runs). The eval side is
      // pre-filtered through it, so the exact gram join — kept below,
      // unchanged, because a bloom has NO false negatives — shuffles
      // only true overlaps plus the ~1% false-positive residue instead
      // of every eval gram. At model scale the sketch is
      // bits/8 bytes regardless of train-corpus size (capped at Spark's
      // 4M-item/64Mbit runtime-filter ceiling here; a 100 TB run raises
      // spark.sql.optimizer.runtime.bloomFilter.* instead of the cap).
      // GraftExpressionsSpec pins the false-positive bound; the oracle
      // states the exact join only.
      graft.expr.GraftFunctions.register(s)
      val nDocs = Tables.documents(s, dir).count()
      val items = math.min(math.max(nDocs * 128L, 1024L), 4000000L)
      val bits = math.min(items * 10L, 67108864L)
      ev.createOrReplaceTempView("t19_ev_grams")
      // the bloom build reads the RAW train gram stream, not the
      // distinct()ed join side: bloom insertion is idempotent, so the bit
      // pattern is identical, and the build pass carries only the
      // bitmap-sized aggregate state — zero shuffle of the gram table.
      // Only the exact join's build side pays the distinct shuffle.
      g.filter(!isEval).select("gram").createOrReplaceTempView("t19_tr_grams")
      val evPref = s.sql(
        s"""SELECT doc_id, gram FROM t19_ev_grams
           |WHERE bloom_might_contain(
           |  (SELECT bloom_filter_agg(xxhash64(gram), ${items}L, ${bits}L)
           |   FROM t19_tr_grams),
           |  xxhash64(gram))""".stripMargin)
      val ov = evPref.join(tr, "gram")
        .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      val tot = ev.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      tot.join(ov, Seq("doc_id"), "left").select(
        col("doc_id"), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= 3).as("contaminated"))
    },

    // -- SimHash (8-bit) from integer token hashes: per-token positional
    //    char hash mod 4096, bitwise majority vote over distinct tokens.
    Q("t06_simhash",
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tc AS (
         |  SELECT doc_id, tok, unnest(generate_series(1, length(tok))) AS i
         |  FROM toks),
         |th AS (
         |  SELECT doc_id, tok,
         |    CAST(SUM(CAST(ascii(substr(tok, CAST(i AS INT), 1)) AS BIGINT)
         |          * ((i * 37) % 64 + 1)) % 4096 AS BIGINT) AS h
         |  FROM tc GROUP BY doc_id, tok),
         |votes AS (
         |  SELECT doc_id,
         |    ${(0 until 8).map(b =>
                s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b")
                .mkString(",\n    ")}
         |  FROM th GROUP BY doc_id)
         |SELECT doc_id,
         |  CAST(${(0 until 8).map(b =>
              s"(CASE WHEN v$b > 0 THEN ${1 << b} ELSE 0 END)").mkString(" + ")}
         |    AS BIGINT) AS simhash
         |FROM votes""".stripMargin) { (s, dir) =>
      // a document's tokens all live in its own row, so the distinct-token
      // vote is a zero-shuffle projection: one codegen pass per document
      // (expr/GraftExpressions.SimHash8). The earlier declarative form
      // shuffled the corpus-tokens relation twice (global (doc, tok)
      // distinct + vote re-group) and walked an interpreted
      // aggregate(sequence…) lambda per token.
      graft.expr.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .select(col("doc_id"), expr("simhash8(text)").as("simhash"))
    },

    // -- MinHash signatures: 4 permutations simulated by seeded md5 over
    //    the distinct token set (min of a keyed hash ≙ minhash).
    Q("t07_minhash_signatures",
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  MIN(md5('a' || tok)) AS h1, MIN(md5('b' || tok)) AS h2,
        |  MIN(md5('c' || tok)) AS h3, MIN(md5('d' || tok)) AS h4
        |FROM toks GROUP BY doc_id""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
        .groupBy("doc_id")
        .agg(
          min(md5(concat(lit("a"), col("tok")))).as("h1"),
          min(md5(concat(lit("b"), col("tok")))).as("h2"),
          min(md5(concat(lit("c"), col("tok")))).as("h3"),
          min(md5(concat(lit("d"), col("tok")))).as("h4"))
    },

    // -- MinHash LSH: band (h1, h2) -> bucket join -> near-dup candidate
    //    pairs (bounded to doc_id < 256 to keep the verify output small;
    //    at scale the band width bounds bucket sizes instead).
    Q("t08_minhash_lsh_pairs",
      s"""WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < $T08MaxDoc),
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5('a' || tok)) AS h1, MIN(md5('b' || tok)) AS h2,
        |    MIN(md5('c' || tok)) AS h3, MIN(md5('d' || tok)) AS h4
        |  FROM toks GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  (CASE WHEN a.h3 = b.h3 THEN 1 ELSE 0 END
        |   + CASE WHEN a.h4 = b.h4 THEN 1 ELSE 0 END) AS extra_bands
        |FROM sig a JOIN sig b
        |  ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir).filter(col("doc_id") < T08MaxDoc)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val sig = toks.groupBy("doc_id").agg(
        min(md5(concat(lit("a"), col("tok")))).as("h1"),
        min(md5(concat(lit("b"), col("tok")))).as("h2"),
        min(md5(concat(lit("c"), col("tok")))).as("h3"),
        min(md5(concat(lit("d"), col("tok")))).as("h4"))
      val a = sig.select(col("doc_id").as("id_a"), col("h1"), col("h2"),
        col("h3").as("a3"), col("h4").as("a4"))
      val b = sig.select(col("doc_id").as("id_b"), col("h1").as("b1"),
        col("h2").as("b2"), col("h3").as("b3"), col("h4").as("b4"))
      a.join(b, col("h1") === col("b1") && col("h2") === col("b2")
          && col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          (when(col("a3") === col("b3"), 1).otherwise(0)
            + when(col("a4") === col("b4"), 1).otherwise(0)).as("extra_bands"))
    },

    // -- brute-force cosine top-k (k=5) for 8 query vectors: the ANN
    //    correctness baseline. Integer dot products + norms; one division
    //    and two sqrts after aggregation.
    Q("e01_knn_bruteforce",
      s"""WITH qe AS (${qExplodeSql("qid", "WHERE vec_id < 8")}),
         |ce AS (${qExplodeSql("cid", "")}),
         |qn AS (SELECT qid, SUM(qv*qv) AS qid_n2 FROM qe GROUP BY qid),
         |cn AS (SELECT cid, SUM(qv*qv) AS cid_n2 FROM ce GROUP BY cid),
         |dot AS (
         |  SELECT qe.qid, ce.cid, CAST(SUM(qe.qv * ce.qv) AS BIGINT) AS d
         |  FROM qe JOIN ce ON qe.pos = ce.pos
         |  GROUP BY qe.qid, ce.cid),
         |cos AS (
         |  SELECT dot.qid, dot.cid,
         |    CAST(dot.d AS DOUBLE)
         |      / (sqrt(CAST(qn.qid_n2 AS DOUBLE)) * sqrt(CAST(cn.cid_n2 AS DOUBLE))) AS cosine
         |  FROM dot JOIN qn ON dot.qid = qn.qid JOIN cn ON dot.cid = cn.cid
         |  WHERE dot.qid <> dot.cid)
         |SELECT qid, cid, cosine, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank
         |  FROM cos) WHERE rank <= 5""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      // Spark side: quantize + dot product as higher-order expressions
      // over the raw array columns — broadcast nested-loop of 8 query
      // vectors against the corpus scan, no 64x explode and no position
      // join (the oracle states the exploded equivalent; integer sums are
      // order-free so they agree exactly)
      val emb = Tables.embeddings(s, dir)
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val n2 = expr("qdot(qv, qv)")
      val corpus = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("cid_n2", n2)
      val queries = broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), qCol.as("qqv"))
        .withColumn("qid_n2", expr("qdot(qqv, qqv)")))
      val dot = expr(
        "qdot(qqv, qv)")
      val cos = corpus.crossJoin(queries)
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          (dot.cast("double") /
            (sqrt(col("qid_n2").cast("double")) * sqrt(col("cid_n2").cast("double"))))
            .as("cosine"))
      cos.withColumn("rank",
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("cosine").desc, col("cid"))).cast("long"))
        .filter(col("rank") <= 5)
        .select("qid", "cid", "cosine", "rank")
    },

    // -- LSH-bucketed ANN (the scale path): nbits deterministic integer
    //    hyperplanes -> an nbits-wide bucket code, with nbits derived
    //    from the corpus count (2^nbits ≥ 8n, floored at 16) so bucket
    //    occupancy stays bounded at ANY corpus size — a fixed width would
    //    degrade the bucketed join quadratically past ~65k vectors. Plus
    //    MULTIPROBE for recall: each query probes every bucket within
    //    Hamming distance 2 of its own code (1 + nbits + C(nbits,2)
    //    probes — 137 at the width-16 floor; probe count grows only
    //    ~log²n). The corpus side is a single equi-join against the
    //    broadcast probe list — never an in-bucket cross product over a
    //    fat bucket.
    Q("e02_lsh_ann",
      s"""WITH ce AS (${qExplodeSql("cid", "")}),
         |proj AS (
         |  SELECT cid, j,
         |    SUM(qv * ((pos * (2654435761 + j * 40503)) % 2048 - 1024)) AS s
         |  FROM ce, $lshJsSql
         |  GROUP BY cid, j),
         |bk AS (
         |  SELECT cid, CAST(SUM(CASE WHEN s > 0
         |    THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS code
         |  FROM proj GROUP BY cid),
         |n2t AS (SELECT cid, SUM(qv*qv) AS n2 FROM ce GROUP BY cid),
         |cand AS (
         |  SELECT q.cid AS qid, c.cid AS cid
         |  FROM bk q JOIN bk c
         |    ON q.cid < 8 AND q.cid <> c.cid
         |    AND bit_count(xor(q.code, c.code)) <= 2),
         |dot AS (
         |  SELECT cand.qid, cand.cid, CAST(SUM(ea.qv * eb.qv) AS BIGINT) AS d
         |  FROM cand
         |    JOIN ce ea ON ea.cid = cand.qid
         |    JOIN ce eb ON eb.cid = cand.cid AND ea.pos = eb.pos
         |  GROUP BY cand.qid, cand.cid),
         |cos AS (
         |  SELECT dot.qid, dot.cid,
         |    CAST(dot.d AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         |  FROM dot JOIN n2t na ON dot.qid = na.cid JOIN n2t nb ON dot.cid = nb.cid)
         |SELECT qid, cid, cosine, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank
         |  FROM cos) WHERE rank <= 3""".stripMargin) { (s, dir) =>
      // signatures via the one-pass codegen `lsh_code` expression (all
      // nbits hyperplane projections in a single array walk inside
      // whole-stage codegen — the former declarative 16-pass nested
      // aggregate was interpreted per row and dominated the bench); dots
      // as higher-order expressions over the raw array columns — no
      // explode, no position join (the codegen i + 1 matches the oracle's
      // 1-based generate_series positions; integer sums are order-free so
      // the oracle is unchanged)
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val nbits = lshBits(emb.count())
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val bk = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("n2", expr("qdot(qv, qv)"))
        .withColumn("code", expr(s"lsh_code(qv, $nbits)"))
      // Hamming<=2 probe masks: 1 + nbits + nbits(nbits-1)/2 (137 at the
      // width-16 floor), exploded on the (tiny) query side only
      val maskDf = { import s.implicits._; hammingMasks(nbits, 2).toDF("mask") }
      val qb = broadcast(bk.filter(col("cid") < 8)
        .select(col("cid").as("qid"), col("code").as("qcode"),
          col("n2").as("q_n2"), col("qv").as("qqv"))
        .crossJoin(maskDf)
        .withColumn("probe", expr("qcode ^ mask")).drop("mask", "qcode"))
      val cand = bk.join(qb, col("code") === col("probe"))
        .filter(col("qid") =!= col("cid"))
      val dot = expr(
        "qdot(qqv, qv)")
      val cos = cand.select(col("qid"), col("cid"),
        (dot.cast("double") /
          (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
          .as("cosine"))
      cos.withColumn("rank",
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("cosine").desc, col("cid"))).cast("long"))
        .filter(col("rank") <= 3)
        .select("qid", "cid", "cosine", "rank")
    },

    // -- embedding-cosine near-duplicate detection over the FULL corpus
    //    (the dedup face of e02's ANN): every vector LSH-codes once, each
    //    emits nbits+1 Hamming≤1 probes, and the probe→code equi-join
    //    yields every candidate pair exactly once (the a<b ordering kills
    //    the mirror match); candidates then get the EXACT integer cosine
    //    and a duplicate verdict at τ = 0.5. At 100 TB the probe
    //    explosion is a bounded ×(nbits+1) ~ log n, the code width grows
    //    with the corpus (2^nbits ≥ 8n keeps per-bucket occupancy, hence
    //    candidate pairs per doc, bounded), and the probe→code join keys
    //    on the code — ONE code-keyed shuffle of two linear relations (at test
    //    scale the smaller side broadcasts instead; both plans keep
    //    candidate volume linear in the corpus — the e02 bucket geometry,
    //    whose fixed-vs-scaled width growth BASELINE.md records).
    Q("t10_embed_neardup",
      s"""WITH $neardupCtesSql
         |SELECT dot.cid_a, dot.cid_b,
         |  CAST(dot.d AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine,
         |  CAST(dot.d AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 5e-1 AS is_dup
         |FROM dot JOIN n2t na ON dot.cid_a = na.cid
         |         JOIN n2t nb ON dot.cid_b = nb.cid""".stripMargin) { (s, dir) =>
      neardupPairs(s, dir)
    },

    // -- ANN quality diagnostic: recall@3 of the LSH multiprobe path
    //    (e02) against the exact top-3 (e01) — the measurement a real
    //    pipeline runs before trusting an approximate index. Hashed
    //    surface is counts and a 0..3/3 division (IEEE-exact of small
    //    longs); the cosine orderings feeding the ranks are bit-identical
    //    across engines (exact-integer dots and norms, one sqrt/division
    //    chain — the e01/e02 contract). Scale shape: the exact side is
    //    the brute-force baseline (8 query vectors broadcast), the LSH
    //    side the bucketed path; the final per-query rollup is 8 rows.
    Q("e09_ann_recall",
      s"""WITH qe AS (${qExplodeSql("qid", "WHERE vec_id < 8")}),
         |ce AS (${qExplodeSql("cid", "")}),
         |qn AS (SELECT qid, SUM(qv*qv) AS qid_n2 FROM qe GROUP BY qid),
         |cn AS (SELECT cid, SUM(qv*qv) AS cid_n2 FROM ce GROUP BY cid),
         |dote AS (
         |  SELECT qe.qid, ce.cid, CAST(SUM(qe.qv * ce.qv) AS BIGINT) AS d
         |  FROM qe JOIN ce ON qe.pos = ce.pos
         |  GROUP BY qe.qid, ce.cid),
         |cose AS (
         |  SELECT dote.qid, dote.cid,
         |    CAST(dote.d AS DOUBLE)
         |      / (sqrt(CAST(qn.qid_n2 AS DOUBLE)) * sqrt(CAST(cn.cid_n2 AS DOUBLE))) AS cosine
         |  FROM dote JOIN qn ON dote.qid = qn.qid JOIN cn ON dote.cid = cn.cid
         |  WHERE dote.qid <> dote.cid),
         |ex3 AS (
         |  SELECT qid, cid FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
         |    FROM cose) WHERE rank <= 3),
         |proj AS (
         |  SELECT cid, j,
         |    SUM(qv * ((pos * (2654435761 + j * 40503)) % 2048 - 1024)) AS s
         |  FROM ce, $lshJsSql
         |  GROUP BY cid, j),
         |bk AS (
         |  SELECT cid, CAST(SUM(CASE WHEN s > 0
         |    THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS BIGINT) AS code
         |  FROM proj GROUP BY cid),
         |cand AS (
         |  SELECT q.cid AS qid, c.cid AS cid
         |  FROM bk q JOIN bk c
         |    ON q.cid < 8 AND q.cid <> c.cid
         |    AND bit_count(xor(q.code, c.code)) <= 2),
         |dotl AS (
         |  SELECT cand.qid, cand.cid, CAST(SUM(ea.qv * eb.qv) AS BIGINT) AS d
         |  FROM cand
         |    JOIN ce ea ON ea.cid = cand.qid
         |    JOIN ce eb ON eb.cid = cand.cid AND ea.pos = eb.pos
         |  GROUP BY cand.qid, cand.cid),
         |cosl AS (
         |  SELECT dotl.qid, dotl.cid,
         |    CAST(dotl.d AS DOUBLE)
         |      / (sqrt(CAST(na.cid_n2 AS DOUBLE)) * sqrt(CAST(nb.cid_n2 AS DOUBLE))) AS cosine
         |  FROM dotl JOIN cn na ON dotl.qid = na.cid JOIN cn nb ON dotl.cid = nb.cid),
         |lsh3 AS (
         |  SELECT qid, cid FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
         |    FROM cosl) WHERE rank <= 3)
         |SELECT ex3.qid, CAST(COUNT(lsh3.cid) AS BIGINT) AS n_hit,
         |  COUNT(lsh3.cid) / 3 AS recall
         |FROM ex3 LEFT JOIN lsh3
         |  ON ex3.qid = lsh3.qid AND ex3.cid = lsh3.cid
         |GROUP BY ex3.qid""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val nbits = lshBits(emb.count())
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val bk = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("n2", expr("qdot(qv, qv)"))
        .withColumn("code", expr(s"lsh_code(qv, $nbits)"))
      val queries = broadcast(bk.filter(col("cid") < 8)
        .select(col("cid").as("qid"), col("qv").as("qqv"),
          col("n2").as("q_n2"), col("code").as("qcode")))
      val dot = expr(
        "qdot(qqv, qv)")
      val cosine = (dot.cast("double") /
        (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
      val rk = Window.partitionBy("qid")
        .orderBy(col("cosine").desc, col("cid"))
      val ex3 = bk.crossJoin(queries).filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), cosine.as("cosine"))
        .withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= 3).select("qid", "cid")
      val maskDf = { import s.implicits._; hammingMasks(nbits, 2).toDF("mask") }
      val qb = broadcast(queries.crossJoin(maskDf)
        .withColumn("probe", expr("qcode ^ mask")).drop("mask", "qcode"))
      val lsh3 = bk.join(qb, col("code") === col("probe"))
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), cosine.as("cosine"))
        .withColumn("rank", row_number().over(rk))
        .filter(col("rank") <= 3)
        .select(col("qid").as("lq"), col("cid").as("lc"), lit(1L).as("hit"))
      ex3.join(lsh3,
          col("qid") === col("lq") && col("cid") === col("lc"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          (col("n_hit") / lit(3)).as("recall"))
    },

    // -- MATRYOSHKA TRUNCATION RECALL (Kusupati et al. 2022): rank the
    //    corpus by the PREFIX-16-dim dot product and measure recall@3
    //    against the full-64-dim exact ranking — the measurement run
    //    before truncating an MRL-style embedding column to cut storage
    //    and ANN cost 4×. Same exact-integer machinery as e09 (qdot,
    //    deterministic tiebreaks); the truncated scan reads only the
    //    sliced prefix, which is the point at 100 TB.
    Q("e13_matryoshka_recall",
      s"""WITH qe AS (${qExplodeSql("qid", "WHERE vec_id < 8")}),
         |ce AS (${qExplodeSql("cid", "")}),
         |qn AS (SELECT qid, SUM(qv*qv) AS qid_n2 FROM qe GROUP BY qid),
         |cn AS (SELECT cid, SUM(qv*qv) AS cid_n2 FROM ce GROUP BY cid),
         |qn16 AS (SELECT qid, SUM(qv*qv) AS q16_n2 FROM qe WHERE pos <= 16 GROUP BY qid),
         |cn16 AS (SELECT cid, SUM(qv*qv) AS c16_n2 FROM ce WHERE pos <= 16 GROUP BY cid),
         |dote AS (
         |  SELECT qe.qid, ce.cid, CAST(SUM(qe.qv * ce.qv) AS BIGINT) AS d
         |  FROM qe JOIN ce ON qe.pos = ce.pos
         |  GROUP BY qe.qid, ce.cid),
         |ex3 AS (
         |  SELECT qid, cid FROM (
         |    SELECT dote.qid, dote.cid, ROW_NUMBER() OVER (
         |      PARTITION BY dote.qid ORDER BY CAST(dote.d AS DOUBLE)
         |        / (sqrt(CAST(qn.qid_n2 AS DOUBLE)) * sqrt(CAST(cn.cid_n2 AS DOUBLE)))
         |        DESC, dote.cid) AS rank
         |    FROM dote JOIN qn ON dote.qid = qn.qid JOIN cn ON dote.cid = cn.cid
         |    WHERE dote.qid <> dote.cid) WHERE rank <= 3),
         |dot16 AS (
         |  SELECT qe.qid, ce.cid, CAST(SUM(qe.qv * ce.qv) AS BIGINT) AS d
         |  FROM qe JOIN ce ON qe.pos = ce.pos
         |  WHERE qe.pos <= 16 AND ce.pos <= 16
         |  GROUP BY qe.qid, ce.cid),
         |tr3 AS (
         |  SELECT qid, cid FROM (
         |    SELECT dot16.qid, dot16.cid, ROW_NUMBER() OVER (
         |      PARTITION BY dot16.qid ORDER BY CAST(dot16.d AS DOUBLE)
         |        / (sqrt(CAST(qn16.q16_n2 AS DOUBLE)) * sqrt(CAST(cn16.c16_n2 AS DOUBLE)))
         |        DESC, dot16.cid) AS rank
         |    FROM dot16 JOIN qn16 ON dot16.qid = qn16.qid
         |               JOIN cn16 ON dot16.cid = cn16.cid
         |    WHERE dot16.qid <> dot16.cid) WHERE rank <= 3)
         |SELECT ex3.qid, CAST(COUNT(tr3.cid) AS BIGINT) AS n_hit,
         |  COUNT(tr3.cid) / 3 AS recall
         |FROM ex3 LEFT JOIN tr3
         |  ON ex3.qid = tr3.qid AND ex3.cid = tr3.cid
         |GROUP BY ex3.qid""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val bk = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("tv", expr("slice(qv, 1, 16)"))
        .withColumn("n2", expr("qdot(qv, qv)"))
        .withColumn("n2_16", expr("qdot(tv, tv)"))
      val queries = broadcast(bk.filter(col("cid") < 8)
        .select(col("cid").as("qid"), col("qv").as("qqv"), col("tv").as("qtv"),
          col("n2").as("q_n2"), col("n2_16").as("q_n2_16")))
      val rkF = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      val joined = bk.crossJoin(queries).filter(col("qid") =!= col("cid"))
      val ex3 = joined
        .select(col("qid"), col("cid"),
          (expr("qdot(qqv, qv)").cast("double") /
            (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
            .as("cosine"))
        .withColumn("rank", row_number().over(rkF))
        .filter(col("rank") <= 3).select("qid", "cid")
      val tr3 = joined
        .select(col("qid"), col("cid"),
          (expr("qdot(qtv, tv)").cast("double") /
            (sqrt(col("q_n2_16").cast("double")) * sqrt(col("n2_16").cast("double"))))
            .as("cosine"))
        .withColumn("rank", row_number().over(rkF))
        .filter(col("rank") <= 3)
        .select(col("qid").as("tq"), col("cid").as("tc"), lit(1L).as("hit"))
      ex3.join(tr3,
          col("qid") === col("tq") && col("cid") === col("tc"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          (col("n_hit") / lit(3)).as("recall"))
    },

    // -- SQ8 scalar-quantization recall (the codebook-free compression
    //    next to PQ/e07: each vector stores int8 codes + one max-abs
    //    scale — 4x smaller than float32; per-vector scales CANCEL in
    //    cosine, so the approximate ranking is the cosine of quantized
    //    directions): recall@3 of SQ8 ranking vs the exact top-3 — the
    //    measurement run before trading memory for recall. Determinism:
    //    codes are round() of bit-identical IEEE quotients of exact
    //    integers (the qquant class), dots/norms exact ints, one
    //    sqrt/division chain for ordering, hashed surface pure counts.
    //    Scale shape identical to e01/e13: 8 broadcast query vectors
    //    against the corpus scan, one per-query top-k window.
    Q("e15_sq8_recall",
      s"""WITH qe AS (${qExplodeSql("qid", "WHERE vec_id < 8")}),
         |ce AS (${qExplodeSql("cid", "")}),
         |qn AS (SELECT qid, SUM(qv*qv) AS qid_n2 FROM qe GROUP BY qid),
         |cn AS (SELECT cid, SUM(qv*qv) AS cid_n2 FROM ce GROUP BY cid),
         |dote AS (
         |  SELECT qe.qid, ce.cid, CAST(SUM(qe.qv * ce.qv) AS BIGINT) AS d
         |  FROM qe JOIN ce ON qe.pos = ce.pos
         |  GROUP BY qe.qid, ce.cid),
         |ex3 AS (
         |  SELECT qid, cid FROM (
         |    SELECT dote.qid, dote.cid, ROW_NUMBER() OVER (
         |      PARTITION BY dote.qid ORDER BY CAST(dote.d AS DOUBLE)
         |        / (sqrt(CAST(qn.qid_n2 AS DOUBLE)) * sqrt(CAST(cn.cid_n2 AS DOUBLE)))
         |        DESC, dote.cid) AS rank
         |    FROM dote JOIN qn ON dote.qid = qn.qid JOIN cn ON dote.cid = cn.cid
         |    WHERE dote.qid <> dote.cid) WHERE rank <= 3),
         |cmx AS (SELECT cid, MAX(ABS(qv)) AS mx FROM ce GROUP BY cid),
         |cq AS (
         |  SELECT ce.cid, ce.pos,
         |    CASE WHEN cmx.mx = 0 THEN 0
         |         ELSE CAST(ROUND(CAST(ce.qv * 127 AS DOUBLE)
         |                         / CAST(cmx.mx AS DOUBLE)) AS BIGINT)
         |    END AS cv
         |  FROM ce JOIN cmx ON ce.cid = cmx.cid),
         |cns AS (SELECT cid, SUM(cv*cv) AS s_n2 FROM cq GROUP BY cid),
         |dots AS (
         |  SELECT a.cid AS qid, b.cid AS cid, CAST(SUM(a.cv * b.cv) AS BIGINT) AS d
         |  FROM cq a JOIN cq b ON a.pos = b.pos
         |  WHERE a.cid < 8
         |  GROUP BY a.cid, b.cid),
         |sq3 AS (
         |  SELECT qid, cid FROM (
         |    SELECT dots.qid, dots.cid, ROW_NUMBER() OVER (
         |      PARTITION BY dots.qid ORDER BY CAST(dots.d AS DOUBLE)
         |        / (sqrt(CAST(na.s_n2 AS DOUBLE)) * sqrt(CAST(nb.s_n2 AS DOUBLE)))
         |        DESC, dots.cid) AS rank
         |    FROM dots JOIN cns na ON dots.qid = na.cid
         |              JOIN cns nb ON dots.cid = nb.cid
         |    WHERE dots.qid <> dots.cid) WHERE rank <= 3)
         |SELECT ex3.qid, CAST(COUNT(sq3.cid) AS BIGINT) AS n_hit,
         |  COUNT(sq3.cid) / 3 AS recall
         |FROM ex3 LEFT JOIN sq3
         |  ON ex3.qid = sq3.qid AND ex3.cid = sq3.cid
         |GROUP BY ex3.qid""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val bk = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("mx", greatest(expr("array_max(qv)"),
          -expr("array_min(qv)")))
        .withColumn("sq", expr("sq8(qv, mx)"))
        .withColumn("n2", expr("qdot(qv, qv)"))
        .withColumn("s_n2", expr("qdot(sq, sq)"))
      val queries = broadcast(bk.filter(col("cid") < 8)
        .select(col("cid").as("qid"), col("qv").as("qqv"), col("sq").as("qsq"),
          col("n2").as("q_n2"), col("s_n2").as("q_s_n2")))
      val rkF = Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))
      val joined = bk.crossJoin(queries).filter(col("qid") =!= col("cid"))
      val ex3 = joined
        .select(col("qid"), col("cid"),
          (expr("qdot(qqv, qv)").cast("double") /
            (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
            .as("cosine"))
        .withColumn("rank", row_number().over(rkF))
        .filter(col("rank") <= 3).select("qid", "cid")
      val sq3 = joined
        .select(col("qid"), col("cid"),
          (expr("qdot(qsq, sq)").cast("double") /
            (sqrt(col("q_s_n2").cast("double")) * sqrt(col("s_n2").cast("double"))))
            .as("cosine"))
        .withColumn("rank", row_number().over(rkF))
        .filter(col("rank") <= 3)
        .select(col("qid").as("tq"), col("cid").as("tc"), lit(1L).as("hit"))
      ex3.join(sq3,
          col("qid") === col("tq") && col("cid") === col("tc"), "left")
        .groupBy("qid")
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          (col("n_hit") / lit(3)).as("recall"))
    },

    // -- silhouette clustering-quality diagnostic (the "are these labels
    //    real clusters" measurement run before trusting a partitioned
    //    corpus): for a pinned 64-vector sample, a(i) = mean squared L2
    //    distance to its own label, b(i) = min over other labels of the
    //    mean squared distance, s(i) = (b−a)/max(a,b). The Spark plan
    //    NEVER forms pairs — Σ_{j∈L}‖x_i−x_j‖² expands exactly to
    //    cnt_L·‖x_i‖² + Σ_{j∈L}‖x_j‖² − 2·x_i·S_L over the integer-
    //    quantized vectors (1e3 here, so even sf1x per-label sums sit
    //    ~6 decades under 2⁶³), so the per-label state is labels×dims
    //    sums from ONE corpus rollup and the sample side is a broadcast
    //    join — while the ORACLE computes the naive sample×corpus
    //    pairwise sums, making the hash gate a proof that the algebraic
    //    expansion is exact. Means are single IEEE divisions of exact
    //    integers; min/greatest/subtract stay in class (a).
    Q("e10_silhouette",
      """WITH e AS (
        |  SELECT vec_id, label,
        |    unnest(generate_series(1, len(embedding))) AS pos,
        |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e3) AS BIGINT)
        |      AS qv
        |  FROM embeddings),
        |sm AS (SELECT * FROM e WHERE vec_id < 64),
        |pair AS (
        |  SELECT sm.vec_id AS i, e.vec_id AS j, e.label AS lab,
        |    SUM((sm.qv - e.qv) * (sm.qv - e.qv)) AS d2
        |  FROM sm JOIN e ON e.pos = sm.pos
        |  GROUP BY sm.vec_id, e.vec_id, e.label),
        |agg AS (
        |  SELECT i, lab, CAST(SUM(d2) AS BIGINT) AS sd2, COUNT(*) AS cnt
        |  FROM pair GROUP BY i, lab),
        |own AS (
        |  SELECT vec_id AS i, label AS own FROM embeddings WHERE vec_id < 64),
        |ab AS (
        |  SELECT own.i, own.own,
        |    MAX(CASE WHEN agg.lab = own.own
        |        THEN CAST(agg.sd2 AS DOUBLE) / (agg.cnt - 1) END) AS a_mean,
        |    MIN(CASE WHEN agg.lab <> own.own
        |        THEN CAST(agg.sd2 AS DOUBLE) / agg.cnt END) AS b_mean
        |  FROM own JOIN agg ON agg.i = own.i
        |  GROUP BY own.i, own.own)
        |SELECT i AS vec_id, CAST(own AS BIGINT) AS label, a_mean, b_mean,
        |  (b_mean - a_mean) / GREATEST(a_mean, b_mean) AS silhouette
        |FROM ab""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val e = emb.select(col("vec_id"), col("label"),
          posexplode(col("embedding")))
        .select(col("vec_id"), col("label"),
          (col("pos") + 1).cast("long").as("pos"),
          round(col("col").cast("double") * 1e3).cast("long").as("qv"))
      // per-label sketch: counts, Σ‖x‖², and the component sums S_L —
      // ONE map-side-combined corpus rollup, labels×dims rows
      val cnts = emb.groupBy(col("label").as("lab"))
        .agg(count(lit(1)).as("cnt"))
      val n2l = e.groupBy(col("label").as("lab"))
        .agg(sum(col("qv") * col("qv")).as("n2l"))
      val sums = e.groupBy(col("label").as("lab"), col("pos"))
        .agg(sum(col("qv")).as("sv"))
      // sample side: 64 vectors, broadcast everywhere
      val sm = e.filter(col("vec_id") < 64)
      val n2i = sm.groupBy("vec_id").agg(sum(col("qv") * col("qv")).as("n2i"))
      val dots = sm.join(sums, Seq("pos"))
        .groupBy("vec_id", "lab").agg(sum(col("qv") * col("sv")).as("dt"))
      val sd2 = dots.join(broadcast(cnts), Seq("lab"))
        .join(broadcast(n2l), Seq("lab"))
        .join(broadcast(n2i), Seq("vec_id"))
        .select(col("vec_id"), col("lab"), col("cnt"),
          (col("cnt") * col("n2i") + col("n2l") - lit(2) * col("dt"))
            .as("sd2"))
      val own = emb.filter(col("vec_id") < 64)
        .select(col("vec_id"), col("label").as("own"))
      val ab = sd2.join(broadcast(own), Seq("vec_id"))
        .groupBy("vec_id", "own")
        .agg(
          max(when(col("lab") === col("own"),
            col("sd2").cast("double") / (col("cnt") - 1))).as("a_mean"),
          min(when(col("lab") =!= col("own"),
            col("sd2").cast("double") / col("cnt"))).as("b_mean"))
      ab.select(col("vec_id"), col("own").cast("long").as("label"),
        col("a_mean"), col("b_mean"),
        ((col("b_mean") - col("a_mean")) /
          greatest(col("a_mean"), col("b_mean"))).as("silhouette"))
    },

    // -- duplicate-CLUSTER assignment: the step between t10's pairs and a
    //    dedup keep-list. Connected components over the near-dup pair
    //    graph via FOUR unrolled rounds of min-label propagation (the
    //    standard distributed CC idiom: per round, every node takes the
    //    min label among itself and its neighbours — one edge join + one
    //    grouped min, both keyed shuffles of linear relations; diameter>16
    //    chains would need log-rounds pointer doubling, overkill for
    //    near-dup clusters which are cliques-with-fringe). Both engines
    //    run the SAME fixed 4 rounds over integer labels, so the result
    //    is hash-exact even where unconverged. Output: every corpus
    //    vector with its cluster representative (min cid reachable ≤ 4
    //    hops), the cluster size, and whether it survives dedup (keep ⇔
    //    it IS the representative).
    Q("t11_dup_clusters", {
      def propRound(prev: String, next: String): String =
        // MATERIALIZED is load-bearing: each level references the previous
        // one TWICE (n + l); inlined, the 4 rounds recompute the whole
        // neardup pipeline 2^4 times — the 50x gate's 102 GB oracle hang
        s"""$next AS MATERIALIZED (
           |  SELECT n.cid, LEAST(n.lbl, COALESCE(MIN(l.lbl), n.lbl)) AS lbl
           |  FROM $prev n
           |    LEFT JOIN sym e ON e.u = n.cid
           |    LEFT JOIN $prev l ON l.cid = e.v
           |  GROUP BY n.cid, n.lbl)""".stripMargin
      s"""WITH $neardupCtesSql,
         |dup AS MATERIALIZED (
         |  SELECT dot.cid_a, dot.cid_b
         |  FROM dot JOIN n2t na ON dot.cid_a = na.cid
         |           JOIN n2t nb ON dot.cid_b = nb.cid
         |  WHERE CAST(dot.d AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 5e-1),
         |sym AS MATERIALIZED (SELECT cid_a AS u, cid_b AS v FROM dup
         |        UNION ALL SELECT cid_b AS u, cid_a AS v FROM dup),
         |l0 AS MATERIALIZED (SELECT vec_id AS cid, vec_id AS lbl FROM embeddings),
         |${propRound("l0", "l1")},
         |${propRound("l1", "l2")},
         |${propRound("l2", "l3")},
         |${propRound("l3", "l4")}
         |SELECT cid, lbl AS cluster_id,
         |  CAST(COUNT(*) OVER (PARTITION BY lbl) AS BIGINT) AS cluster_size,
         |  cid = lbl AS keep
         |FROM l4""".stripMargin
    }) { (s, dir) =>
      import graft.operators.ConnectedComponents
      val dup = neardupPairs(s, dir).filter(col("is_dup"))
        .select("cid_a", "cid_b")
      val lbl = ConnectedComponents.labelPropagation(
        Tables.embeddings(s, dir).select(col("vec_id")),
        ConnectedComponents.symmetrize(dup), rounds = 4)
      import org.apache.spark.sql.expressions.Window
      lbl.select(col("cid"), col("lbl").as("cluster_id"),
        count(lit(1)).over(Window.partitionBy(col("lbl")))
          .as("cluster_size"),
        (col("cid") === col("lbl")).as("keep"))
    },

    // -- TRIANGLE COUNT on the near-dup graph — the clustering-coefficient
    //    diagnostic that separates clique-like duplicate clusters (high
    //    triangle density → true dup groups) from chain artifacts of LSH
    //    banding. Edges are the t10 candidate pairs at the looser
    //    SIMILARITY-GRAPH threshold cos >= 0.1 (the dup verdict's 0.5
    //    leaves the graph nearly empty at these SFs; the diagnostic wants
    //    the neighborhood structure), cid_a < cid_b already oriented;
    //    triangles are the canonical a<b<c three-way self-join
    //    on the BOUNDED edge set (dup pairs, orders of magnitude smaller
    //    than the corpus — the join never touches raw vectors). Output:
    //    total triangles, edges, and wedge count (paths of length 2) as
    //    one hashed integer row; global clustering = 3·tri/wedges stays
    //    derivable and exact.
    Q("t43_dup_triangles", {
      s"""WITH $neardupCtesSql,
         |dup AS MATERIALIZED (
         |  SELECT dot.cid_a AS u, dot.cid_b AS v
         |  FROM dot JOIN n2t na ON dot.cid_a = na.cid
         |           JOIN n2t nb ON dot.cid_b = nb.cid
         |  WHERE CAST(dot.d AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 1e-1),
         |tri AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
         |  FROM dup e1 JOIN dup e2 ON e2.u = e1.v
         |              JOIN dup e3 ON e3.u = e1.u AND e3.v = e2.v),
         |sym AS (SELECT u, v FROM dup UNION ALL SELECT v AS u, u AS v FROM dup),
         |wed AS (
         |  SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedge
         |  FROM (SELECT u, COUNT(*) AS d FROM sym GROUP BY u))
         |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dup) AS n_edges,
         |  tri.n_tri, wed.n_wedge
         |FROM tri, wed""".stripMargin
    }) { (s, dir) =>
      val dup = neardupPairs(s, dir).filter(col("cosine") >= 1e-1)
        .select(col("cid_a").as("u"), col("cid_b").as("v")).persist()
      val e1 = dup
      val e2 = dup.select(col("u").as("b"), col("v").as("c"))
      val e3 = dup.select(col("u").as("a2"), col("v").as("c2"))
      val tri = e1.join(e2, col("v") === col("b"))
        .join(e3, col("u") === col("a2") && col("c") === col("c2"))
        .agg(count(lit(1)).as("n_tri"))
      val sym = dup.unionAll(dup.select(col("v").as("u"), col("u").as("v")))
      val wed = sym.groupBy("u").agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
          .cast("long").as("n_wedge"))
      val ne = dup.agg(count(lit(1)).as("n_edges"))
      ne.crossJoin(tri).crossJoin(wed)
        .select(col("n_edges"), col("n_tri"), col("n_wedge"))
    },

    // -- TRIANGLE CENSUS — the production-shaped t43 (round 12, VERDICT
    //    item 3). t43's exact enumeration is edge-join-cubic in family
    //    size: on a corpus with adversarial k-clone families the triangle
    //    MASS itself is Σ C(k,3) — the 222× wall at the 100× replica was
    //    proven input, not plan, but an organic 100 TB corpus with the
    //    same clone structure hits the same k³ wall. The census bounds
    //    the diagnostic BY DESIGN: families come from the t11 rule
    //    (4-round min-label propagation over the same 0.1-threshold
    //    similarity graph), each family reports size k and internal edge
    //    count e, and triangles are derived in CLOSED FORM where they are
    //    derivable — a family with e = C(k,2) is a clique and contributes
    //    exactly C(k,3). Families that are NOT cliques are surfaced
    //    LOUDLY, never silently approximated: residual_families /
    //    residual_edges say exactly how much graph the closed form did
    //    not cover (run t43 on that residual subgraph if exact counts are
    //    needed), and cross_edges counts edges whose endpoints' labels
    //    did not converge within the 4 rounds. Everything is degree sums
    //    and family aggregates — edge-LINEAR at any scale, no triangle
    //    join anywhere. On clone corpora (every family a clique) the
    //    census equals t43's n_tri exactly; TextCombinerSpec asserts that
    //    identity at the fixture.
    Q("t53_triangle_census", {
      def propRound(prev: String, next: String): String =
        s"""$next AS MATERIALIZED (
           |  SELECT n.cid, LEAST(n.lbl, COALESCE(MIN(l.lbl), n.lbl)) AS lbl
           |  FROM $prev n
           |    LEFT JOIN sym e ON e.u = n.cid
           |    LEFT JOIN $prev l ON l.cid = e.v
           |  GROUP BY n.cid, n.lbl)""".stripMargin
      s"""WITH $neardupCtesSql,
         |dup AS MATERIALIZED (
         |  SELECT dot.cid_a AS u, dot.cid_b AS v
         |  FROM dot JOIN n2t na ON dot.cid_a = na.cid
         |           JOIN n2t nb ON dot.cid_b = nb.cid
         |  WHERE CAST(dot.d AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 1e-1),
         |sym AS MATERIALIZED (SELECT u, v FROM dup
         |        UNION ALL SELECT v AS u, u AS v FROM dup),
         |l0 AS MATERIALIZED (SELECT vec_id AS cid, vec_id AS lbl FROM embeddings),
         |${propRound("l0", "l1")},
         |${propRound("l1", "l2")},
         |${propRound("l2", "l3")},
         |${propRound("l3", "l4")},
         |edg AS MATERIALIZED (
         |  SELECT lu.lbl AS fu, lv.lbl AS fv
         |  FROM dup JOIN l4 lu ON lu.cid = dup.u
         |           JOIN l4 lv ON lv.cid = dup.v),
         |fe AS (SELECT fu AS fam, CAST(COUNT(*) AS BIGINT) AS e
         |  FROM edg WHERE fu = fv GROUP BY fu),
         |census AS MATERIALIZED (
         |  SELECT s.fam, s.k, COALESCE(fe.e, 0) AS e,
         |    COALESCE(fe.e, 0) = s.k * (s.k - 1) // 2 AS is_clique
         |  FROM (SELECT lbl AS fam, CAST(COUNT(*) AS BIGINT) AS k
         |        FROM l4 GROUP BY lbl HAVING COUNT(*) >= 2) s
         |  LEFT JOIN fe ON fe.fam = s.fam),
         |wed AS (
         |  SELECT CAST(COALESCE(SUM(d * (d - 1) // 2), 0) AS BIGINT) AS n_wedge
         |  FROM (SELECT u, COUNT(*) AS d FROM sym GROUP BY u))
         |SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM dup) AS n_edges,
         |  wed.n_wedge,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM census) AS n_families,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM census WHERE is_clique)
         |    AS n_clique_families,
         |  (SELECT CAST(COALESCE(SUM(k * (k - 1) * (k - 2) // 6), 0) AS BIGINT)
         |   FROM census WHERE is_clique) AS clique_triangles,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM census WHERE NOT is_clique)
         |    AS residual_families,
         |  (SELECT CAST(COALESCE(SUM(e), 0) AS BIGINT)
         |   FROM census WHERE NOT is_clique) AS residual_edges,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM edg WHERE fu <> fv)
         |    AS cross_edges
         |FROM wed""".stripMargin
    }) { (s, dir) =>
      import graft.operators.ConnectedComponents
      val dup = neardupPairs(s, dir).filter(col("cosine") >= 1e-1)
        .select(col("cid_a").as("u"), col("cid_b").as("v")).persist()
      val lab = ConnectedComponents.labelPropagation(
        Tables.embeddings(s, dir).select(col("vec_id")),
        ConnectedComponents.symmetrize(dup), rounds = 4)
        .select(col("cid"), col("lbl"))
      val edg = dup
        .join(lab.select(col("cid").as("u"), col("lbl").as("fu")), "u")
        .join(lab.select(col("cid").as("v"), col("lbl").as("fv")), "v")
        .select(col("fu"), col("fv")).persist()
      val fe = edg.filter(col("fu") === col("fv"))
        .groupBy(col("fu").as("fam")).agg(count(lit(1)).as("e"))
      val census = lab.groupBy(col("lbl").as("fam"))
        .agg(count(lit(1)).as("k")).filter(col("k") >= 2)
        .join(fe, Seq("fam"), "left")
        .select(col("fam"), col("k"),
          coalesce(col("e"), lit(0L)).as("e"))
        .withColumn("is_clique",
          col("e") === expr("k * (k - 1) div 2")).persist()
      val sym = dup.unionAll(dup.select(col("v").as("u"), col("u").as("v")))
      val wed = sym.groupBy("u").agg(count(lit(1)).as("d"))
        .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
          .cast("long").as("n_wedge"))
      val clique = census.filter(col("is_clique"))
      val resid = census.filter(!col("is_clique"))
      dup.agg(count(lit(1)).as("n_edges"))
        .crossJoin(wed)
        .crossJoin(census.agg(count(lit(1)).as("n_families")))
        .crossJoin(clique.agg(count(lit(1)).as("n_clique_families"),
          coalesce(sum(expr("k * (k - 1) * (k - 2) div 6")), lit(0L))
            .cast("long").as("clique_triangles")))
        .crossJoin(resid.agg(count(lit(1)).as("residual_families"),
          coalesce(sum(col("e")), lit(0L)).cast("long").as("residual_edges")))
        .crossJoin(edg.filter(col("fu") =!= col("fv"))
          .agg(count(lit(1)).as("cross_edges")))
        .select(col("n_edges"), col("n_wedge"), col("n_families"),
          col("n_clique_families"), col("clique_triangles"),
          col("residual_families"), col("residual_edges"), col("cross_edges"))
    },

    // -- PCA by power iteration over the EXACT integer scatter matrix —
    //    the dimensionality-reduction step of an embedding pipeline
    //    (dataset whitening, IVF cell axes, Matryoshka truncation
    //    diagnostics). n·Cov = n·Σxxᵀ − SSᵀ is computed entirely in
    //    exact longs (1e4 quantization keeps every entry < 2^49), then
    //    divided by the dyadic 2^48 so each A entry is an EXACT double;
    //    two power-iteration steps run as fsum matvecs (terms are exact
    //    dyadic × shared-rational products, class (a)×(b)), each iterate
    //    renormalized by its exact max-abs and r6-rounded to a shared
    //    rational — every hashed value deterministic cross-engine with no
    //    libm anywhere. Scale shape: the d² scatter aggregates MAP-SIDE
    //    from a zero-shuffle double-posexplode (nothing corpus-sized is
    //    exchanged — the only shuffle is the d²-row partial-agg merge),
    //    and the iteration is two broadcast joins on the d²-row matrix;
    //    n·Σxxᵀ−SSᵀ adds shards by counter addition, so the same plan
    //    sharded over 100 TB merges d²-bounded state per shard.
    Q("e11_pca_power", {
      s"""WITH $pcaCtesSql
         |SELECT v1.j AS i, v1.vv AS v1, v2.v2
         |FROM v1 JOIN v2 ON v2.i = v1.j""".stripMargin
    }) { (s, dir) =>
      val (v1, v2) = pcaIterates(s, dir)
      v1.select(col("j").as("i"), col("vv").as("v1")).join(v2, "i")
        .select(col("i"), col("v1"), col("v2"))
    },

    // -- PCA PROJECTION: every embedding scored against the e11 principal
    //    axis (the rank step of whitening / Matryoshka-style truncation
    //    diagnostics). score = fsum over dims of (qv/1e4)·v2 — exact
    //    rational × shared rational terms, class (a)×(b); top-16 by
    //    |score| with vec_id tiebreak, both exact comparisons. Scale
    //    shape: the component is a broadcast d-row table, the scoring is
    //    one corpus-keyed agg over the posexplode, and the top-k is a
    //    WindowGroupLimit-style rank over an already-bounded surface.
    Q("e12_pca_project", {
      s"""WITH $pcaCtesSql,
         |sc AS (
         |  SELECT q.vec_id,
         |    ${Det.fsumSql("(CAST(q.qv AS DOUBLE) / 1e4) * v2.v2")} AS score
         |  FROM q JOIN v2 ON v2.i = q.pos GROUP BY q.vec_id),
         |rk AS (
         |  SELECT vec_id, score,
         |    ROW_NUMBER() OVER (ORDER BY ABS(score) DESC, vec_id) AS rk
         |  FROM sc)
         |SELECT vec_id, score, CAST(rk AS BIGINT) AS rk
         |FROM rk WHERE rk <= 16""".stripMargin
    }) { (s, dir) =>
      val (_, v2) = pcaIterates(s, dir)
      val q = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(expr(
          "qquant(embedding, 1e4)"))
          .as(Seq("p", "qv")))
        .select(col("vec_id"), (col("p") + 1).cast("long").as("pos"), col("qv"))
      val sc = q.join(broadcast(v2.select(col("i").as("pos"), col("v2"))), "pos")
        .groupBy("vec_id")
        .agg(Det.fsum((col("qv").cast("double") / 1e4) * col("v2")).as("score"))
      sc.withColumn("rk", row_number().over(
          Window.orderBy(abs(col("score")).desc, col("vec_id"))).cast("long"))
        .filter(col("rk") <= 16)
        .select("vec_id", "score", "rk")
    },

    // -- IVF-style ANN: quantized per-label centroids act as the coarse
    //    quantizer; every vector is assigned to its nearest cell by exact
    //    integer L2, and the search probes only the query's cell. The
    //    third point on the ANN accuracy/cost curve next to e01 (exact)
    //    and e02 (hyperplane LSH).
    Q("e04_ivf_ann",
      s"""WITH ce AS (${qExplodeSql("cid", "")}),
         |cent AS (
         |  SELECT label, pos, CAST(ROUND(AVG(CAST(qv AS DOUBLE))) AS BIGINT) AS cq
         |  FROM (SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS pos,
         |          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qv
         |        FROM embeddings)
         |  GROUP BY label, pos),
         |dist AS (
         |  SELECT ce.cid, cent.label,
         |    SUM((ce.qv - cent.cq)*(ce.qv - cent.cq)) AS d2
         |  FROM ce JOIN cent ON ce.pos = cent.pos
         |  GROUP BY ce.cid, cent.label),
         |cell AS (
         |  SELECT cid, label FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, label) AS rk
         |    FROM dist) WHERE rk = 1),
         |n2 AS (SELECT cid, SUM(qv*qv) AS n2 FROM ce GROUP BY cid),
         |cand AS (
         |  SELECT q.cid AS qid, c.cid AS cid
         |  FROM cell q JOIN cell c ON q.label = c.label AND q.cid <> c.cid
         |  WHERE q.cid < 8),
         |dot AS (
         |  SELECT cand.qid, cand.cid, CAST(SUM(a.qv * b.qv) AS BIGINT) AS d
         |  FROM cand
         |  JOIN ce a ON a.cid = cand.qid
         |  JOIN ce b ON b.cid = cand.cid AND a.pos = b.pos
         |  GROUP BY cand.qid, cand.cid),
         |cos AS (
         |  SELECT dot.qid, dot.cid,
         |    CAST(dot.d AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         |  FROM dot JOIN n2 na ON na.cid = dot.qid JOIN n2 nb ON nb.cid = dot.cid)
         |SELECT qid, cid, cosine, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank
         |  FROM cos) WHERE rank <= 3""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      // centroid training is the one genuine aggregation (explode +
      // groupBy); assignment and search use centroid VECTORS (pos-ordered
      // collect) with higher-order zip_with distances — no position joins
      val emb = Tables.embeddings(s, dir)
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val corpus = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("n2", expr("qdot(qv, qv)"))
      val cent = emb.select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
        .groupBy("label", "pos")
        .agg(round(avg(col("qv").cast("double"))).cast("long").as("cq"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cq))), s -> s.cq)")
          .as("cvec"))
      val d2 = expr(
        "ql2(qv, cvec)")
      val cell = corpus.crossJoin(broadcast(cent))
        .select(col("cid"), col("label"), col("qv"), col("n2"), d2.as("d2"))
        .withColumn("rk",
          row_number().over(Window.partitionBy("cid").orderBy("d2", "label")))
        .filter(col("rk") === 1).select("cid", "label", "qv", "n2")
      val qcell = broadcast(cell.filter(col("cid") < 8)
        .select(col("cid").as("qid"), col("label"),
          col("qv").as("qqv"), col("n2").as("q_n2")))
      val cand = cell.join(qcell, "label").filter(col("qid") =!= col("cid"))
      val dot = expr(
        "qdot(qqv, qv)")
      val cos = cand.select(col("qid"), col("cid"),
        (dot.cast("double") /
          (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
          .as("cosine"))
      cos.withColumn("rank",
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("cosine").desc, col("cid"))).cast("long"))
        .filter(col("rank") <= 3)
        .select("qid", "cid", "cosine", "rank")
    },

    // -- IVF search with nprobe = 2: the recall knob real IVF deployments
    //    turn (a query probes its nprobe nearest cells, not just the
    //    winner, recovering neighbours that fell across a cell boundary).
    //    Same plan family as e04 — the corpus keeps its unique rk = 1
    //    assignment, only the model-sized QUERY set fans out to 2 cells,
    //    so candidate volume is exactly 2x nprobe=1 and the probed cells
    //    are disjoint (no dedup step needed). Broadcasts: centroids and
    //    the 8-query probe/vector relations; the corpus-side join stays
    //    one keyed pass.
    Q("e17_ivf_nprobe",
      s"""WITH ce AS (${qExplodeSql("cid", "")}),
         |cent AS (
         |  SELECT label, pos, CAST(ROUND(AVG(CAST(qv AS DOUBLE))) AS BIGINT) AS cq
         |  FROM (SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS pos,
         |          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qv
         |        FROM embeddings)
         |  GROUP BY label, pos),
         |dist AS (
         |  SELECT ce.cid, cent.label,
         |    SUM((ce.qv - cent.cq)*(ce.qv - cent.cq)) AS d2
         |  FROM ce JOIN cent ON ce.pos = cent.pos
         |  GROUP BY ce.cid, cent.label),
         |ranked AS (
         |  SELECT cid, label,
         |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, label) AS rk
         |  FROM dist),
         |cell AS (SELECT cid, label FROM ranked WHERE rk = 1),
         |qcell AS (SELECT cid, label FROM ranked WHERE rk <= 2 AND cid < 8),
         |n2 AS (SELECT cid, SUM(qv*qv) AS n2 FROM ce GROUP BY cid),
         |cand AS (
         |  SELECT q.cid AS qid, c.cid AS cid
         |  FROM qcell q JOIN cell c ON q.label = c.label AND q.cid <> c.cid),
         |dot AS (
         |  SELECT cand.qid, cand.cid, CAST(SUM(a.qv * b.qv) AS BIGINT) AS d
         |  FROM cand
         |  JOIN ce a ON a.cid = cand.qid
         |  JOIN ce b ON b.cid = cand.cid AND a.pos = b.pos
         |  GROUP BY cand.qid, cand.cid),
         |cos AS (
         |  SELECT dot.qid, dot.cid,
         |    CAST(dot.d AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         |  FROM dot JOIN n2 na ON na.cid = dot.qid JOIN n2 nb ON nb.cid = dot.cid)
         |SELECT qid, cid, cosine, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, cid) AS BIGINT) AS rank
         |  FROM cos) WHERE rank <= 3""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.select(col("vec_id").as("cid"),
        expr("qquant(embedding, 1e6)").as("qv"))
        .withColumn("n2", expr("qdot(qv, qv)"))
      val cent = emb.select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
        .groupBy("label", "pos")
        .agg(round(avg(col("qv").cast("double"))).cast("long").as("cq"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cq))), s -> s.cq)")
          .as("cvec"))
      val ranked = corpus.crossJoin(broadcast(cent))
        .select(col("cid"), col("label"), col("qv"), col("n2"),
          expr("ql2(qv, cvec)").as("d2"))
        .withColumn("rk",
          row_number().over(Window.partitionBy("cid").orderBy("d2", "label")))
      val cell = ranked.filter(col("rk") === 1)
        .select("cid", "label", "qv", "n2")
      val qcell = broadcast(ranked.filter(col("cid") < 8 && col("rk") <= 2)
        .select(col("cid").as("qid"), col("label")))
      val qvec = broadcast(corpus.filter(col("cid") < 8)
        .select(col("cid").as("qid"), col("qv").as("qqv"),
          col("n2").as("q_n2")))
      val cand = cell.join(qcell, "label").join(qvec, "qid")
        .filter(col("qid") =!= col("cid"))
      val cos = cand.select(col("qid"), col("cid"),
        (expr("qdot(qqv, qv)").cast("double") /
          (sqrt(col("q_n2").cast("double")) * sqrt(col("n2").cast("double"))))
          .as("cosine"))
      cos.withColumn("rank",
          row_number().over(Window.partitionBy("qid")
            .orderBy(col("cosine").desc, col("cid"))).cast("long"))
        .filter(col("rank") <= 3)
        .select("qid", "cid", "cosine", "rank")
    },

    // -- IVF recall diagnostic: per-query recall@3 of the nprobe=1 and
    //    nprobe=2 searches against the brute-force truth, as candidate
    //    COVERAGE counts |btop3 ∩ cand_k|. Coverage equals the top-3
    //    intersection recall exactly: any brute-top3 element in the
    //    candidate set outranks everything but other brute-top3 elements
    //    (globally higher cosine + the same (cosine DESC, cid) tie order),
    //    so it lands in the method's top-3 — RecallTheoremSpec asserts
    //    this against the ranked e04/e17 results. Counting needs no
    //    cosine on the IVF side, so the plan is btop3 (8x3 rows,
    //    broadcast) LEFT JOIN two keyed candidate relations.
    Q("e18_ivf_recall",
      s"""WITH qe AS (${qExplodeSql("qid", "WHERE vec_id < 8")}),
         |ce AS (${qExplodeSql("cid", "")}),
         |qn AS (SELECT qid, SUM(qv*qv) AS qn2 FROM qe GROUP BY qid),
         |cn AS (SELECT cid, SUM(qv*qv) AS cn2 FROM ce GROUP BY cid),
         |bdot AS (
         |  SELECT qe.qid, ce.cid, CAST(SUM(qe.qv * ce.qv) AS BIGINT) AS d
         |  FROM qe JOIN ce ON qe.pos = ce.pos
         |  GROUP BY qe.qid, ce.cid),
         |bcos AS (
         |  SELECT bdot.qid, bdot.cid,
         |    CAST(bdot.d AS DOUBLE)
         |      / (sqrt(CAST(qn.qn2 AS DOUBLE)) * sqrt(CAST(cn.cn2 AS DOUBLE))) AS cosine
         |  FROM bdot JOIN qn ON bdot.qid = qn.qid JOIN cn ON bdot.cid = cn.cid
         |  WHERE bdot.qid <> bdot.cid),
         |btop AS (SELECT qid, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY cosine DESC, cid) AS rank
         |  FROM bcos) WHERE rank <= 3),
         |cent AS (
         |  SELECT label, pos, CAST(ROUND(AVG(CAST(qv AS DOUBLE))) AS BIGINT) AS cq
         |  FROM (SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS pos,
         |          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qv
         |        FROM embeddings)
         |  GROUP BY label, pos),
         |dist AS (
         |  SELECT ce.cid, cent.label,
         |    SUM((ce.qv - cent.cq)*(ce.qv - cent.cq)) AS d2
         |  FROM ce JOIN cent ON ce.pos = cent.pos
         |  GROUP BY ce.cid, cent.label),
         |ranked AS (
         |  SELECT cid, label,
         |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, label) AS rk
         |  FROM dist),
         |cell AS (SELECT cid, label FROM ranked WHERE rk = 1),
         |qc1 AS (SELECT cid, label FROM ranked WHERE rk = 1 AND cid < 8),
         |qc2 AS (SELECT cid, label FROM ranked WHERE rk <= 2 AND cid < 8),
         |cand1 AS (
         |  SELECT q.cid AS qid, c.cid AS cid
         |  FROM qc1 q JOIN cell c ON q.label = c.label AND q.cid <> c.cid),
         |cand2 AS (
         |  SELECT q.cid AS qid, c.cid AS cid
         |  FROM qc2 q JOIN cell c ON q.label = c.label AND q.cid <> c.cid)
         |SELECT b.qid,
         |  CAST(SUM(CASE WHEN c1.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hits1,
         |  CAST(SUM(CASE WHEN c2.qid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS hits2
         |FROM btop b
         |LEFT JOIN cand1 c1 ON b.qid = c1.qid AND b.cid = c1.cid
         |LEFT JOIN cand2 c2 ON b.qid = c2.qid AND b.cid = c2.cid
         |GROUP BY b.qid""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.select(col("vec_id").as("cid"),
        expr("qquant(embedding, 1e6)").as("qv"))
      // brute-force truth: the registered e01 surface, cut to top-3
      // (24 rows; it streams a left join whose build sides are the
      // broadcast candidate relations — no hint: the left of a left
      // outer join cannot be the build side)
      val btop =
        _root_.graft.SparkEntry.queries("e01_knn_bruteforce")(s, dir)
          .filter(col("rank") <= 3).select(col("qid"), col("cid"))
      val cent = emb.select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
        .groupBy("label", "pos")
        .agg(round(avg(col("qv").cast("double"))).cast("long").as("cq"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cq))), s -> s.cq)")
          .as("cvec"))
      val ranked = corpus.crossJoin(broadcast(cent))
        .select(col("cid"), col("label"), expr("ql2(qv, cvec)").as("d2"))
        .withColumn("rk",
          row_number().over(Window.partitionBy("cid").orderBy("d2", "label")))
      val cell = ranked.filter(col("rk") === 1).select("cid", "label")
      def cands(maxRk: Int) = cell
        .join(broadcast(ranked.filter(col("cid") < 8 && col("rk") <= maxRk)
          .select(col("cid").as("qid"), col("label"))), "label")
        .filter(col("qid") =!= col("cid")).select("qid", "cid")
      btop.as("b")
        .join(cands(1).as("c1"),
          col("b.qid") === col("c1.qid") && col("b.cid") === col("c1.cid"),
          "left")
        .join(cands(2).as("c2"),
          col("b.qid") === col("c2.qid") && col("b.cid") === col("c2.cid"),
          "left")
        .groupBy(col("b.qid").as("qid"))
        .agg(sum(when(col("c1.qid").isNotNull, 1L).otherwise(0L)).as("hits1"),
          sum(when(col("c2.qid").isNotNull, 1L).otherwise(0L)).as("hits2"))
    },

    // -- PCA-rotated scalar quantization (the OPQ idea, Ge et al. 2013:
    //    rotate into decorrelated axes, THEN quantize — distortion beats
    //    axis-aligned codes): both power-iteration axes project every
    //    vector (the e12 fsum idiom, exact rounded-rational scores), each
    //    axis gets a 16-bucket uniform quantizer from its own exact
    //    min/max, and the hashed surface carries codes + squared
    //    reconstruction error. Every post-score operation is IEEE-exact
    //    arithmetic of bit-identical inputs (class (a)) — bucket floors,
    //    bucket-center recon, and the error are bit-equal cross-engine
    //    with no further rounding. Plan: posexplode + two broadcast d-row
    //    axis joins + ONE per-vector agg (both projections in the same
    //    groupBy), then a 1-row min/max broadcast.
    Q("e19_rotated_sq",
      s"""WITH $pcaCtesSql,
         |sc AS (
         |  SELECT q.vec_id,
         |    ${Det.fsumSql("(CAST(q.qv AS DOUBLE) / 1e4) * w1.vv")} AS s1,
         |    ${Det.fsumSql("(CAST(q.qv AS DOUBLE) / 1e4) * w2.v2")} AS s2
         |  FROM q JOIN v1 w1 ON w1.j = q.pos
         |         JOIN v2 w2 ON w2.i = q.pos
         |  GROUP BY q.vec_id),
         |mm AS (SELECT MIN(s1) AS mn1, MAX(s1) AS mx1,
         |              MIN(s2) AS mn2, MAX(s2) AS mx2 FROM sc),
         |bb AS (
         |  SELECT vec_id, s1, s2, mn1, mx1, mn2, mx2,
         |    CAST(LEAST(15, CAST(FLOOR((s1 - mn1)/GREATEST(mx1 - mn1, 1e-30) * 16e0)
         |      AS BIGINT)) AS BIGINT) AS b1,
         |    CAST(LEAST(15, CAST(FLOOR((s2 - mn2)/GREATEST(mx2 - mn2, 1e-30) * 16e0)
         |      AS BIGINT)) AS BIGINT) AS b2
         |  FROM sc, mm),
         |rc AS (
         |  SELECT vec_id, b1, b2,
         |    s1 - (mn1 + (CAST(b1 AS DOUBLE) + 5e-1)*(mx1 - mn1)/16e0) AS d1,
         |    s2 - (mn2 + (CAST(b2 AS DOUBLE) + 5e-1)*(mx2 - mn2)/16e0) AS d2
         |  FROM bb)
         |SELECT vec_id, b1, b2, d1*d1 + d2*d2 AS err FROM rc""".stripMargin) {
      (s, dir) =>
      val (v1, v2) = pcaIterates(s, dir)
      val q = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(expr(
          "qquant(embedding, 1e4)"))
          .as(Seq("p", "qv")))
        .select(col("vec_id"), (col("p") + 1).cast("long").as("pos"), col("qv"))
      val sc = q
        .join(broadcast(v1.select(col("j").as("pos"), col("vv"))), "pos")
        .join(broadcast(v2.select(col("i").as("pos"), col("v2"))), "pos")
        .groupBy("vec_id")
        .agg(
          Det.fsum((col("qv").cast("double") / 1e4) * col("vv")).as("s1"),
          Det.fsum((col("qv").cast("double") / 1e4) * col("v2")).as("s2"))
      val mm = sc.agg(min("s1").as("mn1"), max("s1").as("mx1"),
        min("s2").as("mn2"), max("s2").as("mx2"))
      // GREATEST(width, 1e-30) guards the degenerate all-equal axis:
      // without it the fraction is NaN, where Spark floor(NaN).cast(long)
      // yields 0 but DuckDB CAST(FLOOR(NaN) AS BIGINT) raises — with it,
      // both engines map the degenerate axis to bucket 0 identically
      // (and for any real spread the GREATEST is an exact identity)
      def bucket(sC: Column, mn: Column, mx: Column) =
        least(lit(15L),
          floor((sC - mn) / greatest(mx - mn, lit(1e-30)) * 16e0).cast("long"))
      val bb = sc.crossJoin(broadcast(mm))
        .withColumn("b1", bucket(col("s1"), col("mn1"), col("mx1")))
        .withColumn("b2", bucket(col("s2"), col("mn2"), col("mx2")))
      val rc = bb
        .withColumn("d1", col("s1") -
          (col("mn1") + (col("b1").cast("double") + 5e-1) *
            (col("mx1") - col("mn1")) / 16e0))
        .withColumn("d2", col("s2") -
          (col("mn2") + (col("b2").cast("double") + 5e-1) *
            (col("mx2") - col("mn2")) / 16e0))
      rc.select(col("vec_id"), col("b1"), col("b2"),
        (col("d1") * col("d1") + col("d2") * col("d2")).as("err"))
    },

    // -- streaming IVF index maintenance, batch-equivalent face: the
    //    second (delta) half of the corpus "arrives" at a warm index built
    //    from the first half — every delta vector is assigned to its
    //    coarse cell and given its SemDeDup ingest verdict against all
    //    EARLIER members (base + earlier delta), via the same per-cell
    //    fold the flatMapGroupsWithState streaming face runs
    //    (StreamingMl.ivfIngestBatch; StreamingSpec proves micro-batch
    //    parity). Under ascending-id arrival the verdicts equal the t29
    //    batch greedy rule restricted to delta rows — the oracle is
    //    exactly that restatement. Scale shape: ONE shuffle on the cell
    //    key; per-cell state bounded by the n/k ≈ 512 seed-growth
    //    contract; the coarse seeds are the only driver-sized relation.
    Q("e20_ivf_ingest",
      s"""WITH ce AS MATERIALIZED (${qExplodeSql("cid", "")}),
         |n2t AS MATERIALIZED (SELECT cid, SUM(qv*qv) AS n2 FROM ce GROUP BY cid),
         |seed AS MATERIALIZED (SELECT cid AS k, pos, qv AS cq FROM ce
         |  WHERE cid < (SELECT GREATEST(8, COUNT(DISTINCT cid) // 512) FROM ce)),
         |dk AS (
         |  SELECT ce.cid, s.k, SUM((ce.qv - s.cq)*(ce.qv - s.cq)) AS d2
         |  FROM ce JOIN seed s ON ce.pos = s.pos
         |  GROUP BY ce.cid, s.k),
         |asg AS MATERIALIZED (
         |  SELECT cid, k FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY cid ORDER BY d2, k) AS rk
         |    FROM dk) WHERE rk = 1),
         |pair AS (
         |  SELECT x.cid AS cid_a, y.cid AS cid_b
         |  FROM asg x JOIN asg y ON x.k = y.k AND x.cid < y.cid),
         |cl AS MATERIALIZED (
         |  SELECT cid, list(CAST(qv AS DOUBLE) ORDER BY pos) AS v
         |  FROM ce GROUP BY cid),
         |dot AS (
         |  SELECT pair.cid_a, pair.cid_b,
         |    CAST(list_dot_product(a.v, b.v) AS BIGINT) AS d
         |  FROM pair JOIN cl a ON a.cid = pair.cid_a
         |            JOIN cl b ON b.cid = pair.cid_b),
         |cosb AS (
         |  SELECT dot.cid_b AS cid,
         |    CAST(dot.d AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         |  FROM dot JOIN n2t na ON dot.cid_a = na.cid
         |           JOIN n2t nb ON dot.cid_b = nb.cid),
         |ver AS (
         |  SELECT cid,
         |    CAST(SUM(CASE WHEN cosine >= 45e-2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_near,
         |    MAX(cosine) AS max_cos
         |  FROM cosb GROUP BY cid)
         |SELECT asg.cid, asg.k AS cell,
         |  CAST(COALESCE(ver.n_near, 0) AS BIGINT) AS n_near,
         |  COALESCE(ver.n_near, 0) > 0 AS pruned,
         |  ver.max_cos AS max_cos
         |FROM asg LEFT JOIN ver ON asg.cid = ver.cid
         |WHERE asg.cid >= (SELECT COUNT(DISTINCT cid) // 2 FROM ce)""".stripMargin) {
      (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      import s.implicits._
      val emb = Tables.embeddings(s, dir)
      val n = emb.count()
      val k = math.max(8L, n / 512L)
      val corpus = emb.select(col("vec_id").as("cid"),
        expr("qquant(embedding, 1e6)").as("qv"))
      // round-10 (the r9 weak): seeds stay a DATAFRAME — assignment is
      // SemDedup.assignAuto (one broadcast LUT under the session
      // threshold, EXACT chunked broadcasts past it), so no
      // corpus-proportional seed array ever reaches the driver or a task
      // closure, and the oracle is unchanged because chunked ≡ flat.
      graft.operators.StreamingMl
        .ivfIngestBatchDf(corpus,
          corpus.filter(col("cid") < k).select(col("cid").as("k"), col("qv")),
          45e-2)
        .toDF()
        .filter(col("cid") >= n / 2)
        .select(col("cid"), col("cell"), col("nNear").as("n_near"),
          col("pruned"), col("maxCos").as("max_cos"))
    },

    // -- TWO-LEVEL streaming-IVF ingest, batch twin (the r9 ask: the
    //    beyond-broadcast ingest face): tasks close over ONLY the √k
    //    coarse seeds; the k fine seeds arrive as per-coarse-cell keyed
    //    STATE (cogroup here, flatMapGroupsWithState initial state on the
    //    stream — StreamingSpec proves parity). Each vector fine-assigns
    //    inside its coarse cell (the e16 two-level rule, ties to the
    //    lower fine id) and takes its SemDeDup verdict against EARLIER
    //    members of the same FINE cell. This is a semantic face with its
    //    own oracle — never a silent fallback for the flat rule (which
    //    escalates exactly, via assignAuto's chunked broadcasts).
    //    Seed growth is e16's (nf = n/64, nc = √nf), so large replicas
    //    engage it. Scale shape: ONE shuffle of corpus + fine on the
    //    coarse key; per-cell state n/√k-bounded; nothing k-sized on the
    //    driver or in a closure.
    Q("e21_ivf_ingest_2level",
      s"""WITH ce AS MATERIALIZED (${qExplodeSql("cid", "")}),
         |n2t AS (SELECT cid, SUM(qv*qv) AS n2 FROM ce GROUP BY cid),
         |nf AS (SELECT GREATEST(32, COUNT(DISTINCT cid) // 64) AS v FROM ce),
         |nc AS (SELECT GREATEST(4, CAST(FLOOR(SQRT(v)) AS BIGINT)) AS v FROM nf),
         |coarse AS MATERIALIZED (SELECT cid AS k, pos, qv AS cq FROM ce
         |  WHERE cid < (SELECT v FROM nc)),
         |fine AS MATERIALIZED (SELECT cid AS fk, pos, qv AS fq FROM ce
         |  WHERE cid < (SELECT v FROM nf)),
         |fdk AS (
         |  SELECT f.fk, c.k, SUM((f.fq - c.cq)*(f.fq - c.cq)) AS d2
         |  FROM fine f JOIN coarse c ON f.pos = c.pos GROUP BY f.fk, c.k),
         |fcell AS MATERIALIZED (SELECT fk, k FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fk ORDER BY d2, k) AS rk
         |  FROM fdk) WHERE rk = 1),
         |cdk AS (
         |  SELECT ce.cid, c.k, SUM((ce.qv - c.cq)*(ce.qv - c.cq)) AS d2
         |  FROM ce JOIN coarse c ON ce.pos = c.pos GROUP BY ce.cid, c.k),
         |ccell AS MATERIALIZED (SELECT cid, k FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, k) AS rk
         |  FROM cdk) WHERE rk = 1),
         |fd AS (
         |  SELECT cc.cid, cc.k, fc.fk,
         |    SUM((ce.qv - f.fq)*(ce.qv - f.fq)) AS d2
         |  FROM ccell cc JOIN fcell fc ON cc.k = fc.k
         |    JOIN ce ON ce.cid = cc.cid
         |    JOIN fine f ON f.fk = fc.fk AND f.pos = ce.pos
         |  GROUP BY cc.cid, cc.k, fc.fk),
         |asg AS MATERIALIZED (
         |  SELECT cid, k AS cell, fk AS fine FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY cid ORDER BY d2, fk) AS rk
         |    FROM fd) WHERE rk = 1),
         |pair AS (
         |  SELECT x.cid AS cid_a, y.cid AS cid_b
         |  FROM asg x JOIN asg y ON x.fine = y.fine AND x.cid < y.cid),
         |dot AS (
         |  SELECT pair.cid_a, pair.cid_b, CAST(SUM(ea.qv * eb.qv) AS BIGINT) AS d
         |  FROM pair JOIN ce ea ON ea.cid = pair.cid_a
         |            JOIN ce eb ON eb.cid = pair.cid_b AND ea.pos = eb.pos
         |  GROUP BY pair.cid_a, pair.cid_b),
         |cosb AS (
         |  SELECT dot.cid_b AS cid,
         |    CAST(dot.d AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         |  FROM dot JOIN n2t na ON dot.cid_a = na.cid
         |           JOIN n2t nb ON dot.cid_b = nb.cid),
         |ver AS (
         |  SELECT cid,
         |    CAST(SUM(CASE WHEN cosine >= 45e-2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_near,
         |    MAX(cosine) AS max_cos
         |  FROM cosb GROUP BY cid)
         |SELECT asg.cid, asg.cell, asg.fine,
         |  CAST(COALESCE(ver.n_near, 0) AS BIGINT) AS n_near,
         |  COALESCE(ver.n_near, 0) > 0 AS pruned,
         |  ver.max_cos AS max_cos
         |FROM asg LEFT JOIN ver ON asg.cid = ver.cid""".stripMargin) {
      (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      import s.implicits._
      import graft.operators.StreamingMl
      val emb = Tables.embeddings(s, dir)
      val n = emb.count()
      val nf = math.max(32L, n / 64L)
      val nc = math.max(4L, math.floor(math.sqrt(nf.toDouble)).toLong)
      val corpus = emb.select(col("vec_id").as("cid"),
        expr("qquant(embedding, 1e6)").as("qv"))
      // coarse is the ONLY collected relation — √k-sized by construction
      val coarse: Array[(Long, Array[Long])] =
        corpus.filter(col("cid") < nc).collect()
          .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
      StreamingMl.ivf2IngestBatch(corpus.as[StreamingMl.IvfIn], coarse,
          corpus.filter(col("cid") < nf).as[StreamingMl.IvfIn], 45e-2)
        .toDF()
        .select(col("cid"), col("cell"), col("fine"),
          col("nNear").as("n_near"), col("pruned"),
          col("maxCos").as("max_cos"))
    },

    // -- k-means (Lloyd) TRAINING under the hash gate: two unrolled
    //    iterations over the quantized corpus, seeded from vec_id < 8.
    //    Centroids are re-quantized to integers each iteration
    //    (round(avg)·1e-6 embedding units), so every distance is an exact
    //    integer sum and assignments are hash-identical on both engines —
    //    the same fixed-iteration determinism idiom as g08's Gauss-Newton.
    //    Scale shape: assignment is corpus × BROADCAST(K centroid
    //    vectors) with a map-side min(struct(d2, k)) partial agg (no
    //    window over the K-replicated corpus); recompute is one
    //    explode + (k, pos) partial+final agg. Per iteration: one
    //    broadcast, one keyed shuffle of dimension-sized data.
    Q("e05_kmeans_2iter", {
      def distAssign(cent: String, d: String, a: String): String =
        s"""$d AS (
           |  SELECT ce.cid, c.k,
           |    SUM((ce.qv - c.cq)*(ce.qv - c.cq)) AS d2
           |  FROM ce JOIN $cent c ON ce.pos = c.pos
           |  GROUP BY ce.cid, c.k),
           |$a AS (
           |  SELECT cid, k FROM (
           |    SELECT *, ROW_NUMBER() OVER (
           |      PARTITION BY cid ORDER BY d2, k) AS rk
           |    FROM $d) WHERE rk = 1)""".stripMargin
      s"""WITH ce AS (${qExplodeSql("cid", "")}),
         |seed AS (SELECT cid AS k, pos, qv AS cq FROM ce WHERE cid < 8),
         |${distAssign("seed", "d1", "a1")},
         |c1 AS (
         |  SELECT a1.k, ce.pos,
         |    CAST(ROUND(AVG(CAST(ce.qv AS DOUBLE))) AS BIGINT) AS cq
         |  FROM a1 JOIN ce ON a1.cid = ce.cid
         |  GROUP BY a1.k, ce.pos),
         |${distAssign("c1", "d2t", "a2")}
         |SELECT a2.k AS cluster, ce.pos,
         |  CAST(ROUND(AVG(CAST(ce.qv AS DOUBLE))) AS BIGINT) AS cq,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM a2 JOIN ce ON a2.cid = ce.cid
         |GROUP BY a2.k, ce.pos""".stripMargin
    }) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val corpus = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
      val ceExpl = qExplode(emb, "cid")
      // centroids are MODEL-sized (k × dim = 8 × dim longs) at any corpus
      // scale, so they live on the driver between iterations — the
      // CLAUDE.md iterative-solver idiom. Assignment is then a ZERO-
      // shuffle projection: exact integer L2 against each literal
      // centroid, argmin via least(struct(d2, k)) (ties to the lower k),
      // instead of the former crossJoin + per-cid min aggregation
      // (2 exchanges per assignment round). The literal form is valid
      // ONLY because e05's k is FIXED at 8 — a corpus-proportional
      // cluster count (t29's k = n/512) must use SemDedup.assign's
      // broadcast-centroid map-side argmin instead, which keeps k out of
      // the expression tree and the generated code.
      def assignLit(cents: Seq[(Long, Seq[Long])]): DataFrame = {
        graft.expr.GraftFunctions.register(s)
        val cands = cents.map { case (k, v) =>
          // literal-array ql2 stays inside whole-stage codegen — the
          // typedLit zip_with form evaluated INTERPRETED per (vector,
          // centroid), the one non-codegen hot loop of the suite
          val d2 = expr(s"ql2(qv, array(${v.map(_ + "L").mkString(",")}))")
          struct(d2.as("d2"), lit(k).as("k"))
        }
        corpus.select(col("cid"), least(cands: _*).getField("k").as("k"))
      }
      // per-(k, pos) integer re-quantized centroids, collected (8 × dim)
      def recompute(asg: DataFrame): Seq[(Long, Seq[Long])] =
        asg.join(ceExpl, "cid")
          .groupBy("k", "pos")
          .agg(round(avg(col("qv").cast("double"))).cast("long").as("cq"))
          .collect()
          .groupBy(_.getAs[Long]("k"))
          .map { case (k, rows) =>
            k -> rows.sortBy(_.getAs[Long]("pos")).map(_.getAs[Long]("cq")).toSeq
          }.toSeq.sortBy(_._1)
      val seeds = corpus.filter(col("cid") < 8).collect()
        .map(r => r.getAs[Long]("cid") -> r.getSeq[Long](1))
        .toSeq.sortBy(_._1)
      val a2 = assignLit(recompute(assignLit(seeds)))
      a2.join(ceExpl, "cid")
        .groupBy(col("k").as("cluster"), col("pos"))
        .agg(round(avg(col("qv").cast("double"))).cast("long").as("cq"),
          count(lit(1)).as("n"))
    },

    // -- deterministic stratified sampling: fixed-size per-(lang, source)
    //    sample ordered by a positional hash of doc_id — the reproducible
    //    analogue of reservoir sampling for training-data splits. The
    //    Bernoulli rate-sample flag (`bern`, ~1/8 of each stratum) is the
    //    shuffle-free scale path: a pure filter any executor applies
    //    locally; the fixed-size rank needs the one per-stratum shuffle.
    Q("t13_stratified_sample",
      """WITH keyed AS (
        |  SELECT doc_id, lang, source,
        |    ((doc_id % 100003) * 7919 + 13) % 1000 AS skey
        |  FROM documents)
        |SELECT doc_id, lang, source, CAST(rk AS BIGINT) AS rk,
        |  skey < 125 AS bern
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY lang, source ORDER BY skey, doc_id) AS rk
        |  FROM keyed) WHERE rk <= 32""".stripMargin) { (s, dir) =>
      val keyed = Tables.documents(s, dir).select(
        col("doc_id"), col("lang"), col("source"),
        ((col("doc_id") % 100003) * 7919 + 13) % 1000 as "skey")
      keyed.withColumn("rk",
          row_number().over(Window.partitionBy("lang", "source")
            .orderBy("skey", "doc_id")).cast("long"))
        .filter(col("rk") <= 32)
        .select(col("doc_id"), col("lang"), col("source"), col("rk"),
          (col("skey") < 125).as("bern"))
    },

    // -- repetition filter (the Gopher/C4-style quality signal): fraction
    //    of repeated word 3-grams per document plus the worst single-gram
    //    multiplicity. Two-level agg — (doc, gram) counts partial+final,
    //    then one per-doc rollup; integers + one final division, so the
    //    ratio is cross-engine exact. Short docs (< 3 tokens) come back
    //    via the left join with zero counts on both engines.
    Q("t14_repetition",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |idx AS (
        |  SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
        |  FROM toks WHERE len(tk) >= 3),
        |g AS (
        |  SELECT doc_id, array_to_string(list_slice(tk, i, i + 2), ' ') AS gram
        |  FROM idx),
        |pg AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY doc_id, gram),
        |ag AS (
        |  SELECT doc_id, SUM(c) AS n_grams, COUNT(*) AS n_unique,
        |    MAX(c) AS max_rep
        |  FROM pg GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(ag.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(ag.n_unique, 0) AS BIGINT) AS n_unique,
        |  CAST(COALESCE(ag.max_rep, 0) AS BIGINT) AS max_rep,
        |  CASE WHEN ag.n_grams IS NULL THEN 0e0
        |       ELSE 1e0 - CAST(ag.n_unique AS DOUBLE) / CAST(ag.n_grams AS DOUBLE)
        |  END AS rep_ratio
        |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val docs = Tables.documents(s, dir)
      val grams = docs
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(expr("word_grams(tk, 3)"))
          .as("gram"))
      val ag = grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(sum(col("c")).as("n_grams"),
          count(lit(1)).as("n_unique"), max(col("c")).as("max_rep"))
      docs.select(col("doc_id")).join(ag, Seq("doc_id"), "left").select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        coalesce(col("max_rep"), lit(0L)).as("max_rep"),
        when(col("n_grams").isNull, lit(0e0))
          .otherwise(lit(1e0) - col("n_unique").cast("double") / col("n_grams").cast("double"))
          .as("rep_ratio"))
    },

    // -- BM25 relevance scoring (Robertson k1 = 1.2, b = 0.75) for the
    //    fixed query {the, data, join}: per-doc term counts by the t02
    //    delimiter-count idiom, corpus stats in ONE scalar agg broadcast
    //    back, score = Σ idf·tf-norm rounded r6 BEFORE the rank so the
    //    (score desc, doc_id) top-20 is cross-engine deterministic. The
    //    idf ln sees a bit-identical rational argument on both engines
    //    (m01's driver-green class).
    Q("t16_bm25", {
      def cnt(w: String) = {
        val l = w.length + 2
        s"(length(text) - length(replace(text, ' $w ', ''))) / $l"
      }
      val dl = "(length(text) - length(replace(text, ' ', '')) + 1)"
      def idf(df: String) =
        s"ln((CAST(n AS DOUBLE) - CAST($df AS DOUBLE) + 5e-1) / (CAST($df AS DOUBLE) + 5e-1) + 1e0)"
      def part(c: String, df: String) =
        s"${idf(df)} * ((CAST($c AS DOUBLE) * 22e-1) / (CAST($c AS DOUBLE) + 12e-1 * (25e-2 + 75e-2 * (CAST(dl AS DOUBLE) / avgdl))))"
      s"""WITH t AS (
         |  SELECT doc_id, $dl AS dl,
         |    ${cnt("the")} AS c_the, ${cnt("data")} AS c_data,
         |    ${cnt("join")} AS c_join
         |  FROM documents),
         |g AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    AVG(CAST(dl AS DOUBLE)) AS avgdl,
         |    CAST(SUM(CASE WHEN c_the > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_the,
         |    CAST(SUM(CASE WHEN c_data > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_data,
         |    CAST(SUM(CASE WHEN c_join > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_join
         |  FROM t)
         |SELECT doc_id,
         |  ${graft.core.Det.r6Sql(
             s"${part("c_the", "df_the")} + ${part("c_data", "df_data")} + ${part("c_join", "df_join")}")} AS bm25
         |FROM t, g
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, dir) =>
      def cnt(w: String) = (length(col("text")) -
        length(expr(s"replace(text, ' $w ', '')"))) / (w.length + 2)
      val dl = length(col("text")) -
        length(expr("replace(text, ' ', '')")) + 1
      val t = Tables.documents(s, dir).select(col("doc_id"), dl.as("dl"),
        cnt("the").as("c_the"), cnt("data").as("c_data"),
        cnt("join").as("c_join"))
      def dfAgg(c: String) =
        sum(when(col(c) > 0, 1).otherwise(0)).cast("long").as(s"df_${c.drop(2)}")
      val g = t.agg(count(lit(1)).as("n"), avg(col("dl").cast("double")).as("avgdl"),
        dfAgg("c_the"), dfAgg("c_data"), dfAgg("c_join"))
      def idf(df: Column): Column =
        log((col("n").cast("double") - df.cast("double") + lit(5e-1)) /
          (df.cast("double") + lit(5e-1)) + lit(1e0))
      def part(c: Column, df: Column): Column =
        idf(df) * ((c.cast("double") * lit(22e-1)) /
          (c.cast("double") + lit(12e-1) * (lit(25e-2) + lit(75e-2) *
            (col("dl").cast("double") / col("avgdl")))))
      t.crossJoin(broadcast(g))
        .select(col("doc_id"),
          Det.r6(part(col("c_the"), col("df_the")) +
            part(col("c_data"), col("df_data")) +
            part(col("c_join"), col("df_join"))).as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
    },

    // -- fixed-point integer PageRank, 3 unrolled rounds over the t10
    //    near-dup graph (ConnectedComponents.fixedPointPageRank): node
    //    importance within duplicate clusters, e.g. to pick the
    //    representative to KEEP. Every operation is integer (floor
    //    divisions, exact long sums), so the fixed iteration count is
    //    hash-exact — the DuckDB oracle unrolls the identical rounds.
    Q("t17_pagerank", {
      def prRound(prevP: String, next: String): String =
        // MATERIALIZED: each round re-references sym/deg — inlined, every
        // round recomputes the full neardup pipeline (the 50x gate lesson)
        s"""$next AS MATERIALIZED (
           |  SELECT n.cid,
           |    CAST(150000 + (85 * COALESCE(SUM(l.p // d.deg), 0)) // 100
           |      AS BIGINT) AS p
           |  FROM nodes n
           |    LEFT JOIN sym e ON e.v = n.cid
           |    LEFT JOIN $prevP l ON l.cid = e.u
           |    LEFT JOIN deg d ON d.u = e.u
           |  GROUP BY n.cid)""".stripMargin
      s"""WITH $neardupCtesSql,
         |dup AS (
         |  SELECT dot.cid_a, dot.cid_b
         |  FROM dot JOIN n2t na ON dot.cid_a = na.cid
         |           JOIN n2t nb ON dot.cid_b = nb.cid
         |  WHERE CAST(dot.d AS DOUBLE)
         |    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) >= 5e-1),
         |sym AS MATERIALIZED (SELECT cid_a AS u, cid_b AS v FROM dup
         |        UNION ALL SELECT cid_b AS u, cid_a AS v FROM dup),
         |nodes AS (SELECT vec_id AS cid FROM embeddings),
         |deg AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u),
         |p0 AS (SELECT cid, CAST(1000000 AS BIGINT) AS p FROM nodes),
         |${prRound("p0", "p1")},
         |${prRound("p1", "p2")},
         |${prRound("p2", "p3")}
         |SELECT cid, p FROM p3""".stripMargin
    }) { (s, dir) =>
      import graft.operators.ConnectedComponents
      val dup = neardupPairs(s, dir).filter(col("is_dup"))
        .select("cid_a", "cid_b")
      ConnectedComponents.fixedPointPageRank(
        Tables.embeddings(s, dir).select(col("vec_id")),
        ConnectedComponents.symmetrize(dup), rounds = 3)
    },

    // -- feature standardization (z-score per embedding dimension): the
    //    preprocessing step in front of k-means/ANN. Mean and variance
    //    come from exact integer sums (Σqv, Σqv² both far inside 2^53),
    //    so mean, var and sqrt(var) are bit-identical cross-engine
    //    (sqrt is IEEE exact-rounded); the hashed z-scores for the first
    //    8 vectors are pure class-(a) arithmetic — no rounding layer.
    Q("e06_standardize",
      s"""WITH ce AS (${qExplodeSql("cid", "")}),
         |st AS (
         |  SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(qv) AS BIGINT) AS s1, CAST(SUM(qv*qv) AS BIGINT) AS s2
         |  FROM ce GROUP BY pos)
         |SELECT ce.cid, ce.pos,
         |  (CAST(ce.qv AS DOUBLE) - CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE))
         |    / sqrt(CAST(st.s2 AS DOUBLE) / CAST(st.n AS DOUBLE)
         |           - (CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE))
         |             * (CAST(st.s1 AS DOUBLE) / CAST(st.n AS DOUBLE))) AS z
         |FROM ce JOIN st ON ce.pos = st.pos
         |WHERE ce.cid < 8""".stripMargin) { (s, dir) =>
      val ce = qExplode(Tables.embeddings(s, dir), "cid")
      val st = ce.groupBy("pos").agg(count(lit(1)).as("n"),
        sum(col("qv")).as("s1"), sum(col("qv") * col("qv")).as("s2"))
      val mean = col("s1").cast("double") / col("n").cast("double")
      val z = (col("qv").cast("double") - mean) /
        sqrt(col("s2").cast("double") / col("n").cast("double") - mean * mean)
      ce.join(broadcast(st), "pos")
        .filter(col("cid") < 8)
        .select(col("cid"), col("pos"), z.as("z"))
    },

    // -- regex tokenizer counts (the BPE-ish pre-tokenization pass):
    //    alphabetic runs, digit runs, and a subword estimate that charges
    //    long words ⌈len/4⌉ pieces — integer outputs from the same
    //    simple regex class ([a-z]+/[0-9]+) both engines implement
    //    identically.
    Q("t18_regex_tokens",
      """WITH g AS (
        |  SELECT doc_id,
        |    regexp_extract_all(text, '[a-z]+') AS words,
        |    regexp_extract_all(text, '[0-9]+') AS nums
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  CAST(len(nums) AS BIGINT) AS n_nums,
        |  CAST(COALESCE(list_sum(list_transform(words,
        |    w -> CAST(CEIL(length(w) / 4e0) AS BIGINT))), 0) AS BIGINT) AS n_subwords
        |FROM g""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          expr("regexp_extract_all(text, '[a-z]+', 0)").as("words"),
          expr("regexp_extract_all(text, '[0-9]+', 0)").as("nums"))
        .select(col("doc_id"),
          size(col("words")).cast("long").as("n_words"),
          size(col("nums")).cast("long").as("n_nums"),
          // codegen'd ≡ aggregate(words, 0L,
          //   (a, w) -> a + CAST(CEIL(length(w) / 4e0) AS BIGINT))
          expr("subword_sum(words, 4)").as("n_subwords"))
    },

    // -- per-label centroids (embedding aggregation): partial+final avg of
    //    quantized components.
    Q("e03_label_centroids",
      s"""WITH ce AS (
         |  SELECT vec_id, label,
         |    unnest(generate_series(1, len(embedding))) AS pos,
         |    CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qv
         |  FROM embeddings)
         |SELECT label, pos, AVG(CAST(qv AS DOUBLE)) AS centroid_q,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM ce GROUP BY label, pos""".stripMargin) { (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
        .groupBy("label", "pos")
        .agg(avg(col("qv").cast("double")).as("centroid_q"),
          count(lit(1)).as("n"))
    },

    // -- SEQUENCE PACKING (the GPT-style concatenate-then-chunk layout a
    //    trainer's data loader needs): documents are laid head-to-tail in
    //    doc_id order within a (source, shard) stream and cut into
    //    fixed-capacity packs of 2048 tokens. Each doc's pack id, offset
    //    inside the pack, and the number of chunks it straddles fall out
    //    of ONE window cumsum — all exact integer arithmetic. The shard
    //    key (doc_id div 8192) bounds every window partition at 8192 docs
    //    regardless of corpus size: at 100 TB the packing streams
    //    shard-parallel instead of serializing per source (the
    //    deterministic contract is per-(source, shard), which is what a
    //    sharded loader consumes anyway).
    Q("t20_seq_packing",
      """WITH tk AS (
        |  SELECT doc_id, source, doc_id // 8192 AS shard,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(n_tok) OVER (PARTITION BY source, shard
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tk)
        |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
        |  CAST((cum - n_tok) % 2048 AS BIGINT) AS pack_offset,
        |  CAST((cum - 1) // 2048 - (cum - n_tok) // 2048 + 1 AS BIGINT)
        |    AS n_chunks
        |FROM c""".stripMargin) { (s, dir) =>
      val nTok = (length(col("text")) -
        length(expr("replace(text, ' ', '')")) + 1).cast("long")
      val w = Window.partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          expr("doc_id div 8192").as("shard"), nTok.as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(w))
        .select(col("doc_id"), col("source"), col("n_tok"),
          expr("(cum - n_tok) div 2048").as("pack_id"),
          expr("(cum - n_tok) % 2048").as("pack_offset"),
          expr("(cum - 1) div 2048 - (cum - n_tok) div 2048 + 1")
            .as("n_chunks"))
    },

    // -- BPE merge-candidate scan (the inner loop of byte-pair-encoding
    //    vocabulary induction): corpus-wide frequency of every adjacent
    //    character pair, top 20 with a deterministic (count desc, pair)
    //    tie-break. One linear transform+explode pass and a tiny-key
    //    aggregate with map-side partials — the shuffle carries distinct
    //    pairs (bounded by alphabet², not corpus size), so the scan is
    //    embarrassingly parallel at any SF.
    Q("t21_bpe_pairs",
      """WITH idx AS (
        |  SELECT text, unnest(generate_series(1, length(text) - 1)) AS i
        |  FROM documents WHERE length(text) >= 2),
        |pr AS (SELECT substr(text, CAST(i AS INTEGER), 2) AS pair FROM idx)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pr GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      import graft.operators.TextCombiner
      TextCombiner.pairCodeCounts(Tables.documents(s, dir), "text")
        .select(TextCombiner.pairString("code").as("pair"),
          col("cnt").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    },

    // -- character-bigram language-model scoring (the perplexity-style
    //    quality signal a pretraining filter runs corpus-wide): train
    //    P(b|a) = c(ab)/c(a·) on the whole corpus, score each document by
    //    the summed log-probability of its own bigrams. Both count tables
    //    are bounded by alphabet² so they BROADCAST — the only shuffle is
    //    the per-doc rollup. Determinism: counts are exact integers,
    //    c2/c1 is one correctly-rounded IEEE division (bit-identical),
    //    ln() of that bit-identical argument is class (b), and the per-doc
    //    sum uses Det.fsum (class (c), the driver-green r09/x01 pattern);
    //    DeterminismSpec measures the term margin to the 1e-6 rounding
    //    boundary.
    Q("t22_bigram_lm",
      s"""WITH idx AS (
         |  SELECT doc_id, text,
         |    unnest(generate_series(1, length(text) - 1)) AS i
         |  FROM documents WHERE length(text) >= 2),
         |pr AS (
         |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS pair
         |  FROM idx),
         |bg AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c2
         |       FROM pr GROUP BY pair),
         |un AS (SELECT substr(pair, 1, 1) AS ch, CAST(COUNT(*) AS BIGINT) AS c1
         |       FROM pr GROUP BY substr(pair, 1, 1))
         |SELECT pr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ${Det.fsumSql("ln(bg.c2 / un.c1)")} AS logp
         |FROM pr
         |  JOIN bg ON bg.pair = pr.pair
         |  JOIN un ON un.ch = substr(pr.pair, 1, 1)
         |GROUP BY pr.doc_id""".stripMargin) { (s, dir) =>
      // Model pass: TextCombiner's per-partition LUT (alphabet²-bounded
      // shuffle, no per-occurrence rows anywhere); unigrams derive from
      // the TINY bg table. Scoring pass: the per-pair fsum term
      // round(ln·1e6) folds into ONE broadcast long[16384] and each doc
      // scores in a single codegen'd BigramFsum pass over its bytes —
      // zero extra rows, no interpreted lambda, no map probe. The
      // per-occurrence terms are identical to the old (doc, pair)-rollup
      // plan, so the hashed surface is bit-identical.
      graft.expr.GraftFunctions.register(s)
      import s.implicits._
      import graft.operators.TextCombiner
      val docs2 = Tables.documents(s, dir).filter(length(col("text")) >= 2)
      // model pass: per-partition LUT combiner — the shuffle carries
      // ≤ 16 384 codes per partition, never the corpus pair stream
      val bg = TextCombiner.pairCodeCounts(docs2, "text")
        .select(col("code"), col("cnt").as("c2"))
      val un = bg.groupBy(expr("code div 128").as("c0"))
        .agg(sum(col("c2")).as("c1"))
      // the model is alphabet²-bounded (≤ 16 384 rows at ANY corpus
      // size), so folding it into a driver-side LUT is the e05
      // centroids-on-driver idiom, not a data-sized collect
      val lut = new Array[Long](16384)
      bg.join(un, expr("code div 128") === col("c0"))
        .select(col("code"),
          round(log(col("c2") / col("c1")) * 1e6).cast("long").as("t"))
        .collect().foreach(r => lut(r.getLong(0).toInt) = r.getLong(1))
      val lutDf = Seq(lut.toSeq).toDF("arr")
      docs2.crossJoin(broadcast(lutDf))
        .select(col("doc_id"),
          (length(col("text")) - 1).cast("long").as("n_pairs"),
          (expr("bigram_fsum(text, arr)") / 1e6).as("logp"))
    },

    // -- temperature-sampled source mixing (the multi-source data-mix
    //    recipe: weight ∝ count^0.5): per-source doc counts, sqrt
    //    (IEEE-exact on an exact integer — class (a)), fixed-point
    //    micro-unit total so the normalizing sum is order-free, one final
    //    long/long IEEE division. Output is a handful of rows whatever
    //    the corpus size; the only pass is one map-side-combined count.
    Q("t23_source_mix",
      """WITH sc AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source),
        |q AS (
        |  SELECT source, n_docs,
        |    CAST(ROUND(sqrt(n_docs) * 1e6) AS BIGINT) AS sq
        |  FROM sc)
        |SELECT source, n_docs,
        |  sq / CAST((SELECT SUM(sq) FROM q) AS BIGINT) AS mix_w
        |FROM q""".stripMargin) { (s, dir) =>
      val sc = Tables.documents(s, dir)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
      val qd = sc.withColumn("sq",
        round(sqrt(col("n_docs")) * 1e6).cast("long"))
      qd.crossJoin(broadcast(qd.agg(sum(col("sq")).as("tot"))))
        .select(col("source"), col("n_docs"),
          (col("sq") / col("tot")).as("mix_w"))
    },

    // -- product quantization (the ANN memory-compression path: 64-dim
    //    embedding → 8 subspaces × 2-bit codes): per-subspace nearest
    //    centroid of a formula-literal dyadic codebook, exact integer L2
    //    on the 1e-6-quantized vectors, ties to the lower code via
    //    min(struct). ONE shuffle (the per-(vec, sub) rollup); the
    //    codebook is model-sized and broadcasts at any corpus scale.
    Q("e07_pq_codes", {
      s"""WITH ce AS (${qExplodeSql("vid", "")}),
         |cb AS (
         |  SELECT s.sub, c.c, j.j,
         |    (((c.c * 7 + j.j * 3 + s.sub * 5) % 8) - 4) * 250000 AS cq
         |  FROM (SELECT unnest(generate_series(0, 7)) AS sub) s,
         |       (SELECT unnest(generate_series(0, 3)) AS c) c,
         |       (SELECT unnest(generate_series(0, 7)) AS j) j),
         |d AS (
         |  SELECT ce.vid, cb.sub, cb.c,
         |    CAST(SUM((ce.qv - cb.cq) * (ce.qv - cb.cq)) AS BIGINT) AS d2
         |  FROM ce JOIN cb ON cb.sub = (ce.pos - 1) // 8
         |    AND cb.j = (ce.pos - 1) % 8
         |  GROUP BY ce.vid, cb.sub, cb.c)
         |SELECT vid AS vec_id, sub, c AS code, d2 FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY vid, sub ORDER BY d2, c) AS rk
         |  FROM d) WHERE rk = 1""".stripMargin
    }) { (s, dir) =>
      val ce = qExplode(Tables.embeddings(s, dir), "vid")
        .withColumn("sub", expr("(pos - 1) div 8"))
        .withColumn("j", expr("(pos - 1) % 8"))
      val cb = s.range(8).select(col("id").as("sub"))
        .crossJoin(s.range(4).select(col("id").as("c")))
        .crossJoin(s.range(8).select(col("id").as("j")))
        .withColumn("cq",
          ((col("c") * 7 + col("j") * 3 + col("sub") * 5) % 8 - 4) * 250000L)
      val sq = (col("qv") - col("cq")) * (col("qv") - col("cq"))
      val dCols = (0 to 3).map(k => sum(when(col("c") === k, sq)).as(s"d$k"))
      val d = ce.join(broadcast(cb), Seq("sub", "j"))
        .groupBy("vid", "sub")
        .agg(dCols.head, dCols.tail: _*)
      val cands = (0 to 3).map(k =>
        struct(col(s"d$k").as("d2"), lit(k.toLong).as("c")))
      d.select(col("vid").as("vec_id"), col("sub"),
        least(cands: _*).getField("c").as("code"),
        least(cands: _*).getField("d2").as("d2"))
    },

    // -- END-TO-END pipeline compose under ONE hash gate: quality filter
    //    (token floor) → exact dedup (first doc per identical text wins)
    //    → sequence packing of the survivors. The stages chain as pure
    //    DataFrame transforms — dedup is one text-keyed shuffle
    //    (row_number, no join back), packing reuses the t20 shard-bounded
    //    window — demonstrating that the library's operators compose into
    //    the full training-data path without materialization barriers.
    Q("t25_pipeline_pack",
      """WITH tk AS (
        |  SELECT doc_id, source, text,
        |    length(text) - length(replace(text, ' ', '')) + 1 AS n_tok
        |  FROM documents),
        |keep AS (
        |  SELECT MIN(doc_id) AS doc_id FROM tk WHERE n_tok >= 24
        |  GROUP BY text),
        |surv AS (
        |  SELECT tk.doc_id, tk.source, tk.doc_id // 8192 AS shard, tk.n_tok
        |  FROM tk JOIN keep ON keep.doc_id = tk.doc_id),
        |c AS (
        |  SELECT *, SUM(n_tok) OVER (PARTITION BY source, shard
        |    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM surv)
        |SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST((cum - n_tok) // 2048 AS BIGINT) AS pack_id,
        |  CAST((cum - n_tok) % 2048 AS BIGINT) AS pack_offset,
        |  CAST((cum - 1) // 2048 - (cum - n_tok) // 2048 + 1 AS BIGINT)
        |    AS n_chunks
        |FROM c""".stripMargin) { (s, dir) =>
      val nTok = (length(col("text")) -
        length(expr("replace(text, ' ', '')")) + 1).cast("long")
      val dedupW = Window.partitionBy("text").orderBy("doc_id")
      val surv = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"), nTok.as("n_tok"))
        .filter(col("n_tok") >= 24)
        .withColumn("rn", row_number().over(dedupW))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("source"),
          expr("doc_id div 8192").as("shard"), col("n_tok"))
      val packW = Window.partitionBy("source", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      surv.withColumn("cum", sum(col("n_tok")).over(packW))
        .select(col("doc_id"), col("source"), col("n_tok"),
          expr("(cum - n_tok) div 2048").as("pack_id"),
          expr("(cum - n_tok) % 2048").as("pack_offset"),
          expr("(cum - 1) div 2048 - (cum - n_tok) div 2048 + 1")
            .as("n_chunks"))
    },

    // -- IVF-PQ search (the production ANN layout: coarse inverted-file
    //    cells + product-quantized codes + asymmetric-distance lookup
    //    tables): each query builds a (sub, code) → partial-distance LUT
    //    against the PQ codebook, probes its own coarse cell, and scores
    //    candidates by summing 8 LUT entries — query time never touches a
    //    full database vector. All exact integer arithmetic; codebook,
    //    LUTs, and query cells are model-sized broadcasts at any corpus
    //    scale, and the per-(query, candidate) rollup is the only
    //    data-sized shuffle.
    Q("e08_ivfpq_search", {
      s"""WITH ce AS (${qExplodeSql("cid", "")}),
         |cent AS (
         |  SELECT label, pos, CAST(ROUND(AVG(CAST(qv AS DOUBLE))) AS BIGINT) AS cq
         |  FROM (SELECT label,
         |          unnest(generate_series(1, len(embedding))) AS pos,
         |          CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS qv
         |        FROM embeddings)
         |  GROUP BY label, pos),
         |dist AS (
         |  SELECT ce.cid, cent.label,
         |    SUM((ce.qv - cent.cq)*(ce.qv - cent.cq)) AS d2
         |  FROM ce JOIN cent ON ce.pos = cent.pos
         |  GROUP BY ce.cid, cent.label),
         |cell AS (
         |  SELECT cid, label FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, label) AS rk
         |    FROM dist) WHERE rk = 1),
         |cb AS (
         |  SELECT s.sub, c.c, j.j,
         |    (((c.c * 7 + j.j * 3 + s.sub * 5) % 8) - 4) * 250000 AS cq
         |  FROM (SELECT unnest(generate_series(0, 7)) AS sub) s,
         |       (SELECT unnest(generate_series(0, 3)) AS c) c,
         |       (SELECT unnest(generate_series(0, 7)) AS j) j),
         |pqd AS (
         |  SELECT ce.cid, cb.sub, cb.c,
         |    SUM((ce.qv - cb.cq) * (ce.qv - cb.cq)) AS d2
         |  FROM ce JOIN cb ON cb.sub = (ce.pos - 1) // 8
         |    AND cb.j = (ce.pos - 1) % 8
         |  GROUP BY ce.cid, cb.sub, cb.c),
         |code AS (
         |  SELECT cid, sub, c FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY cid, sub ORDER BY d2, c) AS rk
         |    FROM pqd) WHERE rk = 1),
         |lut AS (
         |  SELECT cid AS qid, sub, c, CAST(d2 AS BIGINT) AS l
         |  FROM pqd WHERE cid < 8),
         |cand AS (
         |  SELECT q.cid AS qid, c2.cid
         |  FROM cell q JOIN cell c2 ON q.label = c2.label AND q.cid <> c2.cid
         |  WHERE q.cid < 8),
         |adc AS (
         |  SELECT cand.qid, cand.cid, CAST(SUM(lut.l) AS BIGINT) AS ad2
         |  FROM cand
         |  JOIN code ON code.cid = cand.cid
         |  JOIN lut ON lut.qid = cand.qid AND lut.sub = code.sub
         |    AND lut.c = code.c
         |  GROUP BY cand.qid, cand.cid)
         |SELECT qid, cid, ad2, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY ad2, cid) AS BIGINT) AS rank
         |  FROM adc) WHERE rank <= 3""".stripMargin
    }) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val corpus = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
      // coarse quantizer: per-label centroid VECTORS, broadcast (e04 shape)
      val cent = emb.select(col("label"), posexplode(col("embedding")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("cqv"))
        .groupBy("label", "pos")
        .agg(round(avg(col("cqv").cast("double"))).cast("long").as("cq"))
        .groupBy("label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cq))), s -> s.cq)")
          .as("cvec"))
      val d2c = expr(
        "ql2(qv, cvec)")
      val cell = corpus.crossJoin(broadcast(cent))
        .select(col("cid"), col("label").as("cell"), d2c.as("d2"))
        .withColumn("rk",
          row_number().over(Window.partitionBy("cid").orderBy("d2", "cell")))
        .filter(col("rk") === 1).select("cid", "cell")
      // PQ codes (e07 shape) + per-query LUTs from the same (sub, c) grid
      val ce = qExplode(emb, "vid")
        .withColumn("sub", expr("(pos - 1) div 8"))
        .withColumn("j", expr("(pos - 1) % 8"))
      val cb = s.range(8).select(col("id").as("sub"))
        .crossJoin(s.range(4).select(col("id").as("c")))
        .crossJoin(s.range(8).select(col("id").as("j")))
        .withColumn("cq",
          ((col("c") * 7 + col("j") * 3 + col("sub") * 5) % 8 - 4) * 250000L)
      val sqd = (col("qv") - col("cq")) * (col("qv") - col("cq"))
      val dCols = (0 to 3).map(k => sum(when(col("c") === k, sqd)).as(s"d$k"))
      val dpq = ce.join(broadcast(cb), Seq("sub", "j"))
        .groupBy("vid", "sub").agg(dCols.head, dCols.tail: _*)
      val candsC = (0 to 3).map(k =>
        struct(col(s"d$k").as("d2"), lit(k.toLong).as("c")))
      val code = dpq.select(col("vid").as("cid"), col("sub"),
        least(candsC: _*).getField("c").as("c"))
      val lut = ce.filter(col("vid") < 8).join(broadcast(cb), Seq("sub", "j"))
        .groupBy(col("vid").as("qid"), col("sub"), col("c"))
        .agg(sum(sqd).as("l"))
      val qcell = broadcast(cell.filter(col("cid") < 8)
        .select(col("cid").as("qid"), col("cell")))
      val cand = cell.join(qcell, "cell")
        .filter(col("qid") =!= col("cid")).select("qid", "cid")
      val adc = cand.join(code, "cid")
        .join(broadcast(lut), Seq("qid", "sub", "c"))
        .groupBy("qid", "cid").agg(sum(col("l")).as("ad2"))
      adc.withColumn("rank",
          row_number().over(Window.partitionBy("qid").orderBy("ad2", "cid"))
            .cast("long"))
        .filter(col("rank") <= 3)
        .select("qid", "cid", "ad2", "rank")
    },

    // -- BPE merge APPLICATION (one unrolled trainer iteration on top of
    //    t21's candidate scan): pick the top pair, rewrite the corpus
    //    with it merged to a fresh 1-char symbol (leftmost-nonoverlapping
    //    replace — identical semantics in both engines), and recount.
    //    The winning pair is ONE broadcast row, so the rewrite is a pure
    //    projection; shuffles stay bounded by the (alphabet+1)² pair
    //    space at any corpus size.
    Q("t24_bpe_merge",
      """WITH idx AS (
        |  SELECT text, unnest(generate_series(1, length(text) - 1)) AS i
        |  FROM documents WHERE length(text) >= 2),
        |pr AS (SELECT substr(text, CAST(i AS INTEGER), 2) AS pair FROM idx),
        |top1 AS (
        |  SELECT pair FROM pr GROUP BY pair
        |  ORDER BY COUNT(*) DESC, pair LIMIT 1),
        |m AS (
        |  SELECT replace(text, (SELECT pair FROM top1), chr(1)) AS mtext
        |  FROM documents WHERE length(text) >= 2),
        |idx2 AS (
        |  SELECT mtext, unnest(generate_series(1, length(mtext) - 1)) AS i
        |  FROM m WHERE length(mtext) >= 2),
        |pr2 AS (SELECT substr(mtext, CAST(i AS INTEGER), 2) AS pair FROM idx2)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pr2 GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      import graft.operators.TextCombiner
      val docs2 = Tables.documents(s, dir).filter(length(col("text")) >= 2)
      // both scans ride the LUT combiner; chr(1) from the merge rewrite
      // stays inside the ASCII contract
      val top1 = TextCombiner.pairCodeCounts(docs2, "text")
        .select(TextCombiner.pairString("code").as("pair"), col("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(col("pair").as("mpair"))
      val merged = docs2.crossJoin(broadcast(top1))
        .select(expr("replace(text, mpair, char(1))").as("mtext"))
      TextCombiner.pairCodeCounts(merged, "mtext")
        .select(TextCombiner.pairString("code").as("pair"),
          col("cnt").as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    },

    // -- deterministic weighted sampling (the data-mix DRAW step under
    //    t23's mix WEIGHTS): priority sampling with fixed-point integer
    //    priorities — pri = (lehmer(doc_id)·10⁶) div weight, keep the k
    //    smallest per source, so P(pick) ∝ weight (n_chars) while both
    //    engines rank bit-identical BIGINTs (no RNG, no libm; the
    //    A-ES/priority-sampling shape with the uniform replaced by a
    //    Lehmer hash). Reduce-before-multiply per the s13 overflow rule;
    //    hv·10⁶ < 2⁵¹. One partition-by-source window; Spark 4 pushes
    //    the rank≤k filter into the sort as a per-group top-k
    //    (WindowGroupLimit), so at 100 TB each source shard keeps k
    //    rows, never materializing the full ranked corpus.
    Q("t26_weighted_sample",
      """WITH h AS (
        |  SELECT source, doc_id, n_chars,
        |    ((doc_id % 2147483647) * 48271) % 2147483647 AS hv
        |  FROM documents WHERE n_chars > 0),
        |p AS (
        |  SELECT source, doc_id, (hv * 1000000) // n_chars AS pri FROM h),
        |rk AS (
        |  SELECT source, doc_id, pri,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY pri, doc_id) AS rk
        |  FROM p)
        |SELECT source, doc_id, pri, CAST(rk AS BIGINT) AS rk
        |FROM rk WHERE rk <= 20""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("source").orderBy("pri", "doc_id")
      Tables.documents(s, dir).filter(col("n_chars") > 0)
        .select(col("source"), col("doc_id"),
          expr("(((doc_id % 2147483647) * 48271) % 2147483647) * 1000000")
            .as("hvs"), col("n_chars"))
        .select(col("source"), col("doc_id"),
          expr("hvs div n_chars").as("pri"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select("source", "doc_id", "pri", "rk")
    },

    // -- sliding-window document chunking (the retrieval/pretraining
    //    chunker): fixed 256-char windows on a 192-char stride (64
    //    overlap), one chunk row per start position 1 + k·stride ≤ len.
    //    Pure integer arithmetic + substr, so the chunk text itself sits
    //    on the hashed surface exactly. The explode is bounded by
    //    len/stride per document — output is corpus-linear with no
    //    shuffle at all (chunking is a projection; the scan partitioning
    //    carries through), which is the whole point at 100 TB: chunk
    //    where the data lives, shuffle nothing.
    Q("t27_doc_chunks",
      """WITH k AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, (length(text) - 1) // 192)) AS k
        |  FROM documents WHERE length(text) > 0)
        |SELECT doc_id, k AS chunk_idx, CAST(k * 192 + 1 AS BIGINT) AS start,
        |  CAST(LEAST(256, length(text) - k * 192) AS BIGINT) AS clen,
        |  substr(text, CAST(k * 192 + 1 AS INTEGER),
        |         CAST(LEAST(256, length(text) - k * 192) AS INTEGER))
        |    AS chunk
        |FROM k""".stripMargin) { (s, dir) =>
      Tables.documents(s, dir).filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(0, (length(text) - 1) div 192)")).as("k"))
        .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
          expr("cast(k * 192 + 1 as bigint)").as("start"),
          expr("cast(least(256, length(text) - k * 192) as bigint)")
            .as("clen"),
          expr("substring(text, k * 192 + 1, least(256, length(text) - k * 192))")
            .as("chunk"))
    },

    // -- chunk-level exact dedup (t27's granularity + t01's dedup rule —
    //    the pretraining-pipeline combination that catches boilerplate
    //    repeated ACROSS documents that whole-doc dedup misses): each
    //    256/192 window fingerprints via the codegen rolling_fp pass,
    //    keep ⇔ first (doc_id, chunk_idx) owner of the fingerprint.
    //    ONE fingerprint-keyed shuffle; the per-fp window groups are
    //    duplicate-cluster-sized. Bites on this corpus: 16 chunks drop
    //    at sf0.01.
    Q("t28_chunk_dedup",
      """WITH k AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(0, (length(text) - 1) // 192)) AS k
        |  FROM documents WHERE length(text) > 0),
        |ch AS (
        |  SELECT doc_id, k AS chunk_idx,
        |    substr(text, CAST(k * 192 + 1 AS INTEGER),
        |           CAST(LEAST(256, length(text) - k * 192) AS INTEGER))
        |      AS chunk
        |  FROM k),
        |cp AS (
        |  SELECT doc_id, chunk_idx, chunk,
        |    unnest(generate_series(1, length(chunk))) AS i
        |  FROM ch),
        |fp AS (
        |  SELECT doc_id, chunk_idx,
        |    CAST(SUM(CAST(ascii(substr(chunk, CAST(i AS INT), 1)) AS BIGINT)
        |          * ((i * 2654435761) % 1048576 + 1)) % 1073741824 AS BIGINT)
        |      AS fp
        |  FROM cp GROUP BY doc_id, chunk_idx)
        |SELECT doc_id, chunk_idx, fp,
        |  CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies,
        |  ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, chunk_idx) = 1
        |    AS keep
        |FROM fp""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val fp = Tables.documents(s, dir).filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"),
          explode(expr("sequence(0, (length(text) - 1) div 192)")).as("k"))
        .select(col("doc_id"), col("k").cast("long").as("chunk_idx"),
          expr("rolling_fp(substring(text, k * 192 + 1, least(256, length(text) - k * 192)))")
            .as("fp"))
      val w = Window.partitionBy("fp")
      val wo = Window.partitionBy("fp").orderBy("doc_id", "chunk_idx")
      fp.select(col("doc_id"), col("chunk_idx"), col("fp"),
        count(lit(1)).over(w).as("n_copies"),
        (row_number().over(wo) === 1).as("keep"))
    },

    // -- SemDeDup (semantic dedup: cluster-then-prune — Abbas et al.
    //    2023): assign every embedding to its nearest seed centroid by
    //    exact integer L2 (a ZERO-shuffle map-side argmin over the
    //    broadcast centroid matrix — k never enters the expression tree,
    //    so k = n/512 survives any corpus), then compare pairs ONLY
    //    within a cluster and
    //    prune any vector with a lower-id neighbour at cosine ≥ 0.45 (the
    //    one-pass greedy keep-lowest rule — deterministic, no iteration).
    //    Cosines are exact-integer dots over one sqrt/division chain, so
    //    every verdict is bit-identical cross-engine (the t10 contract).
    //    Scale shape: the whole point of the algorithm is that the
    //    quadratic pair blowup is PER CLUSTER — at production the cluster
    //    count k grows with the corpus (n/k bounded), the e05-trained
    //    centroids stay model-sized, and the only wide move is ONE
    //    cluster-keyed shuffle of the two linear relations.
    Q("t29_semdedup",
      s"""WITH ce AS MATERIALIZED (${qExplodeSql("cid", "")}),
         |n2t AS MATERIALIZED (SELECT cid, SUM(qv*qv) AS n2 FROM ce GROUP BY cid),
         |seed AS MATERIALIZED (SELECT cid AS k, pos, qv AS cq FROM ce
         |  WHERE cid < (SELECT GREATEST(8, COUNT(DISTINCT cid) // 512) FROM ce)),
         |dk AS (
         |  SELECT ce.cid, s.k, SUM((ce.qv - s.cq)*(ce.qv - s.cq)) AS d2
         |  FROM ce JOIN seed s ON ce.pos = s.pos
         |  GROUP BY ce.cid, s.k),
         |asg AS MATERIALIZED (
         |  SELECT cid, k FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY cid ORDER BY d2, k) AS rk
         |    FROM dk) WHERE rk = 1),
         |pair AS (
         |  SELECT x.cid AS cid_a, y.cid AS cid_b
         |  FROM asg x JOIN asg y ON x.k = y.k AND x.cid < y.cid),
         |cl AS MATERIALIZED (
         |  SELECT cid, list(CAST(qv AS DOUBLE) ORDER BY pos) AS v
         |  FROM ce GROUP BY cid),
         |dot AS (
         |  SELECT pair.cid_a, pair.cid_b,
         |    CAST(list_dot_product(a.v, b.v) AS BIGINT) AS d
         |  FROM pair JOIN cl a ON a.cid = pair.cid_a
         |            JOIN cl b ON b.cid = pair.cid_b),
         |cosb AS (
         |  SELECT dot.cid_b AS cid,
         |    CAST(dot.d AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))) AS cosine
         |  FROM dot JOIN n2t na ON dot.cid_a = na.cid
         |           JOIN n2t nb ON dot.cid_b = nb.cid),
         |ver AS (
         |  SELECT cid,
         |    CAST(SUM(CASE WHEN cosine >= 45e-2 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_near,
         |    MAX(cosine) AS max_cos
         |  FROM cosb GROUP BY cid)
         |SELECT asg.cid, asg.k AS cluster,
         |  CAST(COALESCE(ver.n_near, 0) AS BIGINT) AS n_near,
         |  COALESCE(ver.n_near, 0) > 0 AS pruned,
         |  ver.max_cos AS max_cos
         |FROM asg LEFT JOIN ver ON asg.cid = ver.cid""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      import graft.operators.SemDedup
      val emb = Tables.embeddings(s, dir)
      val qCol = expr(
        "qquant(embedding, 1e6)")
      val corpus = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("n2", expr("qdot(qv, qv)"))
      // SemDeDup's scale contract: cluster count GROWS with the corpus so
      // the per-cluster pair blowup stays n/k-bounded. k = max(8, n/512)
      // keeps the sf0.001..sf0.1 gates at the historical k=8 and engages
      // the growth on larger corpora (the sf1x probe runs k=39).
      val k = math.max(8L, emb.count() / 512L)
      SemDedup.prune(corpus, SemDedup.seedsOf(corpus, k), lit(45e-2))
    },

    // -- two-level (IVF) semantic assignment: the SemDedup escalation for
    //    centroid sets past the driver-broadcast threshold, as a real
    //    hashed surface. Corpus rows and FINE centroids each take a
    //    coarse cell by broadcast argmin (coarse ~ √k is the only
    //    driver-sized relation); the fine argmin then runs inside the
    //    cell via a cell-keyed join + min(struct(d2, fk)) partial agg —
    //    per-row work |fine|/|coarse| instead of k, fine distributed end
    //    to end. Seed counts GROW with the corpus (nf = max(32, n/64),
    //    nc = max(4, ⌊√nf⌋) — sqrt is IEEE-exact on both engines) so the
    //    10×/20× replicas engage the growth. All-integer surface.
    Q("e16_semdedup_2level",
      s"""WITH ce AS MATERIALIZED (${qExplodeSql("cid", "")}),
         |nf AS (SELECT GREATEST(32, COUNT(DISTINCT cid) // 64) AS v FROM ce),
         |nc AS (SELECT GREATEST(4, CAST(FLOOR(SQRT(v)) AS BIGINT)) AS v FROM nf),
         |coarse AS MATERIALIZED (SELECT cid AS k, pos, qv AS cq FROM ce
         |  WHERE cid < (SELECT v FROM nc)),
         |fine AS MATERIALIZED (SELECT cid AS fk, pos, qv AS fq FROM ce
         |  WHERE cid < (SELECT v FROM nf)),
         |fdk AS (
         |  SELECT f.fk, c.k, SUM((f.fq - c.cq)*(f.fq - c.cq)) AS d2
         |  FROM fine f JOIN coarse c ON f.pos = c.pos GROUP BY f.fk, c.k),
         |fcell AS MATERIALIZED (SELECT fk, k FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fk ORDER BY d2, k) AS rk
         |  FROM fdk) WHERE rk = 1),
         |cdk AS (
         |  SELECT ce.cid, c.k, SUM((ce.qv - c.cq)*(ce.qv - c.cq)) AS d2
         |  FROM ce JOIN coarse c ON ce.pos = c.pos GROUP BY ce.cid, c.k),
         |ccell AS MATERIALIZED (SELECT cid, k FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, k) AS rk
         |  FROM cdk) WHERE rk = 1),
         |fd AS (
         |  SELECT cc.cid, cc.k, fc.fk,
         |    SUM((ce.qv - f.fq)*(ce.qv - f.fq)) AS d2
         |  FROM ccell cc JOIN fcell fc ON cc.k = fc.k
         |    JOIN ce ON ce.cid = cc.cid
         |    JOIN fine f ON f.fk = fc.fk AND f.pos = ce.pos
         |  GROUP BY cc.cid, cc.k, fc.fk)
         |SELECT cid, coarse, fine, d2 FROM (
         |  SELECT cid, k AS coarse, fk AS fine, CAST(d2 AS BIGINT) AS d2,
         |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY d2, fk) AS rk
         |  FROM fd) WHERE rk = 1""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      import graft.operators.SemDedup
      val emb = Tables.embeddings(s, dir)
      val corpus = emb.select(col("vec_id").as("cid"),
        expr("qquant(embedding, 1e6)").as("qv"))
      val nf = math.max(32L, emb.count() / 64L)
      val nc = math.max(4L, math.floor(math.sqrt(nf.toDouble)).toLong)
      SemDedup.assignTwoLevel(corpus,
        corpus.filter(col("cid") < nc).select(col("cid").as("k"), col("qv")),
        corpus.filter(col("cid") < nf).select(col("cid").as("k"), col("qv")))
        .select(col("cid"), col("coarse"), col("fine"), col("d2"))
    },

    // -- DSIR-style importance weights (Xie et al. 2023: data selection
    //    via importance resampling): per-doc log importance weight under
    //    hashed-feature unigram models of a TARGET domain (lang = 'en')
    //    vs the RAW corpus, with add-one smoothing over the 16 384-code
    //    char-bigram feature space. Rides the t22 machinery end to end:
    //    both models come from the alphabet²-bounded per-partition LUT
    //    combiner, fold into ONE broadcast long[16384] of fixed-point
    //    ln-ratio terms, and each doc scores in a single codegen
    //    BigramFsum pass — zero per-occurrence rows at any corpus size.
    //    Determinism: both smoothed probabilities are IEEE quotients of
    //    exact integers (bit-identical), ln of the bit-identical ratio is
    //    the t22 class with the same DeterminismSpec margin guard.
    Q("t30_dsir_weights",
      s"""WITH idx AS (
         |  SELECT doc_id, lang, text,
         |    unnest(generate_series(1, length(text) - 1)) AS i
         |  FROM documents WHERE length(text) >= 2),
         |pr AS (
         |  SELECT doc_id, lang, substr(text, CAST(i AS INTEGER), 2) AS pair
         |  FROM idx),
         |bgr AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cr
         |        FROM pr GROUP BY pair),
         |bgt AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS ct
         |        FROM pr WHERE lang = 'en' GROUP BY pair),
         |tot AS (SELECT (SELECT COUNT(*) FROM pr) AS tr,
         |               (SELECT COUNT(*) FROM pr WHERE lang = 'en') AS tt)
         |SELECT pr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ${Det.fsumSql(
              "ln(((COALESCE(bgt.ct, 0) + 1) / (tot.tt + 16384)) / " +
                "((bgr.cr + 1) / (tot.tr + 16384)))")} AS logw
         |FROM pr
         |  JOIN bgr ON bgr.pair = pr.pair
         |  LEFT JOIN bgt ON bgt.pair = pr.pair
         |  CROSS JOIN tot
         |GROUP BY pr.doc_id""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      import s.implicits._
      import graft.operators.TextCombiner
      val docs2 = Tables.documents(s, dir).filter(length(col("text")) >= 2)
      val raw = TextCombiner.pairCodeCounts(docs2, "text")
        .select(col("code"), col("cnt").as("cr"))
      val tgt = TextCombiner.pairCodeCounts(
          docs2.filter(col("lang") === "en"), "text")
        .select(col("code").as("tcode"), col("cnt").as("ct"))
      // totals are two scalars; the models are alphabet²-bounded — the
      // t22 LUT-on-driver idiom, not a data-sized collect
      val tr = raw.agg(sum(col("cr"))).head.getLong(0)
      val tt = tgt.agg(sum(col("ct"))).head.getLong(0)
      val lut = new Array[Long](16384)
      raw.join(tgt, col("code") === col("tcode"), "left")
        .select(col("code"),
          round(log(((coalesce(col("ct"), lit(0L)) + 1) / lit(tt + 16384L)) /
            ((col("cr") + 1) / lit(tr + 16384L))) * 1e6).cast("long").as("t"))
        .collect().foreach(r => lut(r.getLong(0).toInt) = r.getLong(1))
      val lutDf = Seq(lut.toSeq).toDF("arr")
      docs2.crossJoin(broadcast(lutDf))
        .select(col("doc_id"),
          (length(col("text")) - 1).cast("long").as("n_pairs"),
          (expr("bigram_fsum(text, arr)") / 1e6).as("logw"))
    },

    // -- quality-classifier INFERENCE (the fastText/logistic-scorer slot
    //    of a pretraining pipeline): a fixed dyadic-weight logistic model
    //    over exact per-doc features — token count, type-token ratio,
    //    stopword ratio. Scoring is a ZERO-shuffle projection (the model
    //    is literal weights), which is exactly how a trained linear model
    //    deploys at 100 TB. Determinism: every feature is an integer or
    //    one IEEE quotient of integers (bit-identical), the linear score
    //    z is a fixed-order dyadic-weight chain (class (a), hashed raw);
    //    exp sees the r6-ROUNDED z (rounded-rational argument, class (b))
    //    and the sigmoid output is r6-rounded with a DeterminismSpec
    //    margin guard — the t16 recipe.
    Q("t31_quality_score", {
      val zSql = "((CAST(n_tok AS DOUBLE) / 1024e0 " +
        "+ 2e0 * (CAST(n_typ AS DOUBLE) / CAST(n_tok AS DOUBLE))) " +
        "- 15e-1 * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))) - 1e0"
      val zr = Det.r6Sql(zSql)
      s"""WITH f AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
         |      AS n_typ,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t = 'a' OR t = 'the')) AS BIGINT) AS n_stop
         |  FROM documents WHERE length(text) > 0)
         |SELECT doc_id, n_tok, n_typ, n_stop,
         |  ($zSql) AS z,
         |  ${Det.r6Sql(s"1e0 / (1e0 + exp(-($zr)))")} AS prob,
         |  ${Det.r6Sql(s"1e0 / (1e0 + exp(-($zr)))")} >= 5e-1 AS keep
         |FROM f""".stripMargin
    }) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val f = Tables.documents(s, dir).filter(length(col("text")) > 0)
        .select(col("doc_id"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"),
          expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)")
            .as("n_typ"),
          // codegen'd stop-token count ≡ size(filter(split(text,' '),
          // t -> t='a' OR t='the')) — TokenCtSpec pins the equality
          expr("CAST(token_ct_in(text, array('a', 'the')) AS BIGINT)")
            .as("n_stop"))
      val z = ((col("n_tok").cast("double") / 1024e0
        + lit(2e0) * (col("n_typ").cast("double") / col("n_tok").cast("double")))
        - lit(15e-1) * (col("n_stop").cast("double") / col("n_tok").cast("double"))) - 1e0
      val zr = Det.r6(z)
      val prob = Det.r6(lit(1e0) / (lit(1e0) + exp(-zr)))
      f.select(col("doc_id"), col("n_tok"), col("n_typ"), col("n_stop"),
        z.as("z"), prob.as("prob"), (prob >= 5e-1).as("keep"))
    },

    // -- FEATURE HASHING (the hashing trick, Weinberger et al. 2009): every
    //    token lands in one of 32 buckets of a fixed-dimension signed
    //    count vector — the classic cheap featurizer feeding a linear
    //    quality classifier without a vocabulary. Token hash = the t04
    //    rolling fingerprint (codegen `rolling_fp`, stated declaratively
    //    by the oracle); bucket = h mod 32, sign from bit 5 (the
    //    collision-unbiasing sign trick). ONE explode + doc-keyed
    //    aggregation, output bounded at 32 rows per document.
    Q("t42_feature_hash",
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE length(text) > 0),
        |th AS (
        |  SELECT doc_id, tok,
        |    COALESCE((SELECT CAST(SUM(CAST(ascii(substr(tok, CAST(i AS INT), 1))
        |        AS BIGINT) * ((i * 2654435761) % 1048576 + 1)) % 1073741824
        |      AS BIGINT)
        |      FROM unnest(generate_series(1, length(tok))) AS t(i)), 0)
        |      AS h
        |  FROM tk)
        |SELECT doc_id, h % 32 AS bucket,
        |  CAST(SUM(CASE WHEN (h // 32) % 2 = 0 THEN 1 ELSE -1 END)
        |    AS BIGINT) AS val
        |FROM th GROUP BY doc_id, h % 32""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      Tables.documents(s, dir).filter(length(col("text")) > 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .select(col("doc_id"), expr("rolling_fp(tok)").as("h"))
        .groupBy(col("doc_id"), (col("h") % 32).as("bucket"))
        .agg(sum(when(expr("(h div 32) % 2") === 0, 1L).otherwise(-1L))
          .as("val"))
    },

    // -- Canonical-document selection ("keep best"): the terminal step of
    //    a dedup pass — inside each exact-duplicate group (md5(text)),
    //    keep the member with the highest t31 quality score, doc_id as
    //    the tiebreak. At the base SFs most groups are singletons; the
    //    10× sf1x replica gives every document a 10-clone group, which is
    //    exactly where the gate exercises the ranked selection. One
    //    fingerprint-keyed window — the same single-shuffle shape as
    //    t01/t28; prob is the r6 shared rational, so the ordering is
    //    bit-identical cross-engine.
    Q("t41_keep_best", {
      val zSql = "((CAST(n_tok AS DOUBLE) / 1024e0 " +
        "+ 2e0 * (CAST(n_typ AS DOUBLE) / CAST(n_tok AS DOUBLE))) " +
        "- 15e-1 * (CAST(n_stop AS DOUBLE) / CAST(n_tok AS DOUBLE))) - 1e0"
      val zr = Det.r6Sql(zSql)
      s"""WITH f AS (
         |  SELECT doc_id, md5(text) AS grp,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
         |      AS n_typ,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> t = 'a' OR t = 'the')) AS BIGINT) AS n_stop
         |  FROM documents WHERE length(text) > 0),
         |p AS (
         |  SELECT doc_id, grp,
         |    ${Det.r6Sql(s"1e0 / (1e0 + exp(-($zr)))")} AS prob
         |  FROM f)
         |SELECT doc_id, grp, prob,
         |  CAST(COUNT(*) OVER (PARTITION BY grp) AS BIGINT) AS grp_size,
         |  ROW_NUMBER() OVER (PARTITION BY grp
         |                     ORDER BY prob DESC, doc_id) = 1 AS keep
         |FROM p""".stripMargin
    }) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val f = Tables.documents(s, dir).filter(length(col("text")) > 0)
        .select(col("doc_id"), md5(col("text")).as("grp"),
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tok"),
          expr("CAST(size(array_distinct(split(text, ' '))) AS BIGINT)")
            .as("n_typ"),
          expr("CAST(token_ct_in(text, array('a', 'the')) AS BIGINT)")
            .as("n_stop"))
      val z = ((col("n_tok").cast("double") / 1024e0
        + lit(2e0) * (col("n_typ").cast("double") / col("n_tok").cast("double")))
        - lit(15e-1) * (col("n_stop").cast("double") / col("n_tok").cast("double"))) - 1e0
      val prob = Det.r6(lit(1e0) / (lit(1e0) + exp(-Det.r6(z))))
      val w = Window.partitionBy("grp")
      val p = f.select(col("doc_id"), col("grp"), prob.as("prob"))
      p.select(col("doc_id"), col("grp"), col("prob"),
        count(lit(1)).over(w).as("grp_size"),
        (row_number().over(w.orderBy(col("prob").desc, col("doc_id"))) === 1)
          .as("keep"))
    },

    // -- Gopher-style quality-rule battery (Rae et al. 2021 §A1.1 adapted
    //    to the corpus: word-count bounds, mean-word-length bounds,
    //    stopword floor, duplicate-word ceiling, most-common-word
    //    ceiling). Every rule is an INTEGER cross-multiplied comparison —
    //    no float ever reaches the hashed surface. One token explode with
    //    map-side partial aggs; the histogram shuffle is doc-keyed, so at
    //    100 TB it scales with the corpus, never with a pair blowup.
    Q("t32_gopher_rules",
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE length(text) > 0),
        |h AS (SELECT doc_id, tok, COUNT(*) AS c FROM tk GROUP BY doc_id, tok),
        |f AS (
        |  SELECT doc_id,
        |    CAST(SUM(c) AS BIGINT) AS n_tok,
        |    CAST(COUNT(*) AS BIGINT) AS n_typ,
        |    CAST(MAX(c) AS BIGINT) AS max_cnt,
        |    CAST(SUM(CASE WHEN tok = 'a' OR tok = 'the' THEN c ELSE 0 END)
        |      AS BIGINT) AS n_stop,
        |    CAST(SUM(length(tok) * c) AS BIGINT) AS n_chars_ns
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id, n_tok, n_typ, max_cnt, n_stop, n_chars_ns,
        |  (n_tok BETWEEN 20 AND 400) AS r_wc,
        |  (3 * n_tok <= n_chars_ns AND n_chars_ns <= 10 * n_tok) AS r_mwl,
        |  (n_stop >= 2) AS r_stop,
        |  (5 * (n_tok - n_typ) <= 3 * n_tok) AS r_dup,
        |  (5 * max_cnt <= n_tok) AS r_top,
        |  (n_tok BETWEEN 20 AND 400
        |    AND 3 * n_tok <= n_chars_ns AND n_chars_ns <= 10 * n_tok
        |    AND n_stop >= 2
        |    AND 5 * (n_tok - n_typ) <= 3 * n_tok
        |    AND 5 * max_cnt <= n_tok) AS keep
        |FROM f""".stripMargin) { (s, dir) =>
      val h = Tables.documents(s, dir).filter(length(col("text")) > 0)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      val f = h.groupBy("doc_id").agg(
        sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_typ"),
        max(col("c")).as("max_cnt"),
        sum(when(col("tok") === "a" || col("tok") === "the", col("c"))
          .otherwise(0L)).as("n_stop"),
        sum(length(col("tok")).cast("long") * col("c")).as("n_chars_ns"))
      val rWc = col("n_tok").between(20, 400)
      val rMwl = (lit(3) * col("n_tok") <= col("n_chars_ns")) &&
        (col("n_chars_ns") <= lit(10) * col("n_tok"))
      val rStop = col("n_stop") >= 2
      val rDup = lit(5) * (col("n_tok") - col("n_typ")) <= lit(3) * col("n_tok")
      val rTop = lit(5) * col("max_cnt") <= col("n_tok")
      f.select(col("doc_id"), col("n_tok"), col("n_typ"), col("max_cnt"),
        col("n_stop"), col("n_chars_ns"),
        rWc.as("r_wc"), rMwl.as("r_mwl"), rStop.as("r_stop"),
        rDup.as("r_dup"), rTop.as("r_top"),
        (rWc && rMwl && rStop && rDup && rTop).as("keep"))
    },

    // -- CCNet-style perplexity bucketing (Wenzek et al. 2020: score each
    //    doc under a corpus LM, split each language into head/middle/tail
    //    terciles by per-char perplexity). The LM is t22's char-bigram
    //    model via the alphabet²-bounded LUT combiner + one codegen
    //    BigramFsum pass; the hashed surface is the exact micro-ln LONG
    //    score, its exact-rational per-pair mean (round of a bit-identical
    //    IEEE quotient — class (a)), and an integer-ordered ntile. The
    //    tercile window is one lang-keyed shuffle of doc-sized rows.
    Q("t33_ccnet_buckets",
      """WITH idx AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text) - 1)) AS i
        |  FROM documents WHERE length(text) >= 2),
        |pr AS (
        |  SELECT doc_id, substr(text, CAST(i AS INTEGER), 2) AS pair
        |  FROM idx),
        |bg AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c2
        |       FROM pr GROUP BY pair),
        |un AS (SELECT substr(pair, 1, 1) AS ch, CAST(COUNT(*) AS BIGINT) AS c1
        |       FROM pr GROUP BY substr(pair, 1, 1)),
        |sc AS (
        |  SELECT pr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(CAST(ROUND(ln(bg.c2 / un.c1) * 1e6) AS BIGINT)) AS BIGINT)
        |      AS score_u
        |  FROM pr
        |    JOIN bg ON bg.pair = pr.pair
        |    JOIN un ON un.ch = substr(pr.pair, 1, 1)
        |  GROUP BY pr.doc_id),
        |m AS (
        |  SELECT d.doc_id, d.lang, sc.n_pairs, sc.score_u,
        |    CAST(ROUND(CAST(sc.score_u AS DOUBLE) / sc.n_pairs) AS BIGINT)
        |      AS mean_u
        |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id)
        |SELECT doc_id, lang, n_pairs, score_u, mean_u,
        |  CAST(ntile(3) OVER (PARTITION BY lang ORDER BY mean_u DESC, doc_id)
        |    AS BIGINT) AS bucket
        |FROM m""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      import s.implicits._
      import graft.operators.TextCombiner
      val docs2 = Tables.documents(s, dir).filter(length(col("text")) >= 2)
      val bg = TextCombiner.pairCodeCounts(docs2, "text")
        .select(col("code"), col("cnt").as("c2"))
      val un = bg.groupBy(expr("code div 128").as("c0"))
        .agg(sum(col("c2")).as("c1"))
      // alphabet²-bounded model → driver LUT (the t22 idiom, not a
      // data-sized collect); terms identical to t22's hashed surface
      val lut = new Array[Long](16384)
      bg.join(un, expr("code div 128") === col("c0"))
        .select(col("code"),
          round(log(col("c2") / col("c1")) * 1e6).cast("long").as("t"))
        .collect().foreach(r => lut(r.getLong(0).toInt) = r.getLong(1))
      val lutDf = Seq(lut.toSeq).toDF("arr")
      val sc = docs2.crossJoin(broadcast(lutDf))
        .select(col("doc_id"), col("lang"),
          (length(col("text")) - 1).cast("long").as("n_pairs"),
          expr("bigram_fsum(text, arr)").as("score_u"))
      val w = Window.partitionBy("lang")
        .orderBy(col("mean_u").desc, col("doc_id"))
      sc.withColumn("mean_u",
          round(col("score_u").cast("double") / col("n_pairs")).cast("long"))
        .withColumn("bucket", ntile(3).over(w).cast("long"))
    },

    // -- MinHash-band recall diagnostic (the dedup sibling of e09: before
    //    trusting an LSH dedup pass at 100 TB, measure what the band rule
    //    misses on a pinned sample). Ground truth = exact token-set
    //    Jaccard ≥ 0.5 on docs < 64; candidates = t08's (h1,h2) band
    //    bucket join on the same sample. The hashed surface is three
    //    exact counts and two exact single divisions. Sample-bounded by
    //    construction — corpus growth never widens any relation here.
    Q("t35_minhash_recall",
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 64),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS c
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |truth AS (
        |  SELECT ia, ib FROM pairs
        |    JOIN sizes sa ON sa.doc_id = ia
        |    JOIN sizes sb ON sb.doc_id = ib
        |  WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 5e-1),
        |sig AS (
        |  SELECT doc_id, MIN(md5('a' || tok)) AS h1, MIN(md5('b' || tok)) AS h2
        |  FROM toks GROUP BY doc_id),
        |cand AS (
        |  SELECT a.doc_id AS ia, b.doc_id AS ib
        |  FROM sig a JOIN sig b ON a.h1 = b.h1 AND a.h2 = b.h2
        |    AND a.doc_id < b.doc_id)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
        |  CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_cand,
        |  CAST((SELECT COUNT(*) FROM cand c JOIN truth t
        |        ON c.ia = t.ia AND c.ib = t.ib) AS BIGINT) AS n_hit,
        |  CAST((SELECT COUNT(*) FROM cand c JOIN truth t
        |        ON c.ia = t.ia AND c.ib = t.ib) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM truth) AS recall,
        |  CAST((SELECT COUNT(*) FROM cand c JOIN truth t
        |        ON c.ia = t.ia AND c.ib = t.ib) AS DOUBLE)
        |    / (SELECT COUNT(*) FROM cand) AS precision""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir).filter(col("doc_id") < 64)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = toks.select(col("doc_id").as("ia"), col("tok"))
        .join(toks.select(col("doc_id").as("ib"), col("tok").as("tb")),
          col("tok") === col("tb") && col("ia") < col("ib"))
        .groupBy("ia", "ib").agg(count(lit(1)).as("c"))
      val truth = pairs
        .join(sizes.select(col("doc_id").as("ia"), col("n").as("na")), "ia")
        .join(sizes.select(col("doc_id").as("ib"), col("n").as("nb")), "ib")
        .filter(col("c").cast("double") / (col("na") + col("nb") - col("c"))
          >= 5e-1)
        .select("ia", "ib")
      val sig = toks.groupBy("doc_id").agg(
        min(md5(concat(lit("a"), col("tok")))).as("h1"),
        min(md5(concat(lit("b"), col("tok")))).as("h2"))
      val cand = sig.select(col("doc_id").as("ia"), col("h1"), col("h2"))
        .join(sig.select(col("doc_id").as("ib"), col("h1").as("g1"),
          col("h2").as("g2")),
          col("h1") === col("g1") && col("h2") === col("g2")
            && col("ia") < col("ib"))
        .select("ia", "ib")
      val hit = cand.join(truth, Seq("ia", "ib"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(col("n_truth"), col("n_cand"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_truth")).as("recall"),
          (col("n_hit").cast("double") / col("n_cand")).as("precision"))
    },

    // -- token-budget allocation (the "how many epochs of each source"
    //    planning step of a data mix — Muennighoff 2023's ≤4-epoch repeat
    //    rule): per-source token counts, √-tempered weights in fixed
    //    point, integer-division allocation of a literal token budget,
    //    micro-epoch repeat factors capped at 4. Pure integer arithmetic;
    //    output is sources-sized at any corpus scale.
    Q("t36_token_budget",
      """WITH sc AS (
        |  SELECT source,
        |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
        |  FROM documents GROUP BY source),
        |q AS (
        |  SELECT source, n_tok,
        |    CAST(ROUND(sqrt(n_tok) * 1e6) AS BIGINT) AS sq
        |  FROM sc),
        |t AS (SELECT CAST(SUM(sq) AS BIGINT) AS tot FROM q)
        |SELECT source, n_tok, sq,
        |  (1048576 * sq) // tot AS alloc_tok,
        |  LEAST(4000000, ((1048576 * sq) // tot) * 1000000 // n_tok)
        |    AS epochs_u,
        |  (((1048576 * sq) // tot) * 1000000 // n_tok) > 4000000 AS capped
        |FROM q, t""".stripMargin) { (s, dir) =>
      val sc = Tables.documents(s, dir)
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tok"))
      val qd = sc.withColumn("sq",
        round(sqrt(col("n_tok")) * 1e6).cast("long"))
      val alloc = expr("(1048576 * sq) div tot")
      val rawEpochs = expr("((1048576 * sq) div tot) * 1000000 div n_tok")
      qd.crossJoin(broadcast(qd.agg(sum(col("sq")).as("tot"))))
        .select(col("source"), col("n_tok"), col("sq"),
          alloc.as("alloc_tok"),
          least(lit(4000000L), rawEpochs).as("epochs_u"),
          (rawEpochs > 4000000L).as("capped"))
    },

    // -- PII redaction: the scrub pass every production corpus runs
    //    before training. Synthetic-but-deterministic PII (an email, an
    //    IPv4, a phone extension derived from doc_id) is appended to each
    //    document — the corpus itself is lowercase word salad, so every
    //    match is injected and the counts are exactly 1/1/1 by
    //    construction, which the hash gate then proves both engines'
    //    regex semantics agree on. Patterns stay in the common
    //    Java-regex/RE2 subset (character classes + bounded repetition,
    //    no alternation/backreferences) so leftmost-greedy matching is
    //    identical; DuckDB's regexp_replace needs the explicit 'g' flag
    //    to match Spark's replace-all default. Scale shape: a pure
    //    projection — zero shuffle, whole-stage codegen over the corpus.
    Q("t39_pii_redact", {
      val email = "[a-z0-9]+@[a-z0-9.]+"
      val ip = """([0-9]{1,3}\.){3}[0-9]{1,3}"""
      val phone = "555-[0-9]{4}"
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@mail.example ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST(doc_id % 100 AS VARCHAR)
         |      || ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      AS text
         |  FROM documents),
         |red AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_email,
         |    CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ip,
         |    CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phone,
         |    regexp_replace(regexp_replace(regexp_replace(text,
         |      '$email', '<EMAIL>', 'g'),
         |      '$ip', '<IP>', 'g'),
         |      '$phone', '<PHONE>', 'g') AS rtext
         |  FROM aug)
         |SELECT doc_id, n_email, n_ip, n_phone,
         |  CAST(length(rtext) AS BIGINT) AS red_len, md5(rtext) AS red_md5
         |FROM red""".stripMargin
    }) { (s, dir) =>
      val email = "[a-z0-9]+@[a-z0-9.]+"
      val ip = """([0-9]{1,3}\.){3}[0-9]{1,3}"""
      val phone = "555-[0-9]{4}"
      val aug = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), (col("doc_id") % 100).cast("string"),
          lit(" tel 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
          .as("text"))
      val rtext = regexp_replace(regexp_replace(regexp_replace(col("text"),
        email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>")
      aug.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(email), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("text"), lit(ip), lit(0)))
          .cast("long").as("n_ip"),
        size(regexp_extract_all(col("text"), lit(phone), lit(0)))
          .cast("long").as("n_phone"),
        length(rtext).cast("long").as("red_len"),
        md5(rtext).as("red_md5"))
    },

    // -- BPE ENCODE: applying a TRAINED tokenizer's merge table to the
    //    corpus — the missing third step of the tokenizer family (t21
    //    scores pairs, t24 learns merges, this encodes with them). Every
    //    symbol is wrapped in parens ('(h)(e)(l)…'), so one literal
    //    `replace('(x)(y)' → '(xy)')` pass IS one BPE merge round:
    //    left-to-right non-overlapping application over unambiguous token
    //    boundaries, identical semantics on both engines, with multi-level
    //    merges ((t,h) → (th,e)) chaining through the fixed 6-rule table
    //    exactly as a real encoder does. Zero shuffle — a pure
    //    whole-stage-codegen string projection over the corpus; the merge
    //    table is a compile-time artifact (tokenizers are frozen at
    //    encode time), so scale-out is embarrassing.
    Q("t40_bpe_encode", {
      val merges = Seq("t" -> "h", "th" -> "e", "a" -> "n",
        "an" -> "d", "i" -> "n", "in" -> "g")
      val applied = merges.foldLeft("e") { case (acc, (x, y)) =>
        s"replace($acc, '($x)($y)', '($x$y)')"
      }
      s"""WITH enc0 AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |    regexp_replace(text, '(.)', '(\\1)', 'g') AS e
         |  FROM documents),
         |m AS (SELECT doc_id, n_chars, $applied AS e FROM enc0)
         |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         |  CAST(length(e) - length(replace(e, '(', '')) AS BIGINT) AS n_tok,
         |  md5(e) AS enc_md5
         |FROM m""".stripMargin
    }) { (s, dir) =>
      val merges = Seq("t" -> "h", "th" -> "e", "a" -> "n",
        "an" -> "d", "i" -> "n", "in" -> "g")
      val applied = merges.foldLeft(
        "regexp_replace(text, '(.)', '($1)')") { case (acc, (x, y)) =>
        s"replace($acc, '($x)($y)', '($x$y)')"
      }
      Tables.documents(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        expr(s"CAST(length($applied) - length(replace($applied, '(', '')) AS BIGINT)")
          .as("n_tok"),
        expr(s"md5($applied)").as("enc_md5"))
    },

    // -- winnowing fingerprint selection (Schleimer et al. 2003 — the
    //    MOSS document-fingerprinting algorithm): per-position char
    //    5-gram polynomial hashes, and every window of w=4 consecutive
    //    hashes selects its RIGHTMOST MINIMUM; the distinct selected
    //    (pos, hash) set is the doc's fingerprint sketch, guaranteeing
    //    any shared substring of ≥ w+k−1 = 8 chars is caught. The
    //    selection is ONE frame window per doc: positions are consecutive
    //    integers, so ROWS BETWEEN 3 PRECEDING AND CURRENT ROW is exactly
    //    the w=4 hash window, and min(struct(hv, -pos)) picks the smallest
    //    hash with the RIGHTMOST position on ties — no windows×positions
    //    join, no second explode, one doc-keyed shuffle. (The oracle keeps
    //    the textbook join+rank formulation; the hash gate proves the
    //    frame-window plan equivalent.) All integer arithmetic; the hash
    //    is an inline polynomial both engines compute identically.
    Q("t38_winnowing",
      """WITH idx AS (
        |  SELECT doc_id, text,
        |    unnest(generate_series(1, length(text) - 4)) AS i
        |  FROM documents WHERE length(text) >= 8),
        |h AS (
        |  SELECT doc_id, i,
        |    (CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) * 923521
        |     + CAST(ascii(substr(text, CAST(i + 1 AS INT), 1)) AS BIGINT) * 29791
        |     + CAST(ascii(substr(text, CAST(i + 2 AS INT), 1)) AS BIGINT) * 961
        |     + CAST(ascii(substr(text, CAST(i + 3 AS INT), 1)) AS BIGINT) * 31
        |     + CAST(ascii(substr(text, CAST(i + 4 AS INT), 1)) AS BIGINT))
        |      % 1048576 AS hv
        |  FROM idx),
        |wins AS (
        |  SELECT doc_id, i AS wi, unnest(generate_series(i - 3, i)) AS j
        |  FROM h WHERE i >= 4),
        |sel AS (
        |  SELECT w.doc_id, w.wi, h.j, h.hv,
        |    ROW_NUMBER() OVER (PARTITION BY w.doc_id, w.wi
        |                       ORDER BY h.hv, h.j DESC) AS rk
        |  FROM wins w JOIN (SELECT doc_id, i AS j, hv FROM h) h
        |    ON h.doc_id = w.doc_id AND h.j = w.j)
        |SELECT DISTINCT doc_id, CAST(j AS BIGINT) AS pos,
        |  CAST(hv AS BIGINT) AS fp
        |FROM sel WHERE rk = 1""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      Tables.documents(s, dir).filter(length(col("text")) >= 8)
        .select(col("doc_id"), explode(expr("winnow_fps(text)")).as("w"))
        .select(col("doc_id"), col("w.pos"), col("w.fp"))
    },

    // -- prefix-filtered set-similarity join (PPJoin/AllPairs, Xiao 2008
    //    / Bayardo 2007): order every token set by global rarity, join
    //    only on each doc's first |d| − ⌈τ·|d|⌉ + 1 tokens, verify the
    //    candidates exactly. Losslessness is THE claim — two sets with
    //    Jaccard ≥ τ must share a prefix token under a common total
    //    order — so the ORACLE computes the naive all-pairs join and the
    //    hash gate rejects any pruning bug that drops a pair. All
    //    thresholds are integer cross-multiplications (9c ≥ 4(na+nb) ⟺
    //    J ≥ 0.8). Scale shape: the prefix join's fan-out is bounded by
    //    prefix-token posting lists (rarest tokens first — the whole
    //    point); the verify join touches candidates only. The global
    //    rarity rank is a vocabulary-sized window (Heaps-law bounded),
    //    never corpus-sized.
    Q("t37_prefix_join",
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents WHERE doc_id < 256),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
        |  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT id_a, id_b, CAST(c AS BIGINT) AS c,
        |  CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
        |  CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS jaccard
        |FROM pairs
        |  JOIN sizes sa ON sa.doc_id = id_a
        |  JOIN sizes sb ON sb.doc_id = id_b
        |WHERE 9 * c >= 4 * (sa.n + sb.n)""".stripMargin) { (s, dir) =>
      val toks = Tables.documents(s, dir).filter(col("doc_id") < 256)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val sizes = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // global rarity rank: vocabulary-sized, deterministic (df, tok)
      val rk = toks.groupBy("tok").agg(count(lit(1)).as("df"))
        .withColumn("grk", row_number().over(
          Window.orderBy(col("df"), col("tok"))))
        .select("tok", "grk")
      val pref = toks.join(rk, "tok").join(sizes, "doc_id")
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id").orderBy("grk")))
        .filter(col("rn") <= col("n") - ceil(col("n") * 8e-1).cast("long") + 1)
        .select("doc_id", "tok")
      val cand = pref.select(col("doc_id").as("id_a"), col("tok"))
        .join(pref.select(col("doc_id").as("id_b"), col("tok").as("tb")),
          col("tok") === col("tb") && col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      // exact verification on candidates only
      val c = cand
        .join(toks.select(col("doc_id").as("id_a"), col("tok")), "id_a")
        .join(toks.select(col("doc_id").as("idb2"), col("tok").as("tb")),
          col("id_b") === col("idb2") && col("tok") === col("tb"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
      c.join(sizes.select(col("doc_id").as("id_a"), col("n").as("n_a")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("n").as("n_b")), "id_b")
        .filter(lit(9) * col("c") >= lit(4) * (col("n_a") + col("n_b")))
        .select(col("id_a"), col("id_b"), col("c"), col("n_a"), col("n_b"),
          (col("c").cast("double") / (col("n_a") + col("n_b") - col("c")))
            .as("jaccard"))
    },

    // -- exact-substring match runs (Lee et al. 2022 "Deduplicating
    //    Training Data Makes Language Models Better": find maximal shared
    //    word-K-gram runs across document pairs — the suffix-array dedup's
    //    relational face). Positional K-gram join blocked by gram
    //    frequency (stop-grams never enter the pair join), then
    //    gaps-and-islands (pa − row_number per (a,b,offset)) merges
    //    consecutive matches into maximal runs. Pure integer arithmetic.
    //    At scale: the gram join shuffles on the gram key with the df cap
    //    bounding any hot gram's fan-out; the island window rides ONE
    //    (a,b,diff)-keyed shuffle.
    Q("t34_substring_runs",
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |idx AS (
        |  SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 7)) AS p
        |  FROM toks WHERE len(tk) >= 8),
        |g AS (
        |  SELECT doc_id, p, array_to_string(list_slice(tk, p, p + 7), ' ')
        |    AS gram FROM idx),
        |df AS (SELECT gram, COUNT(*) AS c FROM g GROUP BY gram),
        |gf AS (SELECT g.doc_id, g.p, g.gram
        |       FROM g JOIN df ON df.gram = g.gram WHERE df.c BETWEEN 2 AND 16),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.p AS pa, b.p AS pb, a.p - b.p AS diff
        |  FROM gf a JOIN gf b ON a.gram = b.gram AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT doc_a, doc_b, diff, pa, pb,
        |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diff
        |                            ORDER BY pa) AS i
        |  FROM pr)
        |SELECT doc_a, doc_b, diff,
        |  CAST(MIN(pa) AS BIGINT) AS start_a,
        |  CAST(MIN(pb) AS BIGINT) AS start_b,
        |  CAST(COUNT(*) + 7 AS BIGINT) AS match_words
        |FROM isl GROUP BY doc_a, doc_b, diff, i""".stripMargin) { (s, dir) =>
      val K = 8
      val idx = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= K)
        .select(col("doc_id"), col("tk"),
          explode(expr(s"sequence(1, size(tk) - ${K - 1})")).as("p"))
      val g = idx.select(col("doc_id"), col("p").cast("long").as("p"),
        expr(s"concat_ws(' ', slice(tk, p, $K))").as("gram"))
      val dfc = g.groupBy("gram").agg(count(lit(1)).as("c"))
        .filter(col("c").between(2, 16)).select("gram")
      val gf = g.join(dfc, "gram")
      val pr = gf.select(col("gram"), col("doc_id").as("doc_a"),
          col("p").as("pa"))
        .join(gf.select(col("gram"), col("doc_id").as("doc_b"),
          col("p").as("pb")), "gram")
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("pa"), col("pb"),
          (col("pa") - col("pb")).as("diff"))
      val w = Window.partitionBy("doc_a", "doc_b", "diff").orderBy("pa")
      pr.withColumn("i", col("pa") - row_number().over(w))
        .groupBy("doc_a", "doc_b", "diff", "i")
        .agg(min(col("pa")).as("start_a"), min(col("pb")).as("start_b"),
          (count(lit(1)) + lit(K - 1).cast("long")).as("match_words"))
        .drop("i")
    },

    // -- edit-distance verification of near-dup candidates: the exact
    //    confirm step a production dedup pipeline runs AFTER blocking —
    //    candidates come from t08's (h1, h2) minhash band buckets (never
    //    all pairs), then each pair pays one Levenshtein DP on the two
    //    texts. Both engines implement classic unit-cost Levenshtein and
    //    the corpus is ASCII (the corpus contract), so the distance is an
    //    exact integer on the hashed surface; the near_dup verdict is the
    //    integer cross-multiplied <=25%-edits rule. At 100 TB the DP cost
    //    rides the blocked candidate volume (band-width-bounded), and the
    //    two text gathers are keyed equi-joins.
    Q("t44_edit_distance",
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE doc_id < $T08MaxDoc),
         |sig AS (
         |  SELECT doc_id,
         |    MIN(md5('a' || tok)) AS h1, MIN(md5('b' || tok)) AS h2
         |  FROM toks GROUP BY doc_id),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sig a JOIN sig b
         |    ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id)
         |SELECT c.id_a, c.id_b,
         |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |  CAST(length(da.text) AS BIGINT) AS len_a,
         |  CAST(length(db.text) AS BIGINT) AS len_b,
         |  CAST(CASE WHEN 4 * levenshtein(da.text, db.text)
         |            <= GREATEST(length(da.text), length(db.text))
         |       THEN 1 ELSE 0 END AS BIGINT) AS near_dup
         |FROM cand c
         |JOIN documents da ON da.doc_id = c.id_a
         |JOIN documents db ON db.doc_id = c.id_b""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val toks = docs.filter(col("doc_id") < T08MaxDoc)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .distinct()
      val sig = toks.groupBy("doc_id").agg(
        min(md5(concat(lit("a"), col("tok")))).as("h1"),
        min(md5(concat(lit("b"), col("tok")))).as("h2"))
      val a = sig.select(col("doc_id").as("id_a"),
        col("h1"), col("h2"))
      val b = sig.select(col("doc_id").as("id_b"),
        col("h1").as("b1"), col("h2").as("b2"))
      // the band-bucket join streams a few hundred signature rows, which
      // AQE coalesces to ONE partition — and with it every downstream
      // Levenshtein DP (measured 18 s single-core at sf0.1). Spreading
      // the candidate PAIRS across the executors costs one tiny shuffle
      // of (id_a, id_b) rows and parallelizes the quadratic-per-pair DP,
      // which dominates this operator at any scale.
      val cand = a.join(b, col("h1") === col("b1") && col("h2") === col("b2")
          && col("id_a") < col("id_b"))
        .select("id_a", "id_b")
        .repartition(s.sparkContext.defaultParallelism,
          col("id_a"), col("id_b"))
      val txt = docs.select(col("doc_id"), col("text"))
      val ld = levenshtein(col("ta"), col("tb")).cast("long")
      cand
        .join(txt.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
        .join(txt.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
        .select(col("id_a"), col("id_b"),
          ld.as("edit_dist"),
          length(col("ta")).cast("long").as("len_a"),
          length(col("tb")).cast("long").as("len_b"),
          when(lit(4) * ld <= greatest(length(col("ta")).cast("long"),
            length(col("tb")).cast("long")), 1L).otherwise(0L).as("near_dup"))
    },

    // -- deterministic train/val/test assignment: split membership is a
    //    pure function of doc_id through the Lehmer hash (the t26 idiom,
    //    proven cross-engine), so ANY shard of a 100 TB corpus computes
    //    its own split locally with zero coordination — the property that
    //    makes hash-splits the production standard over random ones.
    //    90/5/5 by hash bucket; one map-side-combined 3-group rollup.
    Q("t45_hash_split",
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    (((doc_id % 2147483647) * 48271) % 2147483647) % 100 AS bucket
        |  FROM documents),
        |sp AS (
        |  SELECT CASE WHEN bucket < 90 THEN 'train'
        |              WHEN bucket < 95 THEN 'val'
        |              ELSE 'test' END AS split,
        |    doc_id, n_chars
        |  FROM h),
        |g AS (
        |  SELECT split, CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars,
        |    CAST(MIN(doc_id) AS BIGINT) AS min_id,
        |    CAST(MAX(doc_id) AS BIGINT) AS max_id
        |  FROM sp GROUP BY split),
        |t AS (SELECT SUM(docs) AS tot FROM g)
        |SELECT split, docs, chars, min_id, max_id,
        |  CAST((docs * 10000) // t.tot AS BIGINT) AS share_bp
        |FROM g, t""".stripMargin) { (s, dir) =>
      val h = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"),
          expr("(((doc_id % 2147483647) * 48271) % 2147483647) % 100")
            .as("bucket"))
      val sp = h.select(
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val").otherwise("test").as("split"),
        col("doc_id"), col("n_chars"))
      val g = sp.groupBy("split").agg(
        count(lit(1)).as("docs"), sum("n_chars").as("chars"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"))
      val t = g.agg(sum("docs").as("tot"))
      g.crossJoin(broadcast(t))
        .select(col("split"), col("docs"), col("chars"),
          col("min_id"), col("max_id"),
          expr("(docs * 10000) div tot").as("share_bp"))
    },

    // -- URL canonicalization + exact URL dedup (the first stage of every
    //    web-crawl pipeline): strip the fragment, lowercase scheme+host,
    //    drop the default :443 port, and remove utm_* tracking params —
    //    then count how many raw URLs collapse onto each canonical form.
    //    Docs synthesize their URL from a closed form (the multimodal
    //    synth idiom: doc_id//3 triples share everything but tracking
    //    noise, so canon dedup finds 3-groups the raw strings hide). The
    //    parse is pure string surgery — a zero-shuffle projection — and
    //    the only shuffle is the canon-keyed dedup count window.
    Q("t46_url_canonical",
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |    'WWW.Example' || ((doc_id // 3) % 7) || '.COM' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END) ||
        |    '/item/' || (doc_id // 3) ||
        |    '?utm_source=feed&utm_id=' || doc_id || '&ref=' || ((doc_id // 3) % 5) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '#sec' || (doc_id % 3) ELSE '' END) AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    string_split(string_split(url, '#')[1], '?')[1] AS base,
        |    string_split(string_split(url, '#')[1], '?')[2] AS q
        |  FROM u),
        |cp AS (
        |  SELECT doc_id,
        |    replace(lower(string_split(base, '/')[3]), ':443', '') AS host,
        |    lower(string_split(base, '/')[1]) || '//' ||
        |    replace(lower(string_split(base, '/')[3]), ':443', '') ||
        |    '/' || string_split(base, '/')[4] || '/' || string_split(base, '/')[5] ||
        |    '?' || array_to_string(
        |      list_filter(string_split(q, '&'), x -> NOT starts_with(x, 'utm_')), '&') AS canon
        |  FROM p)
        |SELECT doc_id, canon, host,
        |  CAST(COUNT(*) OVER (PARTITION BY canon) AS BIGINT) AS n_same
        |FROM cp""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val u = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, "HTTPS").otherwise("https"),
          lit("://WWW.Example"), expr("(doc_id div 3) % 7").cast("string"),
          lit(".COM"),
          when(col("doc_id") % 2 === 0, ":443").otherwise(""),
          lit("/item/"), expr("doc_id div 3").cast("string"),
          lit("?utm_source=feed&utm_id="), col("doc_id").cast("string"),
          lit("&ref="), expr("(doc_id div 3) % 5").cast("string"),
          when(col("doc_id") % 4 === 0,
            concat(lit("#sec"), (col("doc_id") % 3).cast("string")))
            .otherwise("")).as("url"))
      val p = u.select(col("doc_id"),
        expr("element_at(split(element_at(split(url, '#'), 1), '\\\\?'), 1)").as("base"),
        expr("element_at(split(element_at(split(url, '#'), 1), '\\\\?'), 2)").as("q"))
      val cp = p.select(col("doc_id"),
        expr("replace(lower(element_at(split(base, '/'), 3)), ':443', '')").as("host"),
        concat(
          expr("lower(element_at(split(base, '/'), 1))"), lit("//"),
          expr("replace(lower(element_at(split(base, '/'), 3)), ':443', '')"),
          lit("/"), expr("element_at(split(base, '/'), 4)"),
          lit("/"), expr("element_at(split(base, '/'), 5)"), lit("?"),
          // codegen'd ≡ array_join(filter(split(q, '&'),
          //   x -> NOT (x LIKE 'utm_%')), '&')
          expr("drop_prefixed(q, '&', 'utm_')"))
          .as("canon"))
      cp.select(col("doc_id"), col("canon"), col("host"),
        count(lit(1)).over(Window.partitionBy("canon")).as("n_same"))
    },

    // -- Zipf rank-frequency diagnostic (the corpus-statistics sanity
    //    check run before trusting token counts: rank·freq ≈ const under
    //    Zipf's law, and deviations flag synthetic/boilerplate corpora):
    //    corpus token frequencies, rank by (freq desc, token), top 32
    //    with the rank x freq product on the hashed surface. One
    //    map-side-combined token rollup; the rank window sees only the
    //    vocabulary, never the corpus.
    Q("t47_zipf_check",
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (
        |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM tok WHERE tok <> '' GROUP BY tok),
        |r AS (
        |  SELECT tok, freq,
        |    CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank
        |  FROM f)
        |SELECT tok, rank, freq, rank * freq AS rank_freq
        |FROM r WHERE rank <= 32""".stripMargin) { (s, dir) =>
      val f = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      f.withColumn("rank", row_number().over(
          Window.orderBy(col("freq").desc, col("tok"))).cast("long"))
        .filter(col("rank") <= 32)
        .select(col("tok"), col("rank"), col("freq"),
          (col("rank") * col("freq")).as("rank_freq"))
    },

    // -- MIPS vs cosine ranking divergence (the retrieval-metric subtlety
    //    every vector store documents: max-inner-product and cosine
    //    rankings differ when corpus norms vary, so an index built for
    //    one silently mis-serves the other). Per query vector: top-1
    //    under each metric, top-3 overlap count, same-top1 flag — all
    //    exact integers; cosine is used only for ORDERING and both
    //    engines compute the identical IEEE double (the e01-proven
    //    class). Scale shape: 8 broadcast queries against the corpus
    //    scan, per-query top-k via the rank windows.
    Q("e14_mips_vs_cosine",
      s"""WITH qe AS (${qExplodeSql("qid", "WHERE vec_id < 8")}),
         |ce AS (${qExplodeSql("cid", "")}),
         |qn AS (SELECT qid, SUM(qv*qv) AS qid_n2 FROM qe GROUP BY qid),
         |cn AS (SELECT cid, SUM(qv*qv) AS cid_n2 FROM ce GROUP BY cid),
         |dote AS (
         |  SELECT qe.qid, ce.cid, CAST(SUM(qe.qv * ce.qv) AS BIGINT) AS d
         |  FROM qe JOIN ce ON qe.pos = ce.pos
         |  GROUP BY qe.qid, ce.cid),
         |sc AS (
         |  SELECT dote.qid, dote.cid, dote.d,
         |    CAST(dote.d AS DOUBLE)
         |      / (sqrt(CAST(qn.qid_n2 AS DOUBLE)) * sqrt(CAST(cn.cid_n2 AS DOUBLE))) AS cosine
         |  FROM dote JOIN qn ON dote.qid = qn.qid JOIN cn ON dote.cid = cn.cid
         |  WHERE dote.qid <> dote.cid),
         |rk AS (
         |  SELECT qid, cid,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d DESC, cid) AS rdot,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rcos
         |  FROM sc),
         |ag AS (
         |  SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS agree3
         |  FROM rk a JOIN rk b ON a.qid = b.qid AND a.cid = b.cid
         |    AND a.rdot <= 3 AND b.rcos <= 3
         |  GROUP BY a.qid)
         |SELECT t1d.qid,
         |  t1d.cid AS top1_dot, t1c.cid AS top1_cos,
         |  COALESCE(ag.agree3, 0) AS agree3,
         |  CAST(CASE WHEN t1d.cid = t1c.cid THEN 1 ELSE 0 END AS BIGINT) AS same_top1
         |FROM (SELECT qid, cid FROM rk WHERE rdot = 1) t1d
         |JOIN (SELECT qid, cid FROM rk WHERE rcos = 1) t1c ON t1d.qid = t1c.qid
         |LEFT JOIN ag ON ag.qid = t1d.qid""".stripMargin) { (s, dir) =>
      graft.expr.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val qCol = expr("qquant(embedding, 1e6)")
      val corpus = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("cid_n2", expr("qdot(qv, qv)"))
      val queries = broadcast(emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), qCol.as("qqv"))
        .withColumn("qid_n2", expr("qdot(qqv, qqv)")))
      val sc = corpus.crossJoin(queries)
        .filter(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), expr("qdot(qqv, qv)").as("d"),
          (expr("qdot(qqv, qv)").cast("double") /
            (sqrt(col("qid_n2").cast("double")) *
              sqrt(col("cid_n2").cast("double")))).as("cosine"))
      val rk = sc
        .withColumn("rdot", row_number().over(
          Window.partitionBy("qid").orderBy(col("d").desc, col("cid"))))
        .withColumn("rcos", row_number().over(
          Window.partitionBy("qid").orderBy(col("cosine").desc, col("cid"))))
      val ag = rk.filter(col("rdot") <= 3).select(col("qid"), col("cid"))
        .join(rk.filter(col("rcos") <= 3)
          .select(col("qid").as("q2"), col("cid").as("c2")),
          col("qid") === col("q2") && col("cid") === col("c2"))
        .groupBy("qid").agg(count(lit(1)).as("agree3"))
      val t1d = rk.filter(col("rdot") === 1)
        .select(col("qid"), col("cid").as("top1_dot"))
      val t1c = rk.filter(col("rcos") === 1)
        .select(col("qid").as("qc"), col("cid").as("top1_cos"))
      t1d.join(t1c, col("qid") === col("qc"))
        .join(ag.select(col("qid").as("qa"), col("agree3")),
          col("qid") === col("qa"), "left")
        .select(col("qid"), col("top1_dot"), col("top1_cos"),
          coalesce(col("agree3"), lit(0L)).as("agree3"),
          when(col("top1_dot") === col("top1_cos"), 1L).otherwise(0L)
            .as("same_top1"))
    },

    // -- the CORPUS CARD (per-source reporting rollup a dataset release
    //    ships): docs, chars, token totals, language mix, and the
    //    exact-dup rate — every per-doc signal from ONE scan, one
    //    md5-keyed window for dup flags, one source-keyed rollup. Shares
    //    and rates as integer basis points (exact division both engines).
    Q("t48_corpus_card",
      """WITH d AS (
        |  SELECT source, lang, n_chars,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CASE WHEN ROW_NUMBER() OVER (
        |        PARTITION BY md5(text) ORDER BY doc_id) > 1
        |      THEN 1 ELSE 0 END AS is_dup
        |  FROM documents),
        |g AS (
        |  SELECT source,
        |    CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS chars,
        |    CAST(SUM(n_tok) AS BIGINT) AS tokens,
        |    CAST(SUM(is_dup) AS BIGINT) AS dups,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en_docs
        |  FROM d GROUP BY source)
        |SELECT source, docs, chars, tokens, dups,
        |  (dups * 10000) // docs AS dup_bp,
        |  (en_docs * 10000) // docs AS en_bp,
        |  chars // docs AS chars_per_doc
        |FROM g""".stripMargin) { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          when(row_number().over(
            Window.partitionBy(md5(col("text"))).orderBy("doc_id")) > 1, 1L)
            .otherwise(0L).as("is_dup"))
      d.groupBy("source").agg(
          count(lit(1)).as("docs"), sum("n_chars").as("chars"),
          sum("n_tok").as("tokens"), sum("is_dup").as("dups"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("en_docs"))
        .select(col("source"), col("docs"), col("chars"), col("tokens"),
          col("dups"),
          expr("(dups * 10000) div docs").as("dup_bp"),
          expr("(en_docs * 10000) div docs").as("en_bp"),
          expr("chars div docs").as("chars_per_doc"))
    },

    // -- per-source DISTRIBUTION DRIFT: KL(source ‖ corpus) over the
    //    char-bigram feature space with add-one smoothing, restricted to
    //    the corpus support (every corpus-observed code contributes,
    //    including codes the source never emits) — the corpus-mixture
    //    diagnostic run before reweighting sources (the measurement side
    //    of t30's DSIR). Scale shape: the per-source models come from the
    //    keyed LUT combiner (keys-per-partition × 16 384 bound — the
    //    corpus never shuffles per-occurrence rows), the scoring grid is
    //    sources × support ≤ 20 × 16 384 rows. Determinism class (c):
    //    every ln sees a bit-identical quotient of exact integers, terms
    //    fsum at 1e-9.
    Q("t49_source_kl", {
      val ps = "(CAST(COALESCE(bs.cs, 0) + 1 AS DOUBLE) " +
        "/ CAST(st.ts + 16384 AS DOUBLE))"
      val pc = "(CAST(bc.cc + 1 AS DOUBLE) / CAST(tc.tc + 16384 AS DOUBLE))"
      s"""WITH idx AS (
         |  SELECT source, text,
         |    unnest(generate_series(1, length(text) - 1)) AS i
         |  FROM documents WHERE length(text) >= 2),
         |pr AS (
         |  SELECT source, substr(text, CAST(i AS INTEGER), 2) AS pair
         |  FROM idx),
         |bs AS (SELECT source, pair, CAST(COUNT(*) AS BIGINT) AS cs
         |       FROM pr GROUP BY source, pair),
         |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS ts
         |       FROM pr GROUP BY source),
         |bc AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS cc
         |       FROM pr GROUP BY pair),
         |tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS tc FROM pr)
         |SELECT st.source, st.ts AS n_pairs,
         |  ${Det.fsumSql(s"$ps * ln($ps / $pc)", "1e9")} AS kl
         |FROM st CROSS JOIN bc CROSS JOIN tc
         |  LEFT JOIN bs ON bs.source = st.source AND bs.pair = bc.pair
         |GROUP BY st.source, st.ts""".stripMargin
    }) { (s, dir) =>
      import graft.operators.TextCombiner
      val docs2 = Tables.documents(s, dir).filter(length(col("text")) >= 2)
      val bySrc = TextCombiner.pairCodeCountsBy(docs2, "source", "text")
      val corpus = bySrc.groupBy("code").agg(sum(col("cnt")).as("cc"))
      val srcTot = bySrc.groupBy("source").agg(sum(col("cnt")).as("ts"))
      val tc = corpus.agg(sum(col("cc"))).head.getLong(0)
      val grid = srcTot.crossJoin(broadcast(corpus))
        .join(bySrc, Seq("source", "code"), "left")
        .withColumn("cs", coalesce(col("cnt"), lit(0L)))
      val ps = (col("cs") + 1).cast("double") /
        (col("ts") + 16384L).cast("double")
      val pc = (col("cc") + 1).cast("double") /
        lit((tc + 16384L).toDouble)
      grid.groupBy("source")
        .agg(max(col("ts")).as("n_pairs"),
          Det.fsum(ps * log(ps / pc), 1e9).as("kl"))
        .select(col("source"), col("n_pairs"), col("kl"))
    },

    // -- INCREMENTAL cross-snapshot dedup (the ingest-time shape: a new
    //    batch checked against the EXISTING corpus, never against
    //    itself): the corpus splits at the median id into base|delta;
    //    every delta doc reports its exact-dup owner in the base
    //    (md5-keyed MIN) and its count of base near-dup candidates
    //    sharing the 2-hash minhash band over word-3-gram SHINGLES.
    //    Shingles, NOT unigram tokens, are load-bearing at scale: a
    //    unigram minhash is hub-dominated — the globally-minimal common
    //    token puts most of the corpus in ONE band (measured 62% of
    //    sf0.1; 59 052-doc band and 3.7e9 candidate pairs at 20x, a
    //    wedged single task), while the 3-gram space keeps bands
    //    clone-family-sized (max 217 at 20x, 1800x less pair volume,
    //    the Lee et al. shingling convention). At 100 TB both probes
    //    are fingerprint-keyed joins of the (small) delta against the
    //    base index — no delta-internal pairs, no corpus self-join; a
    //    production ingest keeps the base (fp, band) index materialized
    //    and this query IS the per-batch plan.
    Q("t50_incremental_dedup",
      """WITH sp AS (SELECT (MAX(doc_id) + 1) // 2 AS split FROM documents),
        |h AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(tk) - 2),
        |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS tok
        |  FROM tk WHERE len(tk) >= 3),
        |sig AS (
        |  SELECT doc_id,
        |    MIN(md5('a' || tok)) AS h1, MIN(md5('b' || tok)) AS h2
        |  FROM toks GROUP BY doc_id),
        |base AS (
        |  SELECT h.doc_id, fp, h1, h2
        |  FROM h LEFT JOIN sig ON h.doc_id = sig.doc_id CROSS JOIN sp
        |  WHERE h.doc_id < sp.split),
        |delta AS (
        |  SELECT h.doc_id, fp, h1, h2
        |  FROM h LEFT JOIN sig ON h.doc_id = sig.doc_id CROSS JOIN sp
        |  WHERE h.doc_id >= sp.split),
        |ex AS (
        |  SELECT d.doc_id, MIN(b.doc_id) AS base_exact
        |  FROM delta d JOIN base b ON d.fp = b.fp GROUP BY d.doc_id),
        |bh AS (
        |  SELECT d.doc_id, CAST(COUNT(DISTINCT b.doc_id) AS BIGINT)
        |    AS n_band_hits
        |  FROM delta d JOIN base b ON d.h1 = b.h1 AND d.h2 = b.h2
        |  GROUP BY d.doc_id)
        |SELECT delta.doc_id, ex.base_exact,
        |  ex.base_exact IS NOT NULL AS is_exact_dup,
        |  COALESCE(bh.n_band_hits, 0) AS n_band_hits
        |FROM delta
        |  LEFT JOIN ex ON delta.doc_id = ex.doc_id
        |  LEFT JOIN bh ON delta.doc_id = bh.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val split = (docs.agg(max(col("doc_id"))).head.getLong(0) + 1) / 2
      val h = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      // word-3-gram shingles (hub-immune, see the header note); NO
      // distinct before the min-hash: MIN is duplicate-insensitive, so
      // deduplicating shingles first would only add a (doc, gram)-keyed
      // shuffle of the whole gram stream for identical signatures
      graft.expr.GraftFunctions.register(s)
      val sig = docs
        .select(col("doc_id"), split_part_tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"),
          explode(expr("word_grams(tk, 3)")).as("tok"))
        .groupBy("doc_id").agg(
          min(md5(concat(lit("a"), col("tok")))).as("h1"),
          min(md5(concat(lit("b"), col("tok")))).as("h2"))
      val withSig = h.join(sig, Seq("doc_id"), "left")
      val base = withSig.filter(col("doc_id") < split)
      val delta = withSig.filter(col("doc_id") >= split)
      val ex = delta.select(col("doc_id"), col("fp"))
        .join(base.select(col("fp"), col("doc_id").as("bid")), "fp")
        .groupBy("doc_id").agg(min(col("bid")).as("base_exact"))
      val bh = delta.select(col("doc_id"), col("h1"), col("h2"))
        .join(base.select(col("h1"), col("h2"), col("doc_id").as("bid")),
          Seq("h1", "h2"))
        .groupBy("doc_id").agg(countDistinct(col("bid")).as("n_band_hits"))
      delta.select("doc_id")
        .join(ex, Seq("doc_id"), "left")
        .join(bh, Seq("doc_id"), "left")
        .select(col("doc_id"), col("base_exact"),
          col("base_exact").isNotNull.as("is_exact_dup"),
          coalesce(col("n_band_hits"), lit(0L)).as("n_band_hits"))
    },

    // -- full BPE TRAINER (Sennrich et al. 2015 — the t21/t24 single
    //    merge round iterated to a learned vocabulary): 16 rounds of
    //    (count adjacent pairs → take the global argmax → rewrite the
    //    corpus with the merged symbol chr(round)), then encode the
    //    corpus with the learned table — the final rewritten text IS the
    //    encoding (every char = one token). The G6 iterative idiom as an
    //    RDD driver loop (graft.operators.Bpe, round 13): per round ONE
    //    treeReduce merges alphabet²-bounded LUT partials (≤16 384
    //    codes per partition at ANY corpus size) and the argmax is a
    //    driver array scan; the rewrite is a corpus-linear mapValues with
    //    the lineage cut by localCheckpoint. chr(1..16) stay inside the
    //    ASCII/128 contract, so merged symbols participate in later
    //    rounds exactly like base chars (real BPE over a 128-symbol
    //    alphabet). Tie-break: (count DESC, pair ASC) — pair-string
    //    binary order ≡ pair-code order since both bytes < 128. Hashed
    //    surface: the merge table as (id = -round, val = pair code
    //    a·128+b, s = '') rows UNION the encoded corpus as (id = doc_id,
    //    val = n_tokens, s = md5(encoded)) rows — exact integers and
    //    md5 strings only. Oracle: the same 16 rounds UNROLLED as
    //    MATERIALIZED CTEs (forced — DuckDB would otherwise inline the
    //    twice-referenced m{r} chain exponentially).
    Q("t51_bpe_train", {
      val rounds = (1 to 16).map { r =>
        val prev = s"m${r - 1}"
        s"""c$r AS MATERIALIZED (
           |  SELECT pair FROM (
           |    SELECT substr(e, CAST(i AS INTEGER), 2) AS pair
           |    FROM (SELECT e, unnest(generate_series(1, length(e) - 1)) AS i
           |          FROM $prev WHERE length(e) >= 2))
           |  GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 1),
           |m$r AS MATERIALIZED (
           |  SELECT doc_id, replace(e, (SELECT pair FROM c$r), chr($r)) AS e
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      val mergeRows = (1 to 16).map { r =>
        s"""SELECT CAST(-$r AS BIGINT) AS id,
           |  CAST(ascii(substr(pair, 1, 1)) * 128 + ascii(substr(pair, 2, 1))
           |    AS BIGINT) AS val, '' AS s FROM c$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH m0 AS MATERIALIZED (
         |  SELECT doc_id, text AS e FROM documents WHERE length(text) >= 2),
         |$rounds
         |$mergeRows
         |UNION ALL
         |SELECT CAST(doc_id AS BIGINT) AS id, CAST(length(e) AS BIGINT) AS val,
         |  md5(e) AS s
         |FROM m16""".stripMargin
    }) { (s, dir) =>
      // round-13: the RDD round loop (graft.operators.Bpe) — constant
      // lineage depth (localCheckpoint per round) and no per-round
      // Catalyst/codegen; same merges, same encoded corpus (BpeSpec)
      graft.operators.Bpe.train(Tables.documents(s, dir), "text", "doc_id",
        nMerges = 16, alphabet = 128, firstSym = 1)
    },

    // -- BPE trainer at a REAL vocabulary size (round-10, the r9 ask):
    //    64 merge rounds, with merged symbols at chr(128..191) — past the
    //    128-ASCII contract, so the pair scan runs over the 256-symbol
    //    space (LUT long[65536] — still alphabet²-bounded at any corpus
    //    size). The cross-engine footing
    //    was probed, not assumed: for U+0080..U+00FF both engines agree
    //    at the CODEPOINT level on length/substr/ascii/replace, binary
    //    string order equals codepoint order (so the (count DESC, pair
    //    ASC) tie-break equals pair-code order), and md5 hashes the same
    //    UTF-8 bytes. Loop shape unchanged from t51 (graft.operators.Bpe):
    //    per round ONE bounded LUT treeReduce, a driver argmax, one
    //    corpus-linear rewrite, lineage cut per round. Oracle: 64 rounds
    //    unrolled as MATERIALIZED CTEs (the t51 anti-inlining
    //    discipline).
    Q("t52_bpe_vocab64", {
      val nM = 64
      val rounds = (1 to nM).map { r =>
        val prev = s"m${r - 1}"
        s"""c$r AS MATERIALIZED (
           |  SELECT pair FROM (
           |    SELECT substr(e, CAST(i AS INTEGER), 2) AS pair
           |    FROM (SELECT e, unnest(generate_series(1, length(e) - 1)) AS i
           |          FROM $prev WHERE length(e) >= 2))
           |  GROUP BY pair ORDER BY COUNT(*) DESC, pair LIMIT 1),
           |m$r AS MATERIALIZED (
           |  SELECT doc_id, replace(e, (SELECT pair FROM c$r), chr(${127 + r})) AS e
           |  FROM $prev)""".stripMargin
      }.mkString(",\n")
      val mergeRows = (1 to nM).map { r =>
        s"""SELECT CAST(-$r AS BIGINT) AS id,
           |  CAST(ascii(substr(pair, 1, 1)) * 256 + ascii(substr(pair, 2, 1))
           |    AS BIGINT) AS val, '' AS s FROM c$r""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH m0 AS MATERIALIZED (
         |  SELECT doc_id, text AS e FROM documents WHERE length(text) >= 2),
         |$rounds
         |$mergeRows
         |UNION ALL
         |SELECT CAST(doc_id AS BIGINT) AS id, CAST(length(e) AS BIGINT) AS val,
         |  md5(e) AS s
         |FROM m$nM""".stripMargin
    }) { (s, dir) =>
      // round-13: the RDD round loop (graft.operators.Bpe; see t51) over
      // the 256-symbol space — merged symbols at chr(128..191)
      graft.operators.Bpe.train(Tables.documents(s, dir), "text", "doc_id",
        nMerges = 64, alphabet = 256, firstSym = 128)
    })

  /** `split(text, " ")` — named so the t50 body reads next to its oracle
    * (`string_split`) without shadowing the median-id `split` value. */
  private def split_part_tokens(c: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.split(c, " ")
}
