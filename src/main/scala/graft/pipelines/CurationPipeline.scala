package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.SemDedup

/** End-to-end training-data CURATION pipeline — the LLM-data counterpart
  * of [[PredictPipeline]] (p01) and [[ImagingPipeline]] (p02): one
  * user-shaped composition that takes the raw `documents` corpus to a
  * packed, deduplicated, quality-filtered training shard on disk,
  * including the partitioned parquet sink I/O the per-operator hash gates
  * deliberately exclude.
  *
  * Every stage is the semantics of an oracle-gated registry face, AND
  * (round 13) the composition itself is hash-gated: the p03 registry row
  * carries a DuckDB oracle that composes the six stage oracles as
  * MATERIALIZED CTEs over the same tables (see
  * [[graft.queries.PipelineQ]]), on top of
  * [[graft.CurationPipelineSpec]]'s stage-parity and
  * independent-transcription proofs:
  *
  *   1. language gate        — t03's n-gram vote (keep lang_pred == lang)
  *   2. Gopher quality rules — t32's five keep rules (Rae et al. 2021)
  *   3. exact dedup          — t01/t25's keep-lowest-id-per-text
  *   4. near-dup collapse    — t07's 4-permutation MinHash signatures
  *                             (Broder 1997), collapsed by FULL-signature
  *                             equality (AND-construction; see below)
  *   5. SemDeDup             — t29's greedy keep-lowest prune at
  *                             cos >= tau inside nearest-seed clusters
  *                             (Abbas et al. 2023)
  *   6. sequence packing     — t20/t25's shard-bounded cumulative layout
  *
  * Near-dup banding choice, measured not guessed: the collapse keys on
  * the WHOLE 4-hash signature (one band of r = 4 rows). Signature
  * equality is transitive, so the "clusters" are exact groupBy keys — a
  * coordination-free, map-side-combined aggregation at any corpus size
  * that never materializes a candidate PAIR list. The pair-emitting
  * OR-construction (t08) with its connected-components closure (t11)
  * remains available as its own gated face, but it is the wrong default
  * inside a curation funnel: pair enumeration over a k-clone family is
  * k² (the t43 lesson), and on this corpus the 2-band union graph chains
  * 497 of 500 fixture docs into ONE component through shared minimal
  * tokens — banding WIDER (higher precision), not unioning bands, is
  * what keeps the funnel meaningful and the plan linear.
  *
  * Scale shape, stage by stage: (1) zero-shuffle scan projection;
  * (2) zero-shuffle projection — `gopher_stats(text)` computes all five
  * rules' statistics in one codegen pass per document; (3) subsumed by
  * (4) inside [[curate]] (identical text ⇒ identical signature; the
  * standalone [[exactDedup]] is a fingerprint-keyed agg + id semi join);
  * (4) zero-shuffle `minhash4(text)` projection + a map-side-combined
  * (signature → min id) collapse + one id-keyed semi join; (5)
  * embeddings joined doc-keyed, then the t29 cluster-bounded pair scan
  * (cluster count grows with the corpus, n/k bounded); (6) one
  * (source, shard)-keyed window whose partitions are <= shardDocs docs
  * by construction. The corpus-tokens relation never shuffles anywhere
  * (the round-12 probe measured the explode formulation spilling in
  * 4 GB executors at the 100x replica); the only driver-sized objects
  * are the SemDeDup seed LUT and the sink's partition listing.
  */
object CurationPipeline {

  /** @param packLen     tokens per packed training sequence (t25's 2048)
    * @param shardDocs   docs per packing shard — bounds every window
    *                    partition (t25's 8192)
    * @param cosTau      SemDeDup prune threshold (t29's 0.45)
    * @param clusterDiv  SemDeDup seed density: k = max(minSeeds,
    *                    |embeddings| / clusterDiv) — the t29 growth rule
    *                    that keeps the per-cluster pair scan n/k-bounded
    * @param minSeeds    seed floor so tiny corpora still cluster (t29's 8)
    */
  final case class Config(
      packLen: Long = 2048L,
      shardDocs: Long = 8192L,
      cosTau: Double = 0.45,
      clusterDiv: Long = 512L,
      minSeeds: Long = 8L)

  /** Stage 1 — t03's four-language n-gram vote as a pure scan filter:
    * keep documents whose PREDICTED language matches the labeled one
    * (the CCNet-style mislabel drop). Zero shuffle; the marker counts go
    * through `substr_count` (identical non-overlapping semantics to
    * t03's length-of-replace quotient — the spec pins the verdict set)
    * instead of allocating eight replaced copies of every document. */
  def languageGate(docs: DataFrame): DataFrame = {
    graft.expr.GraftFunctions.register(docs.sparkSession)
    def cnt(w: String): Column = expr(s"substr_count(text, ' $w ')")
    val sEn = cnt("the") + cnt("and")
    val sDe = cnt("der") + cnt("und")
    val sEs = cnt("el") + cnt("los")
    val sFr = cnt("le") + cnt("et")
    val pred = when(sEn >= sDe && sEn >= sEs && sEn >= sFr, "en")
      .when(sDe >= sEs && sDe >= sFr, "de")
      .when(sEs >= sFr, "es")
      .otherwise("fr")
    docs.filter(length(col("text")) > 0 && pred === col("lang"))
  }

  /** Stage 2 — t32's five Gopher rules as a ZERO-shuffle projection:
    * `gopher_stats(text)` computes all five token statistics in one
    * codegen pass per document (bit-identical to t32's explode + two
    * aggregations — the spec pins it), and the survivors carry the exact
    * token count `n_tok` forward so packing never re-tokenizes. The
    * declarative explode form shuffled a corpus-tokens-sized (doc, tok)
    * relation that measurably spilled ~550 MB per pass in 4 GB executors
    * at the 100x replica — and every downstream stage recomputed it. */
  def gopherGate(docs: DataFrame): DataFrame = {
    graft.expr.GraftFunctions.register(docs.sparkSession)
    val st = docs.withColumn("__g", expr("gopher_stats(text)"))
      .withColumn("n_tok", col("__g").getItem(0))
      .withColumn("__n_typ", col("__g").getItem(1))
      .withColumn("__max_cnt", col("__g").getItem(2))
      .withColumn("__n_stop", col("__g").getItem(3))
      .withColumn("__n_chars_ns", col("__g").getItem(4))
    st.filter(col("n_tok").between(20, 400) &&
        (lit(3) * col("n_tok") <= col("__n_chars_ns")) &&
        (col("__n_chars_ns") <= lit(10) * col("n_tok")) &&
        col("__n_stop") >= 2 &&
        (lit(5) * (col("n_tok") - col("__n_typ")) <= lit(3) * col("n_tok")) &&
        (lit(5) * col("__max_cnt") <= col("n_tok")))
      .drop("__g", "__n_typ", "__max_cnt", "__n_stop", "__n_chars_ns")
  }

  /** Stage 3 — t01's exact dedup shape: keep the lowest doc_id per text
    * fingerprint (md5, the registered t01 key). The winner set is a
    * map-side-combined (16-byte hash → min id) aggregation, then one
    * id-keyed semi join — never a sort of full text rows (the window
    * formulation sorted text-keyed row payloads, the q15 spill class).
    *
    * Inside [[curate]] this stage is ALGEBRAICALLY SUBSUMED by stage 4:
    * identical text ⇒ identical token set ⇒ identical MinHash signature,
    * and the signature group's minimum id is also its own text group's
    * minimum — so collapsing straight to signatures yields the same
    * survivor set (CurationPipelineSpec asserts the equality). The stage
    * stays public for standalone use and the funnel diagnostics. */
  def exactDedup(df: DataFrame): DataFrame = {
    val rep = df.groupBy(md5(col("text")).as("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
    df.join(rep.select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** Stage 4 — t07's 4-permutation MinHash signatures collapsed by
    * full-signature equality: keep the lowest doc_id per signature.
    * `minhash4(text)` emits the whole signature in one codegen pass
    * (bit-identical to the explode + distinct + 4-aggregation form — the
    * spec pins it), so the only shuffles are the map-side-combined
    * (signature → min id) collapse and one id-keyed semi join. No pair
    * list (see the class scaladoc for why AND-banding, not t08/t11's
    * pair closure). */
  def nearDupCollapse(df: DataFrame): DataFrame = {
    graft.expr.GraftFunctions.register(df.sparkSession)
    val rep = df.select(col("doc_id"), expr("minhash4(text)").as("__sig"))
      .groupBy("__sig").agg(min(col("doc_id")).as("doc_id"))
    df.join(rep.select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** Stage 5 — t29's SemDeDup over the survivors that carry an embedding
    * (partial coverage passes through: a doc without a vector cannot be
    * semantically pruned — at sf0.1 only 2 of 5 docs have vectors, the
    * realistic case). Seeds are the k lowest SURVIVING vector ids
    * (top-k sort-limit, model-sized — `seedsOf`'s cid < k rule can
    * under-select on a filtered corpus), with k from the t29 growth rule
    * on the full embeddings table so cluster density tracks corpus
    * scale, not funnel selectivity. */
  def semanticPrune(df: DataFrame, emb: DataFrame, cfg: Config): DataFrame = {
    val spark = df.sparkSession
    graft.expr.GraftFunctions.register(spark)
    // join FIRST, quantize after: qquant runs on the survivor subset, not
    // the whole embeddings table
    val corpus = emb
      .join(df.select(col("doc_id").as("vec_id")), "vec_id")
      .select(col("vec_id").as("cid"),
        expr("qquant(embedding, 1e6)").as("qv"))
      .withColumn("n2", expr("qdot(qv, qv)"))
    val k = math.max(cfg.minSeeds, emb.count() / cfg.clusterDiv)
    require(k <= Int.MaxValue, s"curation: seed count $k exceeds Int range")
    val low = corpus.select("cid").orderBy("cid").limit(k.toInt)
    if (low.isEmpty) df // no survivor has a vector: nothing to prune
    else {
      val seeds = SemDedup.seedsFrom(corpus.join(broadcast(low), "cid"))
      val prunedIds = SemDedup.prune(corpus, seeds, lit(cfg.cosTau))
        .filter(col("pruned")).select(col("cid").as("doc_id"))
      df.join(prunedIds, Seq("doc_id"), "left_anti")
    }
  }

  /** Stage 6 — t20/t25's packing layout over the curated survivors: a
    * (source, shard)-scoped cumulative token sum assigns each doc its
    * pack id/offset/chunk span at `packLen` tokens per sequence. Window
    * partitions are <= shardDocs docs by construction, so the layout
    * stays shard-parallel at any corpus size. */
  def pack(df: DataFrame, cfg: Config): DataFrame = {
    val w = Window.partitionBy("source", "shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("shard", expr(s"doc_id div ${cfg.shardDocs}"))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("source"), col("lang"), col("text"),
        col("n_tok"), col("shard"),
        expr(s"(cum - n_tok) div ${cfg.packLen}").as("pack_id"),
        expr(s"(cum - n_tok) % ${cfg.packLen}").as("pack_offset"),
        expr(s"(cum - 1) div ${cfg.packLen} - (cum - n_tok) div " +
          s"${cfg.packLen} + 1").as("n_chunks"))
  }

  /** The full funnel, sink-free (spec surface). The exact-dedup stage is
    * skipped: its survivor set is provably identical after the signature
    * collapse (see [[exactDedup]]'s scaladoc; the spec asserts it), so
    * running it would only add a shuffle. */
  def curate(docs: DataFrame, emb: DataFrame,
             cfg: Config = Config()): DataFrame = {
    // Pin the collapsed survivor frame ONCE (the ConnectedComponents
    // round-pin idiom, distributed executor storage): the semantic stage
    // reads it four times (corpus join, the prune self-join's two sides,
    // the final anti join) and would otherwise re-execute the whole
    // gate+collapse chain per read. Survivors are the funnel's narrow
    // end — the materialization is the cheapest relation in the plan.
    val survivors = nearDupCollapse(gopherGate(languageGate(docs)))
      .localCheckpoint()
    pack(semanticPrune(survivors, emb, cfg), cfg)
  }

  /** The registry row's body: curate the sf directory's corpus, write the
    * packed shard source-partitioned (overwritten every run — the sink is
    * part of the timed composition, like p01's MODEL_DATA write-back),
    * read it back. */
  def run(spark: SparkSession, dir: String, outDir: String,
          cfg: Config = Config()): DataFrame = {
    curate(Tables.documents(spark, dir), Tables.embeddings(spark, dir), cfg)
      .write.mode("overwrite").partitionBy("source").parquet(outDir)
    Tables.parquet(spark, outDir)
  }
}
