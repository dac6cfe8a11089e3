package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Det, Env, Tables}

/** Scaling probe: replicate the sf0.1 fact tables k× (keys shifted so
  * cardinalities scale too) and time the three canonical plan shapes —
  * scan+aggregate, fact-fact join+aggregate, and the broadcast-expansion
  * source sum — at k = 1, 2, 4, 10. Near-linear wall-clock in k means the
  * plan has no super-linear shuffle or driver bottleneck; results are
  * recorded in BASELINE.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Env.session(32)
    // the one stage timer of every mode: wall seconds, plus the spill of
    // the tasks each stage ran (bus drained on both sides, outside the wall)
    val tm = Env.taskMetrics(spark)
    if (args.headOption.contains("curation")) {
      curationStages(spark, tm, args(1)); return
    }
    if (args.headOption.contains("selfcal")) {
      selfcalStages(spark, tm, args(1)); return
    }
    if (args.headOption.contains("predict")) {
      predictStages(spark, tm, args(1)); return
    }
    if (args.headOption.contains("imaging")) {
      imagingStages(spark, tm, args(1)); return
    }
    if (args.headOption.contains("planwall")) {
      planWall(spark, tm, args(1), args(2)); return
    }
    if (args.headOption.contains("beamstage")) {
      // time the pieces of the full-Jones beam staging (round 14)
      import graft.io.BeamFixture
      def t[A](tag: String)(f: => A): A = {
        val st = tm.span(f); println(f"$tag,${st.wallS}%.3f"); st.value
      }
      for (pass <- 1 to 2) {
        val quad = t(s"$pass,ensure_quad")(
          BeamFixture.ensureQuad(BeamFixture.defaultQuadSchema))
        t(s"$pass,fits_reads")(quad.foreach { case (_, (re, im)) =>
          graft.io.Fits.beamCube(re); graft.io.Fits.beamCube(im) })
        val dim = spark.range(8).select(col("id").as("src_id"),
          (col("id") % lit(2L)).as("chan"),
          (col("id").cast("double") * 1e-5).as("l"),
          (col("id").cast("double") * -5e-6).as("m"),
          (lit(1.2e9) + col("id").cast("double") * 1e8).as("freq"))
        val term = graft.rime.FullBeamCubeTerm(
          BeamFixture.defaultQuadSchema, 2048.0)
        t(s"$pass,stage_full")(term.stage(dim
          .crossJoin(spark.range(4).select(col("id").as("row_id"))), "p")
          .columns.length)
      }
      return
    }
    val sf = "/root/testdata/sf0.1"
    val li0 = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount", "l_returnflag", "l_quantity")
    val o0 = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey")
    val maxKey = li0.agg(max("l_orderkey")).collect()(0).getLong(0) + 1

    def repl(df: DataFrame, keyCol: String, k: Int): DataFrame =
      (0 until k).map(i => df.withColumn(keyCol, col(keyCol) + lit(i * maxKey)))
        .reduce(_ unionAll _)

    spark.range(1L << 22).selectExpr("sum(id * 3)").collect() // warmup

    println("k,rows,agg_s,join_s,predict_s")
    for (k <- Seq(1, 2, 4, 10)) {
      val li = repl(li0, "l_orderkey", k)
      val o = repl(o0, "o_orderkey", k)
      val nRows = k * 600572L
      val tAgg = tm.span {
        li.groupBy("l_returnflag")
          .agg(sum(Det.cents(col("l_extendedprice"))).as("c"),
            count(lit(1)).as("n"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      val tJoin = tm.span {
        li.join(o.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_custkey")
          .agg(sum(Det.cents(col("l_extendedprice"))).as("c"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      val tPredict = tm.span {
        // broadcast-expansion source sum over k x the row table
        val src = broadcast(spark.range(5).select(
          col("id").as("src_id"), (col("id") * 1e-2 - 2e-2).as("l"),
          (lit(1e-2) - col("id") * 5e-3).as("m")))
        val rws = li.select(col("l_orderkey").as("row_id"),
          ((col("l_orderkey") % 2001 - 1000) / 2e0).as("u"),
          ((col("l_orderkey") * 3 % 2001 - 1000) / 2e0).as("v"),
          ((col("l_orderkey") * 7 % 201 - 100) / 2e1).as("w"))
        val ph = graft.functions.Phase.phaseDelay(col("l"), col("m"),
          col("u"), col("v"), col("w"), lit(1.4e9))
        rws.crossJoin(src)
          .groupBy("row_id")
          .agg(sum(ph.re).as("vre"), sum(ph.im).as("vim"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      println(f"$k,$nRows,$tAgg%.2f,$tJoin%.2f,$tPredict%.2f")
    }

    // ---- dedup/ANN growth probes: candidate volume must stay BOUNDED
    // (≈linear in corpus size), or the scale story of e02/t05 is a lie.
    val emb0 = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding")
    val maxVec = emb0.agg(max("vec_id")).collect()(0).getLong(0) + 1
    val doc0 = Tables.load(spark, sf, "documents")
      .select("doc_id", "text")
    val maxDoc = doc0.agg(max("doc_id")).collect()(0).getLong(0) + 1
    val qCol = expr(
      "qquant(embedding, 1e6)")
    graft.expr.GraftFunctions.register(spark)
    val code = expr("lsh_code16(qv)")
    val masks: Seq[Long] = 0L +: (0 until 16).map(i => 1L << i) ++:
      (for (i <- 0 until 16; j <- i + 1 until 16) yield (1L << i) | (1L << j))
    import spark.implicits._
    val maskDf = masks.toDF("mask")

    println("probe,k,corpus,candidates,secs")
    for (k <- Seq(1, 2, 4)) {
      val emb = (0 until k).map(i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec)))
        .reduce(_ unionAll _)
      var cands = 0L
      val t = tm.span {
        val bk = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
          .withColumn("code", code).drop("qv")
        val qb = broadcast(bk.filter(col("cid") < 8)
          .select(col("cid").as("qid"), col("code").as("qcode"))
          .crossJoin(maskDf)
          .withColumn("probe", expr("qcode ^ mask")))
        cands = bk.join(qb, col("code") === col("probe"))
          .filter(col("qid") =!= col("cid")).count()
      }.wallS
      println(f"lsh_multiprobe,$k,${k * maxVec},$cands,$t%.2f")
    }
    // full-corpus near-dup (t10): EVERY vector probes, so candidate
    // volume must still stay ~linear in the corpus — the Hamming≤1 join
    // hits 65 536 buckets and replication multiplies per-bucket load by
    // k, giving ~k² pair growth within a FIXED bucket population; organic
    // growth (new vectors spread over buckets) stays linear. Report both
    // so the distinction is on record.
    println("probe,k,corpus,candidates,secs")
    for (k <- Seq(1, 2, 4)) {
      val emb = (0 until k).map(i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec)))
        .reduce(_ unionAll _)
      var cands = 0L
      val t = tm.span {
        val bk = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
          .withColumn("code", expr("lsh_code16(qv)")).drop("qv")
        val probes = bk.select(col("cid").as("cid_a"), col("code").as("code_a"))
          .crossJoin(broadcast((0L +: (0 until 16).map(i => 1L << i).toSeq)
            .toDF("mask")))
          .withColumn("probe", expr("code_a ^ mask")).drop("mask", "code_a")
        cands = probes.join(bk, col("code") === col("probe")
          && col("cid_a") < col("cid")).count()
      }.wallS
      println(f"neardup_full_corpus,$k,${k * maxVec},$cands,$t%.2f")
    }
    // corpus-scaled code width (the t10/e02/e09 rule): with a FIXED
    // width, organic growth fills buckets (occupancy ∝ n) and the
    // Hamming≤1 candidate volume PER DOC grows linearly — the quadratic
    // total the fixed-16 code hid until n ≫ 65 536. Deriving the width
    // from the corpus count (2^nbits ≥ 8n) pins expected occupancy, so
    // per-doc candidates stay bounded by ~(nbits+1)/8 plus the TRUE
    // near-dup mass — logarithmic growth (the probe list), never linear.
    // Measured on PERTURBED (non-clone) replicas at a width small enough
    // to be non-degenerate at probe scale: fixed 8 bits (256 buckets) vs
    // the scaled ceil(log2 n)+3 rule (per-doc 36→146 fixed vs 1.1→3.0
    // scaled over a 4× growth); production floors the same rule at 16.
    println("probe,k,corpus,nbits,per_doc_fixed8,per_doc_scaled,secs")
    for (k <- Seq(1, 2, 4)) {
      val emb = (0 until k).map { i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
          .withColumn("qv", expr(
            s"transform(embedding, (x, p) -> " +
              s"CAST(ROUND(CAST(x AS DOUBLE) * 1e6) AS BIGINT) + " +
              s"((vec_id % 97) * 131 + p * 17 + $i * 53) % 401 - 200)"))
      }.reduce(_ unionAll _)
      val bk0 = emb.select(col("vec_id").as("cid"), col("qv"))
      val n = k * maxVec
      val nbScaled = 64 - java.lang.Long.numberOfLeadingZeros(n - 1) + 3
      def candPerDoc(bits: Int): Double = {
        val bk = bk0.withColumn("code", expr(s"lsh_code(qv, $bits)")).drop("qv")
        val probes = bk.select(col("cid").as("cid_a"), col("code").as("code_a"))
          .crossJoin(broadcast((0L +: (0 until bits).map(i => 1L << i).toSeq)
            .toDF("mask")))
          .withColumn("probe", expr("code_a ^ mask")).drop("mask", "code_a")
        val c = probes.join(bk, col("code") === col("probe")
          && col("cid_a") < col("cid")).count()
        c.toDouble / n
      }
      var pdF = 0.0; var pdS = 0.0
      val t = tm.span { pdF = candPerDoc(8); pdS = candPerDoc(nbScaled.toInt) }.wallS
      println(f"lsh_width_scaling,$k,$n,$nbScaled,$pdF%.2f,$pdS%.3f,$t%.2f")
    }
    // organic corpus growth (doc slice, not replication): the UNBLOCKED
    // postings join grows quadratically through the hot tokens while the
    // df-blocked join stays bounded — the contrast IS the t05 scale claim.
    println("probe,k,corpus,cands_blocked,cands_unblocked,secs")
    for (k <- Seq(1, 2, 4)) {
      val docs = doc0.filter(col("doc_id") < 256L * k)
      var blocked = 0L; var unblocked = 0L
      val t = tm.span {
        val toks0 = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
        val keep = toks0.groupBy("tok").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 16).select("tok")
        val toks = toks0.join(keep, "tok")
        blocked = toks.select(col("doc_id").as("a"), col("tok"))
          .join(toks.select(col("doc_id").as("b"), col("tok")), "tok")
          .filter(col("a") < col("b")).count()
        unblocked = toks0.select(col("doc_id").as("a"), col("tok"))
          .join(toks0.select(col("doc_id").as("b"), col("tok")), "tok")
          .filter(col("a") < col("b")).count()
      }.wallS
      println(f"jaccard_blocking,$k,${256L * k},$blocked,$unblocked,$t%.2f")
    }
    // t11 label propagation: per-round cost is one edge join + one
    // grouped min — linear in nodes + edges. Replication inflates edges
    // ~k² (identical clones share buckets AND are mutual dups — the same
    // documented worst case as t10); the propagation itself must stay
    // edge-linear, which the secs column demonstrates against the edge
    // count.
    println("probe,k,nodes,edges,secs")
    for (k <- Seq(1, 2, 4)) {
      val emb = (0 until k).map(i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec)))
        .reduce(_ unionAll _)
      val bk = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
        .withColumn("code", expr("lsh_code16(qv)")).drop("qv")
      val probes = bk.select(col("cid").as("cid_a"), col("code").as("code_a"))
        .crossJoin(broadcast((0L +: (0 until 16).map(i => 1L << i).toSeq)
          .toDF("mask")))
        .withColumn("probe", expr("code_a ^ mask")).drop("mask", "code_a")
      val dup = probes.join(bk, col("code") === col("probe")
          && col("cid_a") < col("cid"))
        .select(col("cid_a"), col("cid").as("cid_b")).cache()
      val nEdges = dup.count()
      val sym = dup.select(col("cid_a").as("u"), col("cid_b").as("v"))
        .unionByName(dup.select(col("cid_b").as("u"), col("cid_a").as("v")))
      val t = tm.span {
        var lbl = emb.select(col("vec_id").as("cid"), col("vec_id").as("lbl"))
        for (_ <- 1 to 4) {
          val nbr = lbl.select(col("cid").as("lc"), col("lbl").as("ll"))
          lbl = lbl.join(sym, col("cid") === col("u"), "left")
            .join(nbr, col("lc") === col("v"), "left")
            .groupBy(col("cid"), col("lbl"))
            .agg(least(col("lbl"), coalesce(min(col("ll")), col("lbl"))).as("nl"))
            .select(col("cid"), col("nl").as("lbl"))
        }
        lbl.groupBy("lbl").count().write.mode("overwrite").format("noop").save()
      }.wallS
      dup.unpersist()
      println(f"t11_label_prop,$k,${k * maxVec},$nEdges,$t%.2f")
    }
    // e05 k-means: one Lloyd iteration = broadcast assignment (map-side
    // min(struct) agg) + (k, pos) recompute agg. Cost must track the
    // corpus linearly — there is no pairwise term anywhere.
    println("probe,k,corpus,secs")
    for (k <- Seq(1, 2, 4)) {
      val emb = (0 until k).map(i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec)))
        .reduce(_ unionAll _)
      val corpus = emb.select(col("vec_id").as("cid"), qCol.as("qv"))
      val ce = emb.select(col("vec_id").as("cid"), posexplode(col("embedding")))
        .select(col("cid"), (col("pos") + 1).as("pos"),
          round(col("col").cast("double") * 1e6).cast("long").as("qv"))
      val seeds = corpus.filter(col("cid") < 8)
        .select(col("cid").as("kc"), col("qv").as("cvec"))
      val d2 = expr(
        "aggregate(zip_with(qv, cvec, (a, b) -> (a - b) * (a - b)), 0L, (a, x) -> a + x)")
      val t = tm.span {
        val asg = corpus.crossJoin(broadcast(seeds))
          .select(col("cid"), col("kc"), d2.as("d2"))
          .groupBy("cid").agg(min(struct(col("d2"), col("kc"))).as("m"))
          .select(col("cid"), col("m.kc").as("kc"))
        asg.join(ce, "cid").groupBy("kc", "pos")
          .agg(round(avg(col("qv").cast("double"))).cast("long").as("cq"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      println(f"e05_lloyd_iter,$k,${k * maxVec},$t%.2f")
    }
    // t29 SemDeDup: the scale contract is that the cluster count grows
    // with the corpus (n/k bounded), so within-cluster pair volume stays
    // ~linear in n. Replicas get a small deterministic perturbation (so
    // they are near- but not exact clones — organic growth, not the k²
    // clone artifact) and the seed set grows to 8k centroids (the first 8
    // of each replica). Pairs/secs must grow ~k, not k².
    println("probe,k,corpus,seeds,pairs,secs")
    for (k <- Seq(1, 2, 4)) {
      val emb = (0 until k).map { i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec))
          .withColumn("qv", expr(
            s"transform(embedding, (x, p) -> " +
              s"CAST(ROUND(CAST(x AS DOUBLE) * 1e6) AS BIGINT) + " +
              s"((vec_id % 97) * 131 + p * 17 + $i * 53) % 401 - 200)"))
      }.reduce(_ unionAll _)
      val corpus = emb.select(col("vec_id").as("cid"), col("qv"))
        .withColumn("n2", expr("aggregate(qv, 0L, (a, x) -> a + x * x)"))
      val seeds = graft.operators.SemDedup.seedsFrom(
        corpus.filter(col("cid") % maxVec < 8))
      val nSeeds = seeds.count()
      var pairs = 0L
      val t = tm.span {
        val cell = graft.operators.SemDedup.assign(corpus, seeds)
        pairs = cell.select(col("k"), col("cid").as("a"))
          .join(cell.select(col("k"), col("cid").as("b")), "k")
          .filter(col("a") < col("b")).count()
      }.wallS
      println(f"t29_semdedup_pairs,$k,${k * maxVec},$nSeeds,$pairs,$t%.2f")
    }
    // t29 assignment codegen contract: with the broadcast-centroid
    // map-side argmin the PLAN is k-independent — no per-centroid
    // literal, no generated-method growth, no driver-side expression
    // build. Fixed corpus, k = 8 → 512: wall time may grow with the
    // unavoidable k·d per-row argmin arithmetic, but the per-(row ×
    // centroid) unit cost must stay FLAT (the round-6 literal-least()
    // chain blew up superlinearly here via codegen size, and died
    // entirely past a few thousand centroids).
    println("probe,nseeds,corpus,secs,ns_per_rowcent")
    for (nc <- Seq(8, 64, 512)) {
      val corpus = emb0.select(col("vec_id").as("cid"), qCol.as("qv"))
      val seeds = graft.operators.SemDedup.seedsOf(corpus, nc.toLong)
      val t = tm.span {
        graft.operators.SemDedup.assign(corpus, seeds)
          .select(col("cid"), col("k"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      val unit = t * 1e9 / (maxVec.toDouble * nc)
      println(f"t29_assign_flat,$nc,$maxVec,$t%.2f,$unit%.1f")
    }
    // t14 repetition: per-doc gram explosion is linear in token count;
    // the two-level agg keeps the shuffle keyed by (doc, gram) then doc.
    println("probe,k,docs,secs")
    for (k <- Seq(1, 2, 4)) {
      val docs = doc0.filter(col("doc_id") < 1250L * k)
      val t = tm.span {
        val grams = docs
          .select(col("doc_id"), split(col("text"), " ").as("tk"))
          .filter(size(col("tk")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', slice(tk, i, 3)))"))
            .as("gram"))
        grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
          .groupBy("doc_id").agg(sum(col("c")).as("n_grams"),
            count(lit(1)).as("n_unique"), max(col("c")).as("max_rep"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      println(f"t14_repetition,$k,${1250L * k},$t%.2f")
    }
    // t21/t22/t24 pair counting: the TextCombiner LUT ships ≤16 384 rows
    // per partition whatever the corpus size, vs the explode plan's one
    // row per corpus character into the hash-agg. Both are char-linear
    // in CPU; the combiner's shuffle volume is CONSTANT in k.
    println("probe,k,docs,explode_s,combiner_s")
    for (k <- Seq(1, 2, 4)) {
      val docs = (0 until k).map(i =>
        doc0.withColumn("doc_id", col("doc_id") + lit(i * maxDoc)))
        .reduce(_ unionAll _)
      val tE = tm.span {
        docs.filter(length(col("text")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(text) - 1), i -> substring(text, i, 2))"))
            .as("pair"))
          .groupBy("pair").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      val tC = tm.span {
        graft.operators.TextCombiner.pairCodeCounts(docs, "text")
          .write.mode("overwrite").format("noop").save()
      }.wallS
      println(f"pair_combiner,$k,${k * maxDoc},$tE%.2f,$tC%.2f")
    }

    // ---- END-TO-END registered-query probes over k-replicated table
    // DIRS: the real a08/a09 BDA binner+average, f11 w-stack imaging,
    // t19 decontamination (bloom build + exact join) and t25 pack
    // pipeline, timed against k x the fact parquet (dims copied).
    // Near-linear seconds in k is the claim each plan shape makes.
    val docAll = Tables.load(spark, sf, "documents")
    val maxDocAll = docAll.agg(max("doc_id")).collect()(0).getLong(0) + 1
    val ordAll = Tables.load(spark, sf, "orders")
    val maxOrd = ordAll.agg(max("o_orderkey")).collect()(0).getLong(0) + 1
    println("probe,k,a08_s,a09_s,f11_s,t19_s,t25_s")
    for (k <- Seq(1, 2, 4)) {
      val d = s"/tmp/graft_scaleprobe_k$k"
      (0 until k).map(i => ordAll.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * maxOrd)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$d/orders.parquet")
      (0 until k).map(i => docAll.withColumn("doc_id",
          col("doc_id") + lit(i * maxDocAll)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      for (t <- Seq("region", "nation"))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$sf/$t.parquet"),
          java.nio.file.Paths.get(s"$d/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      def tq(n: String): Double = tm.span {
        SparkEntry.queries(n)(spark, d)
          .write.mode("overwrite").format("noop").save()
      }.wallS
      val (a8, a9, f11, t19, t25) = (tq("a08_bda_mapper"),
        tq("a09_bda_average"), tq("f11_wstack_dirty"),
        tq("t19_decontamination"), tq("t25_pipeline_pack"))
      println(f"e2e_queries,$k,$a8%.2f,$a9%.2f,$f11%.2f,$t19%.2f,$t25%.2f")
      // round-7 additions: r17's general-order basis is a pure
      // projection over src×rows (must scale with the uvw row count
      // alone); x14's full-Jones sandwich is the new heaviest fused
      // term — its beam staging is dimension-sized, so growth must
      // track the expanded row count linearly
      val (r17, x14) = (tq("r17_shapelet_general"),
        tq("x14_fused_rime_beam_full"))
      println(f"e2e_queries_r7,$k,$r17%.2f,$x14%.2f")
    }

    // f11 vs IMAGE size: the DFT-dirty stage is (grid cells x pixels) —
    // image-area-bound by design, data-size-independent. Doubling npix
    // must ~4x only the pixel stage while the gridding stage (data-bound)
    // stays flat; at production scale this stage is the per-plane FFT
    // (timed alongside as fft_s: same planeGrids front half, then
    // Fft.planeImages — FftSpec proves it equals the DFT algebra).
    println("probe,npix,dft_s,fft_s")
    for (npix <- Seq(8, 16, 32, 64)) {
      val p = Tables.load(spark, sf, "orders")
        .filter(col("o_orderkey") % 32 === 0)
        .select(col("o_orderkey").as("row_id"),
          (((col("o_orderkey") * 7) % 201 - 100) / 2e1).as("w"),
          round(((col("o_orderkey") % 2001 - 1000) / 2e0) * 25e-2)
            .cast("long").as("pu"),
          round((((col("o_orderkey") * 3) % 2001 - 1000) / 2e0) * 25e-2)
            .cast("long").as("pv"),
          (((col("o_orderkey") * 13) % 19 - 9) / 16e0).as("re"),
          (((col("o_orderkey") * 17) % 11 - 5) / 16e0).as("im"))
      val taps = graft.queries.GriddingQ.Taps
      val px = spark.range(npix).select(col("id").as("x"))
        .crossJoin(spark.range(npix).select(col("id").as("y")))
        .withColumn("lx", (col("x").cast("double") - npix / 2) / 1024e0)
        .withColumn("my", (col("y").cast("double") - npix / 2) / 1024e0)
      def gridsOf: DataFrame =
        graft.operators.WStack.planeGrids(p, taps, nPlanes = 4,
          wMax = 5.0, eta = 1e-2, fsum = c => Det.fsum(c)).drop("n_hits")
      val tDft = tm.span {
        graft.operators.WStack.dirtyImageDft(gridsOf, px, taps,
          nPlanes = 4, wMax = 5.0, fsum = c => Det.fsum(c),
          r6 = c => Det.r6(c))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      val tFft = tm.span {
        graft.operators.Fft.planeImages(gridsOf, npix)
          .groupBy("x", "y")
          .agg(sum("ire").as("re"), sum("iim").as("im"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      println(f"f11_image_size,$npix,$tDft%.2f,$tFft%.2f")
    }

    // s20 custom as-of exec: one keyed exchange per side + a linear
    // two-pointer merge. Replicas duplicate user_id/ts exactly (event_id
    // shifted), so per-key density grows k× — the skew direction — and
    // wall-clock must still track ~k (the merge is linear in partition
    // rows; there is no per-key quadratic term).
    println("probe,k,rows,matches,secs")
    // two INDEPENDENT reads per side — the custom node takes two distinct
    // analyzed plans, like any physical join
    def evRead(): DataFrame = graft.core.Tables.events(spark, sf)
      .withColumn("tus", expr("ts div 1000"))
      .select("event_id", "user_id", "tus", "event_type")
    val nEv0 = evRead().count()
    val maxEv = evRead().agg(max("event_id")).head.getLong(0) + 1
    for (k <- Seq(1, 2, 4, 10)) {
      def ev = (0 until k).map(i =>
        evRead().withColumn("event_id", col("event_id") + lit(i * maxEv)))
        .reduce(_ unionAll _)
      val l = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "tus")
      val r = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("tus"), col("event_id"))
      var n = 0L
      val t = tm.span {
        n = graft.plans.AsOfJoinPlan.asOfNative(l, r, "user_id", "tus",
          Map("event_id" -> "view_id")).count()
      }.wallS
      println(f"s20_asof_native,$k,${nEv0 * k},$n,$t%.2f")
    }

    // round-6 session additions against k x the written fact parquet:
    // t44 edit-distance verify (DP cost must ride the band-bounded
    // candidate volume, NOT corpus pairs — the doc_id cap keeps the band
    // population fixed so seconds should stay ~flat while the corpus
    // grows), m16 audio spectrum (zero-shuffle projection, ~linear),
    // t46 URL canonicalization (projection + one window, ~linear), and
    // s22 attribution (one user-keyed window over replicated events —
    // per-user history grows k x, seconds must track ~k, no quadratic
    // per-key term).
    println("probe,k,t44_s,m16_s,t46_s,s22_s")
    for (k <- Seq(1, 2, 4)) {
      val d = s"/tmp/graft_scaleprobe_r6_k$k"
      (0 until k).map(i => docAll.withColumn("doc_id",
          col("doc_id") + lit(i * maxDocAll)))
        .reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      Tables.load(spark, sf, "events")
        .transform(df => (0 until k).map(i =>
          df.withColumn("event_id", col("event_id") + lit(i * 1000000L)))
          .reduce(_ unionAll _))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
      def tq(n: String): Double = tm.span {
        SparkEntry.queries(n)(spark, d)
          .write.mode("overwrite").format("noop").save()
      }.wallS
      val (t44, m16, t46, s22) = (tq("t44_edit_distance"),
        tq("m16_audio_spectrum"), tq("t46_url_canonical"),
        tq("s22_attribution"))
      println(f"session6,$k,$t44%.2f,$m16%.2f,$t46%.2f,$s22%.2f")
    }

    // e11 PCA scatter: the scatter_moments typed aggregate accumulates
    // (Σxxᵀ, Σx, n) inside the d²-long buffer — the exchange carries one
    // buffer per partition at any corpus size, so seconds must scale with
    // the map-side SCAN only (~linear, shallow slope).
    println("probe,k,vectors,secs")
    for (k <- Seq(1, 2, 4, 10)) {
      val emb = (0 until k).map(i =>
        emb0.withColumn("vec_id", col("vec_id") + lit(i * maxVec)))
        .reduce(_ unionAll _)
      val q = emb.select(col("vec_id"), expr(
        "qquant(embedding, 1e4)")
        .as("qv"))
      val t = tm.span {
        q.agg(expr("scatter_moments(qv)").as("m"))
          .write.mode("overwrite").format("noop").save()
      }.wallS
      println(f"e11_scatter,$k,${k * maxVec},$t%.2f")
    }
    spark.stop()
  }

  /** Per-stage wall + spill attribution for the p03 curation funnel at an
    * arbitrary replica dir — each stage is materialized CUMULATIVELY (no
    * caching, the real recompute plan), so the first stage whose spill
    * delta is non-zero is the spiller. Honors SPARK_GRAFT_MASTER /
    * SPARK_GRAFT_EXTRA_CONF so the 4-JVM small-heap layout is probeable. */
  private def curationStages(spark: SparkSession, tm: Env.TaskMetrics,
                             dir: String): Unit = {
    import graft.pipelines.CurationPipeline
    val docs = graft.core.Tables.documents(spark, dir)
    val emb = graft.core.Tables.embeddings(spark, dir)
    val cfg = CurationPipeline.Config()
    val s1 = CurationPipeline.languageGate(docs)
    val s2 = CurationPipeline.gopherGate(s1)
    val s3 = CurationPipeline.exactDedup(s2)
    val s4 = CurationPipeline.nearDupCollapse(s3)
    val s5 = CurationPipeline.semanticPrune(s4, emb, cfg)
    val s6 = CurationPipeline.pack(s5, cfg)
    println("stage,wall_s,spill_delta_bytes,rows")
    Seq("lang" -> s1, "gopher" -> s2, "exact" -> s3, "neardup" -> s4,
      "semantic" -> s5, "pack" -> s6).foreach { case (name, df) =>
      val st = tm.span(df.write.mode("overwrite").format("noop").save())
      // rows via a second cheap pass only for funnel context
      println(f"$name,${st.wallS}%.2f,${st.spillBytes},${df.count()}")
    }
  }

  /** Per-stage wall attribution for the p01 predict pipeline (round 13):
    * MS ensure, dataset open + rankTimes, the RimeCompiler plan BUILD
    * (driver-side — FITS read, beam staging, analysis of the fused
    * full-Jones expressions), first execution (noop), the MODEL_DATA
    * member write, and the read-back — run TWICE so the second pass
    * shows the warm (bench-comparable) split. */
  private def predictStages(spark: SparkSession, tm: Env.TaskMetrics,
                            dir: String): Unit = {
    val ms = tm.span(graft.queries.PipelineQ.ensureMs(spark, dir))
    val (msDir, nMain) = ms.value
    val sky = graft.queries.PipelineQ.ensureSkyModel()
    val beam = graft.queries.PipelineQ.ensureBeam()
    println("pass,stage,wall_s")
    for (pass <- 1 to 2) {
      val plan = tm.span(
        graft.pipelines.PredictPipeline.modelDataFullJones(
          spark, msDir, sky, beam, mainRows = Some(nMain)))
      val md = plan.value
      val noop = tm.span(md.write.mode("overwrite").format("noop").save())
      val write = tm.span(graft.io.MsDataset.writeModelData(md, msDir,
        Some(nMain * 2)))
      val read = tm.span(
        graft.io.MsDataset.readModelData(spark, msDir)
          .write.mode("overwrite").format("noop").save())
      if (pass == 1) println(f"1,ensure_ms,${ms.wallS}%.2f")
      println(f"$pass,plan_build,${plan.wallS}%.2f")
      println(f"$pass,first_noop,${noop.wallS}%.2f")
      println(f"$pass,member_write,${write.wallS}%.2f")
      println(f"$pass,readback_noop,${read.wallS}%.2f")
      // catalyst phase attribution for the final DF's own QueryExecution
      md.queryExecution.tracker.phases.foreach { case (ph, s) =>
        println(f"$pass,catalyst_$ph,${(s.endTimeMs - s.startTimeMs) / 1e3}%.2f")
      }
      md.queryExecution.tracker.topRulesByTime(8).foreach { case (r, s) =>
        println(f"$pass,rule_${r.split('.').last},${s.totalTimeNs / 1e9}%.3f," +
          s"${s.numInvocations}")
      }
    }
  }

  /** Construction-vs-execution attribution for one registered query
    * (round 14): times q.fn() — every eager analysis and staging job
    * taken while the DataFrame chain is BUILT — against the noop
    * execution of the result, twice (pass 2 = warm). */
  private def planWall(spark: SparkSession, tm: Env.TaskMetrics,
                       name: String, dir: String): Unit = {
    val q = SparkEntry.registry.find(_.name == name)
      .getOrElse(sys.error(s"no such query: $name"))
    println("pass,stage,wall_s")
    for (pass <- 1 to 2) {
      val build = tm.span(q.fn(spark, dir))
      val df = build.value
      def noop(): Double =
        tm.span(df.write.mode("overwrite").format("noop").save()).wallS
      println(f"$pass,construct,${build.wallS}%.2f")
      println(f"$pass,first_noop,${noop()}%.2f")
      println(f"$pass,second_noop,${noop()}%.2f")
      df.queryExecution.tracker.phases.foreach { case (ph, s) =>
        println(f"$pass,catalyst_$ph,${(s.endTimeMs - s.startTimeMs) / 1e3}%.2f")
      }
    }
  }

  /** Per-stage wall attribution for the p02 imaging major cycle (round
    * 14): combined grid aggregation + checkpoint, PSF patch collect,
    * dirty-image DFT, facet clean (components), and the residual
    * subtraction — run twice so pass 2 is the warm split. */
  private def imagingStages(spark: SparkSession, tm: Env.TaskMetrics,
                            dir: String): Unit = {
    import graft.pipelines.ImagingPipeline
    val cfg = graft.queries.PipelineQ.ImgCfg
    def noop(df: DataFrame): Double =
      tm.span(df.write.mode("overwrite").format("noop").save()).wallS
    println("pass,stage,wall_s")
    for (pass <- 1 to 2) {
      val vis = graft.queries.PipelineQ.imagingVis(spark, dir)
      val grid = tm.span(ImagingPipeline.combinedGrids(vis, cfg).localCheckpoint())
      val both = grid.value
      val psfSt = tm.span(ImagingPipeline.psfFromGrids(
        both.select(col("wplane"), col("gu"), col("gv"),
          col("u_re").as("g_re"), col("u_im").as("g_im")), cfg))
      val (psf, peak) = psfSt.value
      val dirty = graft.operators.WStack.dirtyImageDft(
        both.select(col("wplane"), col("gu"), col("gv"),
          col("g_re"), col("g_im")),
        ImagingPipeline.pixelGrid(spark, cfg), cfg.taps,
        cfg.nPlanes, cfg.wMax, fsum = c => sum(c), r6 = identity)
      val tDirty = noop(dirty)
      val comps = ImagingPipeline.cleanFacets(
        dirty.select(col("x"), col("y"),
          (col("dirty_dt") / peak).as("value")), psf, cfg)
      val tClean = noop(comps)
      val tRes = noop(ImagingPipeline.residualVis(vis, comps, cfg))
      println(f"$pass,grid_ckpt,${grid.wallS}%.2f")
      println(f"$pass,psf_collect,${psfSt.wallS}%.2f")
      println(f"$pass,dirty_noop,$tDirty%.2f")
      println(f"$pass,clean_noop,$tClean%.2f")
      println(f"$pass,residual_noop,$tRes%.2f")
    }
  }

  /** Per-stage wall attribution for the p04 self-cal cycle: MS ensure
    * (excluded from the bench by the content marker), the predict alone,
    * the cycle call (corrupted-vis cache materialization + the
    * gauss_newton driver loop), the correct stage, and the sink+readback.
    * The solver loop's wall divided by its iteration count (it logs to
    * stderr at INFO) localizes per-iteration floor vs data cost. */
  private def selfcalStages(spark: SparkSession, tm: Env.TaskMetrics,
                            dir: String): Unit = {
    import graft.pipelines.SelfCalPipeline
    val ensure = tm.span(graft.queries.PipelineQ.ensureMs(spark, dir))
    val (msDir, nMain) = ensure.value
    val sky = graft.queries.PipelineQ.ensureSkyModel()
    // MAIN's count rides the ensureMs fingerprint (round 13) — thread it
    // through both probe calls (ADVICE r12)
    val mainRows = Some(nMain)
    val ms = graft.io.MsDataset.read(spark, msDir)
    // the fused predict+corrupt projection alone (stages 1-3)
    val model = tm.span(SelfCalPipeline.corruptedVis(spark, ms, sky, 64, mainRows)
      .write.mode("overwrite").format("noop").save())
    val cycle = tm.span(
      SelfCalPipeline.cycle(spark, ms, sky, 64, 100, 1e-4, mainRows))
    val r = cycle.value
    val correct = tm.span(
      r.corrected.write.mode("overwrite").format("noop").save())
    val sink = tm.span {
      graft.io.MsDataset.writeMember(r.corrected, msDir, "CORRECTED_DATA",
        Some(nMain * 2))
      graft.io.MsDataset.readMember(spark, msDir, "CORRECTED_DATA").count()
    }
    r.vis.unpersist(blocking = false)
    println("stage,wall_s,spill_delta_bytes")
    Seq("ensure_ms" -> ensure, "corrupt_vis_noop" -> model,
      "cycle_solve" -> cycle, "correct_noop" -> correct,
      "sink_readback" -> sink).foreach { case (stage, st) =>
      println(f"$stage,${st.wallS}%.2f,${st.spillBytes}")
    }
  }
}
