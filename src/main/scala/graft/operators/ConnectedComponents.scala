package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Escalate

/** Distributed connected components over a pair graph — the step from
  * near-duplicate PAIRS (t10) to duplicate CLUSTERS (t11) at corpus
  * scale.
  *
  * Two label algorithms, both loops of keyed-shuffle DataFrame rounds
  * (node- and edge-linear relations, no funnel, no driver-side graph):
  *
  *  - [[labelPropagation]]: per round every node takes the min label
  *    among itself and its neighbours — one edge join + one grouped min
  *    per round. Reaches over distance `rounds`, so it needs diameter
  *    many rounds (fine for near-dup clusters, which are cliques with
  *    fringe — t11 runs 4 fixed rounds so the DuckDB oracle can unroll
  *    the identical iterations).
  *  - [[pointerDoubling]]: each round does one propagation step and then
  *    shortcuts `lbl(v) := lbl(lbl(v))` — label pointers double in reach
  *    per round, so `rounds = ⌈log₂(diameter)⌉ + 1` suffices (the classic
  *    pointer-jumping CC; the scale path for long-chain graphs where
  *    diameter-many propagation rounds would be unbounded).
  *
  * Every round references the label relation TWICE (itself + the
  * neighbour/shortcut lookup), so a naive declarative loop doubles both
  * the Catalyst plan and the recomputation per round — 2^rounds cost.
  * Each round is therefore materialized via `localCheckpoint` and
  * rewrapped as a fresh LogicalRDD (the Calibrate idiom: rewrapping also
  * resets the size statistics that would otherwise compound), with the
  * previous round's cache unpersisted — at most two label copies live at
  * any time.
  *
  * Both return (cid, lbl) with lbl = the minimum node id of the
  * component once converged; fixed-round results are deterministic
  * integers either way (what makes t11 hash-exact).
  */
object ConnectedComponents {

  /** Symmetrize a directed pair list (u, v) → both orientations. */
  def symmetrize(pairs: DataFrame): DataFrame = {
    val c = pairs.columns
    pairs.select(col(c(0)).as("u"), col(c(1)).as("v"))
      .unionByName(pairs.select(col(c(1)).as("u"), col(c(0)).as("v")))
  }

  /** Collect (u, v) long edges when the pinned relation fits the
    * `Escalate.local` gate; None keeps the distributed loop. `edgeRows`
    * is pin's count. The round loop runs DRIVER-resident below the gate
    * (round 14): each distributed round costs a localCheckpoint job + 2-3
    * keyed exchanges — pure overhead when the graph is model-sized
    * (t11/t17/t53 measured 2-3 s of construction for ms of label
    * arithmetic). Every loop value is an exact INTEGER combined by
    * order-free ops (min, long sums, integer division), so the driver
    * mirror is bit-identical at any evaluation order — no fp caveat at
    * all (ConnectedComponentsSpec pins local ≡ distributed on the same
    * graph). */
  private def edgesLocal(symC: DataFrame, edgeRows: Long)
      : Option[Array[(Long, Long)]] = {
    val fits = symC.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType) &&
      Escalate.local(symC.sparkSession, "cc.edges", edgeRows * 48L)
    if (!fits) None
    else Some(symC.collect().map(r => (r.getLong(0), r.getLong(1))))
  }

  private def propagateOnce(lbl: DataFrame, sym: DataFrame): DataFrame = {
    val nbr = lbl.select(col("cid").as("lc"), col("lbl").as("ll"))
    lbl.join(sym, col("cid") === col("u"), "left")
      .join(nbr, col("lc") === col("v"), "left")
      .groupBy(col("cid"), col("lbl"))
      .agg(least(col("lbl"), coalesce(min(col("ll")), col("lbl"))).as("nl"))
      .select(col("cid"), col("nl").as("lbl"))
  }

  /** One round-boundary: cache this round's rows, free the previous
    * round's, return a constant-size-plan DataFrame over the cache. */
  private def roundStep(df: DataFrame, prev: Option[RDD[Row]])
      : (DataFrame, RDD[Row]) = {
    val rdd = df.rdd.localCheckpoint()
    rdd.count() // materialize NOW so both downstream reads hit the cache
    prev.foreach(org.apache.spark.graft.Blocks.release)
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Materialize a relation that every round re-reads (the edge list, the
    * degree table). Without this, each round's plan recomputes the full
    * upstream pipeline — for t11/t17 that upstream is the entire LSH
    * near-dup candidate join, so `rounds` rounds cost `rounds`× the graph
    * construction. Pinned once, construction runs once and rounds read
    * the cached rows. Returns the pinned frame and its row count (free —
    * the materializing count is the same job). */
  private def pin(df: DataFrame): (DataFrame, Long) = {
    val rdd = df.rdd.localCheckpoint()
    val n = rdd.count()
    (df.sparkSession.createDataFrame(rdd, df.schema), n)
  }

  /** Long node ids of a one-column node frame, when collect-safe. The
    * count runs BEFORE the collect — the gate must bound the driver
    * transfer, not report it after the fact. */
  private def nodesLocal(nodes: DataFrame, id: String): Option[Array[Long]] = {
    if (nodes.schema(id).dataType != org.apache.spark.sql.types.LongType)
      return None
    if (!Escalate.local(nodes.sparkSession, "cc.nodes", nodes.count() * 24L)) None
    else Some(nodes.select(col(id)).collect().map(_.getLong(0)))
  }

  /** `rounds` fixed min-label propagation rounds; reaches distance
    * `rounds`. nodes: one column of node ids; sym: symmetric (u, v). */
  def labelPropagation(nodes: DataFrame, sym: DataFrame,
                       rounds: Int): DataFrame = {
    val id = nodes.columns.head
    val (symC, nEdges) = pin(sym)
    edgesLocal(symC, nEdges).flatMap { edges =>
      nodesLocal(nodes, id).map { ns =>
        var m = scala.collection.mutable.HashMap(ns.map(n => n -> n): _*)
        for (_ <- 1 to rounds) {
          val nm = m.clone()
          edges.foreach { case (u, v) =>
            // endpoints that are not nodes (the distributed left-join
            // miss on either side) contribute nothing; progressive min
            // over the PREVIOUS round's labels (m) equals the grouped
            // min — min is order-free
            (m.get(v), nm.get(u)) match {
              case (Some(lv), Some(cur)) if lv < cur => nm(u) = lv
              case _ =>
            }
          }
          m = nm
        }
        localLabelFrame(nodes.sparkSession, ns.map(n => (n, m(n))))
      }
    }.getOrElse {
      var lbl = nodes.select(col(id).as("cid"), col(id).as("lbl"))
      var prev: Option[RDD[Row]] = None
      for (_ <- 1 to rounds) {
        val (df, rdd) = roundStep(propagateOnce(lbl, symC), prev)
        lbl = df; prev = Some(rdd)
      }
      lbl
    }
  }

  private def localLabelFrame(spark: org.apache.spark.sql.SparkSession,
                              rows: Array[(Long, Long)],
                              valName: String = "lbl"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("cid", LongType), StructField(valName, LongType)))
    spark.createDataFrame(java.util.Arrays.asList(
      rows.map(r => Row(r._1, r._2)).toIndexedSeq: _*), schema)
  }

  /** Fixed-point integer PageRank over a symmetric edge list: p₀ = scale
    * per node; per round p'(v) = 0.15·scale + ⌊85·Σ_{u→v} ⌊p(u)/deg(u)⌋
    * / 100⌋, ALL in integer arithmetic (floor divisions, exact long
    * sums), so a fixed round count is bit-identical on any engine — the
    * same fixed-iteration determinism contract as [[labelPropagation]]
    * and g08. Dangling-node mass is dropped (documented variant). Per
    * round: one degree join + one edge join + one grouped sum — node- and
    * edge-linear keyed shuffles, no funnel; rounds are materialized via
    * the same roundStep idiom so plans stay constant-size. */
  def fixedPointPageRank(nodes: DataFrame, sym: DataFrame, rounds: Int,
                         scale: Long = 1000000L): DataFrame = {
    val id = nodes.columns.head
    val n = nodes.select(col(id).as("cid"))
    val (symC, nEdges) = pin(sym)
    edgesLocal(symC, nEdges).flatMap { edges =>
      nodesLocal(n, "cid").map { ns =>
        // all-integer arithmetic (long sums order-free, positive integral
        // divisions) — bit-identical to the distributed rounds
        val deg = scala.collection.mutable.HashMap[Long, Long]()
        edges.foreach { case (u, _) => deg(u) = deg.getOrElse(u, 0L) + 1L }
        var p = scala.collection.mutable.HashMap(ns.map(_ -> scale): _*)
        for (_ <- 1 to rounds) {
          val inc = scala.collection.mutable.HashMap[Long, Long]()
          edges.foreach { case (u, v) =>
            p.get(u).foreach { pu =>
              inc(v) = inc.getOrElse(v, 0L) + pu / deg(u)
            }
          }
          p = scala.collection.mutable.HashMap(ns.map(c =>
            c -> (scale * 15L / 100L + (85L * inc.getOrElse(c, 0L)) / 100L)): _*)
        }
        localLabelFrame(nodes.sparkSession, ns.map(c => (c, p(c))), "p")
      }
    }.getOrElse {
      val (deg, _) = pin(symC.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .select(col("u").as("du"), col("deg")))
      var p = n.select(col("cid"), lit(scale).as("p"))
      var prev: Option[RDD[Row]] = None
      for (_ <- 1 to rounds) {
        val share = p.join(deg, col("cid") === col("du"))
          .select(col("cid").as("src"), expr("p div deg").as("share"))
        val inc = symC.join(share, col("u") === col("src"))
          .groupBy(col("v")).agg(sum(col("share")).as("inc"))
        val np = n.join(inc, col("cid") === col("v"), "left")
          .select(col("cid"),
            (lit(scale * 15L / 100L) +
              expr("(85 * coalesce(inc, 0L)) div 100")).as("p"))
        val (df, rdd) = roundStep(np, prev)
        p = df; prev = Some(rdd)
      }
      p
    }
  }

  /** Propagate + shortcut per round; reaches distance ~2^rounds. The
    * shortcut join is total because every label IS a node id (labels
    * only ever move to existing ids, and roots point to themselves). */
  def pointerDoubling(nodes: DataFrame, sym: DataFrame,
                      rounds: Int): DataFrame = {
    val id = nodes.columns.head
    val (symC, nEdges) = pin(sym)
    edgesLocal(symC, nEdges).flatMap { edges =>
      nodesLocal(nodes, id).map { ns =>
        var m = scala.collection.mutable.HashMap(ns.map(n => n -> n): _*)
        for (_ <- 1 to rounds) {
          val nm = m.clone()
          edges.foreach { case (u, v) =>
            (m.get(v), nm.get(u)) match {
              case (Some(lv), Some(cur)) if lv < cur => nm(u) = lv
              case _ =>
            }
          }
          // shortcut lbl(v) := lbl(lbl(v)) — labels are node ids (total)
          m = nm.map { case (c, l) => c -> nm(l) }
        }
        localLabelFrame(nodes.sparkSession, ns.map(n => (n, m(n))))
      }
    }.getOrElse {
      var lbl = nodes.select(col(id).as("cid"), col(id).as("lbl"))
      var prev: Option[RDD[Row]] = None
      for (_ <- 1 to rounds) {
        val (prop, rdd1) = roundStep(propagateOnce(lbl, symC), prev)
        val byId = prop.select(col("cid").as("pc"), col("lbl").as("pl"))
        val (df, rdd2) = roundStep(
          prop.join(byId, col("lbl") === col("pc"))
            .select(col("cid"), col("pl").as("lbl")), Some(rdd1))
        lbl = df; prev = Some(rdd2)
      }
      lbl
    }
  }
}
