package graft.rime

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Cx, CxCol, Det}
import graft.functions.{Feeds, Phase}
import graft.functions.Feeds.Jones2x2

/** The fused-RIME mini-compiler — SURVEY §2.11 X1-X5
  * (africanus/experimental/rime/fused/specification.py:78-470, core.py,
  * intrinsics.py, terms/core.py:28-197).
  *
  * `RimeSpec.parse` turns an equation string like
  * `"(Gp,Lp,Kpq,Bpq,Lq,Gq): [I,Q] -> [XX,XY,YX,YY]"` into SIDED term
  * references + stokes/corr schemas (X1), inferring the feed type from
  * the correlation basis (linear XX.. / circular RR.., the reference's
  * specification.py feed inference). `RimeCompiler.plan` assembles ONE
  * declarative DataFrame pipeline (X4/X5): source×row×chan expansion with
  * broadcast dimension tables, per-corr fused sampler expressions, a
  * deterministic fixed-point source sum, per-SOURCE (DDE) 2×2 terms
  * multiplied inside the sum, and the direction-independent chain applied
  * outside it in spec order — any combination of G and L on either side.
  *
  * Term letters: K = phase delay, B = brightness (stokes→corr in the
  * inferred feed basis, implicit-zero stokes as in
  * model/coherency/conversion.py:163-198), G = per-(time, ant) complex
  * gain, L = feed rotation. Additional per-source terms plug in through
  * [[RimeCompiler.registerDde]] — the X2 custom-term registry ('E', the
  * test beam, is pre-registered).
  */
final case class TermRef(letter: Char, side: String)

final case class RimeSpec(terms: Seq[TermRef], stokes: Seq[String],
                          corrs: Seq[String]) {
  def hasTerm(c: Char): Boolean = terms.exists(_.letter == c)
  /** Scalar pq envelope terms (everything pair-sided except K and B). */
  def pairDde: Seq[Char] =
    terms.filter(t => t.side == "pq" && t.letter != 'K' && t.letter != 'B')
      .map(_.letter)
  /** X1 feed inference: the correlation basis decides linear vs circular. */
  val feed: String = {
    val circ = corrs.forall(Set("RR", "RL", "LR", "LL"))
    val lin = corrs.forall(Set("XX", "XY", "YX", "YY"))
    require(circ || lin, s"correlations [$corrs] mix feed bases")
    if (circ) "circular" else "linear"
  }
  /** DIE terms on the p side, in listed order. */
  def leftDie: Seq[Char] = terms.filter(t => t.side == "p" && DieLetters(t.letter)).map(_.letter)
  def rightDie: Seq[Char] = terms.filter(t => t.side == "q" && DieLetters(t.letter)).map(_.letter)
  def leftDde: Seq[Char] = terms.filter(t => t.side == "p" && !DieLetters(t.letter)).map(_.letter)
  def rightDde: Seq[Char] = terms.filter(t => t.side == "q" && !DieLetters(t.letter)).map(_.letter)
  private val DieLetters = Set('G', 'L')
}

object RimeSpec {
  private val Shape = """\(([^)]*)\)\s*:\s*\[([^\]]*)\]\s*->\s*\[([^\]]*)\]""".r
  private val KnownStokes = Set("I", "Q", "U", "V")
  private val KnownCorrs = Set("XX", "XY", "YX", "YY", "RR", "RL", "LR", "LL")

  def parse(s: String): RimeSpec = s.trim match {
    case Shape(ts, st, co) =>
      val terms = ts.split(",").map(_.trim).filter(_.nonEmpty).map { t =>
        val side = if (t.endsWith("pq")) "pq"
        else if (t.endsWith("p")) "p"
        else if (t.endsWith("q")) "q"
        else throw new IllegalArgumentException(
          s"term '$t' must carry a p/q/pq side suffix")
        TermRef(t.head, side)
      }.toSeq
      require(terms.nonEmpty, "empty term list")
      terms.foreach { t =>
        if (t.letter == 'K' || t.letter == 'B')
          require(t.side == "pq", s"${t.letter} is a pair term (pq)")
        // other letters: p/q = per-antenna Jones, pq = scalar pair envelope
        // (the Gaussian-shape slot) — resolved against the registries at
        // plan time
      }
      val stokes = st.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(stokes.forall(KnownStokes), s"unknown stokes in [$st]")
      val corrs = co.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(corrs.nonEmpty && corrs.forall(KnownCorrs), s"unknown corr in [$co]")
      RimeSpec(terms, stokes, corrs)
    case other =>
      throw new IllegalArgumentException(
        s"cannot parse RIME spec '$other' — expected '(T,..): [S,..] -> [C,..]'")
  }
}

object RimeCompiler {

  /** X2 custom-term registry: a DDE factory yields the per-source 2×2
    * Jones for (src_id, time_index, ant) — multiplied INSIDE the source
    * sum, like the reference's per-term sampler protocol
    * (terms/core.py:28-197). */
  type DdeFactory = (Column, Column, Column) => Jones2x2

  /** A per-antenna DDE term. The reference's term protocol splits setup
    * (`fields`/`init_fields`, run once over the inputs) from per-element
    * sampling (terms/core.py:28-197); the Spark analogue is `stage` — a
    * DataFrame transformation that may add broadcast-dimension joins and
    * derived columns to the expanded (row × source × chan) frame — plus
    * `jones`, the 2×2 sampler expression over the staged columns. */
  trait DdeTerm extends Serializable {
    /** Transform the expanded frame for one side ("p"/"q"). Called once
      * per side BEFORE the source sum; must be idempotent when the term's
      * columns are side-independent. `dims` builds the src × chans
      * DIMENSION product (every (src_id, chan[, ddid]) key with its
      * l/m/freq columns, unique per key by the same contract that makes
      * the join-back keys unique): a term whose staged columns depend
      * only on those keys derives its staging table from it, never from
      * a distinct over the EXPANDED (data-sized) frame, which would run a
      * full MAIN scan inside every plan build. */
    def stage(df: DataFrame, side: String, dims: () => DataFrame): DataFrame = df
    def jones(src: Column, time: Column, ant: Column, side: String): Jones2x2
  }

  /** Pure-expression term (no staging) — adapts the plain factory API. */
  private final case class ExprTerm(f: DdeFactory) extends DdeTerm {
    def jones(src: Column, time: Column, ant: Column, side: String): Jones2x2 =
      f(src, time, ant)
  }

  /** Pre-registered 'E': the same dyadic diag-dominant test beam as the
    * DDE predict fixture (queries/PredictFull.e2Col). */
  private val registry = scala.collection.mutable.Map[Char, DdeTerm](
    'E' -> ExprTerm((s: Column, t: Column, a: Column) =>
      graft.queries.PredictFull.e2Col(s, t, a)))

  def registerDde(letter: Char, f: DdeFactory): Unit =
    registry.synchronized { registry(letter) = ExprTerm(f) }

  def registerTerm(letter: Char, t: DdeTerm): Unit =
    registry.synchronized { registry(letter) = t }

  /** SCOPED registration: run `body` (typically a [[plan]] call — terms
    * are resolved eagerly while the plan is built) with `letter` bound to
    * `t`, then restore whatever was registered before. Callers that
    * override a PRE-registered letter ('E', the default test beam) must
    * use this instead of [[registerTerm]] — a bare override leaks into
    * every later plan in the session that relies on the default (the
    * round-11 x08 poisoning: the predict pipeline's FITS beam term left
    * registered turned x08's dyadic test beam into the fixture beam).
    * The whole body holds the registry lock, and [[planImpl]] snapshots
    * the terms it needs UNDER the same lock, so a concurrent planner can
    * never observe the temporary binding — it blocks on the snapshot
    * until the restore has run. The lock is held across plan
    * CONSTRUCTION (which can collect dimension tables); a concurrent
    * plan() therefore serializes behind the scoped body — acceptable,
    * since planning is driver-side and model-sized. */
  def withTerm[T](letter: Char, t: DdeTerm)(body: => T): T =
    registry.synchronized {
      val prev = registry.get(letter)
      registry(letter) = t
      try body
      finally prev match {
        case Some(p) => registry(letter) = p
        case None => registry.remove(letter)
      }
    }

  /** Scalar pair-term (pq) registry: a real envelope multiplying every
    * correlation of the source coherency inside the sum — the slot the
    * reference's Gaussian shape term occupies
    * (experimental/rime/fused/terms/gaussian.py:9-80). The factory is
    * re-invoked per plan so registrations stay side-effect free. */
  type PairFactory = () => Column

  private val pairRegistry = scala.collection.mutable.Map[Char, PairFactory]()

  def registerPair(letter: Char, f: PairFactory): Unit =
    pairRegistry.synchronized { pairRegistry(letter) = f }

  /** Derived PA table for the X3 transformer: GMST-backend parallactic
    * angle (RimeMore.paGmstSql — IAU 1982 polynomial, per-antenna
    * lon/lat) over the rows' (time_index × ant) grid.
    *
    * The derived angle is rounded to 1 µrad (r6) — physically negligible
    * (≲0.2 arcsec of feed rotation) but load-bearing for determinism: the
    * atan2/GMST chain is engine-libm-dependent, and round 3 proved that
    * per-row trig of an engine-computed angle on a hashed surface
    * eventually flips (x09 red). Rounding the ANGLE makes every
    * downstream cos/sin argument bit-identical across engines — the same
    * exact-input regime as the driver-green x06 (dyadic PA inputs) and
    * r04b (r6-hashed GMST PA). */
  private def derivePa(rows: DataFrame): DataFrame = {
    val times = rows.select(col("time_index")).distinct()
    val ants = rows.select(col("ant1").as("ant"))
      .union(rows.select(col("ant2").as("ant"))).distinct()
    times.crossJoin(ants)
      .withColumn("pa", Det.r6(expr(graft.queries.RimeMore.paGmstSql)))
  }

  /** LM transformer (experimental/rime/fused/transformers/lm.py): when the
    * source table carries (ra, dec) but no (l, m) and a phase centre is
    * supplied, derive the direction cosines about that centre —
    *   l = cos dec · sin(ra − ra₀)
    *   m = sin dec · cos dec₀ − cos dec · sin dec₀ · cos(ra − ra₀)
    * — the reference LMTransformer's exact formula (lm.py:21-40).
    *
    * The derived cosines are rounded to 1e-9 (≲ 0.2 mas — physically
    * negligible) for the same reason the PA transformer rounds at r6: the
    * cos/sin chain is engine-libm dependent at the last ulp, and the
    * rounding collapses both engines onto one shared rational so every
    * downstream phase is IEEE-exact arithmetic of bit-identical inputs.
    * DeterminismSpec measures the flip-boundary margins of the derived
    * values. The derivation is a projection on the source DIM table —
    * broadcast-sized at any data scale, no shuffle. */
  private def deriveLm(src: DataFrame, pc: (Double, Double)): DataFrame = {
    val da = col("ra") - lit(pc._1)
    src
      .withColumn("l", Det.r9(cos(col("dec")) * sin(da)))
      .withColumn("m", Det.r9(sin(col("dec")) * cos(lit(pc._2)) -
        cos(col("dec")) * sin(lit(pc._2)) * cos(da)))
  }

  /** Correlation order of the full 2×2 matrix in each feed basis. */
  private def basis(feed: String): Seq[String] =
    if (feed == "circular") Seq("RR", "RL", "LR", "LL")
    else Seq("XX", "XY", "YX", "YY")

  /** Build the visibility pipeline for `specStr`.
    *
    * Inputs: `src` (src_id, lowercase stokes columns as present, plus
    * either direct (l, m) or (ra, dec) with `phaseDir` — the LM
    * transformer derives the cosines in the latter case), `rows` (row_id,
    * u, v, w, time_index, ant1, ant2), `chans` (chan, freq), `gainsDf`
    * (time_index, ant, g_re, g_im; required iff G is in the spec), `paDf`
    * (time_index, ant, pa; required iff L).
    * Output: (row_id, chan) + <corr>_re/_im per requested correlation.
    */
  def plan(specStr: String, src0: DataFrame, rows: DataFrame,
           chans: DataFrame, gainsDf: Option[DataFrame] = None,
           paDf: Option[DataFrame] = None,
           phaseDir: Option[(Double, Double)] = None): DataFrame =
    planImpl(specStr, src0, rows, chans, gainsDf, paDf, phaseDir,
      grouped = false, fieldDirs = None)

  /** Group-aware plan — ONE compiled spec over the (FIELD_ID,
    * DATA_DESC_ID)-grouped MS, the Spark-first answer to the reference's
    * per-group dask graphs (rime/examples/predict.py:548-559; r18 is the
    * hand-built form). `src` carries `field_id` (per-field sky model),
    * `chans` carries `ddid` (the DATA_DESCRIPTION→SPW-resolved channel
    * grid), `rows` carries both. The per-group independence falls out of
    * the grouping keys: dimension tables broadcast, the source sum is one
    * partial+final aggregation keyed by (field_id, ddid, row_id, chan[,
    * antenna keys]), and the output carries the group columns.
    *
    * Scale property (PlanSpec-guarded): the distinct groups PRESENT in
    * the model tables are pushed as scan filters on `rows` — planning a
    * subset of groups reads only those MS partitions (the model tables
    * are driver-sized, so the isin-list collect is bounded). When the
    * per-field model carries (ra, dec) and no (l, m), the LM transformer
    * derives the cosines about each field's OWN phase centre from
    * `fieldDirs` (field_id, ra0, dec0) — the FIELD.PHASE_DIR semantics. */
  def planGrouped(specStr: String, src0: DataFrame, rows: DataFrame,
                  chans: DataFrame, gainsDf: Option[DataFrame] = None,
                  paDf: Option[DataFrame] = None,
                  fieldDirs: Option[DataFrame] = None): DataFrame =
    planImpl(specStr, src0, rows, chans, gainsDf, paDf, phaseDir = None,
      grouped = true, fieldDirs = fieldDirs)

  /** Per-field LM transformer: the grouped sibling of [[deriveLm]] — the
    * phase centre is a per-field COLUMN pair joined from the (model-sized,
    * broadcast) field table instead of a plan literal. Same r9 rounding,
    * same reason (lm.py:21-40 formula; engine-libm trig collapsed onto a
    * shared rational). */
  private def deriveLmGrouped(src: DataFrame, dirs: DataFrame): DataFrame = {
    val da = col("ra") - col("ra0")
    src.join(broadcast(dirs.select(col("field_id"), col("ra0"), col("dec0"))),
        Seq("field_id"))
      .withColumn("l", Det.r9(cos(col("dec")) * sin(da)))
      .withColumn("m", Det.r9(sin(col("dec")) * cos(col("dec0")) -
        cos(col("dec")) * sin(col("dec0")) * cos(da)))
      .drop("ra0", "dec0")
  }

  private def planImpl(specStr: String, src0: DataFrame, rows0: DataFrame,
           chans: DataFrame, gainsDf: Option[DataFrame],
           paDf: Option[DataFrame],
           phaseDir: Option[(Double, Double)],
           grouped: Boolean, fieldDirs: Option[DataFrame]): DataFrame = {
    val spec = RimeSpec.parse(specStr)
    require(!spec.hasTerm('G') || gainsDf.isDefined,
      "spec contains G but no gains table was supplied")
    // LM transformer: a K term needs (l, m); derive them from (ra, dec)
    // about the supplied phase centre when the source table has none.
    val src: DataFrame =
      if (spec.hasTerm('K') && !src0.columns.contains("l")) {
        if (grouped) {
          require(fieldDirs.isDefined, "grouped spec contains K but src " +
            "has no (l, m) and no fieldDirs table was supplied")
          deriveLmGrouped(src0, fieldDirs.get)
        } else {
          require(phaseDir.isDefined,
            "spec contains K but src has no (l, m) and no phaseDir was supplied")
          deriveLm(src0, phaseDir.get)
        }
      } else src0
    // group pruning: only the groups present in the model tables are
    // planned — the isin filters reach the partitioned MS scan as
    // PartitionFilters, so a subset plan reads a subset of the bytes
    val rows: DataFrame = if (grouped) {
      val fids = src.select(col("field_id")).distinct()
        .collect().map(_.get(0)).toSeq
      val dds = chans.select(col("ddid")).distinct()
        .collect().map(_.get(0)).toSeq
      rows0.filter(col("field_id").isin(fids: _*) &&
        col("ddid").isin(dds: _*))
    } else rows0
    // X3 parallactic-angle transformer: when the spec needs L and no PA
    // table is supplied, derive one from the rows' (time, antenna) domain
    // via the GMST backend — the reference's transformer computes exactly
    // this input on demand (experimental/rime/fused/transformers/
    // parangle.py). The derivation aggregates to dimension cardinality
    // (distinct times × distinct antennas) before any trig, so it stays a
    // broadcast-sized dim table at any data scale.
    val paResolved: Option[DataFrame] =
      if (spec.hasTerm('L') && paDf.isEmpty) Some(derivePa(rows)) else paDf
    // SNAPSHOT the registries under their locks: [[withTerm]]'s scoping
    // guarantee rests on every planner read being synchronized — a plan
    // on another thread either sees the whole pre-state or the whole
    // post-state, never the temporary binding or a torn Map write.
    val terms: Map[Char, DdeTerm] = registry.synchronized {
      (spec.leftDde ++ spec.rightDde).map { c =>
        require(registry.contains(c), s"no DDE term registered for '$c'")
        c -> registry(c)
      }.toMap
    }
    val pairTerms: Map[Char, PairFactory] = pairRegistry.synchronized {
      spec.pairDde.map { c =>
        require(pairRegistry.contains(c), s"no pair term registered for '$c'")
        c -> pairRegistry(c)
      }.toMap
    }
    // scalar pq envelopes (Gaussian shape et al.) scale every correlation
    // of the coherency inside the source sum
    val envelopes: Seq[Column] = spec.pairDde.map(c => pairTerms(c)())

    // implicit-zero stokes (conversion.py:163-198) — referenced through
    // the src plan so stokes u/v never collide with the uvw u/v columns
    def st(n: String): Column =
      if (spec.stokes.contains(n)) src(n.toLowerCase) else lit(0.0)

    // X3 transform: the K sampler needs (l, m) + uvw + freq.
    // The trig subtree is PRE-PROJECTED as two columns on the expanded
    // frame (round 13): inlined, it recurs in every corr sampler and
    // again through each 2×2 sandwich product — the analyzed tree grew
    // to hundreds of KB and ONE analysis (dominated by the untracked
    // checkAnalysis walk) cost seconds per plan build at any data size.
    // As a projected column the agg references a leaf attribute; the
    // phase doubles are computed by the identical expression over the
    // identical inputs, so every hashed surface is bit-for-bit unchanged
    // (x01-x17 strict-gated).
    val kCols: Option[(Column, Column)] =
      if (spec.hasTerm('K')) {
        val kc = Phase.phaseDelay(src("l"), src("m"),
          rows("u"), rows("v"), rows("w"), chans("freq"))
        Some((kc.re, kc.im))
      } else None
    val k: CxCol =
      if (spec.hasTerm('K')) CxCol(col("rime_k_re"), col("rime_k_im"))
      else Cx.one

    // per-corr fused sampler (brightness × phase) in the inferred feed
    // basis. Diagonal entries have real brightness — keep the real-scale
    // form so expressions match the hand-written oracle trees bit for bit.
    def sampler(corr: String): CxCol = {
      val base = corr match {
        case "XX" => k.scale(st("I") + st("Q"))
        case "YY" => k.scale(st("I") - st("Q"))
        case "XY" => CxCol(st("U"), st("V")) * k
        case "YX" => CxCol(st("U"), -st("V")) * k
        case "RR" => k.scale(st("I") + st("V"))
        case "LL" => k.scale(st("I") - st("V"))
        case "RL" => CxCol(st("Q"), st("U")) * k
        case "LR" => CxCol(st("Q"), -st("U")) * k
      }
      envelopes.foldLeft(base)((z, e) => z.scale(e))
    }

    val expanded0 =
      if (grouped)
        rows.join(broadcast(src), Seq("field_id"))
          .join(broadcast(chans), Seq("ddid"))
      else rows.crossJoin(broadcast(src)).crossJoin(broadcast(chans))
    val groupCols = if (grouped) Seq("field_id", "ddid") else Seq.empty
    // stage the DDE terms' broadcast joins / derived columns (term
    // protocol setup) before the source sum; then the K phase columns.
    // Terms whose staging depends only on the (src, chan) dimension keys
    // receive the dimension product (see DdeTerm.stage) so their
    // staging never scans the data-sized expanded frame.
    val dims = () => src.crossJoin(chans)
    val expandedStaged =
      (spec.leftDde.map((_, "p")) ++ spec.rightDde.map((_, "q")))
        .foldLeft(expanded0) { case (df, (c, side)) =>
          terms(c).stage(df, side, dims) }
    val expanded = kCols match {
      case Some((kre, kim)) => expandedStaged
        .withColumn("rime_k_re", kre).withColumn("rime_k_im", kim)
      case None => expandedStaged
    }
    val hasDde = spec.leftDde.nonEmpty || spec.rightDde.nonEmpty
    val needsAnts = spec.hasTerm('G') || spec.hasTerm('L') || hasDde
    val gKeys = groupCols ++
      (if (needsAnts) Seq("row_id", "time_index", "ant1", "ant2", "chan")
       else Seq("row_id", "chan"))
    // correlation-mixing factors (L or any 2×2 DDE) force the full matrix
    // through the source sum
    val mixes = spec.hasTerm('L') || hasDde
    val sumCorrs = if (mixes) basis(spec.feed) else spec.corrs

    // per-source matrix: DDE chain × (B∘K) × DDE chainᴴ, or the samplers
    // alone when no DDE terms are present
    def summedCols: Seq[Column] = {
      if (!hasDde) {
        sumCorrs.flatMap { c =>
          val x = sampler(c)
          val n = c.toLowerCase
          Seq(Det.fsum(x.re).as(s"${n}_re"), Det.fsum(x.im).as(s"${n}_im"))
        }
      } else {
        val bs = basis(spec.feed)
        val m0 = Jones2x2(sampler(bs(0)), sampler(bs(1)),
          sampler(bs(2)), sampler(bs(3)))
        val left = spec.leftDde.map(c =>
          terms(c).jones(col("src_id"), col("time_index"), col("ant1"), "p"))
        val right = spec.rightDde.map(c =>
          terms(c).jones(col("src_id"), col("time_index"), col("ant2"), "q"))
        val withLeft = left.foldRight(m0)((e, m) => Jones2x2.mul(e, m))
        val v = right.reverse
          .foldLeft(Option.empty[Jones2x2])((acc, e) =>
            Some(acc.fold(e)(p => Jones2x2.mul(p, e))))
          .map(q => Jones2x2.mul(withLeft, Jones2x2.herm(q)))
          .getOrElse(withLeft)
        val entry = Map(bs(0) -> v.m00, bs(1) -> v.m01,
          bs(2) -> v.m10, bs(3) -> v.m11)
        sumCorrs.flatMap { c =>
          val n = c.toLowerCase
          Seq(Det.fsum(entry(c).re).as(s"${n}_re"),
            Det.fsum(entry(c).im).as(s"${n}_im"))
        }
      }
    }
    val summed = expanded.groupBy(gKeys.map(col): _*)
      .agg(summedCols.head, summedCols.tail: _*)

    // ---- the DIE chain, applied OUTSIDE the sum in spec order ----------
    val dieLetters = (spec.leftDie ++ spec.rightDie).toSet
    if (dieLetters.isEmpty) summed
    else if (dieLetters == Set('G')) {
      // scalar diagonal gains never mix correlations — apply g_p·x·g_q*
      // per requested corr (the 2×2 chain would add value-neutral 0·y
      // terms that perturb signed zeros against the hand-written oracles).
      // Sides are honored: a one-sided spec like "(Gp,Kpq,Bpq)" applies
      // the p-side factor only.
      val withG = graft.queries.Predict.withGains(summed, gainsDf.get)
      val gp = CxCol(col("gp_re"), col("gp_im"))
      val gq = CxCol(col("gq_re"), col("gq_im"))
      val applyP = spec.leftDie.contains('G')
      val applyQ = spec.rightDie.contains('G')
      val outCols = spec.corrs.flatMap { c =>
        val n = c.toLowerCase
        var v = CxCol(col(s"${n}_re"), col(s"${n}_im"))
        if (applyP) v = gp * v
        if (applyQ) v = v * gq.conj
        Seq(v.re.as(s"${n}_re"), v.im.as(s"${n}_im"))
      }
      withG.select((groupCols.map(col) ++ (col("row_id") +: col("chan") +:
        outCols)): _*)
    } else {
      var j = summed
      if (spec.hasTerm('G')) {
        j = graft.queries.Predict.withGains(j, gainsDf.get)
      }
      if (spec.hasTerm('L')) {
        val pa = paResolved.get
        val pp = broadcast(pa.select(col("time_index").as("lt"),
          col("ant").as("la"), col("pa").as("pap")))
        val pq = broadcast(pa.select(col("time_index").as("mt"),
          col("ant").as("ma"), col("pa").as("paq")))
        j = j.join(pp, col("time_index") === col("lt") && col("ant1") === col("la"))
          .join(pq, col("time_index") === col("mt") && col("ant2") === col("ma"))
      }
      def dieFactor(letter: Char, side: String): Jones2x2 = letter match {
        case 'G' =>
          val g = if (side == "p") CxCol(col("gp_re"), col("gp_im"))
          else CxCol(col("gq_re"), col("gq_im"))
          Jones2x2(g, Cx.zero, Cx.zero, g)
        case 'L' =>
          Feeds.feedRotation(col(if (side == "p") "pap" else "paq"), spec.feed)
      }
      val bs = basis(spec.feed)
      val m = Jones2x2(
        CxCol(col(s"${bs(0).toLowerCase}_re"), col(s"${bs(0).toLowerCase}_im")),
        CxCol(col(s"${bs(1).toLowerCase}_re"), col(s"${bs(1).toLowerCase}_im")),
        CxCol(col(s"${bs(2).toLowerCase}_re"), col(s"${bs(2).toLowerCase}_im")),
        CxCol(col(s"${bs(3).toLowerCase}_re"), col(s"${bs(3).toLowerCase}_im")))
      // V = (P₁·P₂·…)·M·(…·Q₂ᴴ·Q₁ᴴ) — fold left side in order onto M,
      // right side as herm of its reversed product (Gp,Lp,..,Lq,Gq ⇒
      // G·L·M·Lᴴ·Gᴴ)
      val withLeft = spec.leftDie.map(dieFactor(_, "p"))
        .foldRight(m)((t, acc) => Jones2x2.mul(t, acc))
      val v = spec.rightDie.map(dieFactor(_, "q")).reverse
        .foldLeft(Option.empty[Jones2x2])((acc, t) =>
          Some(acc.fold(t)(p => Jones2x2.mul(p, t))))
        .map(q => Jones2x2.mul(withLeft, Jones2x2.herm(q)))
        .getOrElse(withLeft)
      val entry = Map(bs(0) -> v.m00, bs(1) -> v.m01,
        bs(2) -> v.m10, bs(3) -> v.m11)
      val outCols = spec.corrs.flatMap { c =>
        val n = c.toLowerCase
        Seq(entry(c).re.as(s"${n}_re"), entry(c).im.as(s"${n}_im"))
      }
      j.select((groupCols.map(col) ++ (col("row_id") +: col("chan") +:
        outCols)): _*)
    }
  }
}
