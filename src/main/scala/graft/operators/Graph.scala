package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Distributed iterative graph analytics over an edge DataFrame — the
  * Pregel-without-Pregel shapes (PageRank, connected components) expressed
  * as per-iteration relational joins so Catalyst owns the physical plan.
  *
  * Edge contract: a DataFrame with long columns `src`, `dst`, one row per
  * DIRECTED edge. Undirected graphs pass both orientations (see
  * [[symmetrize]]). Nodes are the distinct `src` values — on a symmetrized
  * graph that is every endpoint, and every node has out-degree ≥ 1 (no
  * dangling-mass correction needed).
  *
  * Scale shape (both algorithms): the edge table — the 100 TB side — is
  * scanned once per iteration through an equi-join on `src` against the
  * node-sized state frame; state is [[Materialize]]d each iteration
  * (lineage would otherwise grow exponentially and a recompute would replay
  * every prior iteration), so failure recovery under a checkpoint dir
  * replays at most one iteration. Nothing is ever collected to the driver;
  * per-iteration state is one shuffle (the groupBy on `dst`) plus one
  * node-sized join. On a real cluster, bucketing the edge table by `src`
  * co-locates every iteration's join for free.
  *
  * Every algorithm's round is written ONCE, as a function from the state
  * frame to the next state frame. The fixed-round forms ([[pageRank]],
  * [[connectedComponents]], [[kCore]], [[bfsDistances]],
  * [[labelPropagation]]) cut that round's output a given number of times;
  * the converged forms hand the same round to [[fixpoint]].
  *
  * Cross-engine determinism: PageRank runs in FIXED-POINT integer
  * arithmetic (rank scaled by 1e12, integer `div` everywhere), so an exact
  * integer answer replaces the order-dependent float sums a naive
  * implementation would produce — the DuckDB oracle unrolls the identical
  * integer recurrence and hash-matches bit-for-bit at any partitioning.
  */
object Graph {

  /** Rank scale: 1.0 of probability mass = 1e12 fixed-point units. Chosen
    * so 85 * totalMass stays far under 2^63 while keeping 12 significant
    * fractional digits.
    */
  val Scale: Long = 1000000000000L

  /** Both orientations of an undirected edge list (distinct input pairs). */
  def symmetrize(pairs: DataFrame, a: String, b: String): DataFrame = {
    val p = pairs.select(col(a).cast("long").as("src"), col(b).cast("long").as("dst")).distinct()
    p.unionByName(p.select(col("dst").as("src"), col("src").as("dst")))
  }

  // ---------------------------------------------------------------- driver

  /** A loop state: a materialized frame plus the metrics observed on the
    * action that materialized it (empty when nothing was observed — a
    * loop's start frame, usually).
    */
  private final case class Cut(df: DataFrame, m: Map[String, Long] = Map.empty) {
    def apply(metric: String): Long = m(metric)
  }

  /** Materialize `df` — [[Materialize.cutFresh]] when `fresh`, else
    * [[Materialize.cut]] — with `metrics` folded into the SAME job through
    * `Dataset.observe`, so a stop signal costs no job of its own. The cut is
    * eager, so the metrics are published when it returns. An aggregate over
    * no rows observes null; it reads as 0 here (an empty graph has nothing
    * left to change).
    */
  private def observedCut(df: DataFrame, fresh: Boolean = false)(metrics: Column*): Cut = {
    val obs = new Observation()
    val observed = df.observe(obs, metrics.head, metrics.tail: _*)
    val c = if (fresh) Materialize.cutFresh(observed) else Materialize.cut(observed)
    Cut(c, obs.get.map { case (k, v) => k -> Option(v).fold(0L)(_.asInstanceOf[Long]) })
  }

  /** THE convergence driver behind every converged loop in this object
    * (and, through [[componentsOfCut]], Dedup's distributed clustering).
    *
    * Contract:
    *   - `step` maps a state to the next one and runs exactly one round; it
    *     sees the state only, never the round number, and materializes its
    *     result through [[observedCut]], so the stop signal rides the cut.
    *   - `done(prev, cur)` reads the metrics observed on the cuts; `prev` is
    *     the state before the last round, None before the first — a loop
    *     whose start frame already satisfies `done` runs 0 rounds.
    *   - The returned R counts EXECUTED rounds, including the first round
    *     that changed nothing: an oracle that unrolls exactly R rounds
    *     replays what ran, no-op tail included.
    *   - `done` is consulted at round 0, at every multiple of `probeEvery`
    *     and at `maxRounds`; rounds in between run unprobed, so R is the
    *     first consulted round at which `done` holds (with a cadence above
    *     1, up to `probeEvery − 1` no-op rounds past the first quiet one).
    *   - `maxRounds` is a runaway backstop, not a semantic knob: a loop not
    *     done after `maxRounds` rounds THROWS rather than return a state
    *     that is not the fixpoint.
    */
  private def fixpoint(loop: String, start: Cut, maxRounds: Int, probeEvery: Int = 1)(
      step: Cut => Cut)(done: (Option[Cut], Cut) => Boolean): (Cut, Int) = {
    var prev = Option.empty[Cut]
    var cur = start
    var rounds = 0
    while (!((rounds % probeEvery == 0 || rounds >= maxRounds) && done(prev, cur))) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"$loop: not converged after $maxRounds rounds — raise maxRounds")
      prev = Some(cur)
      cur = step(cur)
      rounds += 1
    }
    (cur, rounds)
  }

  /** The fixed-round forms: `rounds` applications of `step`, each cut. */
  private def iterate(rounds: Int, start: DataFrame)(step: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(start)((s, _) => Materialize.cut(step(s)))

  private def nRows: Column = count(lit(1)).as("n")

  /** Stop rule of the peeling loops: the round removed nothing. */
  private def sameCount(prev: Option[Cut], cur: Cut): Boolean = prev.exists(_("n") == cur("n"))

  private def nChanged: Column = count_if(col("label") =!= col("old_label")).as("n_changed")

  // --------------------------------------------------------------- PageRank

  /** One power-iteration round's CONTRIBUTION AGGREGATION — the shared
    * inner step of [[pageRank]] / [[pageRankConverged]] /
    * [[personalizedPageRank]], factored out so its skew posture is pinned
    * ONCE (GraphSpec): the `groupBy(dst)` sum plans a PARTIAL (map-side)
    * aggregate before the exchange, so a 10⁴-degree hub's fan-in
    * collapses to one row per map partition BEFORE it shuffles — per-key
    * shuffle volume is O(partitions), not O(degree), and power-law hubs
    * cannot straggle the round.
    */
  private[operators] def contribStep(e: DataFrame, ranks: DataFrame,
                                     degN: DataFrame): DataFrame =
    contribFromShares(e, ranks.join(degN, "node")
      .select(col("node"), expr("r div outdeg").as("share")))

  /** The contribution sum over a state frame that ALREADY carries each
    * node's out-share (r16 fusion, guide §2.4 "remove shuffles outright"):
    * the power-iteration loops carry `share = r div outdeg` IN the
    * materialized state — computed for free in the update projection, where
    * `outdeg` is already joined — so each round spends ONE edge-scan join +
    * the combined contribution sum, with no per-round ranks⋈degN join at
    * all. Arithmetic is unchanged (`share` is the identical integer), so
    * ranks are bit-identical to the unfused form (spec-pinned).
    */
  private[operators] def contribFromShares(e: DataFrame, shares: DataFrame): DataFrame =
    e.join(shares, e("src") === shares("node"))
      .groupBy(col("dst").as("node"))
      .agg(sum("share").as("contrib"))

  /** The power-iteration loops' inputs: the cut edge frame, the cut node
    * frame (node, outdeg, tp) and the round-0 state (node, outdeg, tp, r,
    * share). With `tele` = 1 where teleport mass lands (every node for
    * PageRank, the in-graph seeds for the personalized form) and `n_tele`
    * the number of those nodes, `tp = tele · ((100−d)·Scale div
    * (100·n_tele))` is each node's per-round teleport term — a constant,
    * computed once here instead of once per round — and
    * `r0 = tele · (Scale div n_tele)`.
    */
  private def prStart(edges: DataFrame, seeds: Option[DataFrame],
                      dampNum: Long): (DataFrame, DataFrame, DataFrame) = {
    // the edge frame is consumed once per iteration plus the degree pass —
    // cut it ONCE so the (possibly join-derived) edge pipeline doesn't
    // replan and re-execute every round
    val e = Materialize.cut(edges)
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    val tele = seeds.fold(deg.withColumn("tele", lit(1L))) { s =>
      deg.join(s.select(col("node").cast("long").as("node")).distinct()
        .withColumn("tele", lit(1L)), Seq("node"), "left")
        .na.fill(0L, Seq("tele"))
    }
    // the teleport count as a broadcast scalar: no driver action, no collect
    val start = Materialize.cut(
      tele.crossJoin(broadcast(tele.agg(sum("tele").as("n_tele"))))
        .select(col("node"), col("outdeg"),
          expr(s"tele * ((${100 - dampNum} * ${Scale}L) div (100 * n_tele))").as("tp"),
          expr(s"tele * (${Scale}L div n_tele)").as("r")))
    (e, start.drop("r"), start.withColumn("share", expr("r div outdeg")))
  }

  /** One power-iteration round — the only one [[pageRank]],
    * [[personalizedPageRank]] and [[pageRankConverged]] run: the
    * contribution sum over `state`'s out-shares, applied as the rank update
    * `r' = tp + dampNum · contrib div 100` to `lhs`, a node-keyed frame
    * carrying (outdeg, tp). The fixed-round forms pass the constant node
    * frame; the converged form passes the state itself (see
    * [[prConvergedRound]]). Adds `r` and its out-share `share` to `lhs`'s
    * columns.
    */
  private def prRound(e: DataFrame, dampNum: Long)(state: DataFrame, lhs: DataFrame): DataFrame =
    lhs.join(contribFromShares(e, state.select("node", "share")), Seq("node"), "left")
      .withColumn("r", col("tp") + expr(s"($dampNum * coalesce(contrib, 0L)) div 100"))
      .withColumn("share", expr("r div outdeg"))
      .drop("contrib")

  /** [[prRound]] as [[pageRankConverged]] runs it (r17 fusion, guide §2.4):
    * the state carries `outdeg`/`tp` itself, so the update is ONE
    * node-keyed left join (state ⋈ contrib) with no per-round node-frame
    * join, and the previous rank rides the state's own `r` column as
    * `old_r` for the residual. `extra` columns of the state carry through.
    */
  private def prConvergedRound(e: DataFrame, dampNum: Long)(state: DataFrame,
                                                           extra: Column*): DataFrame =
    prRound(e, dampNum)(state, state.select(Seq(col("node"), col("outdeg"), col("tp"),
      col("r").as("old_r")) ++ extra: _*))

  private def rankColumns(ranks: DataFrame): DataFrame =
    ranks.select(col("node"), col("r").as("rank_fp"),
      (col("r") / lit(Scale.toDouble)).as("rank"))

  /** Fixed-point PageRank with damping `d = dampNum/100`.
    *
    * Recurrence (all integer arithmetic, `div` = floor division):
    * {{{
    *   r0(v)   = Scale div N
    *   share(u)= r(u) div outdeg(u)
    *   r'(v)   = (100-dampNum)*Scale div (100*N)
    *             + dampNum * sum_{u->v} share(u) div 100
    * }}}
    * Returns (node, rank_fp, rank) — the exact fixed-point rank and its
    * double rendering rank_fp / 1e12.
    */
  def pageRank(edges: DataFrame, iterations: Int, dampNum: Long = 85): DataFrame = {
    require(iterations >= 1 && dampNum >= 0 && dampNum <= 100)
    val (e, nodes, r0) = prStart(edges, None, dampNum)
    rankColumns(iterate(iterations, r0)(
      s => prRound(e, dampNum)(s, nodes).select("node", "r", "share")))
  }

  /** Plan-evidence probe (r16): the round-0 state plus ONE [[pageRank]]
    * round, composed LAZILY — the loop's own [[prRound]] — so `explain`
    * shows the per-round exchange/join structure that the loop's cut frames
    * (LogicalRDD leaves) hide. Not part of any query path; consumed by
    * [[graft.PlanDump]] only.
    */
  private[graft] def pageRankRoundProbe(edges: DataFrame,
                                        dampNum: Long = 85): DataFrame = {
    val (e, nodes, r0) = prStart(edges, None, dampNum)
    prRound(e, dampNum)(r0, nodes).select("node", "r", "share")
  }

  /** Plan-evidence probe for [[pageRankConverged]] (r17): the round-0 state
    * plus ONE [[prConvergedRound]], composed LAZILY. Consumed by
    * [[graft.PlanDump]] only.
    */
  private[graft] def pageRankConvergedRoundProbe(edges: DataFrame,
                                                 dampNum: Long = 85): DataFrame = {
    val (e, _, r0) = prStart(edges, None, dampNum)
    prConvergedRound(e, dampNum)(r0)
  }

  /** DuckDB oracle fragment replaying the identical fixed-point recurrence:
    * unrolled CTE chain `r0 .. r{iterations}` over CTEs `edges(src,dst)`
    * and `deg(node,outdeg)` the caller provides. `//` is DuckDB floor
    * division — exact twin of Spark's `div` on the non-negative operands
    * used here.
    */
  def pageRankOracleCtes(iterations: Int, dampNum: Long = 85): String = {
    val n = "(SELECT CAST(COUNT(*) AS BIGINT) FROM deg)"
    val r0 = s"r0 AS MATERIALIZED (SELECT node, $Scale // $n AS r FROM deg)"
    val iters = (1 to iterations).map { i =>
      s"""r$i AS MATERIALIZED (
            SELECT d.node,
                   ((${100 - dampNum} * $Scale) // (100 * $n))
                   + (($dampNum * COALESCE(c.contrib, 0)) // 100) AS r
            FROM deg d LEFT JOIN (
              SELECT e.dst AS node, SUM(s.share) AS contrib
              FROM edges e JOIN (
                SELECT r.node, r.r // d2.outdeg AS share
                FROM r${i - 1} r JOIN deg d2 ON r.node = d2.node) s
                ON e.src = s.node
              GROUP BY 1) c ON d.node = c.node)"""
    }
    (r0 +: iters).mkString(",\n")
  }

  /** [[pageRank]] run TO RESIDUAL (VERDICT r12 #4): rounds continue until
    * max_v |r'(v) − r(v)| < `tolFp` (fixed-point units, Scale = 1e12 per
    * unit rank), so the iteration count is derived from the data instead
    * of fixed. Returns (ranks, R); an oracle unrolls exactly R rounds of
    * the identical integer recurrence, and because the recurrence is
    * deterministic, the result is BIT-IDENTICAL to [[pageRank]](edges, R)
    * (spec-pinned).
    *
    * The residual is observed on the state's own cut: the state carries
    * the previous rank as `old_r` (see [[prConvergedRound]]), and the
    * observed column set is projected away before the state re-enters the
    * recurrence.
    *
    * TWO rounds per materialization (r17, VERDICT r16 #3 — the remaining
    * per-round cost was the cut job itself): rounds 2k-1 and 2k compose
    * into ONE lazy plan, checkpointed once, with BOTH residuals observed on
    * the same action — max|r_{2k-1}−r_{2k-2}| (via the carried
    * old_r0/old_r columns) and max|r_{2k}−r_{2k-1}|. The batch's cut is
    * [[fixpoint]]'s round 2k-1; round 2k is a step over the already
    * materialized frame that starts no job. Convergence is therefore
    * checked FIRST-ROUND-FIRST: the stopping round R and the returned
    * ranks are identical to a one-round-per-job loop (round 2k-1's ranks
    * ride the materialized frame as `old_r`); the only extra work on an
    * odd-R stop is one discarded round — bounded by 1/R. Within the
    * batched plan the first round's subtree feeds both the second
    * contribution join and the update's left side; its exchanges are
    * IDENTICAL subtrees, so AQE's stage reuse computes each shuffle once.
    *
    * Because each round references the state TWICE (contribution step +
    * the update's left side), the state cut is [[Materialize.cutFresh]] —
    * size-only join stats MULTIPLY for every non-semi join type, so a
    * twice-referenced state squares sizeInBytes per round (digit count
    * doubles; planning grinds into million-digit BigInt multiplication by
    * round ~20 — reproduced live in r15 before the reset).
    * Power iteration contracts the residual by ~damping per round
    * (0.85^R), so R ≈ log(r0/tol)/log(1/0.85) regardless of diameter —
    * ~20–40 rounds at practical tolerances, the same at 100× scale (the
    * initial rank Scale/N SHRINKS with N, so absolute tolerance needs
    * FEWER rounds on bigger graphs, never more).
    */
  def pageRankConverged(edges: DataFrame, tolFp: Long = 10000000L,
                        maxRounds: Int = 128,
                        dampNum: Long = 85): (DataFrame, Int) = {
    require(tolFp >= 1 && maxRounds >= 1 && dampNum >= 0 && dampNum <= 100)
    val (e, _, r0) = prStart(edges, None, dampNum)
    // a batch's cut observes `res` (its first round) and `res2` (its
    // second); the state after its first round still holds `res2`
    val (ranks, r) = fixpoint("pageRankConverged", Cut(r0), maxRounds)(s => s.m.get("res2") match {
      case Some(res2) => Cut(s.df, Map("res" -> res2))
      case None =>
        val first = prConvergedRound(e, dampNum)(
          s.df.select("node", "r", "share", "outdeg", "tp"))
        observedCut(prConvergedRound(e, dampNum)(first, col("old_r").as("old_r0")), fresh = true)(
          max(abs(col("old_r") - col("old_r0"))).as("res"),
          max(abs(col("r") - col("old_r"))).as("res2"))
    })((prev, cur) => prev.nonEmpty && cur("res") < tolFp)
    // stopped at a batch's first round: its ranks are the frame's `old_r`
    val rank = if (ranks.m.contains("res2")) col("old_r") else col("r")
    (rankColumns(ranks.df.select(col("node"), rank.as("r"))), r)
  }

  /** PERSONALIZED PageRank (Haveliwala 2002): the teleport mass lands only
    * on the SEED set instead of uniformly — rank becomes proximity to the
    * seeds, the random-walk-with-restart behind "related items" and seed
    * expansion. Same exact fixed-point integer recurrence as [[pageRank]]
    * (so the oracle unrolls it bit-for-bit), with the teleport term gated
    * by seed membership:
    * {{{
    *   r0(v)   = [v∈S] · (Scale div |S|)
    *   r'(v)   = [v∈S] · ((100−d)·Scale div (100·|S|))
    *             + d · Σ_{u→v} share(u) div 100
    * }}}
    * Seeds outside the graph carry no mass and are dropped (|S| counts
    * seeds IN the graph — otherwise the walk would silently leak teleport
    * mass). Same round ([[prRound]]) and scale shape as [[pageRank]], which
    * is this recurrence with every node a seed.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame, iterations: Int,
                           dampNum: Long = 85): DataFrame = {
    require(iterations >= 1 && dampNum >= 0 && dampNum <= 100)
    val (e, nodes, r0) = prStart(edges, Some(seeds), dampNum)
    rankColumns(iterate(iterations, r0)(
      s => prRound(e, dampNum)(s, nodes).select("node", "r", "share")))
  }

  /** DuckDB unroll of [[personalizedPageRank]] over caller-provided
    * `edges(src,dst)`, `deg(node,outdeg)`, and `seeds(node)` CTEs (seeds
    * must already be restricted to graph nodes, as the runtime does).
    */
  def pprOracleCtes(iterations: Int, dampNum: Long = 85): String = {
    val ns = "(SELECT CAST(COUNT(*) AS BIGINT) FROM seeds)"
    val r0 = s"""r0 AS MATERIALIZED (
      SELECT d.node,
             CASE WHEN s.node IS NULL THEN 0 ELSE $Scale // $ns END AS r
      FROM deg d LEFT JOIN seeds s ON d.node = s.node)"""
    val iters = (1 to iterations).map { i =>
      s"""r$i AS MATERIALIZED (
            SELECT d.node,
                   CASE WHEN s.node IS NULL THEN 0
                        ELSE (${100 - dampNum} * $Scale) // (100 * $ns) END
                   + (($dampNum * COALESCE(c.contrib, 0)) // 100) AS r
            FROM deg d
            LEFT JOIN seeds s ON d.node = s.node
            LEFT JOIN (
              SELECT e.dst AS node, SUM(sh.share) AS contrib
              FROM edges e JOIN (
                SELECT r.node, r.r // d2.outdeg AS share
                FROM r${i - 1} r JOIN deg d2 ON r.node = d2.node) sh
                ON e.src = sh.node
              GROUP BY 1) c ON d.node = c.node)"""
    }
    (r0 +: iters).mkString(",\n")
  }

  // ---------------------------------------------------- connected components

  /** Every node labeled with its own id: (node, label). */
  private def ccStart(e: DataFrame): DataFrame =
    Materialize.cut(e.select("src").distinct())
      .select(col("src").as("node"), col("src").as("label"))

  /** One min-label round: every node takes the minimum of its label and
    * its neighbors' labels; the previous label rides along as `old_label`.
    */
  private def ccRound(e: DataFrame)(labels: DataFrame): DataFrame = {
    val nbrMin = e.join(labels, e("src") === labels("node"))
      .groupBy(col("dst").as("node"))
      .agg(min("label").as("nbr_label"))
    labels.join(nbrMin, Seq("node"), "left")
      .select(col("node"), col("label").as("old_label"),
        least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
  }

  /** Connected components by min-label propagation: every node starts
    * labeled with its own id; each iteration every node takes the minimum
    * of its label and its neighbors' labels. After ≥ diameter iterations
    * the label is the component-wide minimum id. Returns (node, component).
    *
    * CONTRACT: `iterations` must be ≥ the graph diameter or the returned
    * labels are NOT components — they are a partial propagation, and
    * nothing here flags it. This fixed-round form exists for callers that
    * already know the diameter bound (tests, oracle twins); pipelines
    * should use [[connectedComponentsConverged]], which derives the round
    * count from the data and fails fast instead of under-iterating.
    * [[ccConverged]] is the a-posteriori guard for this form.
    */
  def connectedComponents(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1)
    val e = Materialize.cut(edges)
    iterate(iterations, ccStart(e))(ccRound(e))
      .select(col("node"), col("label").as("component"))
  }

  /** Min-label propagation TO THE FIXPOINT: the round of
    * [[connectedComponents]], run by [[fixpoint]] until a round changes no
    * label (the changed-label count is observed on the round's cut). The
    * result is therefore the true fixpoint at ANY graph diameter, and the
    * reached round count R is returned so an oracle can unroll exactly R
    * rounds (post-fixpoint rounds are idempotent, so any R' ≥ R also
    * matches). Diameter of real sparse graphs is O(log n); the 64-round
    * backstop covers any graph that isn't an adversarial path.
    *
    * Scale shape per round: one edge-scan join + node-keyed min +
    * node-sized left join, materialized once.
    */
  def connectedComponentsConverged(edges: DataFrame,
                                   maxRounds: Int = 64): (DataFrame, Int) = {
    require(maxRounds >= 1)
    componentsOfCut(Materialize.cut(edges), maxRounds)
  }

  /** [[connectedComponentsConverged]] over an edge frame the caller has
    * ALREADY cut — for a caller that must release the edge pipeline's
    * caches between the cut and the loop (Dedup's distributed clustering).
    */
  private[graft] def componentsOfCut(e: DataFrame, maxRounds: Int): (DataFrame, Int) = {
    val (labels, r) = fixpoint("connectedComponentsConverged", Cut(ccStart(e)), maxRounds)(
      s => observedCut(ccRound(e)(s.df))(nChanged))(
      (prev, cur) => prev.nonEmpty && cur("n_changed") == 0)
    (labels.df.select(col("node"), col("label").as("component")), r)
  }

  /** One alternating round over the canonical directed (a > b) edge set. */
  private def starRound(e: DataFrame): DataFrame = {
    // large-star over the symmetric view
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val lsMins = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("mv"), col("u")).as("m"))
    val ls = sym.join(lsMins, Seq("u"))
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b")).distinct()
    // small-star over the directed (larger → smaller) view
    val ssMins = ls.groupBy("a").agg(min("b").as("m"))
    val ssNb = ls.join(ssMins, Seq("a"))
      .filter(col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
    ssNb.union(ssMins.select(col("a"), col("m").as("b"))).distinct()
  }

  /** Connected components by the ALTERNATING large-star / small-star
    * algorithm (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond") — the O(log n)-round form of [[connectedComponentsConverged]]:
    * min-label propagation needs one round per unit of graph DIAMETER (a
    * 1000-hop chain at 100× scale is 1000 shuffle rounds), while the
    * star operations contract paths doubly-exponentially fast, so rounds
    * stay logarithmic on any geometry (GraphSpec pins a 41-node chain:
    * 40 min-label rounds vs ≤8 here, identical labels).
    *
    * Per round over the current directed (larger → smaller) edge set E:
    *   - LARGE-STAR: each center u computes m = min(Γ(u) ∪ {u}) over its
    *     full symmetric neighborhood and re-points every STRICTLY LARGER
    *     neighbor at m — {(v, m) : v ∈ Γ(u), v > u}; each undirected edge
    *     contributes exactly one output (from its smaller endpoint's
    *     view), so connectivity is preserved while long paths fold.
    *   - SMALL-STAR: each center a re-points its smaller neighbors (and
    *     itself) at m = min(N(a) ∪ {a}) over the DIRECTED smaller
    *     neighborhood — {(v, m) : v ∈ N(a) ∪ {a}, v ≠ m}.
    * Every output edge points strictly larger → smaller, so the state
    * stays canonical; the loop stops when a round leaves the edge SET
    * unchanged, at which point E is a star forest: every node's parent IS
    * its component min. Set equality is equal observed counts plus an
    * empty one-sided difference — the anti-join runs only on rounds whose
    * counts are equal. An empty start set runs 0 rounds. The 32-round
    * backstop covers any graph below ~2^32 path length.
    *
    * Output: (node, component) for every endpoint of the input, component
    * = min node id in the component — bit-identical to
    * [[connectedComponentsConverged]] (spec-pinned), so the DuckDB oracle
    * can verify either form with the same round-free reachability query.
    *
    * Scale shape per round: two symmetric-neighborhood mins (map-side
    * combined, node-keyed) + two edge-frame joins, all on a frame that
    * only SHRINKS (toward one edge per non-root node); state is never
    * more than the current edge set, materialized once per round.
    */
  def connectedComponentsAlternating(edges: DataFrame,
                                     maxRounds: Int = 32): (DataFrame, Int) = {
    require(maxRounds >= 1)
    val nodes = Materialize.cut(
      edges.select(col("src").as("node"))
        .union(edges.select(col("dst"))).distinct())
    // canonical directed start: larger endpoint → smaller, no self loops
    val start = observedCut(edges.select(
        greatest(col("src"), col("dst")).as("a"),
        least(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())(nRows)
    val (e, r) = fixpoint("connectedComponentsAlternating", start, maxRounds)(
      s => observedCut(starRound(s.df))(nRows)) { (prev, cur) =>
      prev.fold(cur("n") == 0L)(p => p("n") == cur("n") &&
        cur.df.join(p.df, Seq("a", "b"), "left_anti").isEmpty)
    }
    val labels = nodes
      .join(e.df.select(col("a").as("node"), col("b").as("parent")), Seq("node"), "left")
      .select(col("node"), coalesce(col("parent"), col("node")).as("component"))
    (labels, r)
  }

  /** True when one more propagation step changes no label — i.e. the fixed
    * iteration count already reached the fixpoint.
    */
  def ccConverged(edges: DataFrame, iterations: Int): Boolean = {
    val a = connectedComponents(edges, iterations)
    val b = connectedComponents(edges, iterations + 1)
    a.join(b.withColumnRenamed("component", "component2"), "node")
      .filter(col("component") =!= col("component2"))
      .isEmpty
  }

  /** Exact TRIANGLE COUNT of an undirected simple graph, with the
    * degree-ordered orientation that makes it tractable at scale: every
    * edge orients from its lower-(degree, id) endpoint to the higher, so
    * each node's out-degree is O(√m) and the wedge join (the quadratic
    * step) is bounded by Σ outdeg² = O(m^1.5) — a plain id-ordered
    * orientation lets one low-id hub generate O(deg²) wedges. Each
    * triangle is counted exactly once (at its lowest-ordered vertex).
    *
    * Input: one row per undirected edge as (a, b) with a ≠ b (either
    * order, duplicates tolerated — normalized here). Output: one row
    * (n_nodes, n_edges, n_triangles).
    */
  def triangleCount(pairs: DataFrame, a: String = "src", b: String = "dst"): DataFrame = {
    // canonicalize BEFORE symmetrizing: an edge delivered in both
    // orientations must collapse to one undirected edge, not two
    val und = pairs.select(
      least(col(a).cast("long"), col(b).cast("long")).as("a"),
      greatest(col(a).cast("long"), col(b).cast("long")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = symmetrize(und, "a", "b")
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    // one comparable (deg, id) key as a STRUCT — struct ordering is
    // field-wise, so no id/degree magnitude can overflow or corrupt the
    // orientation the way a packed-long encoding silently would
    // (ADVICE r11: deg*2^32+node breaks at node ≥ 2^32 or deg ≥ 2^31)
    val keyed = deg.select(col("node"),
      struct(col("deg"), col("node")).as("okey"))
    // materialized once: the orientation join feeds four consumers
    // (edge count, both wedge sides, the closing semi join)
    val oriented = Materialize.cut(sym
      .join(keyed.select(col("node").as("src"), col("okey").as("skey")), Seq("src"))
      .join(keyed.select(col("node").as("dst"), col("okey").as("dkey")), Seq("dst"))
      .filter(col("skey") < col("dkey"))
      .select(col("src"), col("dst"), col("dkey")))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dkey") < col("e2.dkey"))
      .select(col("e1.dst").as("w_src"), col("e2.dst").as("w_dst"))
    val closed = wedges.join(
      oriented.select(col("src").as("w_src"), col("dst").as("w_dst")),
      Seq("w_src", "w_dst"), "left_semi")
    // three 1-row aggregates composed lazily — no driver actions
    keyed.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(oriented.agg(count(lit(1)).as("n_edges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
  }

  // ---------------------------------------------------------------- peeling

  /** One peeling round: drop every edge with an endpoint of degree < k. */
  private def kCoreRound(k: Int)(e: DataFrame): DataFrame = {
    val keep = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select("node")
    e.join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
  }

  private def degrees(e: DataFrame): DataFrame =
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))

  /** K-CORE of an undirected graph by iterative peeling: each round
    * removes every node whose CURRENT degree is < k (removals cascade —
    * a node can drop below k because its neighbors left). After enough
    * rounds the survivors are exactly the maximal subgraph of minimum
    * degree ≥ k — the standard dense-community / spam-farm detector.
    * Fixed `rounds` keeps the recurrence oracle-replayable;
    * [[kCoreConverged]] proves the fixpoint. Returns the surviving
    * (node, deg) — degrees WITHIN the core.
    *
    * Scale shape: each round is one degree aggregation + two semi-joins
    * of the shrinking edge set; edges [[Materialize]]d per round (same
    * recovery bound as the other iterative ops).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    degrees(iterate(rounds, Materialize.cut(edges))(kCoreRound(k)))
  }

  /** Iterative peeling TO THE FIXPOINT: the round of [[kCore]], run by
    * [[fixpoint]] until a round removes no edge (surviving-edge counts are
    * observed on the start cut and on every round's cut), so a cascade
    * deeper than any fixed guess (a long pendant path peels one layer per
    * round) still fully resolves. Returns (core, roundsRun);
    * `p{roundsRun}` in [[kCoreOracleCtes]] replays it exactly (the final
    * round is a no-op on both engines, and extra rounds stay no-ops —
    * peeling is idempotent at the fixpoint).
    */
  def kCoreConvergedRun(edges: DataFrame, k: Int,
                        maxRounds: Int = 64): (DataFrame, Int) = {
    require(k >= 1 && maxRounds >= 1)
    val (core, r) = fixpoint("kCoreConvergedRun", observedCut(edges)(nRows), maxRounds)(
      s => observedCut(kCoreRound(k)(s.df))(nRows))(sameCount)
    (degrees(core.df), r)
  }

  /** True when one more peeling round removes nothing. */
  def kCoreConverged(edges: DataFrame, k: Int, rounds: Int): Boolean = {
    val a = kCore(edges, k, rounds).agg(count(lit(1)), sum("deg")).head()
    val b = kCore(edges, k, rounds + 1).agg(count(lit(1)), sum("deg")).head()
    a == b
  }

  /** Peeling oracle fragment: unrolled `p0 .. p{rounds}` over a
    * caller-provided `edges(src,dst)` CTE; the served result reads
    * `p{rounds}`.
    */
  def kCoreOracleCtes(k: Int, rounds: Int): String = {
    val p0 = "p0 AS MATERIALIZED (SELECT src, dst FROM edges)"
    val iters = (1 to rounds).map { i =>
      s"""k$i AS (SELECT src AS node FROM p${i - 1}
                  GROUP BY 1 HAVING COUNT(*) >= $k),
         p$i AS MATERIALIZED (
           SELECT e.src, e.dst FROM p${i - 1} e
           JOIN k$i a ON e.src = a.node
           JOIN k$i b ON e.dst = b.node)"""
    }
    (p0 +: iters).mkString(",\n")
  }

  // -------------------------------------------------------------------- BFS

  /** The BFS start state: every distinct seed at dist 0, all `fresh` (the
    * frontier); keyed (seed, node) when `perSeed`.
    */
  private def bfsStart(seeds: DataFrame, perSeed: Boolean): DataFrame = {
    val s = seeds.select(col("node").cast("long").as("node")).distinct()
    s.select((if (perSeed) Seq(col("node").as("seed")) else Nil) ++
      Seq(col("node"), lit(0).as("dist"), lit(true).as("fresh")): _*)
  }

  /** One frontier round over the state (key…, node, dist, fresh): the
    * frontier is the `fresh` rows (those the previous round added); their
    * out-neighbors not yet reached under the same key join at `dist + 1`
    * and become the next frontier. A new row's distance derives from its
    * frontier row and the frontier from the carried flag, so every round
    * plans the SAME expressions — no per-round literal, hence no per-round
    * code generation.
    */
  private def bfsRound(e: DataFrame, key: Seq[String])(reached: DataFrame): DataFrame = {
    val frontier = reached.filter(col("fresh"))
    val fresh = e.join(frontier, e("src") === frontier("node"))
      .select(key.map(col) ++ Seq(col("dst").as("node"), (col("dist") + 1).as("dist")): _*)
      .distinct()
      .join(reached, key :+ "node", "left_anti")
    reached.withColumn("fresh", lit(false))
      .unionByName(fresh.withColumn("fresh", lit(true)))
  }

  private def nFresh: Column = count_if(col("fresh")).as("n_fresh")

  /** BFS run by [[fixpoint]] until a round adds nothing (the added-row
    * count is observed on the start cut and on every round's cut). */
  private def bfsConvergedBy(loop: String, edges: DataFrame, seeds: DataFrame,
                             key: Seq[String], maxRounds: Int,
                             probeEvery: Int): (DataFrame, Int) = {
    val e = Materialize.cut(edges)
    val (reached, r) = fixpoint(loop, observedCut(bfsStart(seeds, key.nonEmpty))(nFresh),
      maxRounds, probeEvery)(s => observedCut(bfsRound(e, key)(s.df))(nFresh))(
      (_, cur) => cur("n_fresh") == 0)
    (reached.df.drop("fresh"), r)
  }

  /** Multi-source BFS: unweighted shortest-path distance from the nearest
    * seed, by frontier expansion — round d joins ONLY the frontier (nodes
    * first reached at d−1) against the edge table and anti-joins the
    * already-reached set, so total work is O(Σ frontier-adjacent edges),
    * never |V|·rounds. Returns (node, dist) for every node within
    * `maxDepth` hops of a seed; unreached nodes are absent (the caller
    * left-joins if it wants ∞ rows). Seeds outside the graph still report
    * dist 0 — they are valid single-node reachable sets.
    *
    * Fixed `maxDepth` keeps the recurrence oracle-replayable
    * ([[bfsOracleCtes]]); [[bfsConverged]] proves a fixpoint when the
    * caller wants full-reachability semantics. Directed as given —
    * [[symmetrize]] first for undirected graphs.
    *
    * Scale shape per round: one frontier-sized equi-join on `src` (the
    * 100 TB edge table's join key — bucketing edges by src co-locates every
    * round), one distinct, one anti-join against the node-sized reached
    * set; state [[Materialize.cut]] once per round so lineage stays flat
    * and executor loss replays one round. No driver actions — empty late
    * rounds cost empty joins, not a per-round count.
    */
  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0)
    val e = Materialize.cut(edges)
    iterate(maxDepth, Materialize.cut(bfsStart(seeds, perSeed = false)))(bfsRound(e, Nil))
      .drop("fresh")
  }

  /** Frontier expansion until the frontier EMPTIES — full-reachability
    * BFS at any graph eccentricity, no depth guess. The round of
    * [[bfsDistances]], run by [[fixpoint]]. Returns (reached, roundsRun),
    * where the LAST round is the first that added nothing — `b{roundsRun}`
    * in [[bfsOracleCtes]] replays it exactly (that final round is a no-op
    * union on both engines); an empty seed set runs 0 rounds.
    */
  def bfsDistancesConverged(edges: DataFrame, seeds: DataFrame,
                            maxRounds: Int = 64): (DataFrame, Int) = {
    require(maxRounds >= 1)
    bfsConvergedBy("bfsDistancesConverged", edges, seeds, Nil, maxRounds, 1)
  }

  /** True when one more BFS round reaches nothing new — i.e. `maxDepth`
    * already covers the seeds' full reachable set.
    */
  def bfsConverged(edges: DataFrame, seeds: DataFrame, maxDepth: Int): Boolean =
    bfsDistances(edges, seeds, maxDepth + 1)
      .filter(col("dist") === maxDepth + 1).isEmpty

  /** PER-SEED BFS to convergence — [[bfsDistancesConverged]] with the seed
    * identity kept in the state, the primitive behind sampled-pivot
    * centrality (Eppstein & Wang 2001): K pivots' full distance vectors in
    * ONE frontier loop, state keyed (seed, node) so the K searches share
    * every edge scan instead of running K jobs. Returns ((seed, node,
    * dist) for every reached pair, roundsRun) — the stop is consulted
    * every `probeEvery` rounds ([[fixpoint]]'s cadence), so the recorded R
    * is the max pivot eccentricity + 1 rounded up to the cadence (trailing
    * rounds are no-ops) and the oracle's unroll replays every seed — and
    * the no-op tail — exactly.
    *
    * Scale shape per round: one frontier-sized equi-join on `src` (the
    * only edge-table touch), one distinct and one anti-join keyed
    * (seed, node) — state is ≤ K·|V| rows, the knob being K = O(log n/ε²)
    * for ±ε·diameter centrality error at ANY graph size. The backstop
    * throws rather than emitting truncated distance sums (a silently-short
    * sum_dist would BIAS every estimate upward).
    */
  def bfsPerSeedConverged(edges: DataFrame, seeds: DataFrame,
                          maxRounds: Int = 64,
                          probeEvery: Int = 4): (DataFrame, Int) = {
    require(maxRounds >= 1 && probeEvery >= 1)
    bfsConvergedBy("bfsPerSeedConverged", edges, seeds, Seq("seed"), maxRounds, probeEvery)
  }

  /** DuckDB unroll of [[bfsPerSeedConverged]]: `b0 .. b{maxDepth}` over
    * caller-provided `edges(src,dst)` and `seeds(node)` CTEs, state keyed
    * (seed, node); the served result reads `b{maxDepth}`.
    */
  def bfsPerSeedOracleCtes(maxDepth: Int): String = {
    val b0 =
      "b0 AS MATERIALIZED (SELECT DISTINCT node AS seed, node, 0 AS dist FROM seeds)"
    val iters = (1 to maxDepth).map { d =>
      s"""b$d AS MATERIALIZED (
            SELECT seed, node, dist FROM b${d - 1}
            UNION ALL
            SELECT f.seed, f.node, $d AS dist FROM (
              SELECT DISTINCT p.seed, e.dst AS node FROM edges e
              JOIN b${d - 1} p ON e.src = p.node AND p.dist = ${d - 1}) f
            WHERE NOT EXISTS (SELECT 1 FROM b${d - 1} r
                              WHERE r.seed = f.seed AND r.node = f.node))"""
    }
    (b0 +: iters).mkString(",\n")
  }

  /** Sampled-pivot CLOSENESS estimates from [[bfsPerSeedConverged]]'s
    * output: per node, the pivots reaching it, their exact BIGINT distance
    * sum, and ĉ(v) = (n−1)·K_v / (n·S_v) — the Eppstein-Wang estimator
    * with Σ_u d(v,u) ≈ (n/K_v)·S_v, exact integers until the single final
    * double division. Nodes no pivot reaches at positive distance are
    * absent (S_v = 0 has no finite closeness).
    */
  def pivotCloseness(perSeedDists: DataFrame, nNodes: DataFrame): DataFrame =
    perSeedDists.groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"), sum(col("dist").cast("long")).as("sum_dist"))
      .filter(col("sum_dist") > 0)
      .crossJoin(broadcast(nNodes))
      .select(col("node"), col("n_reached"), col("sum_dist"),
        (((col("n") - 1) * col("n_reached")).cast("double") /
          (col("n") * col("sum_dist")).cast("double")).as("closeness"))

  /** DuckDB unroll of [[bfsDistances]]: `b0 .. b{maxDepth}` over
    * caller-provided `edges(src,dst)` and `seeds(node)` CTEs; the served
    * result reads `b{maxDepth}`. Each b_d carries every node reached
    * within d hops exactly once, at its minimum distance.
    */
  def bfsOracleCtes(maxDepth: Int): String = {
    val b0 = "b0 AS MATERIALIZED (SELECT DISTINCT node, 0 AS dist FROM seeds)"
    val iters = (1 to maxDepth).map { d =>
      s"""b$d AS MATERIALIZED (
            SELECT node, dist FROM b${d - 1}
            UNION ALL
            SELECT f.node, $d AS dist FROM (
              SELECT DISTINCT e.dst AS node FROM edges e
              JOIN b${d - 1} p ON e.src = p.node AND p.dist = ${d - 1}) f
            WHERE NOT EXISTS (SELECT 1 FROM b${d - 1} r WHERE r.node = f.node))"""
    }
    (b0 +: iters).mkString(",\n")
  }

  /** One truss round over canonical pairs (x, y): each edge's triangle
    * support within the set, keeping the edges with support ≥ k−2.
    */
  private def trussRound(k: Int)(e: DataFrame): DataFrame = {
    val sym = e.select(col("x").as("u"), col("y").as("v"))
      .unionByName(e.select(col("y").as("u"), col("x").as("v")))
    e.join(sym.as("s1"), col("x") === col("s1.u"))
      .join(sym.as("s2"),
        col("y") === col("s2.u") && col("s1.v") === col("s2.v"))
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= k - 2)
  }

  /** K-TRUSS decomposition to convergence — EDGE-centric peeling (Cohen
    * 2008), a different algorithm class from [[kCore]]'s node peeling:
    * every surviving edge must close ≥ k−2 triangles WITHIN the surviving
    * set, so rounds alternate triangle-support counting and edge removal
    * until stable (removals cascade — losing one edge can starve
    * another's support). The truss is the community backbone degree-based
    * cores can't isolate: a hub with many non-mutual neighbors survives
    * k-core but carries no triangles.
    *
    * Input: canonical UNDIRECTED pairs (x < y, distinct). Per round: one
    * wedge join (edge ⋈ adjacency ⋈ adjacency — O(Σ_e deg) candidate
    * wedges, the m^1.5-bounded shape of [[triangleCount]]), one map-side-
    * combined count keyed on the edge, one filter. Zero-support edges
    * leave via the inner join itself (support 0 < k−2 for every k ≥ 3,
    * the identical rule on both engines). State is edge-sized and cut per
    * round; [[fixpoint]] stops at the first round whose observed
    * surviving-edge count equals the previous one. Returns ((x, y,
    * support) of the stable truss, roundsRun) — the LAST round is the
    * first that removed nothing, so the reported support values are the
    * stable ones.
    */
  def kTrussConverged(pairs: DataFrame, k: Int,
                      maxRounds: Int = 32): (DataFrame, Int) = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val start = observedCut(
      pairs.select(col("x").cast("long").as("x"), col("y").cast("long").as("y"))
        .filter(col("x") < col("y")).distinct())(nRows)
    val (truss, r) = fixpoint("kTrussConverged", start, maxRounds)(
      s => observedCut(trussRound(k)(s.df.select("x", "y")))(nRows))(sameCount)
    (truss.df, r)
  }

  /** DuckDB unroll of [[kTrussConverged]]: `t0 .. t{rounds}` plus
    * `sup1 .. sup{rounds}` over a caller-provided `t0(x, y)` canonical-
    * pair CTE; the served result reads `sup{rounds}` (support ≥ k−2 —
    * the stable frame, since round `rounds` removed nothing).
    */
  def kTrussOracleCtes(k: Int, rounds: Int): String = {
    val iters = (1 to rounds).map { r =>
      s"""sym$r AS (SELECT x AS u, y AS v FROM t${r - 1}
                    UNION ALL SELECT y, x FROM t${r - 1}),
          sup$r AS MATERIALIZED (
            SELECT e.x, e.y, CAST(COUNT(*) AS BIGINT) AS support
            FROM t${r - 1} e
            JOIN sym$r s1 ON s1.u = e.x
            JOIN sym$r s2 ON s2.u = e.y AND s2.v = s1.v
            GROUP BY 1, 2
            HAVING COUNT(*) >= ${k - 2}),
          t$r AS (SELECT x, y FROM sup$r)"""
    }
    iters.mkString(",\n")
  }

  /** Weighted single-source shortest paths — frontier-driven Bellman-Ford
    * in the MIN-PLUS semiring ([[bfsDistancesConverged]]'s weighted
    * generalization, a different algorithm class: BFS counts hops, this
    * minimizes summed non-negative integer edge weights, so the best path
    * can be LONGER in hops than the direct edge). Each round relaxes only
    * edges out of nodes whose distance IMPROVED last round (SPFA-style);
    * the run stops when a round improves nothing — and that is a true
    * global fixpoint: a node not improved at round r had all its outgoing
    * relaxations applied with its final distance when it last improved,
    * so the frontier run is round-for-round EQUAL to full Bellman-Ford
    * relaxation (the oracle unrolls the full form — GraphSpec pins the
    * equality on a graph where the cheap path is hop-longer).
    *
    * Scale shape per round: one edge⋈frontier join (frontier shrinks as
    * distances settle), a map-side-combined `min` keyed on the
    * destination, and a node-keyed full merge; all intermediates are
    * node-sized, distances are exact BIGINT sums (no float order), and
    * per-round state is [[Materialize.cut]] so lineage stays flat. The
    * improved-node count is observed on every cut and consulted every
    * `probeEvery` rounds ([[fixpoint]]'s cadence, VERDICT r13 #6). Returns
    * (dist over the seeds' reachable component, roundsRun) — the trailing
    * rounds (fewer than the cadence) improve nothing, and the oracle's
    * d{roundsRun} replays them as no-op merges.
    */
  def ssspConverged(edges: DataFrame, seeds: DataFrame,
                    maxRounds: Int = 64,
                    probeEvery: Int = 4): (DataFrame, Int) = {
    require(maxRounds >= 1 && probeEvery >= 1)
    val e = Materialize.cut(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w")))
    val nImproved = count_if(col("improved")).as("n_improved")
    val start = observedCut(seeds.select(col("node").cast("long").as("node")).distinct()
      .select(col("node"), lit(0L).as("dist"), lit(true).as("improved")))(nImproved)
    val (dist, r) = fixpoint("ssspConverged", start, maxRounds, probeEvery) { s =>
      val frontier = s.df.filter(col("improved"))
      val cand = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("d"))
        .groupBy("node").agg(min("d").as("d"))
      observedCut(s.df.join(cand, Seq("node"), "full")
        .select(col("node"),
          least(coalesce(col("dist"), lit(Long.MaxValue)),
            coalesce(col("d"), lit(Long.MaxValue))).as("dist"),
          (col("d").isNotNull &&
            (col("dist").isNull || col("d") < col("dist"))).as("improved")))(nImproved)
    }((_, cur) => cur("n_improved") == 0)
    (dist.df.drop("improved"), r)
  }

  /** DuckDB unroll of [[ssspConverged]] as FULL Bellman-Ford relaxation
    * (round-for-round equal to the frontier run — see the operator's
    * scaladoc): `d0 .. d{rounds}` over caller-provided `edges(src,dst,w)`
    * and `seeds(node)` CTEs; the served result reads `d{rounds}`.
    */
  def ssspOracleCtes(rounds: Int): String = {
    val d0 =
      "d0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist FROM seeds)"
    val iters = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (
            SELECT node, MIN(dist) AS dist FROM (
              SELECT node, dist FROM d${r - 1}
              UNION ALL
              SELECT e.dst AS node, p.dist + e.w AS dist
              FROM edges e JOIN d${r - 1} p ON e.src = p.node) z
            GROUP BY node)"""
    }
    (d0 +: iters).mkString(",\n")
  }

  // -------------------------------------------------------- label propagation

  /** Every node labeled with its own id; the two previous labelings
    * (`old_label`, and `old2` after a round) start as the same labeling.
    */
  private def lpaStart(e: DataFrame): DataFrame =
    Materialize.cut(e.select("src").distinct())
      .select(col("src").as("node"), col("src").as("label"), col("src").as("old_label"))

  /** One synchronous plurality round over (node, label, old_label): every
    * node adopts its neighbors' plurality label (count ties to the
    * smallest); the previous two labelings ride along as `old_label` and
    * `old2`.
    */
  private def lpaRound(e: DataFrame)(labels: DataFrame): DataFrame = {
    val best = e.join(labels, e("src") === labels("node"))
      .groupBy(col("dst").as("node"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy("node")
      .agg(max(struct(col("c"), (-col("label")).as("neg"))).as("m"))
      .select(col("node"), (-col("m.neg")).as("new_label"))
    labels.join(best, Seq("node"), "left")
      .select(col("node"), col("old_label").as("old2"), col("label").as("old_label"),
        coalesce(col("new_label"), col("label")).as("label"))
  }

  /** Synchronous LABEL PROPAGATION communities (Raghavan et al. 2007), the
    * modularity-flavored sibling of [[connectedComponents]]: each round,
    * every node adopts the label carried by the PLURALITY of its
    * neighbors — count ties break to the smallest label, so the update is
    * a pure function of the previous labeling and the run is deterministic
    * under any partitioning (the async/random-order variants of LPA are
    * not, which is why this is the sync form). Fixed `iterations` on both
    * engines: sync LPA can oscillate on bipartite structure rather than
    * converge, so the CONTRACT is the fixed round count, not a fixpoint —
    * the oracle unrolls the same rounds ([[lpaOracleCtes]]) and must
    * hash-match the full labeling.
    *
    * Scale shape per round: one exchange keyed on the destination node for
    * the (node, label) counts (map-side combined), a second node-keyed
    * aggregation for the plurality argmax — expressed as `max(struct(count,
    * -label))` so it rides a plain partial-merged aggregate, no per-node
    * window — then a left join back to carry isolated nodes unchanged.
    * Labels and intermediates are node-count-sized; per-round state is
    * [[Materialize.cut]] so lineage stays flat and executor loss replays
    * one round, not the whole history.
    */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1)
    val e = Materialize.cut(edges)
    iterate(iterations, lpaStart(e))(lpaRound(e))
      .select(col("node"), col("label").as("community"))
  }

  /** Synchronous LPA run until the DYNAMICS STOP PRODUCING NEW STATES:
    * stops at the first round r with l_r = l_{r-1} (fixpoint) or
    * l_r = l_{r-2} (the period-2 oscillation sync LPA is known to enter
    * on bipartite structure — Raghavan et al. 2007 §3; once entered, the
    * labeling alternates between two states forever, so r is the first
    * round after which no new labeling can appear). The state carries
    * l_{r-1} and l_{r-2} as columns, so both checks are label-change counts
    * observed on the round's own cut (at r = 1, l_{r-2} is taken as l_0,
    * so the cycle count equals the fixpoint count).
    *
    * The stopping round R is a deterministic function of the data, so
    * the returned (labels, R) is exactly replayable: [[lpaOracleCtes]]
    * unrolled R rounds reproduces the labeling bit-for-bit. Hitting
    * `maxRounds` THROWS — with the period-2 guard this needs dynamics of
    * period ≥ 3, which sync plurality-LPA does not exhibit in practice;
    * the backstop is a runaway bound, not a tuning knob.
    */
  def labelPropagationConverged(edges: DataFrame,
                                maxRounds: Int = 64): (DataFrame, Int) = {
    require(maxRounds >= 1)
    val e = Materialize.cut(edges)
    val (labels, r) = fixpoint("labelPropagationConverged", Cut(lpaStart(e)), maxRounds)(
      s => observedCut(lpaRound(e)(s.df))(
        nChanged, count_if(col("label") =!= col("old2")).as("n_cycle")))(
      (prev, cur) => prev.nonEmpty && (cur("n_changed") == 0 || cur("n_cycle") == 0))
    (labels.df.select(col("node"), col("label").as("community")), r)
  }

  /** DuckDB unroll of [[labelPropagation]] — plurality via a count-desc,
    * label-asc ROW_NUMBER (the window formulation the runtime deliberately
    * avoids; here it IS the spec).
    */
  def lpaOracleCtes(iterations: Int): String = {
    val l0 = "p0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges)"
    val iters = (1 to iterations).map { i =>
      s"""p$i AS MATERIALIZED (
            SELECT l.node, COALESCE(m.new_label, l.label) AS label
            FROM p${i - 1} l LEFT JOIN (
              SELECT node, label AS new_label FROM (
                SELECT e.dst AS node, p.label,
                       ROW_NUMBER() OVER (PARTITION BY e.dst
                         ORDER BY COUNT(*) DESC, p.label) AS rn
                FROM edges e JOIN p${i - 1} p ON e.src = p.node
                GROUP BY e.dst, p.label) z
              WHERE rn = 1) m ON l.node = m.node)"""
    }
    (l0 +: iters).mkString(",\n")
  }

  def ccOracleCtes(iterations: Int): String = {
    val l0 = "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM edges)"
    val iters = (1 to iterations).map { i =>
      s"""l$i AS MATERIALIZED (
            SELECT l.node,
                   LEAST(l.label, COALESCE(m.nbr_label, l.label)) AS label
            FROM l${i - 1} l LEFT JOIN (
              SELECT e.dst AS node, MIN(p.label) AS nbr_label
              FROM edges e JOIN l${i - 1} p ON e.src = p.node
              GROUP BY 1) m ON l.node = m.node)"""
    }
    (l0 +: iters).mkString(",\n")
  }
}
