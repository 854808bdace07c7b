package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*): DataFrame =
    Graph.symmetrize(pairs.toDF("a", "b"), "a", "b")

  // path 1-2-3 plus isolated pair 10-11
  private val twoComponents = edges((1L, 2L), (2L, 3L), (10L, 11L))

  test("symmetrize: both orientations, duplicates collapsed") {
    val e = edges((1L, 2L), (1L, 2L))
    assert(e.count() === 2)
    assert(e.orderBy("src").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 2L), (2L, 1L)))
  }

  test("connectedComponents: labels are the component-wide min id") {
    val cc = Graph.connectedComponents(twoComponents, iterations = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(cc === Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("ccConverged: true at diameter, false below it on a long chain") {
    val chain = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    assert(!Graph.ccConverged(chain, iterations = 2)) // label 1 not yet at node 6
    assert(Graph.ccConverged(chain, iterations = 5))
  }

  test("g02's fixed iteration count reaches the fixpoint on the testdata graph") {
    val t = graft.Tables(spark, "/root/testdata/sf0.001")
    val pairs = t.orders.select("o_orderkey", "o_custkey")
      .join(t.lineitem.filter(col("l_quantity") > 48)
        .select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
    assert(Graph.ccConverged(Graph.symmetrize(pairs, "c", "s"), iterations = 15))
  }

  test("pageRank round: fused out-share state plans exactly 2 joins (r16)") {
    // The r16 fusion carries share = r div outdeg IN the loop state, so a
    // power-iteration round is ONE edge⋈share join + the contribution sum
    // + the degN update join — the pre-fusion shape joined ranks⋈degN per
    // round as well (3 joins). Pinned on the OPTIMIZED LOGICAL plan (AQE
    // may collapse exchanges at runtime; the join count is the invariant).
    val round = Graph.pageRankRoundProbe(edges((1L, 2L), (2L, 3L), (10L, 11L)))
    val joins = round.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 2,
      s"a fused PageRank round must plan 2 joins, got ${joins.size}:\n" +
        round.queryExecution.optimizedPlan)
  }

  test("pageRankConverged round: state-carried degN plans exactly 2 joins (r17)") {
    // The r17 fusion carries outdeg/n_nodes (and the previous rank, as the
    // update's left side) IN the converged loop's state, so a round is ONE
    // edge⋈share join + the contribution sum + ONE state⋈contrib update
    // join — the r16 shape planned 3 (degN⋈contrib, then ⋈old ranks for
    // the residual's old_r). Pinned on the OPTIMIZED LOGICAL plan.
    val round = Graph.pageRankConvergedRoundProbe(
      edges((1L, 2L), (2L, 3L), (10L, 11L)))
    val joins = round.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.size === 2,
      s"a fused converged-PageRank round must plan 2 joins, got ${joins.size}:\n" +
        round.queryExecution.optimizedPlan)
  }

  test("pageRank: hand-computed fixed-point recurrence on a 3-node path") {
    // path 1-2-3 symmetrized: deg(1)=1, deg(2)=2, deg(3)=1, N=3
    // r0 = Scale div 3 = 333333333333
    // shares: n1 333333333333, n2 166666666666, n3 333333333333
    // teleport = 15*Scale div 300 = 50000000000
    // r1(1) = tp + 85*166666666666 div 100 = 50000000000 + 141666666666
    // r1(2) = tp + 85*(333333333333+333333333333) div 100
    // r1(3) = r1(1)
    val pr = Graph.pageRank(edges((1L, 2L), (2L, 3L)), iterations = 1)
      .orderBy("node").select("node", "rank_fp").as[(Long, Long)].collect().toSeq
    val tp = 15L * Graph.Scale / 300
    assert(pr === Seq(
      (1L, tp + 85L * 166666666666L / 100),
      (2L, tp + 85L * 666666666666L / 100),
      (3L, tp + 85L * 166666666666L / 100)))
  }

  test("pageRank: mass conserved within floor loss, hub outranks leaves") {
    // star: hub 1 connected to 2,3,4,5
    val star = edges((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
    val pr = Graph.pageRank(star, iterations = 5).orderBy("node")
      .select("node", "rank_fp").as[(Long, Long)].collect().toSeq
    val total = pr.map(_._2).sum
    // every div floors; with ~10 integer divisions per node per iteration
    // the loss is bounded well under 1e-6 of the mass
    assert(total <= Graph.Scale && total > Graph.Scale - 1000000L)
    val hub = pr.head._2
    assert(pr.tail.forall(_._2 < hub))
    assert(pr.tail.map(_._2).distinct.size === 1) // leaves symmetric
  }

  test("triangleCount: hand graphs — K4, K4 minus an edge, square, triangle+pendant") {
    def tri(pairs: (Long, Long)*): (Long, Long, Long) =
      Graph.triangleCount(pairs.toDF("src", "dst"))
        .as[(Long, Long, Long)].head()
    // K4: 4 nodes, 6 edges, 4 triangles
    assert(tri((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) === ((4L, 6L, 4L)))
    // K4 minus edge (3,4): 2 triangles
    assert(tri((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L)) === ((4L, 5L, 2L)))
    // 4-cycle: no triangles
    assert(tri((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)) === ((4L, 4L, 0L)))
    // duplicates and reversed orientations normalize away
    assert(tri((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L)) === ((3L, 3L, 1L)))
  }

  test("kCore: peeling cascades; 2-core of triangle+tail keeps only the triangle") {
    // triangle {1,2,3} with a tail 3-4-5: peeling k=2 removes 5 (deg 1),
    // then 4 (deg drops to 1) — two rounds needed, proving the cascade
    val g = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val core = Graph.kCore(g, k = 2, rounds = 3)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(core === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    // one round is NOT enough (node 4 still present with deg 1 at round 1)
    assert(!Graph.kCoreConverged(g, k = 2, rounds = 1))
    assert(Graph.kCoreConverged(g, k = 2, rounds = 2))
    // 3-core of the same graph is empty
    assert(Graph.kCore(g, k = 3, rounds = 3).count() === 0)
  }

  test("g04's fixed round count reaches the k-core fixpoint on the testdata graph") {
    val t = graft.Tables(spark, "/root/testdata/sf0.001")
    val pairs = t.orders.select("o_orderkey", "o_custkey")
      .join(t.lineitem.filter(col("l_quantity") > 48)
        .select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
    assert(Graph.kCoreConverged(Graph.symmetrize(pairs, "c", "s"), k = 3, rounds = 10))
  }

  test("pageRank: partitioning-independent (exact integer equality)") {
    val e = twoComponents
    val a = Graph.pageRank(e, iterations = 3)
    val b = Graph.pageRank(e.repartition(7), iterations = 3)
    assert(a.orderBy("node").collect().toSeq === b.orderBy("node").collect().toSeq)
  }

  test("labelPropagation: plurality beats min-label; ties break to smallest (hand-computed)") {
    // triangle {1,2,3} with 4 attached to 2 and 3.
    // Round 1 (labels = ids, all neighbor counts 1 → ties to min):
    //   1→2, 2→1, 3→1, 4→2
    // Round 2: node 2's neighbors carry {1:(1), 2:(2 votes)} — plurality 2
    //   BEATS the smaller label 1, which distinguishes LPA from CC:
    //   1→1, 2→2, 3→2, 4→1
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 2L), (4L, 3L))
    val got = Graph.labelPropagation(e, iterations = 2)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 2L), (3L, 2L), (4L, 1L)))
  }

  test("personalizedPageRank: teleport lands only on seeds; off-graph seeds carry no mass") {
    // path 1-2-3 with far pair 10-11; seed {1} (and 99, not in the graph)
    val e = edges((1L, 2L), (2L, 3L), (10L, 11L))
    val got = Graph.personalizedPageRank(e, Seq(1L, 99L).toDF("node"), iterations = 3)
      .orderBy("node").as[(Long, Long, Double)].collect().toSeq
    val byNode = got.map(r => r._1 -> r._2).toMap
    // r0: node1 = Scale (|S|=1 — 99 must NOT count), others 0
    // walk mass decays with distance from the seed; 10/11 never reached
    assert(byNode(10L) == 0L && byNode(11L) == 0L,
      "teleport leaked outside the seed's component")
    // the seed keeps its teleport floor every iteration; non-seeds hold
    // only walk mass (node 2, the hub, may legitimately outrank the seed)
    assert(byNode(1L) >= 15L * Graph.Scale / 100L, s"seed lost its teleport floor: $byNode")
    assert(byNode(3L) > 0L && byNode(3L) < byNode(2L),
      s"walk mass reaches 3 only through 2: $byNode")
    assert(!got.exists(_._1 == 99L), "off-graph seed must not appear")
    // hand value for iteration 1 at node 1: teleport 0.15·Scale + damp·(share of 2)
    // r0 = (Scale, 0, 0); share(2) = 0 div 2 = 0 → r1(1) = 0.15·Scale
    val oneIter = Graph.personalizedPageRank(e, Seq(1L).toDF("node"), iterations = 1)
      .filter(col("node") === 1L).head().getLong(1)
    assert(oneIter == 15L * Graph.Scale / 100L, s"r1(seed) = $oneIter")
  }

  test("personalizedPageRank is partitioning-independent (exact integers)") {
    val e = twoComponents
    val a = Graph.personalizedPageRank(e, Seq(1L, 10L).toDF("node"), 3)
    val b = Graph.personalizedPageRank(e.repartition(7), Seq(1L, 10L).toDF("node"), 3)
    assert(a.orderBy("node").collect().toSeq === b.orderBy("node").collect().toSeq)
  }

  test("bfsDistances: min distance from nearest seed; unreached absent; off-graph seed at 0") {
    // chain 1-2-3-4-5, pair 10-11, seeds {1, 5, 99}: node 3 is 2 hops from
    // BOTH seeds (min, not first-found); 10/11 unreached; 99 not in the
    // graph but still dist 0
    val chain = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val seeds = Seq(1L, 5L, 99L).toDF("node")
    val got = Graph.bfsDistances(chain, seeds, maxDepth = 4)
      .orderBy("node").as[(Long, Int)].collect().toSeq
    assert(got === Seq((1L, 0), (2L, 1), (3L, 2), (4L, 1), (5L, 0), (99L, 0)))
  }

  test("bfsDistances: maxDepth truncates the frontier, not the distances already found") {
    val chain = edges((1L, 2L), (2L, 3L), (3L, 4L))
    val got = Graph.bfsDistances(chain, Seq(1L).toDF("node"), maxDepth = 2)
      .orderBy("node").as[(Long, Int)].collect().toSeq
    assert(got === Seq((1L, 0), (2L, 1), (3L, 2))) // 4 is 3 hops out — absent
  }

  test("bfsConverged: true at eccentricity, false below it") {
    val chain = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(!Graph.bfsConverged(chain, Seq(1L).toDF("node"), maxDepth = 3))
    assert(Graph.bfsConverged(chain, Seq(1L).toDF("node"), maxDepth = 4))
  }

  test("bfsDistances is deterministic under repartitioning") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val a = Graph.bfsDistances(e, Seq(1L, 10L).toDF("node"), 4)
      .orderBy("node").collect().toSeq
    val b = Graph.bfsDistances(e.repartition(7), Seq(1L, 10L).toDF("node"), 4)
      .orderBy("node").collect().toSeq
    assert(a === b)
  }

  test("g06's fixed depth reaches the fixpoint on the testdata graph") {
    val t = graft.Tables(spark, "/root/testdata/sf0.001")
    val pairs = t.orders.select("o_orderkey", "o_custkey")
      .join(t.lineitem.filter(col("l_quantity") > 48)
        .select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
    val seeds = t.orders.filter(col("o_custkey") % 100 === 0)
      .select((col("o_custkey") * 2).cast("long").as("node"))
    assert(Graph.bfsConverged(Graph.symmetrize(pairs, "c", "s"), seeds, maxDepth = 6))
  }

  // ---- run-to-convergence variants (VERDICT r11 #1): on graphs DEEPER
  // than the old fixed round counts, the fixed form returns wrong answers
  // silently; the converged form reaches the true fixpoint and the
  // maxRounds backstop THROWS instead of under-iterating.

  private def chainEdges(n: Int): DataFrame =
    edges((1 until n).map(i => (i.toLong, (i + 1).toLong)): _*)

  test("connectedComponentsConverged: 40-chain where the old fixed 15 rounds are wrong") {
    val chain = chainEdges(40) // diameter 39 > the 15 rounds g02 used to run
    val (cc, r) = Graph.connectedComponentsConverged(chain)
    val labels = cc.orderBy("node").as[(Long, Long)].collect().toSeq
    assert(labels === (1L to 40L).map(_ -> 1L)) // one component, min id 1
    assert(r >= 39 && r <= 41, s"rounds=$r")
    // the fixed-15 form silently returns a partial propagation here
    val fixed = Graph.connectedComponents(chain, iterations = 15)
      .filter(col("component") =!= 1L)
    assert(!fixed.isEmpty, "fixed 15 rounds should NOT have converged on a 40-chain")
    // the backstop fails fast rather than emitting unconverged labels
    assertThrows[IllegalStateException] {
      Graph.connectedComponentsConverged(chain, maxRounds = 10)
    }
  }

  test("hub-skew: 10⁴-degree hub collapses map-side; alternating CC stays O(log n)") {
    // power-law shape (VERDICT r12 #5): one 10⁴-degree hub + a 20-node
    // chain tail off the last leaf — the geometry where a naive
    // groupBy(dst) would funnel 10⁴ rows into one reduce key
    val pairs = (1L to 10000L).map(i => (0L, i)) ++
      (10000L to 10019L).map(i => (i, i + 1))
    val g = Graph.symmetrize(pairs.toDF("a", "b"), "a", "b").repartition(4)
    val nNodes = 10021L
    val edgeRows = g.count() // 2 × 10020 directed rows

    withConf("spark.sql.adaptive.enabled", "false") {
      // the REAL operator step (shared by pageRank/pageRankConverged/PPR),
      // over cut inputs exactly as the operators run it — so the ONLY
      // aggregation shuffle in the plan is the contribution sum itself
      val e = Materialize.cut(g)
      val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
      val degN = Materialize.cut(
        deg.crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes")))))
      val ranks = degN.select(col("node"),
        expr(s"${Graph.Scale}L div n_nodes").as("r"))
      val contrib = Graph.contribStep(e, ranks, degN)
      val rows = contrib.collect()
      assert(rows.length == nNodes, "every node has in-neighbors on a symmetrized star+chain")
      // map-side combine proof: a PARTIAL aggregate sits below the exchange…
      val plan = contrib.queryExecution.executedPlan
      assert(plan.toString.contains("partial_sum"),
        s"contribution sum must partial-aggregate before shuffling:\n$plan")
      // …and the hub's 10⁴ fan-in rows collapse to ≤ one per map partition
      // BEFORE the wire: total shuffled records ≈ distinct (partition, dst)
      // pairs — bounded by nodes + a few hub/chain duplicates across the 4
      // partitions, far below the pre-combine edge count. Per-key volume
      // after combine is ≤ #map-partitions, which IS the no-straggler
      // bound: no reduce task can receive a degree-proportional row count.
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.WholeStageCodegenExec
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
        case w: WholeStageCodegenExec => w.child
        case other => other
      }
      val aggExchanges = plan.collect {
        case ex: ShuffleExchangeExec if unwrap(ex.child).isInstanceOf[
          org.apache.spark.sql.execution.aggregate.HashAggregateExec] => ex
      }
      assert(aggExchanges.nonEmpty, s"expected a shuffle under the final agg:\n$plan")
      val written = aggExchanges.map(_.metrics("shuffleRecordsWritten").value).sum
      assert(written <= nNodes + 200,
        s"combined shuffle volume must be ~nodes, got $written")
      assert(written < edgeRows,
        s"map-side combine must beat raw fan-in: $written vs $edgeRows edge rows")
    }

    // g08's algorithm keeps logarithmic rounds on the skewed geometry
    val (cc, rounds) = Graph.connectedComponentsAlternating(g)
    assert(rounds <= 8, s"alternating CC must stay O(log n) on a hub graph: $rounds")
    assert(cc.filter(col("component") =!= 0L).isEmpty,
      "one component, min id 0")
    assert(cc.count() == nNodes)
  }

  test("pageRankConverged ≡ pageRank at the reached R; deep tolerance needs R > 5") {
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (3L, 6L))
    val (conv, r) = Graph.pageRankConverged(g, tolFp = 10000000L)
    // the documented 5-iteration knob is NOT at this residual: power
    // iteration contracts by ~0.85/round, so 1e-5 needs far more rounds
    assert(r > 5, s"rounds=$r — a 1e-5 residual cannot be reached in 5 rounds")
    // bit-identity: the converged run IS the fixed-iteration run at R
    val fixed = Graph.pageRank(g, iterations = r)
    assert(conv.orderBy("node").as[(Long, Long, Double)].collect().toSeq ===
      fixed.orderBy("node").as[(Long, Long, Double)].collect().toSeq)
    // the reached state satisfies the residual contract: one more round
    // moves no node by ≥ tol
    val next = Graph.pageRank(g, iterations = r + 1)
      .select(col("node"), col("rank_fp").as("nr"))
    val moved = conv.join(next, "node")
      .filter(abs(col("rank_fp") - col("nr")) >= 10000000L)
    assert(moved.isEmpty, "post-convergence round moved a node beyond tol")
    // the backstop throws rather than emitting an unconverged vector
    assertThrows[IllegalStateException] {
      Graph.pageRankConverged(g, tolFp = 1L, maxRounds = 3)
    }
  }

  test("pageRankConverged is partitioning-independent (exact integers, same R)") {
    val g = edges((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val (a, ra) = Graph.pageRankConverged(g)
    val (b, rb) = Graph.pageRankConverged(g.repartition(7))
    assert(ra === rb)
    assert(a.orderBy("node").as[(Long, Long, Double)].collect().toSeq ===
      b.orderBy("node").as[(Long, Long, Double)].collect().toSeq)
  }

  test("kCoreConvergedRun: pendant path deeper than the old fixed 10 peels") {
    // triangle {1,2,3} with a 30-node pendant path off node 3: k=2 peeling
    // eats the path one node per round (~30 rounds ≫ the 10 g04 used)
    val path = (0 until 30).map(i => (100L + i, 101L + i))
    val g = edges(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 100L)) ++ path: _*)
    val (core, r) = Graph.kCoreConvergedRun(g, k = 2)
    assert(core.orderBy("node").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    assert(r > 10, s"cascade should need >10 rounds, got $r")
    // the fixed-10 form leaves path remnants in the "core"
    assert(Graph.kCore(g, k = 2, rounds = 10).count() > 3)
    assertThrows[IllegalStateException] { Graph.kCoreConvergedRun(g, k = 2, maxRounds = 5) }
  }

  test("bfsDistancesConverged: full reachability on a chain deeper than the old fixed 6") {
    val chain = chainEdges(20) // eccentricity 19 from node 1 > the 6 g06 used
    val (reached, r) = Graph.bfsDistancesConverged(chain, Seq(1L).toDF("node"))
    assert(reached.orderBy("node").as[(Long, Int)].collect().toSeq ===
      (1 to 20).map(i => (i.toLong, i - 1)))
    assert(r === 20, s"19 expanding rounds + 1 empty closing round, got $r")
    // the fixed-6 form silently stops 13 nodes short
    assert(Graph.bfsDistances(chain, Seq(1L).toDF("node"), maxDepth = 6).count() === 7)
    assertThrows[IllegalStateException] {
      Graph.bfsDistancesConverged(chain, Seq(1L).toDF("node"), maxRounds = 5)
    }
  }

  test("labelPropagationConverged: fixpoint on a stable graph; 2-cycle detected on an edge") {
    // triangle+satellite (the hand-computed LPA graph): reaches a fixpoint
    val e = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 2L), (4L, 3L))
    val (stable, r) = Graph.labelPropagationConverged(e)
    assert(stable.count() === 4 && r >= 2)
    // replaying the recorded R rounds through the fixed form is identical
    // (this is exactly what the generated oracle does)
    val replay = Graph.labelPropagation(e, iterations = r)
      .withColumnRenamed("community", "c2")
    assert(stable.join(replay, "node").filter(col("community") =!= col("c2")).isEmpty)
    // a single edge oscillates with period 2: 1→2,2→1 then back — the
    // cycle probe must terminate the loop (a fixpoint never arrives)
    val pair = edges((1L, 2L))
    val (osc, r2) = Graph.labelPropagationConverged(pair)
    assert(r2 <= 3, s"period-2 oscillation should stop by round 3, got $r2")
    assert(osc.count() === 2)
  }

  // ---- alternating large-star/small-star CC (g08): O(log n) rounds

  test("connectedComponentsAlternating ≡ min-label fixpoint on hand graphs") {
    // two components + an isolated pair + a branch: {1..5 chain}, {10,11},
    // {20,21,22 triangle with pendant 23}
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (22L, 23L))
    val (alt, _) = Graph.connectedComponentsAlternating(g)
    val (ml, _) = Graph.connectedComponentsConverged(g)
    assert(alt.orderBy("node").collect().toSeq === ml.orderBy("node").collect().toSeq)
  }

  test("connectedComponentsAlternating: 41-chain in logarithmic rounds (40 for min-label)") {
    val chain = chainEdges(41) // diameter 40
    val (alt, rAlt) = Graph.connectedComponentsAlternating(chain)
    assert(alt.orderBy("node").as[(Long, Long)].collect().toSeq ===
      (1L to 41L).map(_ -> 1L))
    val (_, rMl) = Graph.connectedComponentsConverged(chain)
    assert(rAlt <= 8, s"star contraction must be logarithmic, got $rAlt rounds")
    assert(rMl >= 40, s"min-label pays the diameter, got $rMl rounds")
    // the backstop throws rather than emitting a partial contraction
    assertThrows[IllegalStateException] {
      Graph.connectedComponentsAlternating(chain, maxRounds = 1)
    }
  }

  test("connectedComponentsAlternating is deterministic under repartitioning") {
    val g = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val a = Graph.connectedComponentsAlternating(g)._1.orderBy("node").collect().toSeq
    val b = Graph.connectedComponentsAlternating(g.repartition(7))._1
      .orderBy("node").collect().toSeq
    assert(a === b)
  }

  test("labelPropagation is deterministic under repartitioning") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
    val a = Graph.labelPropagation(e, iterations = 3).orderBy("node").collect().toSeq
    val b = Graph.labelPropagation(e.repartition(7), iterations = 3)
      .orderBy("node").collect().toSeq
    assert(a === b)
  }

  private def wEdges(rows: (Long, Long, Long)*): DataFrame = {
    val d = rows.toDF("src", "dst", "w")
    d.unionByName(d.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }
  private def seed(n: Long): DataFrame = Seq(n).toDF("node")

  test("ssspConverged: the cheap path is hop-LONGER than the direct edge (min-plus, not BFS)") {
    // 1→4 direct costs 100; 1→2→3→4 costs 3. BFS would take the 1-hop
    // edge; min-plus must take the 3-hop path.
    val g = wEdges((1L, 4L, 100L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L))
    val (dist, rounds) = Graph.ssspConverged(g, seed(1L))
    val got = dist.orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 0L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L)))
    // node 4 improves twice (100 at round 1, 3 at round 3) — the frontier
    // must re-expand from it, so node 5 lands at 4, not 101
    assert(rounds >= 4, s"needs re-relaxation rounds, got $rounds")
  }

  test("ssspConverged ≡ the oracle's full Bellman-Ford unroll, round for round") {
    val g = wEdges((1L, 4L, 100L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 1L), (10L, 11L, 7L))
    val (dist, rounds) = Graph.ssspConverged(g, seed(1L))
    // full relaxation in-spec (the oracle's recurrence, computed in Spark):
    // d_r(v) = min(d_{r-1}(v), min over edges u→v of d_{r-1}(u)+w)
    var full = Map(1L -> 0L)
    val es = g.as[(Long, Long, Long)].collect().toSeq
    for (_ <- 1 to rounds) {
      val relaxed = es.flatMap { case (s, d, w) =>
        full.get(s).map(ds => d -> (ds + w))
      }
      full = (full.toSeq ++ relaxed).groupBy(_._1).map { case (n, vs) =>
        n -> vs.map(_._2).min
      }
    }
    val got = dist.as[(Long, Long)].collect().toMap
    assert(got === full, "frontier run must equal full relaxation at R rounds")
    // the unreachable 10-11 component never appears
    assert(!got.contains(10L) && !got.contains(11L))
  }

  test("ssspConverged throws instead of stopping short, and is repartition-deterministic") {
    val chain = wEdges((1L, 2L, 2L), (2L, 3L, 2L), (3L, 4L, 2L), (4L, 5L, 2L))
    assertThrows[IllegalStateException] {
      Graph.ssspConverged(chain, seed(1L), maxRounds = 2)
    }
    val a = Graph.ssspConverged(chain, seed(1L))._1.orderBy("node").collect().toSeq
    val b = Graph.ssspConverged(chain.repartition(7), seed(1L))._1
      .orderBy("node").collect().toSeq
    assert(a === b)
  }

  test("bfsPerSeedConverged: each pivot keeps its OWN distances (not the nearest-seed min)") {
    // path 1-2-3-4-5, pivots 1 and 5: node 3 is at distance 2 from BOTH,
    // node 2 at (1, 3) — bfsDistances would collapse that pair to 1.
    val chain = chainEdges(5)
    val seeds = Seq(1L, 5L).toDF("node")
    val (dists, r) = Graph.bfsPerSeedConverged(chain, seeds)
    val got = dists.collect()
      .map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap
    // 4 growth rounds; the round-4 probe still sees a frontier, so the
    // next probe (cadence 4) lands at 8 after three no-op rounds
    assert(r == 8, s"4 growth rounds + no-op tail to the round-8 probe, got $r")
    assert(got((1L, 2L)) == 1 && got((5L, 2L)) == 3)
    assert(got((1L, 3L)) == 2 && got((5L, 3L)) == 2)
    assert(got((1L, 1L)) == 0 && got((5L, 5L)) == 0)
    assert(got.size == 10, "2 pivots x 5 nodes, every pair exactly once")
  }

  test("pivotCloseness: exact closeness when the pivots are ALL nodes (estimator sanity)") {
    // path 1-2-3: true closeness c(v) = (n-1)/sum_dist with n=3:
    //   ends: sum 1+2=3 → 2/3; middle: sum 1+1=2 → 1.0.
    // With K = n pivots the estimator is exact: (n−1)·n/(n·S) = (n−1)/S.
    val chain = chainEdges(3)
    val allNodes = Seq(1L, 2L, 3L).toDF("node")
    val (dists, _) = Graph.bfsPerSeedConverged(chain, allNodes)
    val n = chain.agg(countDistinct(col("src")).as("n"))
    val got = Graph.pivotCloseness(dists, n).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 3L, 2.0 / 3)) && got(3L) == ((3L, 3L, 2.0 / 3)))
    assert(got(2L) == ((3L, 2L, 1.0)))
  }

  private def cPairs(pairs: (Long, Long)*): DataFrame =
    pairs.map { case (a, b) => if (a < b) (a, b) else (b, a) }.toDF("x", "y")

  test("kTruss: K4 is a stable 4-truss (support 2); an attached triangle strips") {
    // K4 on {1,2,3,4}: every edge closes 2 triangles → survives k=4.
    // Triangle {4,5,6} hangs off node 4: each of its edges closes only 1
    // → stripped, and the strip must NOT disturb K4's supports.
    val g = cPairs((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L))
    val (truss, _) = Graph.kTrussConverged(g, k = 4)
    val got = truss.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    assert(got.values.forall(_ == 2L), "every K4 edge closes exactly 2 triangles")
  }

  test("kTruss: removal CASCADES — an edge can starve after its support leaves") {
    // (1,2),(1,3),(2,3) + (2,4),(3,4): edge (2,3) starts with support 2
    // (via 1 AND 4), every other edge with 1. Round one strips the
    // support-1 edges; (2,3) then has NO wedge left and must follow.
    val g = cPairs((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val (truss, r) = Graph.kTrussConverged(g, k = 4)
    assert(truss.isEmpty, "the cascade must empty the graph")
    assert(r >= 2, s"support-(2,3) only starves AFTER round one, got R=$r")
  }

  test("kTruss: a triangle-free hub strips at k=3 where degree peeling keeps it") {
    // star center 1 → leaves 2..9 (degree 8, survives 3-core trivially? no
    // — k-core also peels leaves; the CONTRAST is an edge-local one: the
    // star has no triangle, so even k=3 truss (support ≥ 1) drops ALL of
    // it while the disjoint triangle {20,21,22} survives intact)
    val star = (2L to 9L).map(l => (1L, l))
    val g = cPairs(star :+ (20L, 21L) :+ (20L, 22L) :+ (21L, 22L): _*)
    val (truss, _) = Graph.kTrussConverged(g, k = 3)
    val got = truss.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((20L, 21L), (20L, 22L), (21L, 22L)))
  }

  test("seeded property: kTruss matches a naive driver-side peeler on random graphs") {
    def naive(edges: Set[(Long, Long)], k: Int): Map[(Long, Long), Int] = {
      var e = edges
      var done = false
      var sup = Map.empty[(Long, Long), Int]
      while (!done) {
        val adj = e.toSeq.flatMap { case (x, y) => Seq(x -> y, y -> x) }
          .groupBy(_._1).map { case (n, ps) => n -> ps.map(_._2).toSet }
        sup = e.map { case (x, y) =>
          (x, y) -> (adj(x) & adj(y)).size
        }.toMap
        val keep = sup.filter(_._2 >= k - 2).keySet
        if (keep == e) done = true else e = keep
      }
      sup.filter(_._2 >= k - 2)
    }
    val rnd = new java.util.Random(1123L)
    for (round <- 1 to 6) {
      val nNodes = 6 + rnd.nextInt(10)
      val pairsSet = (for {
        x <- 1L to nNodes; y <- (x + 1) to nNodes
        if rnd.nextDouble() < 0.35
      } yield (x, y)).toSet
      if (pairsSet.nonEmpty) {
        val k = 3 + rnd.nextInt(2)
        val want = naive(pairsSet, k)
        val got = Graph.kTrussConverged(cPairs(pairsSet.toSeq: _*), k)._1
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
        assert(got == want, s"round $round (k=$k, ${pairsSet.size} edges)")
      }
    }
  }

  test("kTrussConverged is deterministic under repartitioning") {
    val g = cPairs((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    val a = Graph.kTrussConverged(g, k = 4)._1.orderBy("x", "y").collect().toSeq
    val b = Graph.kTrussConverged(g.repartition(7), k = 4)._1
      .orderBy("x", "y").collect().toSeq
    assert(a === b && a.nonEmpty)
  }

  test("bfsPerSeedConverged is deterministic under repartitioning") {
    val chain = chainEdges(12)
    val seeds = Seq(1L, 7L, 12L).toDF("node")
    val a = Graph.bfsPerSeedConverged(chain, seeds)._1
      .orderBy("seed", "node").collect().toSeq
    val b = Graph.bfsPerSeedConverged(chain.repartition(7), seeds)._1
      .orderBy("seed", "node").collect().toSeq
    assert(a === b)
  }

  // ---- one convergence driver: backstop and job-count contracts

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def pendantPath(n: Int): DataFrame = // triangle {1,2,3}, n-edge path off 3
    edges(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 100L)) ++
      (0 until n).map(i => (100L + i, 101L + i)): _*)

  test("backstop matrix: every converged loop throws at maxRounds = R-1 and matches its default at R") {
    val prGraph = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 1L), (3L, 6L))
    val lpaGraph = edges((1L, 2L), (1L, 3L), (2L, 3L), (4L, 2L), (4L, 3L))
    val truss = cPairs((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    // the cadence-4 loops need fixtures whose first quiet round is a
    // multiple of 4 (here R = 4): R − 1 is then a forced, failing probe
    val sssp = wEdges((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
    // each row: the loop run at its default backstop (None) or at Some(m)
    val loops: Seq[(String, Option[Int] => (DataFrame, Int))] = Seq(
      "pageRankConverged tol 1e7" -> (m =>
        m.fold(Graph.pageRankConverged(prGraph))(b => Graph.pageRankConverged(prGraph, maxRounds = b))),
      "pageRankConverged tol 2e7" -> (m => m.fold(Graph.pageRankConverged(prGraph, 20000000L))(
        Graph.pageRankConverged(prGraph, 20000000L, _))),
      "connectedComponentsConverged" -> (m => m.fold(
        Graph.connectedComponentsConverged(chainEdges(6)))(
        Graph.connectedComponentsConverged(chainEdges(6), _))),
      "connectedComponentsAlternating" -> (m => m.fold(
        Graph.connectedComponentsAlternating(chainEdges(41)))(
        Graph.connectedComponentsAlternating(chainEdges(41), _))),
      "kCoreConvergedRun" -> (m => m.fold(Graph.kCoreConvergedRun(pendantPath(4), k = 2))(
        Graph.kCoreConvergedRun(pendantPath(4), 2, _))),
      "bfsDistancesConverged" -> (m => m.fold(
        Graph.bfsDistancesConverged(chainEdges(6), seed(1L)))(
        Graph.bfsDistancesConverged(chainEdges(6), seed(1L), _))),
      "bfsPerSeedConverged" -> (m => m.fold(
        Graph.bfsPerSeedConverged(chainEdges(4), seed(1L)))(
        Graph.bfsPerSeedConverged(chainEdges(4), seed(1L), _))),
      "kTrussConverged" -> (m => m.fold(Graph.kTrussConverged(truss, k = 4))(
        Graph.kTrussConverged(truss, 4, _))),
      "ssspConverged" -> (m => m.fold(Graph.ssspConverged(sssp, seed(1L)))(
        Graph.ssspConverged(sssp, seed(1L), _))),
      "labelPropagationConverged" -> (m => m.fold(
        Graph.labelPropagationConverged(lpaGraph))(
        Graph.labelPropagationConverged(lpaGraph, _))))
    val rs = loops.map { case (name, run) =>
      withClue(s"$name: ") {
        val (want, r) = run(None)
        assert(r >= 2, s"fixture must need at least 2 rounds, got $r")
        assertThrows[IllegalStateException](run(Some(r - 1)))
        val (got, rAtBound) = run(Some(r))
        assert(rAtBound === r)
        assert(sortedRows(got) === sortedRows(want))
        name -> r
      }
    }.toMap
    // the two PageRank rows stop on opposite halves of a 2-round batch
    assert(rs("pageRankConverged tol 1e7") % 2 != rs("pageRankConverged tol 2e7") % 2, rs)
    assert(rs("bfsPerSeedConverged") === 4 && rs("ssspConverged") === 4, rs)
  }

  test("converged CC, k-core and BFS start no more Spark jobs per round than their fixed forms") {
    // per-round cost = job-count difference between two fixture sizes over
    // their round-count difference; the fixed form runs the same R rounds
    val loops: Seq[(String, Int => DataFrame, DataFrame => Int, (DataFrame, Int) => Unit)] = Seq(
      ("connectedComponents", chainEdges,
        g => Graph.connectedComponentsConverged(g)._2,
        (g, r) => Graph.connectedComponents(g, r)),
      ("kCore", pendantPath,
        g => Graph.kCoreConvergedRun(g, k = 2)._2,
        (g, r) => Graph.kCore(g, 2, r)),
      ("bfsDistances", chainEdges,
        g => Graph.bfsDistancesConverged(g, seed(1L))._2,
        (g, r) => Graph.bfsDistances(g, seed(1L), r)))
    for ((name, fixture, converged, fixed) <- loops) {
      val Seq((r1, c1, f1), (r2, c2, f2)) = Seq(4, 8).map { n =>
        val g = fixture(n)
        var r = 0
        val c = jobsStartedBy { r = converged(g) }
        (r, c, jobsStartedBy(fixed(g, r)))
      }
      assert(r2 > r1, s"$name: fixtures must differ in rounds ($r1, $r2)")
      assert(c2 - c1 <= f2 - f1,
        s"$name: converged ${c2 - c1} vs fixed ${f2 - f1} jobs over ${r2 - r1} rounds")
    }
  }
}
