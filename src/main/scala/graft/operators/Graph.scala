package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Scoped

/** Distributed graph primitives over edge-list DataFrames — the
  * centrality/structure companions to [[Dedup.dupClusters]]'s connected
  * components. Everything is expressed as equi-keyed joins + aggregates
  * so Catalyst plans ordinary shuffles (AQE-skew-splittable); no driver
  * state beyond Catalyst itself.
  *
  * Loop invariants: each operator persists its loop-invariant tables
  * (the rounds' plans reference them `iters`× — without the persist
  * every execution re-runs the edge build per round). The persists must
  * OUTLIVE the returned plan's execution, so each one pins into the
  * query scope ([[graft.Scoped.current]]) and the runner's
  * [[graft.Scoped.query]] releases it once the query has run.
  *
  * Cross-engine exactness contract (Exact.scala rules): inputs are
  * integer counts, every derived double is an int→double cast followed
  * by correctly-rounded IEEE ops in a fixed order, and the one
  * order-dependent reduction (pageRank's contribution sum) is made
  * order-independent on a tie-free floor grid — NOT a DECIMAL cast,
  * because grid-aligned rank products land exactly on .5 boundaries
  * where HALF_UP (Spark) and half-even (DuckDB) disagree.
  */
object Graph {

  /** PageRank over a weighted directed edge list `(src, dst, w)` with an
    * explicit node table `(node)` (nodes with no in-edges still hold
    * teleport mass; dangling mass is NOT redistributed — the leaky
    * variant, identical on any engine that replays the same formula).
    *
    * `damping`/`teleport` are passed separately rather than derived
    * (teleport = 1−damping computes 0.15000000000000002 in binary —
    * an oracle writing the literal 0.15 would mismatch forever).
    *
    * Scale shape: iteration state is one row per NODE; each round is a
    * rank-table equi-join against the edge table (the standard Pregel
    * decomposition) and a groupBy dst whose partial aggregation
    * collapses map-side. Rounds are a fixed constant, not
    * data-dependent. `broadcastRanks` hard-hints the rank side of each
    * round's join — right when nodes ≪ edges (the common social-graph
    * shape); set it false for billion-node graphs so the rounds run as
    * ordinary co-partitioned shuffle joins instead of collecting a
    * node-sized table to the driver. The request is additionally
    * GUARDED by `maxBroadcastNodes`: even with broadcastRanks=true, a
    * node table above the bound falls back to the shuffle join — the
    * footgun where a caller broadcasts a billion-row rank table is
    * designed out (the node count comes from one count() job the
    * teleport term needs anyway). */
  def pageRank(edges: DataFrame, nodes: DataFrame, iters: Int = 3,
               damping: Double = 0.85, teleport: Double = 0.15,
               broadcastRanks: Boolean = true,
               maxBroadcastNodes: Long = 10000000L): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    val out = edges.groupBy("src").agg(sum(col("w")).as("o"))
    // The normalized edge table is the LOOP INVARIANT — every iteration
    // joins against it, and without a persist each round's plan re-runs
    // the full edge build (scan+groupBy+join) from scratch: iters× the
    // work at 100 TB. MEMORY_AND_DISK so a trillion-edge table spills
    // instead of evicting. The canonical iterative-algorithm cache.
    val e = Scoped.current.persist(edges.join(out, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("o").cast("double")).as("ratio")))
    // nodes is as loop-invariant as e — the caller may pass an expensive
    // derivation (g1's distinct over the full event scan) that would
    // otherwise re-run in pr0 plus every round's left join
    val nodesC = Scoped.current.persist(nodes)
    // ONE count job serves the broadcast guard AND the teleport terms:
    // 1/n and teleport/n are driver-side double literals (the identical
    // IEEE divisions the old per-row `lit(x)/col("n")` expressions
    // performed), so every round's plan drops the former 1-row teleport
    // aggregate + crossJoin subtree — no second count-shaped job exists
    // to multiply (GraphSpec pins the per-operator job budget)
    val nCount = nodesC.count()
    val doBroadcast = broadcastRanks && nCount <= maxBroadcastNodes
    val pr0 = nodesC.select(col("node"),
      lit(1.0 / nCount.toDouble).as("pr"))
    (1 to iters).foldLeft(pr0) { (pr, _) =>
      val rankSide = pr.withColumnRenamed("node", "src")
      val contrib = e
        .join(if (doBroadcast) broadcast(rankSide) else rankSide, "src")
        .select(col("dst").as("node"), (col("pr") * col("ratio")).as("c"))
        .groupBy("node")
        .agg((sum(floor(col("c") * lit(1e10)).cast("long")).cast("double") /
          lit(1e10)).as("sc"))
      nodesC.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(teleport / nCount.toDouble) +
            lit(damping) * coalesce(col("sc"), lit(0.0))).as("pr"))
    }
  }

  /** Synchronous label propagation (community detection) over a
    * distinct undirected edge list `(u, v)` — the third graph primitive
    * beside connected components (Dedup.dupClusters) and pageRank.
    * Every node starts labelled with itself; each round it adopts the
    * most frequent label among its neighbours, ties broken by SMALLEST
    * label — all integer counts and total-order tie-breaks, so the
    * result is engine-exact with no float contract at all. Rounds are a
    * fixed constant (synchronous LPA can oscillate on bipartite-ish
    * structure; a fixed horizon makes the output deterministic rather
    * than convergence-dependent — the standard bounded-LPA trade).
    *
    * Scale shape: one persisted bidirectional edge table; each round is
    * an edge⋈label equi-join (label side broadcast when nodes ≪ edges;
    * `broadcastLabels=false` for billion-node graphs), a (node,label)
    * count whose partial aggregation collapses map-side, and an ARGMAX
    * AGGREGATE winner per node (max of (count, -label) — no per-node
    * sort window anywhere in the round; PlanSpec pins it). Nodes are
    * derived from the edge list, so every node has ≥1 neighbour by
    * construction. Returns `(node, lbl)`.
    *
    * ROUND 1 IS SPECIAL-CASED (SCALING.md, "Round 13: g3 headroom": the
    * round-invariant
    * setup was ~1 s of g3's 2.8 s at sf0.1): the initial labeling is
    * the identity (every node labelled with itself), so round 1's
    * edge⋈label join is a rename — `bi ⋈ lbl0` on y with lbl = node
    * yields exactly (x, y) — and the whole lbl0 table (a node-sized
    * distinct + persist + broadcast build) never needs to exist. Round
    * 1 aggregates the edge table directly; the round-1 OUTPUT then
    * becomes the persisted node-sized table whose count drives the
    * broadcast-shape guard for rounds 2+. One distinct exchange and
    * one broadcast build fewer at ANY scale, same labels. */
  def labelPropagation(und: DataFrame, rounds: Int = 3,
                       broadcastLabels: Boolean = true,
                       maxBroadcastNodes: Long = 10000000L): DataFrame = {
    require(rounds >= 1, s"labelPropagation: rounds must be >= 1, got $rounds")
    // one scan, both directions: a union of two selects over `und`
    // would embed the caller's (possibly expensive, unpersisted) edge
    // derivation twice in the materialization plan
    val bi = Scoped.current.persist(und.select(explode(array(
        struct(col("u").as("x"), col("v").as("y")),
        struct(col("v").as("x"), col("u").as("y")))).as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y")))
    // winner = most frequent label, ties to SMALLEST label — as an
    // argmin AGGREGATE (lexicographic min of (-c, lbl)), not a
    // row_number window: same winner on every input, but the
    // per-round exchange feeds a hash aggregate instead of a full
    // per-node SORT. The negation rides the COUNT (always a long),
    // not the label, so string/any-orderable node ids keep their
    // smallest-label tie-break instead of a silent null (the
    // round-10 form negated the label itself)
    def winner(counts: DataFrame): DataFrame =
      counts.groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("w"))
        .select(col("node"), col("w.lbl").as("lbl"))
    // round 1 against the identity labeling: counts come straight off
    // the edge table — no label join, no lbl0
    val l1 = winner(bi
      .groupBy(col("x").as("node"), col("y").as("lbl"))
      .agg(count(lit(1)).as("c")))
    if (rounds == 1) return l1
    val l1p = Scoped.current.persist(l1)
    // same maxBroadcastNodes guard as pageRank: the label table is
    // node-sized every round, so one count job decides the join shape
    // once, loudly designed rather than silently collected — and that
    // count job IS l1's materialization, which rounds 2+ reuse
    val doBroadcast = broadcastLabels && l1p.count() <= maxBroadcastNodes
    (2 to rounds).foldLeft(l1p: DataFrame) { (lbl, _) =>
      val labelSide = lbl.withColumnRenamed("node", "y")
      winner(bi
        .join(if (doBroadcast) broadcast(labelSide) else labelSide, "y")
        .groupBy(col("x").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c")))
    }
  }

  /** Per-node triangle counts over a distinct undirected edge list
    * `(u, v)` with u < v. Degree orientation is THE scale design:
    * orient every edge from its lower-(degree,id) endpoint to its
    * higher one, so a triangle a<b<c materialises exactly once as
    * wedge (a→b, a→c) closed by oriented edge (b→c), and out-degree is
    * O(√m) — wedge volume O(m^1.5) worst-case instead of Σdeg², the
    * difference between a skewed social graph finishing and not
    * finishing at 100 TB. All joins equi-keyed; all arithmetic integer.
    * `broadcastDegrees` hard-hints the node-sized degree tables into
    * the orientation join — set it false for billion-node graphs (the
    * fallback is a plain shuffle join on the same keys, not a plan
    * change). Returns `(node, triangles)` for nodes in ≥1 triangle. */
  def triangleCounts(und: DataFrame,
                     broadcastDegrees: Boolean = true,
                     maxBroadcastNodes: Long = 10000000L): DataFrame = {
    // the caller's edge derivation (g2: a full-corpus window lag +
    // distinct) feeds TWO separate materializations — the degree
    // build (via the guard count action) and the orientation join
    // (via the final collect) — which are different actions, so
    // ReusedExchange cannot dedupe across them and the derivation ran
    // twice (r20). Persist it: one pass at any scale, materialized by
    // the SAME guard count job (no new action — GraphSpec's budget
    // pin), pinned into the query scope like deg/ori.
    val undC = Scoped.current.persist(und)
    val deg = Scoped.current.persist(
      undC.select(explode(array(col("u"), col("v"))).as("x"))
        .groupBy("x").agg(count(lit(1)).as("deg")))
    // degree table is node-sized: same broadcast guard as pageRank/LPA
    // (the persist above keeps the guard's count from re-running the
    // degree build, which the orientation join needs twice anyway)
    val doBroadcast = broadcastDegrees && deg.count() <= maxBroadcastNodes
    val du = deg.select(col("x").as("u"), col("deg").as("ud"))
    val dv = deg.select(col("x").as("v"), col("deg").as("vd"))
    val fwd = col("ud") < col("vd") ||
      (col("ud") === col("vd") && col("u") < col("v"))
    // oriented edges feed THREE plan legs (both wedge sides + closure);
    // persist or each leg re-runs the scan+degree+orientation chain
    val ori = Scoped.current.persist(undC
      .join(if (doBroadcast) broadcast(du) else du, "u")
      .join(if (doBroadcast) broadcast(dv) else dv, "v")
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("a"),
        when(fwd, col("v")).otherwise(col("u")).as("b"),
        when(fwd, col("vd")).otherwise(col("ud")).as("bd")))
    val e1 = ori.select(col("a"), col("b").as("b1"), col("bd").as("bd1"))
    val e2 = ori.select(col("a"), col("b").as("b2"), col("bd").as("bd2"))
    val wedges = e1.join(e2, Seq("a"))
      .filter(col("bd1") < col("bd2") ||
        (col("bd1") === col("bd2") && col("b1") < col("b2")))
    val closing = ori.select(col("a").as("b1"), col("b").as("b2"))
    wedges.join(closing, Seq("b1", "b2"))
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
  }
}
