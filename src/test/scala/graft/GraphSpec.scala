package graft

import graft.operators.Graph

/** Hand-computed invariants for the graph primitives — closed-form
  * structures where the right answer is knowable without the engine. */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  test("triangles: K4 has 4 triangles, every node in exactly 3") {
    // undirected complete graph on {1,2,3,4}: C(4,3)=4 triangles; each
    // node lies in C(3,2)=3 of them
    val und = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("u", "v")
    val r = Graph.triangleCounts(und).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: a path graph has none; one chord closes exactly one") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    assert(Graph.triangleCounts(path).count() == 0)
    val chord = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L)).toDF("u", "v")
    val r = Graph.triangleCounts(chord).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("pageRank: a symmetric 2-cycle stays at the 1/2, 1/2 fixed point") {
    // pr = 0.15/2 + 0.85*0.5 = 0.5 mathematically at every round. NOT
    // IEEE-exact by construction — 0.15 and 0.85 are not binary
    // fractions, and the double sum 0.075 + 0.425 lands on 0.5 only
    // through the final rounding — so assert symmetry exactly (both
    // nodes run the identical expression) and the value within an ulp
    // budget, not bit equality: a harmless reassociation in pageRank's
    // rank expression may move the last ulp.
    val edges = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L).toDF("node")
    val r = Graph.pageRank(edges, nodes).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(r(1L) == r(2L))
    assert(math.abs(r(1L) - 0.5) < 1e-12, s"drifted from fixed point: $r")
  }

  test("pageRank: hub of an in-star outranks the leaves; ranks positive") {
    // leaves 2..5 each point at hub 1; hub is dangling (leaky variant)
    val edges = (2L to 5L).map(l => (l, 1L, 1L)).toDF("src", "dst", "w")
    val nodes = (1L to 5L).toDF("node")
    val r = Graph.pageRank(edges, nodes).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(r.values.forall(_ > 0.0))
    assert((2L to 5L).forall(l => r(1L) > r(l)))
    // leaves never receive mass: rank = teleport share exactly
    assert((2L to 5L).forall(l => r(l) == 0.15 / 5))
  }

  test("labelPropagation: two disjoint triangles collapse to their min node") {
    // round-by-round by hand: in {1,2,3}, node 1 sees {2,3} (tie -> 2),
    // nodes 2,3 see label 1; rounds 2-3 wash the 2 back out -> all 1.
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("u", "v")
    val r = Graph.labelPropagation(und, rounds = 3).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: a single edge oscillates — the documented sync-LPA bound") {
    // 1-2: each round the two nodes swap labels; after an ODD horizon
    // they hold each other's — deterministic BECAUSE the horizon is
    // fixed, which is exactly the bounded-LPA trade the docblock states
    val r = Graph.labelPropagation(Seq((1L, 2L)).toDF("u", "v"), rounds = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(r == Map(1L -> 2L, 2L -> 1L))
  }

  test("pageRank: broadcastRanks=false gives the identical result") {
    val edges = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 1L, 1L),
      (1L, 3L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val a = Graph.pageRank(edges, nodes).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toMap
    val b = Graph.pageRank(edges, nodes, broadcastRanks = false).collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toMap
    assert(a == b)
  }

  test("maxBroadcastNodes guard: above the bound the rounds run without broadcast, same results") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L)).toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    def prMap(maxB: Long) =
      Graph.pageRank(edges, nodes, maxBroadcastNodes = maxB)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(prMap(2L) == prMap(10L), "guard changed pageRank results")
    // the guarded plan drops the RANK-side broadcast hints (the 1-row
    // teleport aggregate stays deliberately broadcast on both plans)
    def hints(maxB: Long): Int =
      "strategy=broadcast".r.findAllIn(
        Graph.pageRank(edges, nodes, maxBroadcastNodes = maxB)
          .queryExecution.optimizedPlan.toString).size
    assert(hints(2L) < hints(10L),
      s"guard did not remove rank-side broadcast hints (${hints(2L)} vs ${hints(10L)})")
    def lpaMap(maxB: Long) =
      Graph.labelPropagation(und, maxBroadcastNodes = maxB)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lpaMap(2L) == lpaMap(10L), "guard changed LPA results")
    def triMap(maxB: Long) =
      Graph.triangleCounts(und, maxBroadcastNodes = maxB)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(triMap(2L) == triMap(10L), "guard changed triangle results")
  }

  test("labelPropagation: string node ids keep the smallest-label tie-break") {
    // same two-triangle structure as the numeric test, string-labelled:
    // the argmin-of-(-count, label) winner must order ANY orderable id
    // type (the round-10 form negated the label and nulled out strings)
    val und = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("x", "y"), ("x", "z"), ("y", "z")).toDF("u", "v")
    val r = Graph.labelPropagation(und, rounds = 3).collect()
      .map(x => (x.getString(0), x.getString(1))).toMap
    assert(r == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x"))
  }

  test("guard jobs cannot silently multiply: one action per guard, per call") {
    // The invariant, pinned host-independently: an operator call runs
    // exactly TWO Dataset actions — the guard's one count job and the
    // caller's collect — regardless of the round count. A guard that
    // slipped inside the fold would run rounds+1 actions. Counted by
    // DISTINCT spark.sql.execution.root.id on job starts (every AQE
    // stage job of one action shares its root execution id, so this is
    // immune to the planner's stage-job decomposition — absolute job
    // budgets were not).
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val nodes = Seq(1L, 2L, 3L).toDF("node")
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("u", "v")
    def actions(body: => Unit): Int = {
      val roots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val anon = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.root.id")))
            // an RDD-level action posts jobs with NO root execution id —
            // count each one individually so a guard regression through
            // .rdd.count() is visible, not invisible
            .fold { anon.incrementAndGet(); () } (id => { roots.add(id); () })
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        // listener bus is async: settle-poll the counter instead of a
        // fixed sleep (flaky undercount under GC pressure)
        val deadline = System.currentTimeMillis() + 10000L
        var last = -1; var stable = 0
        while (stable < 5 && System.currentTimeMillis() < deadline) {
          val now = roots.size + anon.get
          if (now == last) stable += 1 else { stable = 0; last = now }
          Thread.sleep(150)
        }
      } finally spark.sparkContext.removeSparkListener(l)
      roots.size + anon.get
    }
    val aPr = actions(Graph.pageRank(edges, nodes, iters = 4).collect())
    assert(aPr == 2, s"pageRank ran $aPr actions at 4 iters (want guard + collect)")
    val aLpa = actions(Graph.labelPropagation(und, rounds = 4).collect())
    assert(aLpa == 2, s"labelPropagation ran $aLpa actions (want guard + collect)")
    val aTri = actions(Graph.triangleCounts(und).collect())
    assert(aTri == 2, s"triangleCounts ran $aTri actions (want guard + collect)")
  }

  test("query scope: every persisted loop invariant is released on exit") {
    import org.apache.spark.storage.StorageLevel
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("u", "v")
    val before = Scoped.cachedPartitions(spark)
    val pinned = Scoped.query {
      Graph.pageRank(edges, Seq(1L, 2L, 3L).toDF("node")).collect()
      Graph.labelPropagation(und).collect()
      Graph.triangleCounts(und).collect()
      graft.operators.TextAnalysis.bigramLmScores(
        Seq((1L, "a b a b c")).toDF("doc_id", "text"), "doc_id", "text").collect()
      val pinned = Scoped.current.pinned
      // pageRank pins 2 (edge invariant + nodes), LPA 2 (bi + lbl0),
      // triangles 3 (undirected edges + degrees + oriented edges — the
      // und persist pays the caller's derivation once across the two
      // materializing actions, r20), bigram LM 1 persist plus its
      // materialized token table — all held while the query runs
      val persisted = pinned.filter(_.storageLevel != StorageLevel.NONE)
      assert(pinned.size == 9, s"expected 9 pinned frames, got ${pinned.size}")
      assert(persisted.size == 8, s"expected 8 persisted invariants, got ${persisted.size}")
      pinned
    }
    assert(pinned.forall(_.storageLevel == StorageLevel.NONE),
      "closing the query scope must release every cache")
    assert(Scoped.cachedPartitions(spark) <= before,
      s"cached partitions grew: $before -> ${Scoped.cachedPartitions(spark)}")
  }
}
