package graft

import org.apache.spark.sql.functions._

import graft.dedup.DedupOps
import graft.graph.GraphOps

class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference union-find on the driver — the oracle for tiny graphs. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // path-compress to the true min root
    nodes.map(n => n -> find(n)).toMap
  }

  /** threshold 0 forces the distributed star rounds; MaxValue the
    * driver union-find tier — both must give identical answers. */
  private def ccMap(edges: Seq[(Long, Long)], localThreshold: Int = 0): Map[Long, Long] =
    GraphOps.connectedComponents(edges.toDF("a", "b"), "a", "b",
      localThreshold = localThreshold)
      .as[(Long, Long)].collect().toMap

  test("connectedComponents: chain, cliques, isolated pairs, self-loops") {
    // a 12-node chain (diameter stress: naive flooding needs 12 rounds,
    // star alternation logarithmic), two triangles, one pair, self-loop
    val chain = (1L until 12L).map(i => (i, i + 1))
    val edges = chain ++ Seq((20L, 21L), (21L, 22L), (22L, 20L),
      (30L, 31L), (40L, 40L), (50L, 51L))
    val got = ccMap(edges)
    val want = ufComponents(edges.filter(e => e._1 != e._2))
    assert(got == want)
    assert(got(12L) == 1L && got(22L) == 20L && got(31L) == 30L && got(51L) == 50L)
    assert(!got.contains(40L)) // self-loop only → no non-self edge → absent
  }

  test("connectedComponents matches union-find on random graphs, both tiers agree") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 30
      val edges = Seq.fill(n) {
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong)
      }.filter(e => e._1 != e._2)
      val want = ufComponents(edges)
      assert(ccMap(edges) == want, s"trial $trial (distributed)")
      assert(ccMap(edges, localThreshold = Int.MaxValue) == want, s"trial $trial (local)")
    }
  }

  test("connectedComponentsFrom: prior star + new edges ≡ full rebuild, both tiers") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val edges = Seq.fill(120 + trial * 40) {
        (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)
      }.filter(e => e._1 != e._2)
      val (oldE, newE) = edges.splitAt(edges.length / 2)
      val want = ufComponents(edges)
      for (thr <- Seq(0, Int.MaxValue)) {
        val prior = GraphOps.connectedComponents(oldE.toDF("a", "b"), "a", "b",
          localThreshold = thr)
        val got = GraphOps.connectedComponentsFrom(prior, newE.toDF("a", "b"),
          "a", "b", localThreshold = thr)
          .as[(Long, Long)].collect().toMap
        assert(got == want, s"trial $trial thr=$thr")
      }
    }
    // merging case: two previously separate components bridged by ONE
    // new edge must re-root at the global min across both
    val prior = GraphOps.connectedComponents(
      Seq((10L, 11L), (11L, 12L), (20L, 21L)).toDF("a", "b"), "a", "b",
      localThreshold = 0)
    val got = GraphOps.connectedComponentsFrom(prior,
      Seq((12L, 20L)).toDF("a", "b"), "a", "b", localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 10L, 21L -> 10L))
  }

  test("group index lifecycle: write -> warm refresh ≡ rebuild, replayed refresh idempotent") {
    val dir = tempDir("graft_ccidx") + "/idx"
    try {
      val rnd = new scala.util.Random(17)
      val edges = Seq.fill(160)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(e => e._1 != e._2)
      val (oldE, newE) = edges.splitAt(edges.length / 2)
      val want = ufComponents(edges)
      GraphOps.writeGroupIndex(
        GraphOps.connectedComponents(oldE.toDF("a", "b"), "a", "b", localThreshold = 0), dir)
      val got = GraphOps.updateGroupIndex(spark, dir, newE.toDF("a", "b"), "a", "b",
        localThreshold = 0)
        .as[(Long, Long)].collect().toMap
      assert(got == want)
      // replayed scheduler tick: same edges again — the fixpoint's star
      // is itself, so the artifact is unchanged
      val replay = GraphOps.updateGroupIndex(spark, dir, newE.toDF("a", "b"), "a", "b",
        localThreshold = 0)
        .as[(Long, Long)].collect().toMap
      assert(replay == want)
      // the stored artifact round-trips
      assert(GraphOps.readGroupIndex(spark, dir)
        .as[(Long, Long)].collect().toMap == want)
      // leak discipline: a refresh releases every block it persisted
      // (the streaming caller refreshes every epoch, forever)
      val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
      GraphOps.updateGroupIndex(spark, dir, newE.toDF("a", "b"), "a", "b",
        localThreshold = 0).count()
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted0,
        "updateGroupIndex must not leave persisted blocks behind")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("connectedComponents: a round cap that throws releases every block the run persisted") {
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    val (rdds0, cacheEmpty0) = (sc.getPersistentRDDs.keySet, cm.isEmpty)
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      GraphOps.connectedComponents(chain, "a", "b", maxIterations = 2, localThreshold = 0)
    }
    assert(sc.getPersistentRDDs.keySet == rdds0,
      s"left persisted: ${sc.getPersistentRDDs.keySet.diff(rdds0)}")
    assert(cm.isEmpty == cacheEmpty0, "CacheManager entry left behind")
  }

  test("plan size does not depend on round count: CC and BFS results") {
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllMatchIn(df.queryExecution.executedPlan.toString).size
    def chain(n: Long) = (1L until n).map(i => (i, i + 1))
    val (cc30, release30) = graft.util.Materialize.scoped {
      GraphOps.connectedComponents(chain(30).toDF("a", "b"), "a", "b", localThreshold = 0)
    }
    val (cc3k, release3k) = graft.util.Materialize.scoped {
      GraphOps.connectedComponents(chain(3000).toDF("a", "b"), "a", "b", localThreshold = 0)
    }
    assert(exchanges(cc30) == exchanges(cc3k))
    release30(); release3k()
    val und = chain(150).flatMap(e => Seq(e, e.swap)).toDF("src", "dst")
    val ((bfs1, _), releaseBfs1) = graft.util.Materialize.scoped {
      GraphOps.bfsCore(und, "src", "dst", Seq(1L), maxHops = 1)
    }
    val ((bfs4, hops4), releaseBfs4) = graft.util.Materialize.scoped {
      GraphOps.bfsCore(und, "src", "dst", Seq(1L), maxHops = 4)
    }
    assert(hops4 == 4 && bfs4.count() == 5)
    assert(exchanges(bfs1) == exchanges(bfs4))
    releaseBfs1(); releaseBfs4()
  }

  test("driver union-find survives a 100k descending-ordered chain (stack safety)") {
    // processing (k+1,k) edges in DESCENDING k order builds parent(k)=k-1
    // for every k — a 100k-deep chain. The first find() from the top
    // then walks the whole chain: a recursive find overflows the JVM
    // stack here; the iterative two-pass form must not.
    val n = 100000
    val desc = (n to 1 by -1).map(k => ((k + 1).toLong, k.toLong)).toArray
    val got = GraphOps.localComponents(desc).toMap
    assert(got.size == n + 1 && got.values.forall(_ == 1L))
    // and the same chain through the public API at the DEFAULT
    // localThreshold (n ≤ 100000 engages the driver tier)
    val viaApi = GraphOps.connectedComponents(
      spark.range(1, n + 1).select((col("id") + 1).as("a"), col("id").as("b")),
      "a", "b")
      .agg(count(lit(1)), countDistinct(col("component")), min("component")).head()
    assert(viaApi.getLong(0) == n + 1 && viaApi.getLong(1) == 1 && viaApi.getLong(2) == 1L)
  }

  test("connectedComponents: empty edges and reversed-duplicate edges") {
    assert(ccMap(Seq.empty) == Map.empty)
    // (a,b) and (b,a) are one undirected edge
    assert(ccMap(Seq((2L, 1L), (1L, 2L), (2L, 1L))) == Map(1L -> 1L, 2L -> 1L))
  }

  test("spanDedupGlobal: first occurrence wins, within-doc dups drop, reassembly ordered") {
    val docs = Seq(
      (1L, "a b c d e f"),          // spans: "a b c", "d e f"
      (2L, "a b c x y z"),          // "a b c" dropped (doc 1 owns it)
      (3L, "x y z x y z"),          // first "x y z" dropped (doc 2 owns it), second too (within-corpus)
      (4L, "q r")                   // single short span, unique
    ).toDF("doc_id", "text")
    val got = DedupOps.spanDedupGlobal(docs, "doc_id", "text", spanWords = 3)
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ("a b c d e f", 2L, 0L))
    assert(got(2L) == ("x y z", 2L, 1L))
    assert(got(3L) == ("", 2L, 2L))
    assert(got(4L) == ("q r", 1L, 0L))
  }

  test("spanDedupGlobal: hash tier ≡ text tier (fixture + real corpus)") {
    // the hashSpans tier shuffles (id, idx, xxhash64(span)) instead of
    // span text and rebuilds surviving text from the word arrays — the
    // output must be row-identical to the text-keyed tier
    val fixture = Seq(
      (1L, "a b c d e f"), (2L, "a b c x y z"),
      (3L, "x y z x y z"), (4L, "q r")
    ).toDF("doc_id", "text")
    for ((df, span) <- Seq(
      (fixture, 3),
      (Tables(spark, "/root/testdata/sf0.001", "documents"), 5))) {
      val txt = DedupOps.spanDedupGlobal(df, "doc_id", "text", spanWords = span)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      val hsh = DedupOps.spanDedupGlobal(df, "doc_id", "text", spanWords = span,
        hashSpans = true)
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      assert(hsh.toSeq == txt.toSeq)
    }
  }

  test("nearDupGroups: transitive chain collapses to one group, singletons kept") {
    // sliding 12-word windows over one word stream: consecutive docs
    // share 8 of 10 shingles (J=0.667 ≥ 0.5) but docs two apart share
    // only 6 of 14 (J=0.43 < 0.5) — a true transitive chain. 4 is an
    // exact dup of 1, 5 unrelated: expect one group {1,2,3,4} plus
    // singleton {5}
    val stream = (1 to 16).map(i => s"w$i")
    def win(from: Int) = stream.slice(from - 1, from - 1 + 12).mkString(" ")
    val docs = Seq(
      (1L, win(1)), (2L, win(3)), (3L, win(5)), (4L, win(1)),
      (5L, "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12")
    ).toDF("doc_id", "text")
    val got = DedupOps.nearDupGroups(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L), (4L, 1L, 4L), (5L, 5L, 1L)))
    // sanity: 1 and 3 alone would NOT pair at the threshold
    val pairs = DedupOps.ngramJaccardPairs(
      docs.where(col("doc_id").isin(1L, 3L)), "doc_id", "text", threshold = 0.5)
    assert(pairs.count() == 0)
  }

  test("pageRank: bit-identical to a driver integer replay; in-degree raises rank") {
    // 1→2, 1→3, 2→3, 3→1: node 3 has two in-edges and should outrank 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val iters = 10
    val got = GraphOps.pageRank(edges, "src", "dst", iterations = iters)
      .as[(Long, Long)].collect().toMap
    // replay with the same fixed-point arithmetic, sequentially
    val S = 1000000000L
    val base = (S * 3 / 20) / 3
    val adj = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 3L -> 1L)
    val out = adj.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    var r = Map(1L -> S / 3, 2L -> S / 3, 3L -> S / 3)
    for (_ <- 1 to iters) {
      val in = adj.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / out(src) }.sum
      }
      r = Seq(1L, 2L, 3L).map(nd => nd -> (base + (85 * in.getOrElse(nd, 0L)) / 100)).toMap
    }
    assert(got == r)
    assert(got(3L) > got(2L))
    // duplicate edge rows must not double-count contributions
    val dup = GraphOps.pageRank(edges.unionAll(edges), "src", "dst", iterations = iters)
      .as[(Long, Long)].collect().toMap
    assert(dup == got)
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges.where(lit(false)), "src", "dst")
    }
  }

  test("pageRankFrom: warm continuation is bit-identical to straight iterations") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
      .toDF("src", "dst")
    val straight = GraphOps.pageRank(edges, "src", "dst", iterations = 8)
      .as[(Long, Long)].collect().toMap
    val prior = GraphOps.pageRank(edges, "src", "dst", iterations = 5)
    val continued = GraphOps.pageRankFrom(edges, "src", "dst", prior, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(continued == straight)
    // a node NEW since the prior starts uniform: result well-defined
    // (no nulls) and covers the grown node universe
    val grown = edges.unionAll(Seq((4L, 5L), (5L, 3L)).toDF("src", "dst"))
    val g = GraphOps.pageRankFrom(grown, "src", "dst", prior, iterations = 2)
      .as[(Long, Long)].collect().toMap
    assert(g.keySet == Set(1L, 2L, 3L, 4L, 5L) && g.values.forall(_ > 0))
  }

  test("pageRankConverged: warm start after a tranche append converges in fewer rounds") {
    // ring + an irregular hub: ASYMMETRIC chords so incoming
    // rank/outdeg weights do NOT sum to 1 per node (a modular chord
    // pattern turned out weight-regular — uniform was already the
    // fixed point and the cold run "converged" in one round)
    val ring = (1L to 60L).map(i => (i, i % 60 + 1)) ++
      Seq((1L, 30L), (2L, 30L), (3L, 30L), (30L, 7L), (7L, 45L), (45L, 7L))
    val base = ring.toDF("src", "dst")
    // 0.002 relative total movement: tight enough that cold needs ~20
    // rounds (0.85-damping: each round cuts movement ~15%), loose
    // enough to converge well inside maxIterations
    val tol = 2000000L
    val (r0, kCold) = GraphOps.pageRankConverged(base, "src", "dst", tol = tol)
    assert(kCold >= 2, s"cold run converged suspiciously fast ($kCold)")
    val appended = base.unionAll(Seq((2L, 17L)).toDF("src", "dst"))
    val (_, kWarm) = GraphOps.pageRankConverged(appended, "src", "dst",
      start = Some(r0), tol = tol)
    val (_, kCold2) = GraphOps.pageRankConverged(appended, "src", "dst", tol = tol)
    assert(kWarm < kCold2, s"warm $kWarm not fewer than cold $kCold2")
    // converged state is stable: one more round from it moves ≤ tol
    val (_, kAgain) = GraphOps.pageRankConverged(appended, "src", "dst",
      start = Some(GraphOps.pageRankConverged(appended, "src", "dst", tol = tol)._1),
      tol = tol)
    assert(kAgain == 1)
  }

  test("coOccurrencePairs: counts witnessing groups, dedups, filters by minCount") {
    val df = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 1L), (20L, 2L), (20L, 2L),   // duplicate membership row
      (30L, 2L), (30L, 3L)).toDF("g", "i")
    val got = GraphOps.coOccurrencePairs(df, "g", "i")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 2L, (1L, 3L) -> 1L, (2L, 3L) -> 2L))
    val filtered = GraphOps.coOccurrencePairs(df, "g", "i", minCount = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered == Set((1L, 2L), (2L, 3L)))
  }

  test("coOccurrencePairs: hot group truncates to its maxPerGroup smallest ids") {
    val hot = (1L to 6L).map(i => (99L, i)).toDF("g", "i")
    val got = GraphOps.coOccurrencePairs(hot, "g", "i", maxPerGroup = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // only items 1,2,3 survive the cap → C(3,2) pairs, none involving 4..6
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("coOccurrenceLift: exact n_pair·N/(n_a·n_b) over the capped set") {
    // N=4 groups; a in 3, b in 3, pair (a,b) in 2 → lift = 2·4/9
    val df = Seq(
      (1L, "a"), (1L, "b"),
      (2L, "a"), (2L, "b"),
      (3L, "a"), (4L, "b")).toDF("g", "i")
    val rows = GraphOps.coOccurrenceLift(df, "g", "i").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) == (("a", "b", 2L)))
    assert(math.abs(r.getDouble(3) - 8.0 / 9.0) < 1e-12)
  }

  test("cooc index: group-partitioned tranches + consolidation ≡ whole-corpus lift") {
    val dir = tempDir("graft_cooc")
    try {
      // 9 groups over 6 items, skewed memberships
      val rows = (1L to 9L).flatMap { g =>
        (1L to 6L).filter(i => (g * 7 + i * 3) % (i + 1) == 0).map(i => (g, i))
      }
      val df = rows.toDF("g", "i")
      def liftMap(f: org.apache.spark.sql.DataFrame) = f.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
      val direct = liftMap(GraphOps.coOccurrenceLift(df, "g", "i", maxPerGroup = 3))
      // tranches partition the GROUPS (the artifact contract)
      GraphOps.writeCoocTranche(df.where(col("g") % 3 === 0), "g", "i", dir, "t0", 3)
      GraphOps.writeCoocTranche(df.where(col("g") % 3 === 1), "g", "i", dir, "t1", 3)
      GraphOps.consolidateCooc(spark, dir)
      GraphOps.writeCoocTranche(df.where(col("g") % 3 === 2), "g", "i", dir, "t2", 3)
      assert(liftMap(GraphOps.coocLiftFromIndex(spark, dir)) == direct)
      // replayed ingest overwrites its own tranche → unchanged
      GraphOps.writeCoocTranche(df.where(col("g") % 3 === 2), "g", "i", dir, "t2", 3)
      assert(liftMap(GraphOps.coocLiftFromIndex(spark, dir)) == direct)
      // minCount filters AFTER the cross-tranche sum: a pair seen once
      // per tranche but ≥2 in total must survive
      val pairTotals = GraphOps.readCoocPairs(spark, dir, minCount = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val directPairs = GraphOps.coOccurrencePairs(df, "g", "i",
        maxPerGroup = 3, minCount = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(pairTotals == directPairs)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // ---------------- triangle counts ----------------

  /** Driver-side reference count over adjacency sets. */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]].withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      if (a != b) { adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    }
    val nodes = adj.keys.toSeq.sorted
    nodes.map { v =>
      val n = adj(v).toSeq
      val t = (for {
        i <- n.indices; j <- (i + 1) until n.length
        if adj(n(i)).contains(n(j))
      } yield 1).size.toLong
      v -> t
    }.toMap
  }

  test("triangleCounts matches the driver reference on a known graph") {
    // K4 on {1,2,3,4} (4 triangles, each node in 3) + pendant 5 + path 6-7
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (6L, 7L))
    val out = GraphOps.triangleCounts(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getAs[Long]("item") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("n_triangles"), r.getAs[Double]("clustering"))).toMap
    val ref = refTriangles(edges)
    assert(out.keySet == ref.keySet)
    ref.foreach { case (v, t) => assert(out(v)._2 == t, s"node $v") }
    // K4 interior nodes: deg 3, 3 triangles -> clustering 1.0
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(4L)._1 == 4L && out(4L)._2 == 3L &&
      math.abs(out(4L)._3 - 0.5) < 1e-9) // 2*3/(4*3)
    assert(out(5L) == ((1L, 0L, 0.0)))   // deg<2 -> clustering 0.0, no div-by-zero
    assert(out(6L) == ((1L, 0L, 0.0)))
  }

  test("triangleCounts: duplicate / reversed / self-loop edges are canonicalized away") {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L), (2L, 2L))
    val clean = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assertSameRows(
      GraphOps.triangleCounts(messy.toDF("a", "b"), "a", "b"),
      GraphOps.triangleCounts(clean.toDF("a", "b"), "a", "b"))
    val one = GraphOps.triangleCounts(clean.toDF("a", "b"), "a", "b").collect()
    assert(one.forall(_.getAs[Long]("n_triangles") == 1L))
  }

  test("triangleCounts on a hub star: zero triangles, bounded wedge fan-out shape") {
    val star = (2L to 40L).map(i => (1L, i))
    val out = GraphOps.triangleCounts(star.toDF("a", "b"), "a", "b").collect()
    assert(out.forall(_.getAs[Long]("n_triangles") == 0L))
    assert(out.find(_.getAs[Long]("item") == 1L).get.getAs[Long]("degree") == 39L)
  }

  // ---------------- neighborhood aggregation ----------------

  test("neighborhoodAgg: 1-hop exact sums; 2-hop unions distinct, excludes self") {
    // path 1-2-3 (undirected) + values
    val und = Seq((1L, 2L), (2L, 3L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val vals = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("node", "val")
    val h1 = GraphOps.neighborhoodAgg(e, "src", "dst", vals, "node", "val", hops = 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(h1 == Map(1L -> ((1L, 20.0)), 2L -> ((2L, 40.0)), 3L -> ((1L, 20.0))))
    val h2 = GraphOps.neighborhoodAgg(e, "src", "dst", vals, "node", "val", hops = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // node 1's 2-hop set = {2, 3}, never itself; node 2 unchanged
    assert(h2 == Map(1L -> ((2L, 50.0)), 2L -> ((2L, 40.0)), 3L -> ((2L, 30.0))))
    assert(math.abs(GraphOps.neighborhoodAgg(e, "src", "dst", vals, "node", "val", 2)
      .where(col("node") === 1L).head.getAs[Double]("avg_val") - 25.0) < 1e-12)
    intercept[IllegalArgumentException] {
      GraphOps.neighborhoodAgg(e, "src", "dst", vals, "node", "val", hops = 3)
    }
  }

  test("neighborhoodAgg: maxDegree caps the intermediate expansion deterministically") {
    // hub 10 connects to 20,21,22,23 (undirected); leaf 1 - 10
    val und = Seq((1L, 10L), (10L, 20L), (10L, 21L), (10L, 22L), (10L, 23L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val vals = (Seq(1L, 10L) ++ (20L to 23L)).map(n => (n, n.toDouble)).toDF("node", "val")
    // uncapped: node 1's 2-hop set via hub 10 = {10, 20, 21, 22, 23}
    val full = GraphOps.neighborhoodAgg(e, "src", "dst", vals, "node", "val", hops = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(full(1L) == ((5L, 10.0 + 20 + 21 + 22 + 23)))
    // cap 2: hub 10 expands only its two SMALLEST-id neighbors {1, 20},
    // so node 1 reaches {10} (1-hop) + {20} (capped 2-hop; self excluded)
    val capped = GraphOps.neighborhoodAgg(e, "src", "dst", vals, "node", "val",
      hops = 2, maxDegree = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(capped(1L) == ((2L, 10.0 + 20)), s"got ${capped(1L)}")
    // 1-hop edges are never capped: every direct neighbor still counted
    assert(capped(10L)._1 == 5L)
    intercept[IllegalArgumentException] {
      GraphOps.neighborhoodAgg(e, "src", "dst", vals, "node", "val", 2, maxDegree = -1)
    }
  }

  test("neighborhoodAgg: neighbors without values drop; duplicate edges collapse") {
    val e = Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L)).toDF("src", "dst")
    val vals = Seq((2L, 5.0)).toDF("node", "val") // 3 has no value
    val out = GraphOps.neighborhoodAgg(e, "src", "dst", vals, "node", "val")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out == Map(1L -> ((1L, 5.0))))
  }

  // ---------------- personalized PageRank ----------------

  /** Driver replay of the seed-teleport integer recursion. */
  private def pprReplay(edges: Seq[(Long, Long)], seeds: Set[Long],
                        iters: Int, scale: Long = 1000000000L): Map[Long, Long] = {
    val e = edges.distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct
    val outdeg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = (scale * 3L / 20L) / seeds.size
    val init = scale / seeds.size
    var rank = nodes.map(v => v -> (if (seeds(v)) init else 0L)).toMap
    for (_ <- 1 to iters) {
      val contrib = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      e.foreach { case (u, v) => contrib(v) += rank(u) / outdeg(u) }
      rank = nodes.map(v =>
        v -> ((if (seeds(v)) base else 0L) + 85L * contrib(v) / 100L)).toMap
    }
    rank
  }

  test("pageRankPersonalized: bit-identical to driver replay; mass stays near seeds") {
    // path 1-2-3-4 plus a disconnected pair 10-11, symmetrized
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val edges = und ++ und.map(_.swap)
    val out = GraphOps.pageRankPersonalized(edges.toDF("src", "dst"), "src", "dst",
      seeds = Seq(1L, 1L), iterations = 5) // dup seed collapsed
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == pprReplay(edges, Set(1L), 5))
    // unreachable-from-seed component holds zero mass; the seed's own
    // neighborhood outranks the chain's far end (rank ordering WITHIN
    // the walk is iteration-shaped — the seed's sole neighbor can
    // outrank the seed itself, which is correct walk arithmetic)
    assert(out(10L) == 0L && out(11L) == 0L)
    assert(out(1L) > 0L && out(2L) > out(4L))
  }

  test("pageRankPersonalized: two seeds split the teleport; empty seeds rejected") {
    val und = Seq((1L, 2L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val out = GraphOps.pageRankPersonalized(edges, "src", "dst",
      seeds = Seq(1L, 3L), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out ==
      pprReplay(und ++ und.map(_.swap), Set(1L, 3L), 3))
    assert(out(1L) == out(3L) && out(2L) == out(4L)) // symmetric components
    intercept[IllegalArgumentException] {
      GraphOps.pageRankPersonalized(edges, "src", "dst", seeds = Nil)
    }
  }

  // ---------------- BFS distances ----------------

  test("bfsDistances: min hop levels on a known graph, early stop, horizon cap") {
    // path 1-2-3-4-5 plus shortcut 1-4; undirected via both directions
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val e = (und ++ und.map(_.swap)).toDF("src", "dst")
    val d = GraphOps.bfsDistances(e, "src", "dst", Seq(1L), maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // shortcut beats the long path: 4 is one hop, 5 two
    assert(d == Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L, 5L -> 2L))
    val capped = GraphOps.bfsDistances(e, "src", "dst", Seq(1L), maxHops = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(capped == Map(1L -> 0L, 2L -> 1L, 4L -> 1L))
  }

  test("bfsDistances: multi-source min, absent seeds kept at 0, directed edges respected") {
    val e = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst") // directed
    val d = GraphOps.bfsDistances(e, "src", "dst", Seq(3L, 10L, 99L), maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 3 has no out-edges (directed), 10 reaches 11, 99 not in graph
    assert(d == Map(3L -> 0L, 10L -> 0L, 99L -> 0L, 11L -> 1L))
  }

  test("triangleCounts matches reference on a random graph (seeded)") {
    val rnd = new scala.util.Random(7)
    val edges = (1 to 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val out = GraphOps.triangleCounts(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getAs[Long]("item") -> r.getAs[Long]("n_triangles")).toMap
    val ref = refTriangles(edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct)
    assert(out == ref)
  }

  test("rank index lifecycle: birth, in-place refresh ≡ straight iterations, frozen-prior out") {
    val base = tempDir("graft_rankidx")
    val dir = s"$base/ranks"; val out = s"$base/out"
    try {
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
        .toDF("src", "dst")
      def m(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toMap
      // birth from an absent artifact = uniform start
      val born = m(GraphOps.updateRankIndex(spark, dir, edges, "src", "dst", iterations = 3))
      assert(born == m(GraphOps.pageRank(edges, "src", "dst", iterations = 3)))
      // in-place refresh continues the stored vector: 3 + 3 ≡ 6 straight
      val refreshed = m(GraphOps.updateRankIndex(spark, dir, edges, "src", "dst", iterations = 3))
      assert(refreshed == m(GraphOps.pageRank(edges, "src", "dst", iterations = 6)))
      assert(m(GraphOps.readRankIndex(spark, dir)) == refreshed)
      // frozen-prior outDir: continuation lands elsewhere, prior untouched
      val scored = m(GraphOps.updateRankIndex(spark, dir, edges, "src", "dst",
        iterations = 3, outDir = Some(out)))
      assert(scored == m(GraphOps.pageRank(edges, "src", "dst", iterations = 9)))
      assert(m(GraphOps.readRankIndex(spark, dir)) == refreshed)
      assert(m(GraphOps.readRankIndex(spark, out)) == scored)
      // leak discipline: a refresh releases every block it persisted
      // (the daily scheduler refreshes forever)
      val persisted0 = spark.sparkContext.getPersistentRDDs.keySet
      GraphOps.updateRankIndex(spark, dir, edges, "src", "dst",
        iterations = 2, outDir = Some(out)).count()
      assert(spark.sparkContext.getPersistentRDDs.keySet == persisted0,
        "updateRankIndex must not leave persisted blocks behind")
      // content gauge: mass conserved (≈ scale minus dangling loss —
      // this graph has no dangling nodes, so only div truncation bites)
      val st = GraphOps.rankIndexStats(spark, dir).head()
      assert(st.getLong(0) == 4)
      val total = st.getLong(1)
      assert(total > 900000000L && total <= 1000000000L, s"total_rank $total")
      assert(st.getLong(2) >= st.getLong(3))
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("rank/group index under PointerCommit: manifest-resolved, crash-safe, GC-graced (r13 verdict #2)") {
    import graft.merge.Merge
    val base = tempDir("graft_ptridx")
    val rdir = s"$base/ranks"; val gdir = s"$base/groups"
    try {
      val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L))
        .toDF("src", "dst")
      def m(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toMap
      // birth + refresh through the manifest ≡ straight iterations —
      // the commit mode must not touch the integer recursion
      val born = m(GraphOps.updateRankIndex(spark, rdir, edges, "src", "dst",
        iterations = 3, commit = Merge.PointerCommit))
      assert(new java.io.File(rdir, "_current").exists(), "manifest published")
      assert(born == m(GraphOps.pageRank(edges, "src", "dst", iterations = 3)))
      val refreshed = m(GraphOps.updateRankIndex(spark, rdir, edges, "src", "dst",
        iterations = 3, commit = Merge.PointerCommit))
      assert(refreshed == m(GraphOps.pageRank(edges, "src", "dst", iterations = 6)))
      assert(m(GraphOps.readRankIndex(spark, rdir)) == refreshed)
      // health gauge resolves the marker inside the current generation
      val health = GraphOps.rankIndexHealth(spark, rdir).head()
      assert(health.getInt(2) == 1, s"pointer-mode _SUCCESS resolved: $health")
      // crash-injection (the RelationalMergeSpec replay the verdict
      // asked for): a writer dying mid-write never moves the manifest —
      // readers keep the refreshed vector
      val manifestBefore = java.nio.file.Files.readString(
        java.nio.file.Paths.get(rdir, "_current"))
      val poisoned = edges.select(
        org.apache.spark.sql.functions.col("src").as("node"),
        org.apache.spark.sql.functions.raise_error(
          org.apache.spark.sql.functions.lit("writer killed"))
          .cast("long").as("rank"))
      intercept[Exception] {
        GraphOps.writeRankIndex(poisoned, rdir, Merge.PointerCommit)
      }
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(rdir, "_current")) == manifestBefore)
      assert(m(GraphOps.readRankIndex(spark, rdir)) == refreshed)
      // GC grace: 3 commits so far (birth, refresh, failed write GC'd) —
      // live + just-superseded generation remain, older collected
      val gens = new java.io.File(rdir).listFiles()
        .filter(_.getName.startsWith("__data_"))
      assert(gens.length == 2, s"live + graced prev: ${gens.toSeq}")
      // group index: pointer-mode refresh ≡ rename-mode twin
      val rnd = new scala.util.Random(23)
      val es = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val (oldE, newE) = es.splitAt(es.length / 2)
      GraphOps.writeGroupIndex(
        GraphOps.connectedComponents(oldE.toDF("a", "b"), "a", "b",
          localThreshold = 0), gdir, Merge.PointerCommit)
      assert(new java.io.File(gdir, "_current").exists())
      val got = m(GraphOps.updateGroupIndex(spark, gdir, newE.toDF("a", "b"),
        "a", "b", localThreshold = 0, commit = Merge.PointerCommit))
      assert(got == m(GraphOps.connectedComponents(es.toDF("a", "b"), "a", "b",
        localThreshold = 0)), "pointer-mode refresh ≡ full rebuild")
      assert(m(GraphOps.readGroupIndex(spark, gdir)) == got)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("neighborhoodAggPaths: ≡ exact set aggregate on path-unique graphs; walk semantics pinned (r13 verdict #6)") {
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // a directed TREE: every ≤2-hop target reachable by exactly one
    // path, no 1/2-hop overlap, no mutual edges → walk multiset ==
    // distinct neighbor set, so paths ≡ the exact uncapped op
    val tree = Seq((1L, 2L), (1L, 3L), (2L, 4L), (2L, 5L), (3L, 6L)).toDF("src", "dst")
    val vals = (1L to 6L).map(n => (n, n * 10.0)).toDF("node", "val")
    val exact = m(GraphOps.neighborhoodAgg(tree, "src", "dst", vals, "node", "val",
      hops = 2, maxDegree = 0))
    val paths = m(GraphOps.neighborhoodAggPaths(tree, "src", "dst", vals, "node", "val"))
    assert(paths == exact, "tree: walk aggregate must equal the set aggregate")
    // path MULTIPLICITY: 1→{2,3}→4 — node 4 reachable down two paths
    // counts twice in the walk aggregate, once in the set aggregate
    val diamond = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val dvals = (1L to 4L).map(n => (n, 10.0)).toDF("node", "val")
    val dPaths = m(GraphOps.neighborhoodAggPaths(diamond, "src", "dst", dvals, "node", "val"))
    val dExact = m(GraphOps.neighborhoodAgg(diamond, "src", "dst", dvals, "node", "val",
      hops = 2, maxDegree = 0))
    assert(dExact(1L) == ((3L, 30.0)), "set: {2,3,4}")
    assert(dPaths(1L) == ((4L, 40.0)), "walks: 1→2, 1→3, 1→2→4, 1→3→4")
    // BACKTRACK exclusion: mutual edge u⇄m — the walk u→m→u is not a
    // neighborhood leg (matches the exact op's d ≠ src rule)
    val mutual = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val mvals = (1L to 3L).map(n => (n, 10.0)).toDF("node", "val")
    val mPaths = m(GraphOps.neighborhoodAggPaths(mutual, "src", "dst", mvals, "node", "val"))
    // node 1: leg 1→2 plus walk 1→2→3 (1→2→1 excluded) = 2 legs
    assert(mPaths(1L) == ((2L, 20.0)), s"backtrack excluded: $mPaths")
    // node 2: legs 2→1, 2→3 (2→1→2 excluded) = 2
    assert(mPaths(2L) == ((2L, 20.0)))
    // walk count always >= the distinct count (overcount direction pinned)
    (dPaths.keySet ++ dExact.keySet).foreach { n =>
      assert(dPaths.get(n).map(_._1).getOrElse(0L) >=
        dExact.get(n).map(_._1).getOrElse(0L))
    }
  }

  test("neighborhoodAggPaths: duplicated value rows — one output row per node, backtrack scaled per row (r15 review)") {
    // a node appearing TWICE in `values` counts once per row in every
    // neighbor stat (the exact op's behavior) — including its own
    // backtrack legs. The r14 shape aggregated the mutual-edge count
    // BEFORE joining value rows, so a duplicated node emitted one
    // OUTPUT row per value row and undercounted the subtracted paths.
    val mutual = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val mvals = Seq((1L, 10.0), (1L, 30.0), (2L, 10.0), (3L, 10.0))
      .toDF("node", "val")
    val out = GraphOps.neighborhoodAggPaths(mutual, "src", "dst",
      mvals, "node", "val").collect()
    assert(out.map(_.getLong(0)).distinct.length == out.length,
      s"one row per node: ${out.toSeq}")
    val got = out.map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // node 1: leg 1→2 (10) + walk 1→2→3 (10); both 1→2→1 walks (one per
    // value row of node 1) are backtracks and must subtract
    assert(got(1L) == ((2L, 20.0)), s"got $got")
    // node 2: legs 2→1 ×2 value rows (10+30) + 2→3 (10); 2→1→2 backtrack out
    assert(got(2L) == ((3L, 50.0)), s"got $got")
    assert(!got.contains(3L), "no out-edges, no row")
  }

  test("neighborhoodAggPaths property: on random graphs, walk counts dominate set counts and agree with a hand model") {
    // adversarial sweep over seeded random digraphs: the walk aggregate
    // must (a) match an independent driver-side walk model EXACTLY and
    // (b) dominate the exact set aggregate's count per node
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 18
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val valued = (0 until n).filter(_ => rnd.nextBoolean()).map(_.toLong).toSet
      val vals = valued.toSeq.map(v => (v, 10.0)).toDF("node", "val")
      val eSet = edges.toSet
      val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      // driver model: 1-hop legs + non-backtracking 2-hop walks
      val model = (0 until n).map(_.toLong).map { u =>
        val one = adj.getOrElse(u, Nil).count(valued)
        val two = adj.getOrElse(u, Nil).flatMap(m => adj.getOrElse(m, Nil))
          .count(d => d != u && valued(d))
        u -> (one + two).toLong
      }.filter(_._2 > 0).toMap
      val paths = GraphOps.neighborhoodAggPaths(edges.toDF("src", "dst"),
        "src", "dst", vals, "node", "val")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(paths == model, s"seed $seed: walk model mismatch")
      val exact = GraphOps.neighborhoodAgg(edges.toDF("src", "dst"),
        "src", "dst", vals, "node", "val", hops = 2, maxDegree = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      exact.foreach { case (u, cnt) =>
        assert(paths.getOrElse(u, 0L) >= cnt,
          s"seed $seed node $u: walks ${paths.get(u)} < distinct $cnt")
      }
    }
  }

  test("neighborhoodAgg hash-sampled cap: unbiased order, deterministic, same bound") {
    // hub 0 with neighbors 1..20; intermediate node 100 connects to hub
    val edges = ((1L to 20L).map(n => (0L, n)) ++ Seq((100L, 0L))).toDF("src", "dst")
    val values = (0L to 100L).map(n => (n, 10.0)).toDF("node", "val")
    def run(salt: Option[String]) =
      GraphOps.neighborhoodAgg(edges, "src", "dst", values, "node", "val",
        hops = 2, maxDegree = 5, sampleSalt = salt, portable = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 100's 2-hop set = {0} ∪ 5 capped neighbors of the hub
    val idCap = run(None)
    assert(idCap(100L) == 6)
    val hashCap = run(Some("t"))
    assert(hashCap(100L) == 6, "hash cap must keep the same bound")
    // deterministic: same salt → same sample
    assert(run(Some("t")) == hashCap)
    // the id cap keeps 1..5; the hash cap picks a DIFFERENT 5-subset
    // (portable md5 order of 20 ids colliding with 1..5 is ~1e-4) —
    // verify via the sampled sums: equal only if the same subset
    val idSum = GraphOps.neighborhoodAgg(edges, "src", "dst",
      (0L to 100L).map(n => (n, n.toDouble)).toDF("node", "val"), "node", "val",
      hops = 2, maxDegree = 5).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val hashSum = GraphOps.neighborhoodAgg(edges, "src", "dst",
      (0L to 100L).map(n => (n, n.toDouble)).toDF("node", "val"), "node", "val",
      hops = 2, maxDegree = 5, sampleSalt = Some("t"), portable = true).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(idSum(100L) == (0 + 1 + 2 + 3 + 4 + 5).toDouble)  // smallest ids
    assert(hashSum(100L) != idSum(100L), "hash sample should differ from id sample")
  }

  test("neighborhoodAgg 2-hop: one edge shuffle, at most 6 jobs (q_neighborhood_agg, sf0.001)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RoundRobinPartitioning}
    val qe = SparkEntry.queries("q_neighborhood_agg")(spark, "/root/testdata/sf0.001").queryExecution
    val (rows, jobs) = withJobCount(qe.toRdd.count())
    assert(rows > 0)
    assert(jobs <= 6, s"$jobs jobs")
    // the executed (AQE-final) plan: every materialized shuffle once,
    // reused ones are leaves and not counted
    val helper = new AdaptiveSparkPlanHelper {}
    val shuffles = helper.collect(qe.executedPlan) { case s: ShuffleExchangeExec => s }
    // one hash shuffle (the edge set, by src); the only other is the
    // round-robin spread of the per-node result rows
    val hashed = shuffles.map(_.outputPartitioning).collect { case h: HashPartitioning =>
      h.expressions.collect { case a: Attribute => a.name } }
    assert(hashed == Seq(Seq("src")) &&
      shuffles.count(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning]) == 1 &&
      shuffles.size == 2, s"shuffles: ${shuffles.map(_.outputPartitioning)}")
  }

  // ---- label propagation ---------------------------------------------

  test("labelPropagation: two triangles with one bridge resolve to two communities") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = tri.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, "src", "dst", iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(Set(1L, 2L, 3L).map(out) == Set(1L))
    assert(Set(4L, 5L, 6L).map(out) == Set(3L))
  }

  test("labelPropagation matches a single-JVM reference implementation on a random graph") {
    val rnd = new scala.util.Random(7)
    val edgesSeq = (1 to 120).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2).distinct
    val iters = 6 // crosses the CheckpointEvery=5 lineage-sever boundary
    // reference: synchronous LPA, mode of in-neighbour labels, min tie-break
    val nodes = edgesSeq.flatMap(e => Seq(e._1, e._2)).distinct
    var labels = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      val votes = edgesSeq.groupBy(_._2).map { case (dst, es) =>
        val counts = es.map(e => labels(e._1)).groupBy(identity).view.mapValues(_.size)
        dst -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      labels = labels.map { case (n, l) => n -> votes.getOrElse(n, l) }
    }
    val out = GraphOps.labelPropagation(edgesSeq.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap
    assert(out == labels)
  }

  test("labelPropagationReleasable: release drops every block this call persisted (r12 advice)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
    val edges = tri.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val (out, release) = graft.util.Materialize.scoped {
      // crosses CheckpointEvery so a checkpoint root exists too
      GraphOps.labelPropagation(edges, "src", "dst", iterations = 6)
    }
    assert(out.count() == 6)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "final label state is cached behind the frame")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"blocks left persisted after release: $leaked")
  }

  test("labelPropagationConverged reaches a true fixpoint on the two-triangle graph") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = tri.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")
    val (labels, rounds) = GraphOps.labelPropagationConverged(edges, "src", "dst", 20)
    assert(rounds < 20, s"should converge well before the cap, took $rounds")
    val out = labels.as[(Long, Long)].collect().toMap
    // fixpoint state == the fixed-iteration state at that round count
    val fixedIter = GraphOps.labelPropagation(edges, "src", "dst", rounds)
      .as[(Long, Long)].collect().toMap
    assert(out == fixedIter)
    // and it IS a fixpoint: one more round changes nothing
    val oneMore = GraphOps.labelPropagation(edges, "src", "dst", rounds + 1)
      .as[(Long, Long)].collect().toMap
    assert(out == oneMore)
  }

  test("labelPropagationConverged reports the cap honestly on an oscillating bipartite pair") {
    // symmetrized single edge: synchronous LPA swaps labels forever
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val (_, rounds) = GraphOps.labelPropagationConverged(edges, "src", "dst", 6)
    assert(rounds == 6, s"2-cycle must hit the cap, stopped at $rounds")
  }

  test("labelPropagation: a node with no in-edges keeps its own label") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphOps.labelPropagation(edges, "src", "dst", iterations = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L))
  }
}
