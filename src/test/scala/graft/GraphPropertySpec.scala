package graft

import scala.collection.mutable

import graft.graph.GraphOps

/** Randomized differential tests for the graph operators whose driver
  * replays so far ran only on KNOWN fixtures (BFS levels, the triangle
  * reference graph) — random digraphs with duplicate/reversed edges and
  * partial value coverage reach wedge/frontier shapes a hand-built
  * fixture never does. Companion to GraphOpsSpec's union-find and
  * PageRank replays and to [[AnalyticsPropertySpec]]'s rationale.
  */
class GraphPropertySpec extends SparkSpec {
  import spark.implicits._

  private val TRIALS = 5
  private val N = 12 // node universe per trial

  /** Random directed multigraph WITH duplicates and self-loops — the
    * operators canonicalize; the generators deliberately don't. */
  private def randomEdges(rnd: scala.util.Random, m: Int): Seq[(Long, Long)] =
    (0 until m).map(_ => (rnd.nextInt(N).toLong, rnd.nextInt(N).toLong))

  /** Driver BFS over the cleaned edge set (no self-loops, distinct). */
  private def driverBfs(edges: Seq[(Long, Long)], seeds: Seq[Long],
                        maxHops: Int): Map[Long, Long] = {
    val adj = edges.filter(e => e._1 != e._2).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val dist = mutable.Map[Long, Long](seeds.map(_ -> 0L): _*)
    var frontier = seeds.toSet
    var h = 0L
    while (h < maxHops && frontier.nonEmpty) {
      h += 1
      frontier = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
        .filterNot(dist.contains)
      frontier.foreach(v => dist(v) = h)
    }
    dist.toMap
  }

  test("bfsDistances ≡ driver BFS on random digraphs (seeds, horizons, early stop)") {
    val rnd = new scala.util.Random(13016)
    (1 to TRIALS).foreach { trial =>
      val edges = randomEdges(rnd, 30)
      val seeds = (0 until 1 + rnd.nextInt(3)).map(_ => rnd.nextInt(N).toLong).distinct
      val maxHops = rnd.nextInt(5) // includes 0: seeds only
      val got = GraphOps.bfsDistances(edges.toDF("src", "dst"), "src", "dst",
          seeds, maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == driverBfs(edges, seeds, maxHops),
        s"trial $trial seeds=$seeds maxHops=$maxHops edges=$edges")
    }
  }

  test("bfsCore: rows ≡ driver BFS, and release returns the session to its baseline") {
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    val rnd = new scala.util.Random(13017)
    // a directed 15-node chain runs all 8 hops (past the checkpoint
    // cadence, so a pinned root exists); the random digraph stops early
    val cases = Seq((0L until 14L).map(i => (i, i + 1)) -> 8, randomEdges(rnd, 30) -> 4)
    cases.foreach { case (edges, maxHops) =>
      val (rdds0, cacheEmpty0) = (sc.getPersistentRDDs.keySet, cm.isEmpty)
      val ((out, _), release) = graft.util.Materialize.scoped {
        GraphOps.bfsCore(edges.toDF("src", "dst"), "src", "dst", Seq(0L), maxHops)
      }
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == driverBfs(edges, Seq(0L), maxHops), s"maxHops=$maxHops edges=$edges")
      release()
      assert(sc.getPersistentRDDs.keySet == rdds0,
        s"left persisted: ${sc.getPersistentRDDs.keySet.diff(rdds0)}")
      assert(cm.isEmpty == cacheEmpty0, "CacheManager entry left behind")
    }
  }

  test("triangleCounts ≡ driver enumeration on random graphs with dup/reversed/self edges") {
    val rnd = new scala.util.Random(14016)
    (1 to TRIALS).foreach { trial =>
      val edges = randomEdges(rnd, 35)
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val nbrs = (und ++ und.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val expect = nbrs.map { case (v, nb) =>
        val deg = nb.size.toLong
        val tris = nb.toSeq.combinations(2)
          .count { case Seq(x, y) => nbrs(x).contains(y) }.toLong
        // Spark round(_, 6) = BigDecimal.valueOf(x).setScale(6, HALF_UP)
        val clustering =
          if (deg >= 2)
            java.math.BigDecimal.valueOf(2.0 * tris / (deg * (deg - 1)))
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          else 0.0
        v -> (deg, tris, clustering)
      }
      val got = GraphOps.triangleCounts(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      assert(got == expect, s"trial $trial edges=$edges")
    }
  }

  test("neighborhoodAgg ≡ driver replay: 1-hop, capped 2-hop, partial value coverage") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(15016)
    // hash caps' sort keys come from the engine's own hash expressions,
    // evaluated once per node id; the replay owns the cap, the
    // 1-hop/2-hop union and the aggregate
    def keys(h: Column): Map[Long, Long] =
      (0L until N.toLong).toDF("d").select(col("d"), h).as[(Long, Long)].collect().toMap
    val salt = "nbh"
    val orders: Seq[(Option[String], Boolean, Long => (Long, Long))] = Seq(
      (None, false, d => (d, d)),
      (Some(salt), false, { val k = keys(xxhash64(lit(salt), col("d"))); d => (k(d), d) }),
      (Some(salt), true, { val k = keys(graft.functions.Hashes.portable(
        concat(lit(salt), lit("|"), col("d").cast("string")))); d => (k(d), d) }))
    (1 to 3 * TRIALS).foreach { trial =>
      val edges = randomEdges(rnd, 30)
      val hops = 1 + trial % 2
      val maxDegree = rnd.nextInt(4) // 0 = uncapped
      val (sampleSalt, portable, order) = orders(trial % 3)
      // value ROWS, ~70% node coverage: a node may have two rows, and
      // a row may be NULL or beyond DECIMAL(12,2) (excluded like NULL,
      // still counted); the rest are cent-exact
      val values: Seq[(Long, Option[Double])] = (0L until N.toLong).flatMap { v =>
        Seq.fill(if (rnd.nextInt(10) < 3) 0 else 1 + rnd.nextInt(2))(v -> (rnd.nextInt(10) match {
          case 0 => None
          case 1 => Some((if (rnd.nextBoolean()) 1 else -1) * (1e10 + rnd.nextInt(5) * 1e9))
          case _ => Some((rnd.nextInt(200001) - 100000) / 100.0)
        }))
      }
      val e = edges.filter(x => x._1 != x._2).distinct
      val nbr: Seq[(Long, Long)] =
        if (hops == 1) e
        else {
          val capped = e.groupBy(_._1).view.mapValues { out =>
            val ds = out.map(_._2).sortBy(order)
            if (maxDegree == 0) ds else ds.take(maxDegree)
          }.toMap
          (e ++ e.flatMap { case (u, m) =>
            capped.getOrElse(m, Nil).filter(_ != u).map(d2 => (u, d2))
          }).distinct
        }
      val rowsOf = values.groupBy(_._1)
      val expect = nbr.flatMap { case (u, d) => rowsOf.getOrElse(d, Nil).map(r => u -> r._2) }
        .groupBy(_._1).map { case (u, rs) =>
          val vs = rs.flatMap(_._2).filter(v => math.abs(v) < 1e10)
            .map(v => BigDecimal(v).setScale(2))
          val sum = if (vs.isEmpty) None else Some(vs.sum.toDouble)
          u -> (rs.size.toLong, sum, sum.map(_ / rs.size))
        }
      val got = GraphOps.neighborhoodAgg(edges.toDF("src", "dst"), "src", "dst",
          values.toDF("node", "value"), "node", "value",
          hops = hops, maxDegree = maxDegree, sampleSalt = sampleSalt, portable = portable)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
      val ctx = s"trial $trial hops=$hops cap=$maxDegree salt=$sampleSalt portable=$portable"
      assert(got.keySet == expect.keySet, s"$ctx nodes")
      got.foreach { case (u, (n, s, a)) =>
        val (en, es, ea) = expect(u)
        def near(x: Option[Double], y: Option[Double]) =
          x.isDefined == y.isDefined && x.zip(y).forall { case (p, q) => math.abs(p - q) < 1e-9 }
        assert(n == en && near(s, es) && near(a, ea),
          s"$ctx node $u: got ($n,$s,$a) want ($en,$es,$ea)")
      }
    }
  }
}
