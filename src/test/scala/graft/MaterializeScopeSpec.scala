package graft

import org.apache.spark.sql.functions._

import graft.util.Materialize

/** The one release path for long-lived callers: operators (the
  * rolling/drift gauges among them) materialize frames internally
  * with no release point of their own — `Materialize.scoped` collects
  * those registrations, including ones made on `Par` workers, and
  * frees exactly the blocks the wrapped calls persisted, returning
  * the session's persistent-RDD set to its pre-call state.
  */
class MaterializeScopeSpec extends SparkSpec {
  import spark.implicits._

  private def mixRows = Seq(
    ("2024-01-01 10:00:00", "a", "g1", 1.0), ("2024-01-01 11:00:00", "b", "g1", 2.0),
    ("2024-01-02 10:00:00", "a", "g1", 3.0), ("2024-01-02 11:00:00", "b", "g1", 9.0),
    ("2024-01-03 10:00:00", "a", "g1", 1.5), ("2024-01-03 12:00:00", "c", "g1", 4.0)
  ).toDF("ts", "k", "g", "v").withColumn("ts", col("ts").cast("timestamp_ntz"))

  test("scoped frees every block the wrapped gauges materialized; pre-call state restored") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ((js, psi), release) = Materialize.scoped {
      (graft.text.TextOps.jsRollingDivergenceBy(mixRows, Seq("g"), "k", "ts", 2),
        graft.profile.HistSketch.histRollingPsi(mixRows, "v", "ts", 2))
    }
    assert(js.count() >= 1 && psi.count() >= 1)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "the gauges' bounded frames are persisted behind the results")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"blocks left persisted after scope release: $leaked")
    // releasing twice is harmless (unpersist idempotence)
    release()
  }

  test("scoped never touches blocks a concurrent caller persisted (no-sweep contract)") {
    val other = mixRows.persist()
    other.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (gauge, release) = Materialize.scoped {
      graft.profile.HistSketch.histRollingPsi(mixRows, "v", "ts", 2)
    }
    gauge.count()
    release()
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "scope release must free only its own materializations")
    other.unpersist(blocking = true)
  }

  test("release on a throwing body frees the frames it materialized; acting after release fails loudly") {
    // frames a failing body already materialized are by definition
    // unconsumed — scoped must release them, not leak until session
    // teardown
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[RuntimeException] {
      Materialize.scoped {
        val f = Materialize.bounded(mixRows.groupBy("k").agg(sum("v").as("s")))
        assert(f.count() >= 1) // materialized before the failure
        throw new RuntimeException("boom")
      }
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "a failing scope body must not leak its materialized frames")
    // a localCheckpoint severs lineage, so a post-release action
    // cannot silently recompute — it THROWS
    // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. Pinned so the failure mode
    // stays loud-never-wrong if the materialization strategy changes.
    val (f, release) = Materialize.scoped {
      Materialize.bounded(mixRows.groupBy("k").agg(sum("v").as("s")))
    }
    assert(f.count() >= 1)
    release()
    val e = intercept[Throwable](quietStorageLogs(f.count()))
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(msgs.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND") ||
      msgs.toLowerCase.contains("checkpoint block"),
      s"expected a loud checkpoint-block failure, got:\n$msgs")
  }

  test("nested scopes capture into the innermost; bounded outside any scope keeps its own handle") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ((innerRelease, outerDf), outerRelease) = Materialize.scoped {
      val (innerDf, rel) = Materialize.scoped {
        Materialize.bounded(mixRows.groupBy("k").agg(sum("v").as("s")))
      }
      assert(innerDf.count() >= 1)
      (rel, Materialize.bounded(mixRows.groupBy("g").agg(count(lit(1)).as("n"))))
    }
    assert(outerDf.count() == 1)
    innerRelease()
    outerRelease()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
    // a scope of its own: the handle frees just this materialization
    val (df, rel) = Materialize.scoped(Materialize.bounded(mixRows.select("k").distinct()))
    assert(df.count() == 3)
    rel()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("Par workers register into the caller's scope: one release frees what every thunk materialized") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (counts, release) = Materialize.scoped {
      graft.util.Par.eval(
        () => Materialize.bounded(mixRows.groupBy("k").agg(sum("v").as("s"))).count(),
        () => Materialize.bounded(mixRows.groupBy("g").agg(count(lit(1)).as("n"))).count())
    }
    assert(counts == Seq(3L, 1L))
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).size == 2,
      "each worker's bounded frame is persisted until the scope releases")
    release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"blocks a Par worker materialized outlived the scope: $leaked")
  }

  test("every public persisting operator: scoped { op }, act, release returns the session to baseline") {
    import graft.dedup.DedupOps
    import graft.graph.GraphOps
    val sc = spark.sparkContext
    val cm = spark.sharedState.cacheManager
    val chain = (1L until 12L).map(i => (i, i + 1))
    val edges = chain.flatMap(e => Seq(e, e.swap)).toDF("src", "dst")
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = Seq((1L, base), (2L, base + " today"), (3L, "the quick brown fox jumps over"),
      (4L, "completely different words about a sunny day at the beach"),
      (5L, "completely different words about a sunny day at the beach again"))
      .toDF("id", "text")
    // each entry runs the operator and acts on every frame it returns
    val ops: Seq[(String, () => Long)] = Seq(
      "pageRank" -> (() => GraphOps.pageRank(edges, "src", "dst", iterations = 6).count()),
      "pageRankConverged" -> (() =>
        GraphOps.pageRankConverged(edges, "src", "dst", maxIterations = 8)._1.count()),
      "labelPropagation" -> (() =>
        GraphOps.labelPropagation(edges, "src", "dst", iterations = 6).count()),
      "bfsDistances" -> (() =>
        GraphOps.bfsDistances(edges, "src", "dst", Seq(1L), maxHops = 6).count()),
      "connectedComponents" -> (() =>
        GraphOps.connectedComponents(edges, "src", "dst", localThreshold = 0).count()),
      "minhashNearDupPairs" -> (() =>
        DedupOps.minhashNearDupPairs(docs, "id", "text", threshold = 0.3).count()),
      "ngramJaccardPairs" -> (() =>
        DedupOps.ngramJaccardPairs(docs, "id", "text", threshold = 0.3).count()),
      "ngramContainmentPairs" -> (() =>
        DedupOps.ngramContainmentPairs(docs, "id", "text", threshold = 0.5).count()))
    val leaks = ops.flatMap { case (name, run) =>
      // each entry starts from an empty cache: two entries persisting
      // the same plan would otherwise share one CacheManager entry
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val (rdds0, cacheEmpty0) = (sc.getPersistentRDDs.keySet, cm.isEmpty)
      val (n, release) = Materialize.scoped(run())
      assert(n > 0, s"$name returned no rows")
      release()
      val left = sc.getPersistentRDDs.keySet.diff(rdds0)
      Option.when(left.nonEmpty || cm.isEmpty != cacheEmpty0)(
        s"$name: ${left.size} persisted RDDs left, CacheManager back to baseline: " +
          s"${cm.isEmpty == cacheEmpty0}")
    }
    assert(leaks.isEmpty, s"operators that outlive their scope:\n${leaks.mkString("\n")}")
  }
}
