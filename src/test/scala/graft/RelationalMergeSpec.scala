package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.merge.Merge
import graft.relational.RelationalOps

/** FIXTURES.md §B.5 upsert_pair + §B.7 enrich_join/dedup. */
class RelationalMergeSpec extends SparkSpec {
  import spark.implicits._

  test("uniteByName tolerates drift in both directions") {
    val a = Seq((1, "x")).toDF("id", "a_only")
    val b = Seq((2, 9.9)).toDF("id", "b_only")
    val out = RelationalOps.uniteByName(Seq(a, b))
    assert(out.columns.toSet == Set("id", "a_only", "b_only"))
    assert(out.count() == 2)
    assert(out.where(col("id") === 1).select("b_only").head().isNullAt(0))
  }

  test("dedupByKeyFirst keeps first row per key in declared order") {
    val df = Seq((1, 2, "b"), (1, 1, "a"), (2, 5, "c")).toDF("k", "ord", "v")
    val out = RelationalOps.dedupByKeyFirst(df, Seq("k"), Seq(col("ord").asc))
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "a", 2 -> "c"))
  }

  test("strictEnrichJoin throws when a left row has no match (merge_dicts contract)") {
    val left = Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "v")
    val right = Seq((1, "A"), (2, "B")).toDF("id", "add")
    intercept[IllegalStateException] {
      RelationalOps.strictEnrichJoin(left, right, Seq("id"), Seq("add")).collect()
    }
    // non-strict: inner join semantics, missing rows dropped
    val loose = RelationalOps.strictEnrichJoin(left, right, Seq("id"), Seq("add"), strict = false)
    assert(loose.count() == 2)
  }

  test("strictEnrichJoin throws on duplicate build-side keys (dict contract)") {
    val left = Seq((1, "x")).toDF("id", "v")
    val dupRight = Seq((1, "A"), (1, "B")).toDF("id", "add")
    intercept[IllegalStateException] {
      RelationalOps.strictEnrichJoin(left, dupRight, Seq("id"), Seq("add")).collect()
    }
  }

  test("saltedJoin rejects right/full outer join types") {
    val df = Seq((1, 2)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      RelationalOps.saltedJoin(df, df, Seq("k"), 4, "full_outer")
    }
    intercept[IllegalArgumentException] {
      RelationalOps.saltedJoin(df, df, Seq("k"), 4, "right")
    }
  }

  test("duplicateKeys empty ⇔ no duplicates") {
    val clean = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dup = Seq((1, "a"), (1, "b")).toDF("k", "v")
    assert(RelationalOps.duplicateKeys(clean, Seq("k")).isEmpty)
    assert(RelationalOps.duplicateKeys(dup, Seq("k")).count() == 1)
  }

  test("filterEquals case modes") {
    val df = Seq("Foo", "FOO", "bar").toDF("s")
    assert(RelationalOps.filterEquals(df, "s", "foo", "lower").count() == 2)
    assert(RelationalOps.filterEquals(df, "s", "Foo", "sensitive").count() == 1)
    intercept[IllegalArgumentException] {
      RelationalOps.filterEquals(df, "s", "x", "bogus")
    }
  }

  private def freshDir() = tempDir("graft_merge") + "/target"

  test("upsert: composite-key delete+insert, new keys inserted (FIXTURES §B.5)") {
    val target = Seq((1, "a", 10), (1, "b", 20), (2, "a", 30)).toDF("k1", "k2", "v")
    val stage = Seq((1, "b", 99), (3, "c", 40)).toDF("k1", "k2", "v")
    val dir = freshDir()
    Merge.insert(target, dir, Merge.Overwrite)
    Merge.insert(stage, dir, Merge.Upsert(Seq("k1", "k2")))
    val out = Merge.readTarget(spark, dir).as[(Int, String, Int)].collect().toSet
    assert(out == Set((1, "a", 10), (1, "b", 99), (2, "a", 30), (3, "c", 40)))
  }

  test("upsert idempotency: applying the same stage twice == once") {
    val target = Seq((1, "x", 1), (2, "y", 2)).toDF("k", "s", "v")
    val stage = Seq((2, "y", 99), (3, "z", 3)).toDF("k", "s", "v")
    val dir = freshDir()
    Merge.insert(target, dir, Merge.Overwrite)
    Merge.upsert(stage, dir, Seq("k"))
    val once = Merge.readTarget(spark, dir).collect().toSet
    Merge.upsert(stage, dir, Seq("k"))
    val twice = Merge.readTarget(spark, dir).collect().toSet
    assert(once == twice)
  }

  test("upsert into missing target == overwrite") {
    val stage = Seq((1, 1)).toDF("k", "v")
    val dir = freshDir()
    Merge.upsert(stage, dir, Seq("k"))
    assert(Merge.readTarget(spark, dir).count() == 1)
  }

  test("append accumulates; overwrite replaces") {
    val dir = freshDir()
    Merge.insert(Seq((1, 1)).toDF("k", "v"), dir, Merge.Append)
    Merge.insert(Seq((2, 2)).toDF("k", "v"), dir, Merge.Append)
    assert(Merge.readTarget(spark, dir).count() == 2)
    Merge.insert(Seq((9, 9)).toDF("k", "v"), dir, Merge.Overwrite)
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSeq == Seq((9, 9)))
  }

  test("partition-scoped upsert rewrites only the stage's partitions") {
    val dir = freshDir()
    val target = Seq((1, "p1", 10), (2, "p1", 20), (3, "p2", 30)).toDF("k", "part", "v")
    graft.io.Writers.parquet(target, dir, partitionBy = Seq("part"))
    val stage = Seq((2, "p1", 99), (4, "p1", 40)).toDF("k", "part", "v")
    Merge.upsert(stage, dir, Seq("k"), prunePartitions = Seq("part"))
    val out = Merge.readTarget(spark, dir)
      .select("k", "part", "v").as[(Int, String, Int)].collect().toSet
    assert(out == Set((1, "p1", 10), (2, "p1", 99), (3, "p2", 30), (4, "p1", 40)))
  }

  test("insertIfAbsentFrame: NOT EXISTS semantics — existing keys NOT updated") {
    val target = Seq((1, 10), (2, 20)).toDF("k", "v")
    val stage = Seq((2, 99), (3, 30)).toDF("k", "v")
    val out = Merge.insertIfAbsentFrame(target, stage, Seq("k"))
      .as[(Int, Int)].collect().toSet
    assert(out == Set((1, 10), (2, 20), (3, 30)))
  }

  test("upsertOnDiffFrame: updates only genuine diffs, audit column proves the leg") {
    // meta = the audit column OUTSIDE compareCols; unchanged matches
    // must keep the TARGET's meta (the point of conditional UPDATE)
    val target = Seq(
      (1, Some("a"), "t"),  // matched, unchanged -> target row kept
      (2, Some("b"), "t"),  // matched, changed   -> stage row
      (3, None, "t"),       // matched, null -> value = changed
      (4, Some("d"), "t")   // unmatched target   -> survives
    ).toDF("k", "v", "meta")
    val stage = Seq(
      (1, Some("a"), "s"),
      (2, Some("B"), "s"),
      (3, Some("c"), "s"),
      (5, Some("e"), "s")   // unmatched stage -> insert
    ).toDF("k", "v", "meta")
    val out = Merge.upsertOnDiffFrame(target, stage, Seq("k"), compareCols = Seq("v"))
      .as[(Int, Option[String], String)].collect().toSet
    assert(out == Set(
      (1, Some("a"), "t"), (2, Some("B"), "s"), (3, Some("c"), "s"),
      (4, Some("d"), "t"), (5, Some("e"), "s")))
    // default compareCols = all shared non-key columns (meta included
    // here, so every matched row reads as changed)
    val blind = Merge.upsertOnDiffFrame(target, stage, Seq("k"))
      .as[(Int, Option[String], String)].collect().toSet
    assert(blind == Set(
      (1, Some("a"), "s"), (2, Some("B"), "s"), (3, Some("c"), "s"),
      (4, Some("d"), "t"), (5, Some("e"), "s")))
  }

  test("upsertOnDiff write form: idempotent, creates missing target") {
    val dir = freshDir()
    val target = Seq((1, "a", "t0"), (2, "b", "t0")).toDF("k", "v", "meta")
    val stage = Seq((2, "B", "s1"), (3, "c", "s1")).toDF("k", "v", "meta")
    Merge.upsertOnDiff(target, dir, Seq("k"), compareCols = Seq("v")) // creates
    Merge.upsertOnDiff(stage, dir, Seq("k"), compareCols = Seq("v"))
    val once = Merge.readTarget(spark, dir).as[(Int, String, String)].collect().toSet
    assert(once == Set((1, "a", "t0"), (2, "B", "s1"), (3, "c", "s1")))
    Merge.upsertOnDiff(stage, dir, Seq("k"), compareCols = Seq("v"))
    val twice = Merge.readTarget(spark, dir).as[(Int, String, String)].collect().toSet
    assert(twice == once)
  }

  test("snapshotDiff classifies added/removed/changed/unchanged, null-safe") {
    val oldDf = Seq((1, Some("a")), (2, Some("b")), (3, None: Option[String]),
      (4, Some("d"))).toDF("k", "v")
    val newDf = Seq((2, Some("B")), (3, None: Option[String]), (4, Some("d")),
      (5, Some("e"))).toDF("k", "v")
    val out = Merge.snapshotDiff(oldDf, newDf, Seq("k"))
      .as[(Int, String)].collect().toMap
    assert(out == Map(1 -> "removed", 2 -> "changed", 3 -> "unchanged",
      4 -> "unchanged", 5 -> "added"))
    // changed ∪ added is exactly upsertOnDiffFrame's take-stage set
    val merged = Merge.upsertOnDiffFrame(oldDf, newDf, Seq("k"))
      .as[(Int, Option[String])].collect().toMap
    assert(merged(2) == Some("B") && merged(1) == Some("a"))
  }

  test("snapshotDiff: compareCols restricts the change test; bad args rejected") {
    val oldDf = Seq((1, "a", "x")).toDF("k", "v", "meta")
    val newDf = Seq((1, "a", "y")).toDF("k", "v", "meta")
    import org.apache.spark.sql.functions.col
    assert(Merge.snapshotDiff(oldDf, newDf, Seq("k"), compareCols = Seq("v"))
      .where(col("change") === "unchanged").count() == 1)
    assert(Merge.snapshotDiff(oldDf, newDf, Seq("k"))
      .where(col("change") === "changed").count() == 1)
    intercept[IllegalArgumentException] { Merge.snapshotDiff(oldDf, newDf, Nil) }
  }

  // ---- SCD type 2 ----------------------------------------------------

  private def scd2History = {
    import org.apache.spark.sql.types.TimestampNTZType
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)).toDF("k", "status", "price")
      .withColumn("valid_from", lit("2024-01-01 00:00:00").cast(TimestampNTZType))
      .withColumn("valid_to", lit(null).cast(TimestampNTZType))
      .withColumn("is_current", lit(true))
      .unionByName(
        Seq((1, "z", 5.0)).toDF("k", "status", "price")
          .withColumn("valid_from", lit("2023-06-01 00:00:00").cast(TimestampNTZType))
          .withColumn("valid_to", lit("2024-01-01 00:00:00").cast(TimestampNTZType))
          .withColumn("is_current", lit(false)))
  }

  test("scd2Apply: change closes the current row and opens a new version; unchanged and closed rows pass through") {
    val stage = Seq((1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)).toDF("k", "status", "price")
    val out = Merge.scd2Apply(scd2History, stage, Seq("k"), "2024-02-01 00:00:00")
    out.cache()
    // closed history untouched
    assert(out.where(col("k") === 1 && !col("is_current"))
      .select("status").as[String].collect().toSeq == Seq("z"))
    // k=1 unchanged: still one open row, original valid_from
    val k1open = out.where(col("k") === 1 && col("is_current")).collect()
    assert(k1open.length == 1 &&
      k1open.head.getAs[java.time.LocalDateTime]("valid_from").toString.startsWith("2024-01-01"))
    // k=2 changed: old version closed at loadTs, new open version with stage price
    val k2 = out.where(col("k") === 2).orderBy("valid_from").collect()
    assert(k2.length == 2)
    assert(!k2(0).getAs[Boolean]("is_current") &&
      k2(0).getAs[Double]("price") == 20.0 &&
      k2(0).getAs[java.time.LocalDateTime]("valid_to").toString.startsWith("2024-02-01"))
    assert(k2(1).getAs[Boolean]("is_current") && k2(1).getAs[Double]("price") == 99.0 &&
      k2(1).isNullAt(k2(1).fieldIndex("valid_to")))
    // k=3 not staged: untouched open row
    assert(out.where(col("k") === 3).count() == 1)
    // k=4 new: one open row born at loadTs
    val k4 = out.where(col("k") === 4).collect()
    assert(k4.length == 1 && k4.head.getAs[Boolean]("is_current") &&
      k4.head.getAs[java.time.LocalDateTime]("valid_from").toString.startsWith("2024-02-01"))
    out.unpersist()
  }

  test("scd2Apply is idempotent: re-applying the same stage rewrites identical content") {
    val stage = Seq((1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)).toDF("k", "status", "price")
    val once = Merge.scd2Apply(scd2History, stage, Seq("k"), "2024-02-01 00:00:00")
    val twice = Merge.scd2Apply(once, stage, Seq("k"), "2024-03-01 00:00:00")
    assertSameRows(once, twice)
  }

  test("scd2Apply closeMissing treats the stage as a full snapshot: absent keys close at loadTs") {
    val stage = Seq((2, "b", 20.0)).toDF("k", "status", "price")
    val out = Merge.scd2Apply(scd2History, stage, Seq("k"), "2024-02-01 00:00:00",
      closeMissing = true)
    // k=1 and k=3 close; k=2 unchanged stays open
    assert(out.where(col("is_current")).select("k").as[Int].collect().toSeq == Seq(2))
    assert(out.where(col("k") === 3 && !col("is_current"))
      .head().getAs[java.time.LocalDateTime]("valid_to").toString.startsWith("2024-02-01"))
  }

  test("scd2Apply: audit columns outside compareCols survive a no-op load") {
    import org.apache.spark.sql.types.TimestampNTZType
    val hist = Seq((1, "a", "loaded-day0")).toDF("k", "status", "audit")
      .withColumn("valid_from", lit("2024-01-01 00:00:00").cast(TimestampNTZType))
      .withColumn("valid_to", lit(null).cast(TimestampNTZType))
      .withColumn("is_current", lit(true))
    val stage = Seq((1, "a", "loaded-day30")).toDF("k", "status", "audit")
    val out = Merge.scd2Apply(hist, stage, Seq("k"), "2024-02-01 00:00:00",
      compareCols = Seq("status"))
    assert(out.count() == 1 &&
      out.head().getAs[String]("audit") == "loaded-day0")
  }

  test("scd2AsOf: each instant reads exactly the version valid then; unborn keys absent") {
    val stage = Seq((1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)).toDF("k", "status", "price")
    val hist = Merge.scd2Apply(scd2History, stage, Seq("k"), "2024-02-01 00:00:00")
    // before day-0 load: only the pre-closed k=1 generation existed
    val early = Merge.scd2AsOf(hist, "2023-07-01 00:00:00")
    assert(early.select("k", "status").as[(Int, String)].collect().toSeq == Seq((1, "z")))
    // between the loads: the day-0 open set, day-30 births absent
    val mid = Merge.scd2AsOf(hist, "2024-01-15 00:00:00")
    assert(mid.select("k").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(mid.where(col("k") === 2).head().getAs[Double]("price") == 20.0)
    // after day-30: current state (k=2 new version, k=4 born)
    val late = Merge.scd2AsOf(hist, "2024-06-01 00:00:00")
    assert(late.select("k").as[Int].collect().sorted.toSeq == Seq(1, 2, 3, 4))
    assert(late.where(col("k") === 2).head().getAs[Double]("price") == 99.0)
  }

  test("scd2Enrich: each fact gets the version valid at its own instant; unborn keys null") {
    val stage = Seq((1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)).toDF("k", "status", "price")
    val hist = Merge.scd2Apply(scd2History, stage, Seq("k"), "2024-02-01 00:00:00")
    val facts = Seq(
      (2, "2024-01-15 00:00:00"),  // before the change -> old price
      (2, "2024-03-15 00:00:00"),  // after  the change -> new price
      (4, "2024-01-15 00:00:00"),  // unborn at that instant -> null
      (4, "2024-03-15 00:00:00"),  // born -> stage price
      (9, "2024-03-15 00:00:00")   // key never existed -> null
    ).toDF("k", "fact_ts")
      .withColumn("fact_ts", col("fact_ts")
        .cast(org.apache.spark.sql.types.TimestampNTZType))
    val out = Merge.scd2Enrich(facts, hist, Seq("k"), "fact_ts", Seq("price"))
      .select("k", "fact_ts", "price_dim")
      .collect().map(r => (r.getInt(0), r.get(1).toString.take(10)) ->
        Option(r.get(2)).map(_.asInstanceOf[Double])).toMap
    assert(out((2, "2024-01-15")) == Some(20.0))
    assert(out((2, "2024-03-15")) == Some(99.0))
    assert(out((4, "2024-01-15")) == None)
    assert(out((4, "2024-03-15")) == Some(40.0))
    assert(out((9, "2024-03-15")) == None)
    // exactly one row per fact: the non-overlap invariant held
    assert(Merge.scd2Enrich(facts, hist, Seq("k"), "fact_ts", Seq("price")).count() == 5)
  }

  test("scd2 write form: absent target born all-open, change produces two generations, rerun idempotent") {
    val dir = tempDir("scd2") + "/dim"
    val day0 = Seq((1, "a"), (2, "b")).toDF("k", "status")
    Merge.scd2(day0, dir, Seq("k"), "2024-01-01 00:00:00")
    assert(Merge.readTarget(spark, dir).where(col("is_current")).count() == 2)
    val day1 = Seq((1, "a2"), (2, "b")).toDF("k", "status")
    Merge.scd2(day1, dir, Seq("k"), "2024-02-01 00:00:00")
    val afterOnce = Merge.readTarget(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(afterOnce.length == 3) // k=1 closed + reopened, k=2 untouched
    Merge.scd2(day1, dir, Seq("k"), "2024-03-01 00:00:00")
    val afterTwice = Merge.readTarget(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(afterOnce == afterTwice)
  }

  // ---- blocked entity resolution -------------------------------------

  test("blockedLevenshteinJoin equals the brute-force fuzzy join when blocking is recall-complete") {
    val left = Seq((1L, "alpha corp"), (2L, "beta labs"), (3L, "gamma inc"))
      .toDF("l_id", "l_name")
    val right = Seq((10L, "alpha corps"), (20L, "betta labs"), (30L, "delta inc"))
      .toDF("r_id", "r_name")
    val blocked = RelationalOps.blockedLevenshteinJoin(left, right, "l_name", "r_name",
      Seq((substring(col("l_name"), 1, 2), substring(col("r_name"), 1, 2)),
          (expr("right(l_name, 2)"), expr("right(r_name, 2)"))),
      maxDist = 2).select("l_id", "r_id", "lev_dist")
    val brute = left.crossJoin(right)
      .withColumn("lev_dist", levenshtein(col("l_name"), col("r_name")))
      .where(col("lev_dist") <= 2).select("l_id", "r_id", "lev_dist")
    assertSameRows(blocked, brute)
  }

  test("blockedLevenshteinJoin: a pair surviving several passes is emitted once") {
    val left = Seq((1L, "same name")).toDF("l_id", "l_name")
    val right = Seq((2L, "same name")).toDF("r_id", "r_name")
    val out = RelationalOps.blockedLevenshteinJoin(left, right, "l_name", "r_name",
      Seq((lit("k"), lit("k")), (lit("k"), lit("k")),
          (substring(col("l_name"), 1, 4), substring(col("r_name"), 1, 4))),
      maxDist = 0)
    assert(out.count() == 1)
  }

  test("blockedLevenshteinJoin maxBlock drops oversized blocks on either side") {
    val left = (1L to 10L).map(i => (i, s"hot $i")).toDF("l_id", "l_name")
      .unionByName(Seq((99L, "cold x")).toDF("l_id", "l_name"))
    val right = Seq((1L, "hot 1"), (2L, "cold x")).toDF("r_id", "r_name")
    // block key = first token: "hot" has 10 left rows (over the cap), "cold" has 1
    val out = RelationalOps.blockedLevenshteinJoin(left, right, "l_name", "r_name",
      Seq((split(col("l_name"), " ").getItem(0), split(col("r_name"), " ").getItem(0))),
      maxDist = 3, maxBlock = 5)
    // the hot block is dropped entirely; only the cold pair survives
    assert(out.select("l_id", "r_id").as[(Long, Long)].collect().toSeq == Seq((99L, 2L)))
  }

  test("blockedLevenshteinJoin maxKeyShare: frequency-pruned keys, per-side, scale-stable (r13 verdict #5)") {
    // left: 20 "hot" rows (50% share) + 2 "warm" (5%) + 18 distinct cold
    val left = ((1L to 20L).map(i => (i, s"hot $i")) ++
      Seq((21L, "warm a"), (22L, "warm b")) ++
      (23L to 40L).map(i => (i, s"cold$i x"))).toDF("l_id", "l_name")
    val right = Seq((1L, "hot 1"), (2L, "warm a"), (3L, "cold23 x")).toDF("r_id", "r_name")
    def run(share: Double) = RelationalOps.blockedLevenshteinJoin(
      left, right, "l_name", "r_name",
      Seq((split(col("l_name"), " ").getItem(0), split(col("r_name"), " ").getItem(0))),
      maxDist = 1, maxKeyShare = share)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // share 10%: "hot" (50% of left) is a stop-key ON THE LEFT — the
    // pair meets no block even though the right block is tiny; "warm"
    // (5%: both rows within lev 1 of "warm a") and the cold singleton
    // survive
    assert(run(0.10) == Set((21L, 2L), (22L, 2L), (23L, 3L)))
    // share 2.6% (cap = max(1, floor(0.026*40)) = 1): only singleton
    // keys survive on the left
    assert(run(0.026) == Set((23L, 3L)))
    // per-side: the RIGHT side's counts use the RIGHT side's n (each
    // right key is a 1/3-share singleton — cap floor(0.1*3)=1 keeps it)
    // and both caps COMPOSE — an absolute maxBlock below the share cap
    // binds first
    val both = RelationalOps.blockedLevenshteinJoin(left, right, "l_name", "r_name",
      Seq((split(col("l_name"), " ").getItem(0), split(col("r_name"), " ").getItem(0))),
      maxDist = 1, maxBlock = 1, maxKeyShare = 0.10)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(both == Set((23L, 3L)), "maxBlock=1 tightens the 10% share cap")
    // SCALE STABILITY — the property the absolute cap lacks: duplicate
    // the corpus (2x rows, same key SHARES) and the share-pruned key
    // set is unchanged, so the surviving match set simply doubles on
    // the duplicated side
    val left2 = left.unionByName(left.select(col("l_id") + 1000, col("l_name"))
      .toDF("l_id", "l_name"))
    val scaled = RelationalOps.blockedLevenshteinJoin(left2, right, "l_name", "r_name",
      Seq((split(col("l_name"), " ").getItem(0), split(col("r_name"), " ").getItem(0))),
      maxDist = 1, maxKeyShare = 0.10)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(scaled == Set((21L, 2L), (22L, 2L), (1021L, 2L), (1022L, 2L),
      (23L, 3L), (1023L, 3L)),
      "same keys pruned at 2x data — share cap is scale-stable")
    intercept[IllegalArgumentException] {
      RelationalOps.blockedLevenshteinJoin(left, right, "l_name", "r_name",
        Seq((lit("k"), lit("k"))), maxDist = 1, maxKeyShare = 1.5)
    }
  }

  test("blockedLevenshteinJoin maxKeyShare: tiny sides — singleton exception and exact share boundary (r15 review)") {
    def key = (split(col("l_name"), " ").getItem(0), split(col("r_name"), " ").getItem(0))
    def run(l: org.apache.spark.sql.DataFrame, share: Double) =
      RelationalOps.blockedLevenshteinJoin(l,
        Seq((1L, "aa x"), (2L, "bb z")).toDF("r_id", "r_name"),
        "l_name", "r_name", Seq(key), maxDist = 1, maxKeyShare = share)
        .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    // 2-row side, share 0.3: floor(0.3·2) = 0 clamps to cap 1 — the
    // singleton exception (a 1-row key is never a quadratic hazard,
    // whatever its share); a 2-row key (100% share) still drops
    val oneHotKey = Seq((1L, "aa x"), (2L, "aa y")).toDF("l_id", "l_name")
    assert(run(oneHotKey, 0.3) == Set.empty, "2-row key on a 2-row side drops")
    val twoSingletons = Seq((1L, "aa x"), (2L, "bb y")).toDF("l_id", "l_name")
    assert(run(twoSingletons, 0.3) == Set((1L, 1L), (2L, 2L)),
      "singletons survive despite 50% > 30% share — the documented exception")
    // exact boundary: drop is strictly-greater-than-share — a key at
    // EXACTLY the share (2 of 4 rows at 0.5) is kept
    val atBoundary = Seq((1L, "aa x"), (2L, "aa y"), (3L, "bb y"), (4L, "cc y"))
      .toDF("l_id", "l_name")
    assert(run(atBoundary, 0.5) == Set((1L, 1L), (2L, 1L), (3L, 2L)),
      "a key at exactly the share threshold (2 of 4 at 0.5) is kept")
    // ...and one row past it drops (3 of 5 rows > 0.5); the bb
    // singleton rides through untouched
    val pastBoundary = Seq((1L, "aa x"), (2L, "aa y"), (5L, "aa z"),
      (3L, "bb y"), (4L, "cc y")).toDF("l_id", "l_name")
    assert(run(pastBoundary, 0.5) == Set((3L, 2L)),
      "a key strictly past the share threshold drops")
  }

  test("pivotAgg: explicit-values cross-tab matches conditional aggregation; off-list values dropped") {
    val df = Seq(("x", "F", 10.0), ("x", "O", 20.0), ("x", "F", 5.0),
      ("y", "O", 7.0), ("y", "Z", 99.0)).toDF("k", "st", "v")
    val out = RelationalOps.pivotAgg(df, Seq("k"), "st", Seq("F", "O"),
      expr("sum(v)")).collect().map(r =>
      r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out("x") == (Some(15.0), Some(20.0)))
    assert(out("y") == (None, Some(7.0))) // no F rows -> null; Z dropped by declaration
    intercept[IllegalArgumentException] {
      RelationalOps.pivotAgg(df, Seq("k"), "st", Nil, expr("sum(v)"))
    }
  }

  test("blockedLevenshteinJoin rejects overlapping column names") {
    val df = Seq((1L, "x")).toDF("id", "name")
    intercept[IllegalArgumentException] {
      RelationalOps.blockedLevenshteinJoin(df, df, "name", "name",
        Seq((lit("k"), lit("k"))), maxDist = 1)
    }
  }

  test("scd2Apply rejects an out-of-order loadTs that would close a version before it opened") {
    // open version born 2024-01-01; a replayed stage stamped 2023-12-01
    // that CHANGES the key would write valid_to < valid_from → must throw
    val stage = Seq((2, "b", 77.0)).toDF("k", "status", "price")
    val e = intercept[Exception] {
      Merge.scd2Apply(scd2History, stage, Seq("k"), "2023-12-01 00:00:00").collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("out-of-order") ||
      (e.getCause != null && e.getCause.getMessage.contains("out-of-order")))
  }

  test("scd2Apply: an out-of-order loadTs that changes NOTHING still no-ops idempotently") {
    // same-valued replay with an old stamp closes no rows → guard silent
    val stage = Seq((2, "b", 20.0)).toDF("k", "status", "price")
    val out = Merge.scd2Apply(scd2History, stage, Seq("k"), "2023-12-01 00:00:00")
    assertSameRows(out, scd2History)
  }

  // ---- PointerCommit: the S3-safe manifest protocol ----

  test("PointerCommit: overwrite+upsert roundtrip resolves through the manifest, idempotent") {
    val dir = freshDir()
    Merge.overwrite(Seq((1, 10), (2, 20)).toDF("k", "v"), dir, Merge.PointerCommit)
    assert(Merge.targetExists(spark, dir))
    assert(new java.io.File(dir, "_current").exists(), "manifest published")
    Merge.upsert(Seq((2, 99), (3, 30)).toDF("k", "v"), dir, Seq("k"),
      commit = Merge.PointerCommit)
    val once = Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet
    assert(once == Set((1, 10), (2, 99), (3, 30)))
    Merge.upsert(Seq((2, 99), (3, 30)).toDF("k", "v"), dir, Seq("k"),
      commit = Merge.PointerCommit)
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == once)
    // GC keeps the live dir + the JUST-superseded one (reader grace) and
    // collects everything older — after 3 commits exactly 2 remain
    val dataDirs = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("__data_"))
    assert(dataDirs.length == 2, s"live + graced prev only: ${dataDirs.toSeq}")
  }

  test("PointerCommit GC grace: the superseded data dir survives exactly one commit") {
    val dir = freshDir()
    Merge.overwrite(Seq((1, 1)).toDF("k", "v"), dir, Merge.PointerCommit)
    val gen1 = Files.readString(new java.io.File(dir, "_current").toPath)
    Merge.overwrite(Seq((2, 2)).toDF("k", "v"), dir, Merge.PointerCommit)
    val gen2 = Files.readString(new java.io.File(dir, "_current").toPath)
    // a reader that resolved gen1 just before the swap can still finish
    // its scan: the gen1 dir is intact through this commit interval
    val namesAfter2 = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(namesAfter2.contains(gen1), s"graced prev kept: $namesAfter2")
    assert(spark.read.parquet(new java.io.File(dir, gen1).toString)
      .as[(Int, Int)].collect().toSet == Set((1, 1)), "graced dir still scannable")
    Merge.overwrite(Seq((3, 3)).toDF("k", "v"), dir, Merge.PointerCommit)
    val namesAfter3 = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!namesAfter3.contains(gen1), s"gen1 collected on the NEXT commit: $namesAfter3")
    assert(namesAfter3.contains(gen2), s"gen2 now the graced prev: $namesAfter3")
  }

  test("append fails fast on a pointer-committed target under RenameCommit") {
    val dir = freshDir()
    Merge.overwrite(Seq((1, 10)).toDF("k", "v"), dir, Merge.PointerCommit)
    // the r13 ADVICE #3 trap: raw file append would write rows readers
    // resolving the manifest never see — must refuse, not silently lose
    intercept[IllegalArgumentException] {
      Merge.append(Seq((2, 20)).toDF("k", "v"), dir)
    }
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == Set((1, 10)))
  }

  test("PointerCommit append routes through the manifest: rows visible, mode guarded") {
    val dir = freshDir()
    Merge.insert(Seq((1, 10)).toDF("k", "v"), dir, Merge.Append, Merge.PointerCommit)
    Merge.insert(Seq((2, 20)).toDF("k", "v"), dir, Merge.Append, Merge.PointerCommit)
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet ==
      Set((1, 10), (2, 20)))
    // and the reverse mode-mix also refuses: PointerCommit append onto a
    // rename-committed directory would orphan the existing root files
    val dir2 = freshDir()
    Merge.overwrite(Seq((1, 1)).toDF("k", "v"), dir2)
    intercept[IllegalArgumentException] {
      Merge.append(Seq((2, 2)).toDF("k", "v"), dir2, Merge.PointerCommit)
    }
  }

  test("swapWith/atomicReplace refuse commit-mode mixes in both directions (r14 ADVICE #2)") {
    // PointerCommit rewrite over a rename-committed dir: a manifest
    // plain readers never consult, stale root files never GC'd — refuse
    val dir = freshDir()
    Merge.overwrite(Seq((1, 1)).toDF("k", "v"), dir)
    intercept[IllegalArgumentException] {
      Merge.swapWith(spark, dir, Merge.PointerCommit)(d =>
        graft.io.Writers.parquet(Seq((9, 9)).toDF("k", "v"), d))
    }
    intercept[IllegalArgumentException] {
      Merge.upsert(Seq((9, 9)).toDF("k", "v"), dir, Seq("k"),
        commit = Merge.PointerCommit)
    }
    intercept[IllegalArgumentException] {
      graft.layout.LayoutOps.compact(spark, dir, commit = Merge.PointerCommit)
    }
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == Set((1, 1)),
      "refused rewrites left the target untouched")
    // RenameCommit rewrite over a pointer-committed dir: would
    // rename-swap the whole manifest tree — refuse
    val dir2 = freshDir()
    Merge.overwrite(Seq((2, 2)).toDF("k", "v"), dir2, Merge.PointerCommit)
    intercept[IllegalArgumentException] {
      Merge.swapWith(spark, dir2, Merge.RenameCommit)(d =>
        graft.io.Writers.parquet(Seq((9, 9)).toDF("k", "v"), d))
    }
    intercept[IllegalArgumentException] {
      graft.layout.LayoutOps.compact(spark, dir2) // RenameCommit default
    }
    intercept[IllegalArgumentException] {
      Merge.upsert(Seq((9, 9)).toDF("k", "v"), dir2, Seq("k"))
    }
    // every index builder publishes through swapWith, so each refuses
    // the same mix instead of rename-swapping the manifest tree
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val emb = Seq((1L, Array.fill(64)(0.5))).toDF("vec_id", "embedding")
    val cents = Some(Array((0, Array.fill(64)(0.0))))
    val rc = Merge.RenameCommit
    val builders: Seq[(String, () => Any)] = Seq(
      "writeDedupIndex" -> (() =>
        graft.dedup.DedupOps.writeDedupIndex(docs, dir2, "doc_id", "text", commit = rc)),
      "writeWinnowIndex" -> (() =>
        graft.text.TextOps.writeWinnowIndex(docs, dir2, "doc_id", "text", commit = rc)),
      "lshWriteIndex" -> (() => graft.similarity.SimilarityOps.lshWriteIndex(
        emb, dir2, "vec_id", "embedding", nbits = 4, commit = rc)),
      "ivfWriteIndex" -> (() => graft.similarity.SimilarityOps.ivfWriteIndex(
        emb, dir2, "vec_id", "embedding", nLists = 1, precomputed = cents, commit = rc)),
      "ivfPqWriteIndex" -> (() => graft.similarity.SimilarityOps.ivfPqWriteIndex(
        emb, dir2, "vec_id", "embedding", nLists = 1, m = 8, codebookK = 16,
        centroids = cents, codebooks = Some(Array.fill(8, 16)(Array.fill(8)(0.0))),
        commit = rc)),
      "bm25WriteIndex" -> (() =>
        graft.text.RetrievalOps.bm25WriteIndex(docs, dir2, "doc_id", "text", commit = rc)))
    builders.foreach { case (name, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains("is pointer-committed"), s"$name: ${e.getMessage}")
    }
    assert(Merge.readTarget(spark, dir2).as[(Int, Int)].collect().toSet == Set((2, 2)))
  }

  test("overwrite(PointerCommit) converts a rename-mode dir; superseded root files GC'd one graced commit later") {
    val dir = freshDir()
    Merge.overwrite(Seq((1, 1)).toDF("k", "v"), dir) // rename birth: root part files
    Merge.overwrite(Seq((2, 2)).toDF("k", "v"), dir, Merge.PointerCommit) // sanctioned conversion
    val names1 = new java.io.File(dir).listFiles().map(_.getName).toSet
    // grace: a plain reader mid-scan of the old root files gets this
    // whole commit interval to finish (the pointerSwap reader-grace rule)
    assert(names1.exists(_.endsWith(".parquet")),
      s"old root files graced through the converting commit: $names1")
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == Set((2, 2)))
    Merge.overwrite(Seq((3, 3)).toDF("k", "v"), dir, Merge.PointerCommit)
    val names2 = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names2.forall(n => n.startsWith("__data_") || n.startsWith("_current") ||
      n.startsWith("._current")), // the manifest's own local-FS crc sibling stays
      s"conversion leftovers collected on the NEXT commit: $names2")
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == Set((3, 3)))
  }

  test("pointerSwap stray GC spares out-of-protocol root files; rename leftovers still collected (r15 advice)") {
    val dir = freshDir()
    Merge.overwrite(Seq((1, 1)).toDF("k", "v"), dir, Merge.PointerCommit)
    // an operator drops a note + a foreign tool drops a dir at the root
    Files.writeString(new java.io.File(dir, "README.txt").toPath, "hands off")
    val foreign = new java.io.File(dir, "foreign_tool_state")
    assert(foreign.mkdir())
    Files.writeString(new java.io.File(foreign, "state").toPath, "x")
    // ...but a rename-conversion leftover (data shape) IS collectable
    Files.writeString(new java.io.File(dir, "part-00000-dead.snappy.parquet").toPath, "old")
    Merge.overwrite(Seq((2, 2)).toDF("k", "v"), dir, Merge.PointerCommit)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("README.txt"), s"out-of-protocol file survives: $names")
    assert(names.contains("foreign_tool_state"), s"foreign dir survives: $names")
    assert(!names.contains("part-00000-dead.snappy.parquet"),
      s"data-shaped leftover collected: $names")
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == Set((2, 2)))
  }

  test("PointerCommit crash-injection: a writer dying mid-write never changes what readers see") {
    val dir = freshDir()
    Merge.overwrite(Seq((1, 10)).toDF("k", "v"), dir, Merge.PointerCommit)
    val before = Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet
    val manifestBefore = Files.readString(new java.io.File(dir, "_current").toPath)
    // crash DURING the data write, with partial files already on disk
    intercept[RuntimeException] {
      Merge.pointerSwap(spark, dir) { d =>
        graft.io.Writers.parquet(Seq((9, 9)).toDF("k", "v"), d)
        throw new RuntimeException("writer killed")
      }
    }
    assert(Files.readString(new java.io.File(dir, "_current").toPath) == manifestBefore)
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == before)
  }

  test("PointerCommit: orphans from a killed writer are invisible to readers and GC'd by the next commit") {
    val dir = freshDir()
    Merge.overwrite(Seq((1, 10)).toDF("k", "v"), dir, Merge.PointerCommit)
    // a kill -9 leaves an unpublished data dir + a manifest temp behind
    val orphan = new java.io.File(dir, "__data_orphan1")
    assert(orphan.mkdir())
    Files.writeString(new java.io.File(orphan, "part-0.parquet").toPath, "torn bytes")
    Files.writeString(new java.io.File(dir, "_current.tmp_dead1").toPath, "__data_orphan1")
    // readers resolve the published manifest only
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == Set((1, 10)))
    Merge.overwrite(Seq((2, 20)).toDF("k", "v"), dir, Merge.PointerCommit)
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(!names.contains("__data_orphan1") && !names.contains("_current.tmp_dead1"),
      s"orphans swept: $names")
    assert(Merge.readTarget(spark, dir).as[(Int, Int)].collect().toSet == Set((2, 20)))
  }

  test("targetExists: a directory holding only unpublished pointer debris does not exist as a table") {
    val dir = freshDir()
    val d = new java.io.File(dir)
    assert(d.mkdirs())
    assert(!Merge.targetExists(spark, dir))
    val orphan = new java.io.File(d, "__data_x"); orphan.mkdir()
    Files.writeString(new java.io.File(d, "_current.tmp_y").toPath, "__data_x")
    assert(!Merge.targetExists(spark, dir),
      "debris-only dir must read as absent so a first upsert degrades to overwrite")
    Merge.overwrite(Seq((1, 1)).toDF("k", "v"), dir, Merge.PointerCommit)
    assert(Merge.targetExists(spark, dir))
  }

  test("PointerCommit: upsert rejects the partition-scoped path") {
    val dir = freshDir()
    Merge.overwrite(Seq((1, "p1", 1)).toDF("k", "part", "v"), dir, Merge.PointerCommit)
    intercept[IllegalArgumentException] {
      Merge.upsert(Seq((1, "p1", 2)).toDF("k", "part", "v"), dir, Seq("k"),
        prunePartitions = Seq("part"), commit = Merge.PointerCommit)
    }
    // ...and the RENAME-mode scoped path also refuses a pointered
    // target (r15 review): dynamic overwrite would write root
    // partitions beside the __data_ generations, invisible to manifest
    // readers — the append trap through a different door
    intercept[IllegalArgumentException] {
      Merge.upsert(Seq((1, "p1", 2)).toDF("k", "part", "v"), dir, Seq("k"),
        prunePartitions = Seq("part"))
    }
    assert(Merge.readTarget(spark, dir).as[(Int, String, Int)].collect().toSet ==
      Set((1, "p1", 1)), "refused writes left the target untouched")
  }
}
