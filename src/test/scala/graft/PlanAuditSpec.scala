package graft

import java.nio.file.{Files, Paths}

import graft.PlanAudit.{QueryShapes, Shape, diff, parse, render, shapeOf}
import graft.util.Materialize

/** The ENFORCED plan gate. Every registered query is planned at sf0.001 under
  * the canonical session, then EXECUTED so AQE commits to its final
  * plan, and BOTH shapes — static (pre-execution) and adaptive-final
  * — are compared against the committed `plan_snapshot.json`. A
  * silently degraded plan — a join that lost its broadcast at
  * planning OR was demoted by AQE at runtime (small-side estimate
  * drifting over the threshold), a new BNLJ, any cartesian in either
  * print — now fails `sbt test` instead of hiding inside noisy bench
  * wall-time.
  *
  * Plans are built CACHE-FREE (clearCache + RDD sweep before each
  * query), so the shape is a function of the code and the fixtures,
  * never of which suite ran earlier in the JVM. Execution at sf0.001
  * is cheap (the same queries already execute in Verify at 10× the
  * data) and is driven through the query's OWN QueryExecution
  * (`toRdd.count()`), so the final-plan read observes exactly the
  * adaptive decisions the gate is about.
  *
  * On intentional plan changes regenerate with
  * `GRAFT_PLAN_SNAPSHOT_UPDATE=1 sbt "testOnly graft.PlanAuditSpec"`
  * and commit the diff with the change that caused it.
  *
  * The same pass is the LEAK gate: each query is built inside a
  * `Materialize.scoped` block and released after its execution, and
  * the session must then be back at the baseline taken after the
  * pre-query sweep — no persistent RDD and no CacheManager entry
  * left — unless the query is on [[LeakAllowList]] with its reason.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // audited = every registered query PLUS the audit-only subtrees
  // (frames a parent query eagerly checkpoints — the gate must see
  // the PRE-checkpoint shape too)
  private def audited = SparkEntry.queries ++ SparkEntry.auditOnlyPlans

  /** Queries whose blocks may outlive their scope, each with the
    * reason. No entry may name an engine operator's persist: those
    * register with the caller's scope (`graft.util.Materialize`). */
  private val LeakAllowList: Map[String, String] = Map()

  /** One query's plan shapes plus what it left behind once its scope
    * was released: `(persistent RDDs, CacheManager left non-empty)`. */
  private def shapesOf(name: String): (QueryShapes, (Int, Boolean)) = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    val (rdds0, cacheEmpty0) = (sc.getPersistentRDDs.keySet, spark.sharedState.cacheManager.isEmpty)
    try {
      val (qe, release) = Materialize.scoped(audited(name)(spark, sfDir).queryExecution)
      val static = shapeOf(qe.executedPlan.toString())
      qe.toRdd.count() // materialize every stage → AQE final plan
      val shapes = QueryShapes(static, shapeOf(qe.executedPlan.toString()))
      release()
      (shapes, (sc.getPersistentRDDs.keySet.diff(rdds0).size,
        spark.sharedState.cacheManager.isEmpty != cacheEmpty0))
    } catch { case e: Throwable =>
      fail(s"plan gate: $name failed to plan/execute: ${e.toString.take(300)}")
    }
  }

  // one pass over every audited query feeds both gates
  private lazy val runs: Seq[(String, (QueryShapes, (Int, Boolean)))] =
    audited.keys.toSeq.sorted.map(n => n -> shapesOf(n))

  private def currentShapes(): Seq[(String, QueryShapes)] =
    runs.map { case (n, (qs, _)) => n -> qs }

  test("plan gate: zero cartesians; static AND adaptive-final shapes match the committed snapshot") {
    val shapes = currentShapes()
    val cartesians = shapes.collect {
      case (n, qs) if qs.static.cartesian + qs.fin.cartesian > 0 => n
    }
    assert(cartesians.isEmpty,
      s"CartesianProduct planned in: ${cartesians.mkString(", ")}")
    if (sys.env.get("GRAFT_PLAN_SNAPSHOT_UPDATE").contains("1")) {
      // update ergonomics: the rewrite covers ALL queries,
      // so an UNINTENDED drift in an unrelated query would get baked in
      // silently — print the old-vs-new diff so the committer sees
      // exactly which shapes the regeneration is re-pinning
      if (Files.exists(Paths.get(PlanAudit.SnapshotFile))) {
        val old = parse(Files.readString(Paths.get(PlanAudit.SnapshotFile)))
        val changed = diff(old, shapes.toMap)
        info(if (changed.isEmpty) "snapshot update: no shape changes"
        else s"snapshot update re-pins ${changed.size} shape(s) — verify " +
          s"each is intended:\n  ${changed.mkString("\n  ")}")
        changed.foreach(c => System.err.println(s"[plan-gate] re-pinned: $c"))
      }
      Files.writeString(Paths.get(PlanAudit.SnapshotFile), render(shapes))
      info(s"snapshot rewritten: ${shapes.size} queries")
    } else {
      assert(Files.exists(Paths.get(PlanAudit.SnapshotFile)),
        s"missing ${PlanAudit.SnapshotFile}; generate with " +
          "GRAFT_PLAN_SNAPSHOT_UPDATE=1 sbt \"testOnly graft.PlanAuditSpec\"")
      val snap = parse(Files.readString(Paths.get(PlanAudit.SnapshotFile)))
      val cur = shapes.toMap
      // FINAL-shape flap absorber: AQE's post-shuffle coalescing
      // makes borderline ENSURE_REQUIREMENTS-exchange decisions from
      // RUNTIME byte sizes, which vary with record order/compression at
      // sf0.001 — q_neighborhood_paths measured final 47↔48 across four
      // identical executions in one JVM (3:1), a ±1-exchange
      // environmental flap, not a plan change. A mismatch that is
      // final-EXCHANGE-count-only (static identical, bnlj/bhj identical
      // — a demotion moves bhj and stays a hard fail) gets up to two
      // fresh re-executions: a REAL plan change reproduces the NEW
      // shape every time, a flap reproduces the committed one. Retries
      // are logged so absorbed flaps stay visible, never silent.
      val flapAbsorbed = cur.keys.toSeq.sorted.filter { n =>
        snap.get(n).exists { s =>
          PlanAudit.absorbFlap(s, cur(n), () => shapesOf(n)._1, (i, fin, ok) => {
            info(s"final-exchange flap retry $i for $n: " +
              s"${fin.exchanges} vs committed ${s.fin.exchanges}" +
              (if (ok) " — absorbed (environmental AQE coalesce)" else ""))
            System.err.println(s"[plan-gate] flap retry $i $n: final " +
              s"${fin.exchanges} vs committed ${s.fin.exchanges} ok=$ok")
          })
        }
      }.toSet
      val drifts = diff(snap, cur.filterNot { case (n, _) => flapAbsorbed(n) }
        .++(flapAbsorbed.toSeq.map(n => n -> snap(n))))
      assert(drifts.isEmpty,
        s"""plan drift in ${drifts.size} queries:
           |  ${drifts.mkString("\n  ")}
           |If intentional, regenerate the snapshot with
           |GRAFT_PLAN_SNAPSHOT_UPDATE=1 sbt "testOnly graft.PlanAuditSpec"
           |and commit it with the change.""".stripMargin)
    }
  }

  test("leak gate: every query returns the session to its baseline once its scope is released") {
    val leaks = runs.collect { case (n, (_, (rdds, cache))) if rdds > 0 || cache =>
      n -> (s"$rdds persisted RDDs" + (if (cache) " + CacheManager entries" else ""))
    }.toMap
    val unexplained = leaks.keySet -- LeakAllowList.keySet
    assert(unexplained.isEmpty, "blocks left after the query's scope was released:\n  " +
      unexplained.toSeq.sorted.map(n => s"$n: ${leaks(n)}").mkString("\n  "))
    // the allow-list is the exact census: an entry that stopped leaking goes
    val stale = LeakAllowList.keySet -- leaks.keySet
    assert(stale.isEmpty, s"allow-listed queries that no longer leak: ${stale.toSeq.sorted}")
    assert(LeakAllowList.forall { case (n, why) => audited.contains(n) && why.nonEmpty })
  }

  test("audit-only builder is probe-stable: re-building the clean-ids frame leaves the bloom artifact untouched (r17 ADVICE #3)") {
    // absorbFlap re-executes plan probes to detect environmental flaps;
    // a builder that deletes+rewrites its scratch bloom per probe would
    // perturb the very at-rest artifact whose shape is being re-checked
    val build = SparkEntry.auditOnlyPlans("q_decontam_clean_ids_pre")
    build(spark, sfDir).queryExecution.executedPlan: Unit
    val bloomDir = new java.io.File(
      graft.util.Scratch.path("pipeline_bloom_audit", sfDir))
    def stamp = bloomDir.listFiles() match {
      case null => Seq.empty
      case fs => fs.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty)
        .map(f => (f.getPath, f.lastModified()))).sortBy(_._1).toSeq
    }
    val first = stamp
    assert(first.nonEmpty, "first probe must have built the session bloom")
    build(spark, sfDir).queryExecution.executedPlan: Unit
    assert(stamp == first, "re-probe must reuse the session bloom, not rewrite it")
  }

  test("comparator flags planted regressions: extra exchange, new BNLJ, AQE demotion, added/removed query") {
    def qs(se: Int, sb: Int, sh: Int, fe: Int, fb: Int, fh: Int) =
      QueryShapes(Shape(se, sb, 0, sh), Shape(fe, fb, 0, fh))
    val snap = Map(
      "a" -> qs(3, 0, 1, 3, 0, 1),
      "b" -> qs(1, 1, 0, 1, 1, 0),
      "demoted" -> qs(2, 0, 2, 2, 0, 2),
      "gone" -> qs(2, 0, 0, 2, 0, 0))
    val cur = Map(
      "a" -> qs(4, 0, 1, 4, 0, 1),              // static regression
      "b" -> qs(1, 2, 0, 1, 2, 0),              // new BNLJ
      // a static-only gate's blind spot: static identical, but AQE demoted a
      // broadcast at runtime — final bhj 2->1, final exchanges 2->4
      "demoted" -> qs(2, 0, 2, 4, 0, 1),
      "new" -> qs(0, 0, 0, 0, 0, 0))
    val d = diff(snap, cur)
    assert(d.exists(s => s.startsWith("a:") && s.contains("static exchanges 3->4")))
    assert(d.exists(s => s.startsWith("b:") && s.contains("bnlj 1->2")))
    assert(d.exists(s => s.startsWith("demoted:") &&
      s.contains("final exchanges 2->4") && s.contains("bhj 2->1") &&
      !s.contains("static")), s"demotion must show as FINAL-only drift: $d")
    assert(d.exists(_.startsWith("gone: in snapshot")))
    assert(d.exists(_.startsWith("new: new query")))
    assert(diff(snap, snap).isEmpty)
    // render/parse roundtrip preserves every shape
    assert(parse(render(snap.toSeq)) == snap)
  }

  test("flap absorber: a REPRODUCING exchange regression fails; only a true flap absorbs (r17)") {
    def qs(se: Int, sb: Int, sh: Int, fe: Int, fb: Int, fh: Int) =
      QueryShapes(Shape(se, sb, 0, sh), Shape(fe, fb, 0, fh))
    val committed = qs(26, 0, 13, 47, 0, 20)
    val drifted = qs(26, 0, 13, 48, 0, 20)     // final-exchange-only delta
    // REAL regression: every re-execution reproduces the NEW shape —
    // both retries run, neither matches, the gate must NOT absorb
    var reruns = 0
    assert(!PlanAudit.absorbFlap(committed, drifted,
      () => { reruns += 1; drifted }))
    assert(reruns == 2, s"a reproducing delta gets exactly two retries, got $reruns")
    // TRUE flap: the second re-execution lands back on the committed
    // shape — absorbed, with both retries logged
    var log = List.empty[(Int, Boolean)]
    var n = 0
    assert(PlanAudit.absorbFlap(committed, drifted,
      () => { n += 1; if (n == 1) drifted else committed },
      (i, _, ok) => log ::= (i, ok)))
    assert(log.reverse == List((1, false), (2, true)))
    // ineligible mismatches never pay a re-run: static drift, a bhj
    // move (demotion), or no mismatch at all
    def poison(): QueryShapes = fail("reExec must not run for ineligible mismatch")
    assert(!PlanAudit.absorbFlap(committed, qs(27, 0, 13, 48, 0, 20), () => poison()))
    assert(!PlanAudit.absorbFlap(committed, qs(26, 0, 13, 49, 0, 19), () => poison()))
    assert(!PlanAudit.absorbFlap(committed, committed, () => poison()))
  }

  test("committed scale_curves.json parses, names registered queries, ratios consistent") {
    val p = Paths.get(ScaleCurves.CurvesFile)
    assert(Files.exists(p), s"${ScaleCurves.CurvesFile} missing — regenerate with " +
      "SPARK_GRAFT_CPUS=32 sbt \"runMain graft.ScaleCurves\" on a quiet host")
    val curves = ScaleCurves.parse(Files.readString(p))
    assert(curves.nonEmpty, "scale_curves.json parsed to zero entries")
    val stale = curves.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"curves for unregistered queries (renamed/removed?): ${stale.toSeq.sorted.mkString(", ")}")
    curves.foreach { case (q, (a, b)) =>
      assert(a > 0 && a < 600 && b > 0 && b < 3600, s"$q curve outside sane range: ($a, $b)")
    }
    // every tracked curve query is present (a silently dropped family
    // would otherwise vanish from the judge's diff without a trace)
    val missing = ScaleCurves.CurveQueries.toSet -- curves.keySet
    assert(missing.isEmpty, s"curve queries missing from the file: ${missing.toSeq.sorted}")
  }

  test("shapeOf counts the four signals and skips synthetic-column shuffles") {
    val plan =
      """*(3) Project
        |+- Exchange hashpartitioning(k#12, 4)
        |   +- BroadcastNestedLoopJoin BuildRight, Inner
        |      :- Exchange hashpartitioning(__salt#9, 4)
        |      +- CartesianProduct
        |         :- BroadcastHashJoin [k#3], [k#7], Inner, BuildRight
        |         +- ReusedExchange [k#3]""".stripMargin
    val s = shapeOf(plan)
    // the __salt exchange is operator-controlled and excluded; the
    // ReusedExchange counts (reuse vanishing is a plan change)
    assert(s == Shape(exchanges = 2, bnlj = 1, cartesian = 1, bhj = 1))
  }
}
