package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-data assembly the decontam-split queries
  * exercise, as a reusable engine surface: bloom-gated benchmark
  * decontamination → near-dup closure over the survivors →
  * leakage-safe split (contaminated docs out first, then every
  * remaining dup cluster lands wholly in one split).
  *
  * Two pair tiers, routed:
  *   - [[Exact]]: the n-gram Jaccard shingle join — recall 1.0 over
  *     the informative shingles, but the composition's SOLE measured
  *     100× slope owner (`SCALING.md` decade attribution: pair stage
  *     4.7 s → 12.3 s → 109 s across sf0.1/1/10, 2.6× then 8.9× per
  *     decade; the whole composition 138.9 s at sf10).
  *   - [[Sig]]: the banded-MinHash signature join — measured 2.2×
  *     then 3.4× per decade at the pair stage (17.8 s at sf10, 6.1×
  *     under exact), 52.8 s composition at sf10. The scale path.
  *   - [[Auto]] (default): route by CLEAN-CORPUS SIZE — doc count
  *     AND shingle mass, both read from the already-materialized
  *     clean-id frame (it carries each doc's contamination-check
  *     shingle count), so the decision costs one bounded-frame agg,
  *     never a corpus pass. EITHER predicate exceeding routes to
  *     signatures: above [[AutoSigDocThreshold]] clean docs the
  *     exact tier's measured ceiling says sig, and above
  *     [[AutoSigShingleMassThreshold]] total shingles the same
  *     ceiling is hit by LONG docs at low doc counts (the pair
  *     stage's cost actually scales with exploded shingle/bucket
  *     mass, not doc count — 50k novels shingle like 2M tweets).
  *     The routing decision is logged with both figures.
  *
  * [[AutoSigDocThreshold]] = 100k docs sits one decade under the
  * measured sf10 blowup (~500k docs → 109 s exact vs 17.8 s sig on
  * 32 cores) and one decade over where exact is still comfortably
  * interactive (~5k docs → ~4.7 s): at 100k the exact pair stage
  * already costs ~2.3× the sig stage and is on the 8.9×/decade
  * branch of its curve. Those curves were measured on the ~54-token
  * fixture documents (~47 8-gram shingles each — a doc-length
  * assumption the doc count alone hides), so the SAME operating point
  * expressed length-independently is
  * [[AutoSigShingleMassThreshold]] = 5e6 total shingles
  * (100k docs × ~47); corpora of longer documents hit it at
  * proportionally fewer docs, which is exactly how the pair join's
  * cost behaves.
  *
  * Memory contract: the clean-id projection is materialized ONCE
  * (a lazy plan re-runs the whole bloom gate — shingle + probe over
  * the corpus — per downstream consumer; 185 s vs ~90 s of stage work
  * at 100× data) via `Materialize.bounded`, and the returned split
  * frame reads the CC fixpoint lazily. Both register with the
  * caller's `Materialize.scoped` block: a long-lived session invoking
  * the composition repeatedly wraps it and releases AFTER an action
  * has materialized the split (the severed clean-id blocks are
  * unrecoverable — a released frame cannot be recomputed).
  *
  * Reference scope: beyond-reference LLM-pipeline tier; stage
  * semantics are the oracle-gated `q_decontam_dedup_split` /
  * `q_decontam_dedup_split_sig` queries', verified against DuckDB
  * replays at sf0.01 and sf0.1.
  */
object DecontamPipeline {

  /** Near-dup pair tier for the closure stage. */
  sealed trait Tier
  /** Exact n-gram Jaccard pairs — recall 1.0, 8.9×/decade measured. */
  case object Exact extends Tier
  /** Banded-MinHash signature pairs — 3.4×/decade measured. */
  case object Sig extends Tier
  /** Route by clean-corpus size against [[AutoSigDocThreshold]]. */
  case object Auto extends Tier

  /** Clean-doc count above which [[Auto]] routes to [[Sig]] (see
    * class doc for the measured derivation). */
  val AutoSigDocThreshold = 100000L

  /** Total clean-corpus shingle mass above which [[Auto]] routes to
    * [[Sig]] — the doc threshold's operating point re-expressed
    * length-independently (100k fixture docs × ~47 shingles; see
    * class doc). Guards the long-doc corpus the doc count misses. */
  val AutoSigShingleMassThreshold = 5000000L

  /** The composition. `bloomDir` is the at-rest benchmark shingle
    * bloom ([[graft.dedup.DedupOps.benchmarkShingleBloom]]) the gate
    * probes; `bench` is the same benchmark frame, joined exactly
    * against the bloom's surviving candidates. Output:
    * `(<idCol>, group_id, <split>)` — one row per clean doc.
    *
    * The pair-stage cache is consumed and released internally (the
    * connected-components build materializes it). The clean-id
    * checkpoint and, above the CC local threshold (exactly the
    * at-scale Sig/Auto regime), the CC fixpoint back the returned split
    * frame, so they register with the caller's scope and can only be
    * freed by it, never internally. `ccLocalThreshold` forces the CC
    * tier (specs drive the distributed one). */
  def decontamDedupSplit(
      docs: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, bloomDir: String,
      splits: Seq[(String, Double)],
      salt: String = "split",
      tier: Tier = Auto,
      contamShingleN: Int = 8,
      pairShingleN: Int = 3,
      jaccardThreshold: Double = 0.5,
      sigK: Int = 16, sigBands: Int = 8,
      sigThreshold: Double = 0.4,
      maxBucket: Int = 1000,
      portable: Boolean = false,
      autoSigThreshold: Long = AutoSigDocThreshold,
      autoSigMassThreshold: Long = AutoSigShingleMassThreshold,
      ccLocalThreshold: Int = 100000): DataFrame = {
    require(autoSigThreshold >= 0, s"autoSigThreshold=$autoSigThreshold must be >= 0")
    require(autoSigMassThreshold >= 0,
      s"autoSigMassThreshold=$autoSigMassThreshold must be >= 0")
    val cleanIds = graft.util.Materialize.bounded(
      cleanIdsPlan(docs, idCol, textCol, bench, bloomDir, contamShingleN))
    val clean = docs.join(cleanIds, Seq(idCol), "left_semi")
    val chosen = resolveTier(tier, cleanIds, autoSigThreshold, autoSigMassThreshold)
    val (pairs, releasePairs) = graft.util.Materialize.scoped {
      chosen match {
        case Exact => graft.dedup.DedupOps.ngramJaccardPairs(
          clean, idCol, textCol, pairShingleN, jaccardThreshold, maxBucket)
        case Sig => graft.dedup.DedupOps.minhashNearDupPairs(
          clean, idCol, textCol, pairShingleN, sigK, sigBands, sigThreshold,
          portable, maxBucket)
        case Auto => throw new IllegalStateException("resolveTier returned Auto")
      }
    }
    val cc = graft.graph.GraphOps.connectedComponents(
      pairs, "id_a", "id_b", localThreshold = ccLocalThreshold)
    releasePairs()   // the CC build materialized the pair pipeline
    // leakageSafeSplit is lazy — the split frame reads the CC fixpoint
    graft.training.TrainingOps.leakageSafeSplit(cleanIds, idCol, cc,
        splits, salt, portable)
      .select(col(idCol), col("group_id"), col("split"))
  }

  /** The UN-checkpointed clean-id subtree — bloom-gated contamination
    * check → zero-hit filter → id projection. Factored so the
    * enforced plan gate can audit the PRE-checkpoint shape: the eager
    * checkpoint hides this subtree from the parent composition's
    * audited plan (its snapshot sees only the final split join), so
    * cartesian/BNLJ/exchange drift inside the gate subtree would
    * otherwise be invisible (registered as the
    * `q_decontam_clean_ids_pre` audit-only entry in
    * `SparkEntry.auditOnlyPlans`). */
  private[graft] def cleanIdsPlan(docs: DataFrame, idCol: String, textCol: String,
                                  bench: DataFrame, bloomDir: String,
                                  contamShingleN: Int = 8): DataFrame =
    // n_shingles rides along (it is already computed by the check —
    // zero extra corpus work) so the Auto router can read shingle
    // mass from the bounded frame instead of re-scanning text; the
    // final split projection drops it
    graft.dedup.DedupOps.contaminationCheckViaBloom(docs, bench, bloomDir,
        idCol, textCol, contamShingleN)
      .where(col("n_contaminated") === 0).select(col(idCol), col("n_shingles"))

  /** The [[Auto]] routing predicate, factored for direct spec
    * coverage: one agg over the (already-materialized, bounded)
    * clean-id frame — doc count AND total shingle mass — and logs the
    * decision with the measured rationale. Either predicate exceeding
    * routes to [[Sig]] (the long-doc guard: pair cost scales with
    * shingle mass, not doc count). */
  private[graft] def resolveTier(tier: Tier, cleanIds: DataFrame,
                                 autoSigThreshold: Long,
                                 autoSigMassThreshold: Long = AutoSigShingleMassThreshold)
  : Tier = tier match {
    case Auto =>
      val r = cleanIds.agg(count(lit(1)),
        coalesce(sum(col("n_shingles")), lit(0L))).head()
      val (n, mass) = (r.getLong(0), r.getLong(1))
      val t = if (n > autoSigThreshold || mass > autoSigMassThreshold) Sig else Exact
      System.err.println(s"[decontam] auto tier: $n clean docs vs threshold " +
        s"$autoSigThreshold, $mass shingles vs $autoSigMassThreshold -> $t " +
        "(measured pair-stage slopes: exact 8.9x/decade, sig 3.4x/decade; " +
        "see DecontamPipeline scaladoc)")
      t
    case t => t
  }
}
