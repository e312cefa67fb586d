package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The tranche lifecycle every at-rest artifact family shares. An
  * artifact is a directory of tagged tranches (`dir/batch=<tag>`); an
  * ingest overwrites its OWN tranche, so replays converge. This object
  * owns the `batch=*` listing, the fold tag, the fold sequence, the
  * count-triggered auto-fold tick and the dashboard health gauge, for
  * both merge algebras:
  *
  *   - IDEMPOTENT families (HLL register max, Bloom position OR,
  *     image-hash set union) fold through [[foldIdempotent]]: a crash
  *     that leaves the folded tranche and its inputs both visible
  *     changes no read, so the fold needs no manifest.
  *   - SUM families (histogram sketches, co-occurrence pair counts,
  *     item margins, count-min grids, sigma stats, per-day centroids)
  *     double-count if a half-finished fold leaves both the folded
  *     output and its inputs visible. Hence the SUPERSEDING MANIFEST:
  *     a folded tranche carries a `_graft_folded.txt` naming every
  *     tranche it absorbed, and readers exclude those names — so the
  *     sum fold (write scratch → write manifest → rename into place →
  *     delete inputs) is crash-safe at every boundary. Underscore-
  *     prefixed files are invisible to Spark's parquet listing, so the
  *     manifest rides inside the tranche directory itself and can
  *     never be separated from it.
  *
  * Both folds write the merged rows to a dot-prefixed scratch
  * directory first (hidden from Spark's file listing and from the
  * `batch=*` lister), so a crash mid-write leaves every read unchanged.
  */
object Tranches {

  private val ManifestName = "_graft_folded.txt"

  /** Every `batch=*` directory under `root`, sorted by name, superseded
    * or not. */
  private def listed(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch=")).sortBy(_.getName).toSeq

  /** One ingest = one tranche, overwriting its own tag (replay-safe).
    * Mode-transparent: a pointer-committed artifact resolves to its
    * current generation and the tranche lands inside it (the dedup
    * append stance — generations are immutable only across
    * consolidation swaps). `commit = PointerCommit` on a NOT-YET-BORN
    * artifact births it through the manifest protocol; every later
    * write may omit the parameter (resolution is automatic). */
  def write(counts: DataFrame, dir: String, tag: String,
            commit: graft.merge.Merge.Commit =
              graft.merge.Merge.RenameCommit): Unit = {
    val spark = counts.sparkSession
    val resolved = graft.merge.Merge.resolveDir(spark, dir)
    if (commit == graft.merge.Merge.PointerCommit && resolved == dir) {
      require(live(spark, dir).isEmpty,
        s"Tranches.write: $dir already holds rename-committed tranches; " +
          "one commit mode per directory (fold + rebuild to convert)")
      graft.merge.Merge.swapWith(spark, dir, commit)(gen =>
        counts.write.mode("overwrite").parquet(s"$gen/batch=$tag"))
    } else
      counts.write.mode("overwrite").parquet(s"$resolved/batch=$tag")
  }

  /** Tranches a reader should count: every `batch=*` minus any named
    * in a surviving folded tranche's manifest (with no manifest, every
    * tranche). A pointer-committed artifact resolves through its
    * `_current` manifest first — every reader below is
    * mode-transparent. */
  def live(spark: SparkSession, dir0: String): Seq[Path] = {
    val dir = graft.merge.Merge.resolveDir(spark, dir0)
    val fs = Fs.hfs(spark, dir)
    val tranches = listed(fs, new Path(dir))
    val superseded: Set[String] =
      tranches.flatMap(t => manifestNames(fs, t)).toSet
    tranches.filterNot(t => superseded(t.getName))
  }

  /** Names a tranche's superseding manifest carries (empty when none). */
  private def manifestNames(fs: FileSystem, tranche: Path): Seq[String] = {
    val mf = new Path(tranche, ManifestName)
    if (!fs.exists(mf)) Nil
    else {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** The superseding set a fold's output must carry: the folded
    * tranches' own names PLUS everything THEY had absorbed, minus the
    * output's own name (a manifest naming its own tranche would
    * self-exclude it from live()). The set is transitive because a
    * chain of folds would otherwise forget first-fold input names, and
    * a replayed ingest of such a tag would land live and double-count.
    *
    * GROWTH CONTRACT: the manifest accumulates one line per DISTINCT
    * ingest tag ever absorbed, forever — by design, because replay
    * protection for a tag can only be dropped when no replayer can
    * resend it, a fact the artifact cannot observe. The bound is
    * therefore the artifact's lifetime ingest-tag count: at one
    * tranche/hour for a decade that is ~88k lines ≈ a few MB read once
    * per live()/fold — negligible next to the data scan. If an
    * operator retires a tag universe (e.g. rotates the upstream
    * pipeline id), deleting the artifact directory and re-folding from
    * source is the sanctioned reset; truncating the manifest in place
    * is NOT (it silently re-arms double-count for every dropped tag). */
  private def transitiveFolded(fs: FileSystem, folded: Seq[Path],
                               outName: String): Seq[String] =
    (folded.map(_.getName) ++ folded.flatMap(t => manifestNames(fs, t)))
      .distinct.filterNot(_ == outName).sorted

  private def writeManifest(fs: FileSystem, tranche: Path,
                            names: Seq[String]): Unit = {
    val mf = fs.create(new Path(tranche, ManifestName), true)
    try mf.write(names.mkString("\n").getBytes("UTF-8")) finally mf.close()
  }

  /** Merge-on-read: one scan over the live tranches, key-wise sum —
    * bounded by Σ tranche sizes, never a corpus. */
  def read(spark: SparkSession, dir: String,
           keyCols: Seq[String], cntCol: String): DataFrame =
    readMulti(spark, dir, keyCols, Seq(cntCol))

  /** [[read]] with SEVERAL summed columns per key (e.g. the per-day
    * centroid artifact's sum-vector + vector-count pair) — same one
    * bounded scan, each column summed under its own name.
    *
    * NULL poisoning: SQL SUM skips NULLs, but in these artifacts a
    * NULL component is an OUT-OF-ENVELOPE verdict (a `try_sum`'d
    * ingest that breached 38 digits — the sigma-stats Q), not a
    * missing observation — skipping it would merge to a silently
    * SMALLER total, the exact silent corruption the envelope contract
    * forbids. Any NULL input ⇒ NULL merged value, and the merge itself
    * is a `try_sum` so a breach first reached ACROSS tranches degrades
    * to NULL in both ANSI modes instead of throwing under the default.
    * (Count families are untouched: their components are non-null
    * counts bounded by total ingested rows.) A consolidation persists
    * the poisoned NULL — honest, since these components only grow in
    * magnitude, so a breached total never un-breaches. Tranches
    * written without the writers' explicit-zero discipline can carry
    * an empty-group NULL (an all-excluded ingest group); the merge
    * reads those as breach verdicts too — a conservative NULL gauge
    * row, never a wrong one; replaying the affected ingest TAG
    * (tranches overwrite their own tag) rewrites it under the
    * explicit-zero discipline and restores the component — while it
    * is still live; once folded, the sanctioned artifact-regeneration
    * reset applies (see [[transitiveFolded]]'s growth contract). */
  def readMulti(spark: SparkSession, dir: String,
                keyCols: Seq[String], cntCols: Seq[String]): DataFrame = {
    require(cntCols.nonEmpty, "Tranches.readMulti: need at least one count column")
    val paths = live(spark, dir)
    require(paths.nonEmpty, s"Tranches.read: no live tranches under $dir")
    def mergeSum(c: String): org.apache.spark.sql.Column =
      when(count(when(col(c).isNull, lit(1))) > 0, lit(null))
        .otherwise(try_sum(col(c))).as(c)
    spark.read.parquet(paths.map(_.toString): _*)
      .groupBy(keyCols.map(col): _*)
      .agg(mergeSum(cntCols.head), cntCols.tail.map(mergeSum): _*)
  }

  /** Fold the live tranches into one, crash-safe under sum (see object
    * doc for the manifest protocol). The tag is a pure function of the
    * folded names — a replayed consolidation overwrites its own
    * output; stale superseded leftovers from an earlier crash are
    * GC'd first. */
  def consolidate(spark: SparkSession, dir: String,
                  keyCols: Seq[String], cntCol: String,
                  commit: graft.merge.Merge.Commit =
                    graft.merge.Merge.RenameCommit): Unit =
    consolidateMulti(spark, dir, keyCols, Seq(cntCol), commit)

  /** AUTO-consolidation tick for long-lived ingest loops, any algebra:
    * run `fold` only when the live tranche count EXCEEDS `maxLive`, so
    * the merge-on-read fan-in is bounded by `maxLive` at every read
    * while quiet periods pay zero consolidation work. Run after each
    * tranche write (the streaming loops wire this per epoch): a tick
    * either leaves ≤ maxLive tranches untouched or folds them to ONE,
    * so `live ≤ maxLive` holds at every tick boundary — an unattended
    * daily ingest would otherwise grow the read fan-in without bound.
    * Returns whether a fold ran. */
  def maybeFold(spark: SparkSession, dir: String, maxLive: Int)
               (fold: => Unit): Boolean = {
    require(maxLive >= 1, s"Tranches.maybeFold: maxLive=$maxLive must be >= 1")
    if (live(spark, dir).length > maxLive) { fold; true } else false
  }

  /** TRIAGE gauge for a tranche artifact in the cross-family dashboard
    * schema ([[graft.meta.IndexDashboard.indexHealthAll]]):
    * `(artifact, n_tranches, n_marked, n_unproven, count_fresh)` from
    * directory metadata only. `n_tranches` counts LIVE tranches (the
    * read-side fan-in — the auto-fold dial); `n_unproven` counts
    * SUPERSEDED-but-still-visible tranches (a sum fold crashed between
    * manifest write and input delete — harmless to reads, which
    * exclude them, but awaiting GC by the next fold); idempotent
    * families write no manifest, so every visible tranche is live and
    * `n_unproven` is 0 by algebra. `n_marked` = live tranches carrying
    * the committer's `_SUCCESS`. `count_fresh` is NULL — these
    * families have no separate count artifact to go stale. Dot-prefixed
    * fold scratch directories are never counted. */
  def health(spark: SparkSession, dir0: String, artifact: String): DataFrame = {
    import spark.implicits._
    val dir = graft.merge.Merge.resolveDir(spark, dir0)
    val root = new Path(dir)
    val fs = Fs.hfs(spark, dir)
    require(fs.exists(root), s"Tranches.health: $dir does not exist")
    val all = listed(fs, root).map(_.getName).toSet
    val liveNames = live(spark, dir).map(_.getName).toSet
    val marked = fs.globStatus(new Path(dir, "batch=*/_SUCCESS"))
      .map(_.getPath.getParent.getName).toSet
    Seq((artifact, liveNames.size, liveNames.count(marked.contains),
      (all -- liveNames).size, Option.empty[Boolean]))
      .toDF("artifact", "n_tranches", "n_marked", "n_unproven", "count_fresh")
  }

  /** The fold sequence both algebras share: `merged` → hidden scratch
    * → `seal` (the sum family's manifest) → one rename to
    * `batch=consolidated-<hash of the input names>` → delete the other
    * inputs. The tag is a pure function of what was folded, so a
    * re-run over the same inputs overwrites its own output. */
  private def foldInto(fs: FileSystem, root: Path, inputs: Seq[Path],
                       merged: => DataFrame)
                      (seal: (Path, String) => Unit): Unit = {
    val tag = "consolidated-" + Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(inputs.map(_.getName).mkString("\n")))
    val scratch = new Path(root, s".consolidating-$tag")
    merged.write.mode("overwrite").parquet(scratch.toString)
    seal(scratch, s"batch=$tag")
    val dest = new Path(root, s"batch=$tag")
    if (fs.exists(dest)) fs.delete(dest, true)
    fs.rename(scratch, dest)
    inputs.filterNot(_.getName == dest.getName).foreach(fs.delete(_, true))
  }

  /** Fold every tranche of an IDEMPOTENT artifact (max / OR / set
    * union) into one: the [[foldInto]] sequence without manifest or GC.
    * A crash after the rename leaves folded output and inputs side by
    * side, whose merge is the identity; a re-run folds them again.
    * `merged` is the family's own merge-on-read of `dir`, evaluated
    * only when there are at least two tranches. */
  def foldIdempotent(spark: SparkSession, dir: String)
                    (merged: => DataFrame): Unit = {
    val fs = Fs.hfs(spark, dir)
    val root = new Path(dir)
    val inputs = listed(fs, root)
    if (inputs.length > 1) foldInto(fs, root, inputs, merged)((_, _) => ())
  }

  /** [[consolidate]] for multi-count families.
    *
    * RenameCommit (default): the superseding-manifest fold — scratch →
    * manifest → one rename into place → delete inputs; crash-safe at
    * every boundary where rename is atomic (HDFS/local). On S3 the
    * rename is copy+delete, and a reader listing mid-copy can see the
    * folded tranche's DATA files before its manifest lands — counting
    * folded output AND inputs, the double-count sum famously cannot
    * shrug off. `commit = PointerCommit` closes that: the fold lands
    * as ONE fresh immutable generation holding only the folded tranche
    * (no superseding manifest needed — nothing else is visible in the
    * generation), published by a single pointer PUT with reader-graced
    * GC. Requires a pointer-committed artifact
    * ([[write]]`(…, PointerCommit)` at birth; one mode per directory). */
  def consolidateMulti(spark: SparkSession, dir0: String,
                       keyCols: Seq[String], cntCols: Seq[String],
                       commit: graft.merge.Merge.Commit =
                         graft.merge.Merge.RenameCommit): Unit = {
    val dir = graft.merge.Merge.resolveDir(spark, dir0)
    val fs = Fs.hfs(spark, dir)
    if (commit == graft.merge.Merge.PointerCommit) {
      require(dir != dir0,
        s"Tranches.consolidate: $dir0 is not pointer-committed; " +
          "PointerCommit folds need an artifact born with " +
          "write(..., commit = PointerCommit)")
      val liveNow = live(spark, dir0)
      if (liveNow.length <= 1) return
      val folded = readMulti(spark, dir0, keyCols, cntCols)
      // the fresh generation holds only batch=consolidated, but a
      // REPLAYED ingest write() of an already-folded tag lands beside
      // it as a live tranche and double-counts unless the fold records
      // what it absorbed — same protocol as the rename path, names
      // carried transitively across fold chains
      val absorbed = transitiveFolded(fs, liveNow, "batch=consolidated")
      graft.merge.Merge.pointerSwap(spark, dir0) { gen =>
        folded.write.mode("overwrite").parquet(s"$gen/batch=consolidated")
        writeManifest(fs, new Path(s"$gen/batch=consolidated"), absorbed)
      }
      return
    }
    // one commit mode per directory: a RenameCommit fold of a
    // POINTER-committed artifact would run the rename protocol INSIDE
    // the current generation — data-correct on rename-atomic stores,
    // but it reopens the S3 mid-copy double-count window the artifact
    // chose PointerCommit to close, and it mutates a generation
    // readers treat as swap-immutable
    require(dir == dir0,
      s"Tranches.consolidate: $dir0 is pointer-committed; pass " +
        "commit = PointerCommit (one commit mode per directory)")
    val root = new Path(dir)
    val liveNow = live(spark, dir)
    listed(fs, root).filterNot(liveNow.contains).foreach(t => fs.delete(t, true))
    if (liveNow.length <= 1) return
    foldInto(fs, root, liveNow, readMulti(spark, dir, keyCols, cntCols)) {
      (scratch, outName) =>
        writeManifest(fs, scratch, transitiveFolded(fs, liveNow, outName))
    }
  }
}
