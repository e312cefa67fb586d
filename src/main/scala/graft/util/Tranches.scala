package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Readers

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
  *
  * LEDGER families (dedup sh/fp/sig, winnow, LSH, IVF, IVF-PQ, BM25)
  * keep ROW artifacts whose rows are unions, appended by tag, and fold
  * through [[foldLedger]]: a tag is committed only when the family's
  * WITNESS artifact (the one the append writes last) carries it under
  * the committer's `_SUCCESS` marker, folds rewrite only committed
  * tags, and the absorbed tags go to a ledger that
  * [[appendTagAllowed]] consults, so a replayed append of a folded tag
  * is a no-op instead of a second copy.
  */
object Tranches {

  private val ManifestName = "_graft_folded.txt"
  private val LedgerName = "_graft_absorbed"

  /** Every `batch=*` directory under `root`, sorted by name, superseded
    * or not. */
  private def listed(fs: FileSystem, root: Path): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch=")).sortBy(_.getName).toSeq

  /** `batch=*` names under an artifact directory (the gauges' tranche
    * count). */
  private[graft] def names(spark: SparkSession, artifactDir: String): Seq[String] =
    listed(Fs.hfs(spark, artifactDir), new Path(artifactDir)).map(_.getName)

  /** Tranche names carrying the committer's `_SUCCESS` marker. ONE glob
    * resolves every marker — a per-tranche `exists` would be one HEAD
    * request per tranche against an object store. */
  private def marked(fs: FileSystem, root: Path): Set[String] =
    Option(fs.globStatus(new Path(root, "batch=*/_SUCCESS"))).toSeq.flatten
      .map(_.getPath.getParent.getName).toSet

  /** The committed-tranche rule: tranches proven COMPLETE by their
    * `_SUCCESS` marker. A tranche without one is a mid-write crash
    * remnant, visible and possibly partial — EXCEPT when NO tranche
    * carries a marker: the deployment disabled
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs`, and an entire
    * healthy artifact must not read as uncommitted, so every tranche
    * counts. */
  private def committedOf(all: Seq[String], marks: Set[String]): Seq[String] =
    if (marks.isEmpty) all else all.filter(marks)

  private def committed(fs: FileSystem, root: Path): Seq[String] =
    committedOf(listed(fs, root).map(_.getName), marked(fs, root))

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
    Readers.parquet(spark, paths.map(_.toString))
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
               (fold: => Unit): Boolean =
    tick(maxLive)(live(spark, dir).length)(fold)

  /** [[maybeFold]] for a LEDGER family: the count is the COMMITTED
    * tranches of the `witness` artifact of `indexDir`. Unproven
    * tranches do not count — a ledger fold preserves them rather than
    * folding them, so counting them would fire the fold every tick
    * without reducing the fan-in. Safe in-loop when ticks run between
    * sequential appends (the fold must not race an append). */
  def maybeFoldLedger(spark: SparkSession, indexDir: String, witness: String,
                      maxLive: Int)(fold: => Unit): Boolean =
    tick(maxLive) {
      val dir = graft.merge.Merge.resolveDir(spark, indexDir)
      committed(Fs.hfs(spark, dir), new Path(dir, witness)).length
    }(fold)

  private def tick(maxLive: Int)(count: => Int)(fold: => Unit): Boolean = {
    require(maxLive >= 1, s"Tranches.maybeFold: maxLive=$maxLive must be >= 1")
    if (count > maxLive) { fold; true } else false
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
    val marks = marked(fs, root)
    Seq((artifact, liveNames.size, liveNames.count(marks),
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

  // ------------------------------------------------ ledger families

  /** Tags a [[foldLedger]] absorbed into `batch=consolidated`: a
    * replayed append of an absorbed tag must be a no-op, not a second
    * copy of rows that already live in the folded tranche. */
  private[graft] def readAbsorbedTags(spark: SparkSession, dir: String): Set[String] =
    Fs.readSmallFile(spark, s"$dir/$LedgerName")
      .map(_.linesIterator.map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** The append-tag gate of every ledger family. Reserved lifecycle
    * names are rejected outright (an append tagged `consolidated` would
    * overwrite the whole folded history), and an absorbed tag is a
    * no-op only when the tranche is PROVABLY a replay. `novelRows` is
    * the caller's content probe — the count of batch artifact rows
    * absent from the index — evaluated ONLY on the absorbed-tag path. A
    * replayed tag counts 0 and no-ops with a warning; a non-zero count
    * means NEW data was aliased onto an absorbed tag (a stream
    * restarted with a fresh checkpoint re-numbering epochs from 0), and
    * a silent no-op would drop it from the index forever — that fails
    * fast instead, naming the fix (a fresh tag namespace). */
  private[graft] def appendTagAllowed(spark: SparkSession, dir: String, tag: String,
                                      opName: String, novelRows: () => Long): Boolean = {
    require(tag != "build" && tag != "consolidated",
      s"$opName: tag '$tag' is reserved — build/consolidated name lifecycle " +
        "tranches, and an append would overwrite the entire consolidated " +
        "history with one day's rows")
    if (readAbsorbedTags(spark, dir).contains(tag)) {
      val novel = novelRows()
      if (novel > 0) throw new IllegalStateException(
        s"$opName: tag '$tag' was already absorbed by consolidation, but this " +
          s"tranche carries $novel artifact row(s) NOT present in the index — " +
          "new data aliased onto an absorbed tag (e.g. a stream restarted with " +
          "a fresh checkpoint re-numbering epochs from 0). A silent no-op would " +
          s"permanently drop it from $dir. Append it under a tag never used " +
          "before (e.g. prefix a new stream generation into the tag).")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$opName: tag '$tag' already absorbed by consolidation and every " +
          s"artifact row is already indexed; skipping append to $dir " +
          "(replay convergence).")
      false
    } else true
  }

  /** Tags the witness proves committed; `build` and `consolidated`
    * predate the witness protocol and are always committed. */
  private def proven(witnessCommitted: Seq[String]): Set[String] =
    witnessCommitted.map(_.stripPrefix("batch=")).toSet + "build" + "consolidated"

  /** Is the COUNT artifact `cntArt` (additive rows such as `df`/`bf`/
    * `wdf`) safe to drive a prune? Fresh ⇔ both exist AND the count's
    * committed tranche names equal ALL of the row artifact's. Every
    * crash window diverges the two sets — an append dying between a
    * row tranche and its count tranche, a fold dying between the row
    * swap and the count rebuild, a count tranche missing its marker —
    * and a diverged count can OVERCOUNT, which over-prunes and loses
    * near-dup detections; probes then take the exact fallback until
    * the next append or fold restores freshness. */
  private[graft] def countFresh(spark: SparkSession, dir: String, rowArt: String,
                                cntArt: String): Boolean = {
    val fs = Fs.hfs(spark, dir)
    val (row, cnt) = (new Path(dir, rowArt), new Path(dir, cntArt))
    fs.exists(row) && fs.exists(cnt) && fresh(committed(fs, cnt), listed(fs, row).map(_.getName))
  }

  private def fresh(countCommitted: Seq[String], rowAll: Seq[String]): Boolean =
    countCommitted.toSet == rowAll.toSet

  /** Fold a ledger family's tranches, one body for both commit modes.
    *
    * `artifacts` are the row artifacts, each with the partition columns
    * its rewrite must keep (an IVF `ivf_list` demoted to a data column
    * would retire partition pruning for every later probe). A tag is
    * committed when the `witness` artifact (the one the append writes
    * LAST; the first artifact when the witness is absent) carries it
    * under the committed rule. Committed rows are rewritten as
    * `distinct()` into `batch=consolidated` — self-healing against a
    * double-appended replay. A tag failing the witness test is
    * unproven: a half-appended crash remnant whose recovery is a
    * same-tag re-append, or a complete tranche whose marker was
    * stripped. Unproven tranches are neither rewritten nor absorbed
    * (absorbing one would turn the recovery retry into a fail-fast),
    * and their dirs are copied byte for byte (dropping them would
    * silently lose a stripped-marker tranche's rows).
    *
    * `counts` are `(name, source artifact, rows → counts)`: additive
    * count artifacts are never `distinct()`-rewritten (two tranches may
    * legitimately carry the same count row); each is regenerated from
    * the source's folded committed rows alone, so a later same-tag
    * retry of an unproven tranche adds its own count tranche without
    * counting it twice. Regeneration doubles as the migration that
    * retrofits a count artifact onto an index built before it existed.
    * The absorbed ledger gains the committed tags, written last: a
    * crash before it leaves a replay window that the next fold's
    * `distinct()` heals.
    *
    * The commit modes differ only in where each artifact lands.
    * RenameCommit: a per-artifact atomic swap in place; a crash
    * between swaps leaves some artifacts folded and others not, which
    * changes no read (the rewrite is a union of the same rows) and
    * diverges count freshness until the next fold. PointerCommit
    * (S3-safe): one fresh immutable generation holds every folded
    * artifact, the regenerated counts, the ledger and a verbatim copy
    * of every other root entry, published by one manifest swap; it
    * needs an index built with `commit = PointerCommit`. Either way run
    * it offline relative to appends — a tranche appended between the
    * fold's listing and its swap would be dropped. */
  private[graft] def foldLedger(spark: SparkSession, indexDir: String,
                                artifacts: Seq[(String, Seq[String])], witness: String,
                                counts: Seq[(String, String, DataFrame => DataFrame)] = Nil,
                                commit: graft.merge.Merge.Commit =
                                  graft.merge.Merge.RenameCommit): Unit = {
    import graft.merge.Merge
    val dir = Merge.resolveDir(spark, indexDir)
    val pointer = commit == Merge.PointerCommit
    require(!pointer || dir != indexDir,
      s"consolidate: $indexDir is not pointer-committed; PointerCommit " +
        "consolidation needs an index built with commit = PointerCommit")
    require(artifacts.nonEmpty, s"consolidate: $dir has no index artifacts")
    val fs = Fs.hfs(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val w = artifacts.map(_._1).find(_ == witness).getOrElse(artifacts.head._1)
    val tags = proven(committed(fs, new Path(dir, w)))
    // `root` holds the folded tree; `place(name)(write)` lands one
    // artifact, handing `write` the directory to fill
    def fold(root: String, place: String => (String => Unit) => Unit): Unit = {
      Par.jobs(artifacts.map { case (a, parts) => () => {
        // partition values may be type-inferred, hence the string cast;
        // a legacy flat artifact has no batch column and is read whole
        val all = Readers.parquet(spark, s"$dir/$a")
        val rows = (if (all.columns.contains("batch"))
          all.where(col("batch").cast("string").isin(tags.toSeq: _*))
        else all).drop("batch").distinct()
        val unproven = listed(fs, new Path(dir, a))
          .filterNot(t => tags(t.getName.stripPrefix("batch=")))
        place(a) { out =>
          val wr = rows.write.mode("overwrite")
          (if (parts.nonEmpty) wr.partitionBy(parts: _*) else wr)
            .parquet(s"$out/batch=consolidated")
          unproven.foreach(t => org.apache.hadoop.fs.FileUtil.copy(
            fs, t, fs, new Path(out, t.getName), false, conf))
        }
      }}: _*)
      Par.jobs(counts.map { case (name, source, derive) => () =>
        place(name) { out =>
          derive(Readers.parquet(spark, s"$root/$source/batch=consolidated"))
            .write.mode("overwrite").parquet(s"$out/batch=consolidated")
        }
      }: _*)
      val absorbed = readAbsorbedTags(spark, dir) ++ (tags - "build" - "consolidated")
      if (absorbed.nonEmpty)
        Fs.writeSmallFile(spark, s"$root/$LedgerName",
          absorbed.toSeq.sorted.mkString("", "\n", "\n"))
    }
    if (pointer) Merge.pointerSwap(spark, indexDir) { gen =>
      fs.mkdirs(new Path(gen))
      val owned = (artifacts.map(_._1) ++ counts.map(_._1)).toSet + LedgerName
      fs.listStatus(new Path(dir)).filterNot(st => owned(st.getPath.getName))
        .foreach(st => org.apache.hadoop.fs.FileUtil.copy(
          fs, st.getPath, fs, new Path(gen, st.getPath.getName), false, conf))
      fold(gen, a => write => write(s"$gen/$a"))
    }
    else fold(dir, a => Merge.swapWith(spark, s"$dir/$a", Merge.RenameCommit))
  }

  /** TRIAGE gauge for a ledger family, in the dashboard schema
    * `(artifact, n_tranches, n_marked, n_unproven, count_fresh)`, from
    * directory metadata only (one listing + one marker glob per
    * artifact). `n_unproven` is the [[foldLedger]] definition — tags
    * the witness does not prove committed (`witness = None`: each
    * artifact witnesses itself) — so a mid-append crash shows on every
    * half-written artifact until the same-tag re-append; unlike
    * [[health]], where it counts manifest-superseded tranches.
    * `n_marked < n_tranches` with `n_unproven = 0` is a stripped marker
    * on a witness-proven tranche (the next fold absorbs it); `n_marked
    * = 0` is a marker-disabled deployment or a fleet-wide strip, which
    * metadata cannot tell apart. `count_fresh` is the [[countFresh]]
    * verdict for each count artifact named in `countPairs` (count →
    * row artifact), NULL for row artifacts. */
  private[graft] def ledgerHealth(spark: SparkSession, dir: String,
                                  artifacts: Seq[String],
                                  countPairs: Map[String, String],
                                  witness: Option[String]): DataFrame = {
    import spark.implicits._
    val fs = Fs.hfs(spark, dir)
    val meta: Map[String, (Seq[String], Set[String])] = artifacts.map { a =>
      val root = new Path(dir, a)
      a -> ((listed(fs, root).map(_.getName), marked(fs, root)))
    }.toMap
    def committedIn(a: String): Seq[String] = (committedOf _).tupled(meta(a))
    artifacts.map { a =>
      val (all, marks) = meta(a)
      val tags = proven(committedIn(witness.filter(meta.contains).getOrElse(a)))
      val isFresh = countPairs.get(a).map(row =>
        meta.get(row).exists(r => fresh(committedIn(a), r._1)))
      (a, all.size, all.count(marks), all.count(t => !tags(t.stripPrefix("batch="))), isFresh)
    }.toDF("artifact", "n_tranches", "n_marked", "n_unproven", "count_fresh")
  }
}
