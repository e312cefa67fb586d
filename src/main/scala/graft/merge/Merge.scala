package graft.merge

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.io.Readers
import graft.relational.RelationalOps

/** Warehouse-style mutation semantics over immutable parquet directories
  * (SURVEY.md §2.9 "Upsert/Overwrite/Append sink", §7.5.1).
  *
  * The reference gets upsert/append/overwrite from Redshift transactions
  * (`insert` dispatcher `src/pyveb/rs_client.py:339-388`; staging-table
  * protocol `:68-81`; `_upsert` = DELETE USING composite key + INSERT
  * `:242-283`; `_full_refresh` `:285-312`; `_append` `:314-337`).
  * Parquet-on-object-store has no transactional DELETE, so:
  *
  *   upsert(target, stage, keys) = target ⟕anti stage  ∪byName  stage
  *
  * rewritten to a fresh directory and swapped in with an atomic rename —
  * re-runs are idempotent (the reference's delete-prefix-before-retry
  * precedent, `src/pyveb/lynx_client.py:128-131`). At 100 TB the
  * whole-table rewrite is the wrong default; callers with a partitioned
  * target should scope the rewrite with `prunePartitions` so only the
  * partitions present in the stage are read+rewritten (everything else
  * is untouched — same contract as a warehouse MERGE with partition
  * pruning). A production deployment would swap this for a table format
  * (Delta/Iceberg MERGE); the semantics here are identical.
  */
object Merge {

  sealed trait InsertMode
  case object Append extends InsertMode
  case object Overwrite extends InsertMode
  /** Delete-matching-composite-key-then-insert (reference `_upsert`). */
  final case class Upsert(keys: Seq[String]) extends InsertMode

  /** How a table rewrite becomes visible to readers. */
  sealed trait Commit
  /** Directory rename-swap ([[atomicSwap]]) — atomic on HDFS/local
    * POSIX-like stores; NOT on S3 (rename = copy+delete there). The
    * default, and the right choice everywhere renames are atomic. */
  case object RenameCommit extends Commit
  /** Manifest-pointer commit ([[pointerSwap]]) — data lands in an
    * immutable content-named subdirectory and a single small
    * `_current` manifest file is atomically republished to point at
    * it. Correct wherever publishing ONE small object is atomic
    * (S3 PUT included), which is exactly where rename is not — the
    * table-format commit idea (Delta/Iceberg's log pointer) reduced
    * to one pointer file. Opt-in via the `commit` parameter on the
    * writing APIs. A target directory lives its whole life under one
    * commit mode; converting requires a rewrite. */
  case object PointerCommit extends Commit

  private val ManifestFile = "_current"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Current manifest pointer, if `dir` is a pointer-committed table. */
  private def readManifest(f: org.apache.hadoop.fs.FileSystem,
                           dir: String): Option[String] = {
    val mp = new Path(dir, ManifestFile)
    if (!f.exists(mp)) None
    else {
      val in = f.open(mp)
      try {
        val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        if (s.isEmpty) None else Some(s)
      } finally in.close()
    }
  }

  /** True when the target holds committed data: a published manifest,
    * or (rename-mode) any entry that is not an unpublished `__data_`
    * dir / manifest temp left by a crashed pointer writer. */
  def targetExists(spark: SparkSession, dir: String): Boolean = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) false
    else if (f.exists(new Path(p, ManifestFile))) true
    else f.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("__data_") && !n.startsWith(ManifestFile)
    }
  }

  /** One-commit-mode-per-directory guard for the in-protocol rewrite
    * paths ([[swapWith]], [[atomicReplace]] — hence upsert/scd2/compact
    * and every swapWith-based index builder). A RenameCommit rewrite of
    * a pointer-committed dir would rename-swap the whole manifest tree
    * (the non-atomic-on-S3 operation pointer mode exists to avoid); a
    * PointerCommit rewrite of a rename-committed dir would publish a
    * manifest readers of the root files never consult, leaving them on
    * stale data forever while the old root files are never GC'd. Both
    * fail fast before anything is written. [[overwrite]] stays the sanctioned
    * CONVERTER in both directions — it is by definition a full rewrite,
    * and its pointer-mode publish GCs the superseded root files one
    * graced commit later (see [[pointerSwap]]). */
  private def requireCommitMode(spark: SparkSession, dir: String,
                                commit: Commit, op: String): Unit = {
    val pointered = readManifest(fs(spark, dir), dir).isDefined
    commit match {
      case RenameCommit => require(!pointered,
        s"$op: $dir is pointer-committed (a `$ManifestFile` manifest exists); " +
          "a rename-swap would move the whole manifest tree. Pass " +
          "commit = PointerCommit (one commit mode per directory).")
      case PointerCommit => require(pointered || !targetExists(spark, dir),
        s"$op: $dir holds rename-committed data; publishing a manifest over it " +
          "would leave plain readers on the stale root files. One commit mode " +
          "per directory — convert via overwrite(_, PointerCommit) first.")
    }
  }

  /** Mode-transparent directory resolution: a pointer-committed dir
    * resolves to its current `__data_` generation; anything else (a
    * rename-mode table, a plain parquet dir, a not-yet-born target)
    * resolves to itself. Index families whose readers address
    * artifact SUBPATHS (`dir/sh/batch=...`) route through this so one
    * reader works against both commit modes. One driver-side
    * existence probe per call — negligible against any scan. */
  def resolveDir(spark: SparkSession, dir: String): String =
    readManifest(fs(spark, dir), dir)
      .fold(dir)(name => new Path(dir, name).toString)

  /** Mode-transparent read: a pointer-committed target resolves
    * through its `_current` manifest; anything else reads the
    * directory itself. */
  def readTarget(spark: SparkSession, dir: String): DataFrame =
    Readers.parquet(spark, resolveDir(spark, dir))

  /** Commit-mode dispatch for an arbitrary whole-dir rebuild: `write`
    * populates a fresh directory (stage sibling under RenameCommit, an
    * immutable `__data_` generation under PointerCommit) while readers
    * keep seeing the OLD tree, then the swap publishes it atomically —
    * the protocol every at-rest index build and ledger fold (and the
    * rank/group vectors) share with the relational sinks. An
    * absent target is born in place under RenameCommit (no readers
    * yet, stage + one rename) and through a first manifest under
    * PointerCommit. */
  def swapWith(spark: SparkSession, dir: String,
               commit: Commit)(write: String => Unit): Unit = {
    requireCommitMode(spark, dir, commit, "Merge.swapWith")
    commit match {
      case PointerCommit => pointerSwap(spark, dir)(write)
      case RenameCommit =>
        val f = fs(spark, dir)
        val p = new Path(dir)
        if (f.exists(p)) atomicSwap(spark, dir)(write)
        else {
          val tmp = new Path(dir + "__stage_" + UUID.randomUUID().toString.take(8))
          try write(tmp.toString)
          catch { case e: Throwable => f.delete(tmp, true); throw e }
          if (!f.rename(tmp, p)) {
            f.delete(tmp, true)
            throw new IllegalStateException(s"rename $tmp -> $p failed")
          }
        }
    }
  }

  /** The insert dispatcher (`insert_type ∈ {append, overwrite, upsert}`,
    * `src/pyveb/rs_client.py:339-388`).
    */
  def insert(stage: DataFrame, targetDir: String, mode: InsertMode,
             commit: Commit = RenameCommit): Unit = mode match {
    case Append    => append(stage, targetDir, commit)
    case Overwrite => overwrite(stage, targetDir, commit)
    case Upsert(k) => upsert(stage, targetDir, k, commit = commit)
  }

  /** INSERT INTO target SELECT * FROM stage (`_append` `rs_client.py:314-337`).
    *
    * Commit-mode aware: a plain `SaveMode.Append` onto a
    * pointer-committed target would land files in the directory ROOT
    * while `readTarget` keeps resolving the `_current` manifest — the
    * load "succeeds" but readers never see the rows and the GC never
    * cleans them. So RenameCommit-mode append FAILS FAST on a manifest,
    * and `commit = PointerCommit` routes through the manifest protocol:
    * old ∪ stage is written to a fresh immutable data dir (the read
    * resolves the still-published previous manifest — consistent
    * throughout) and published atomically. That makes pointer-mode
    * append a whole-image rewrite — correct on S3, but at 100 TB prefer
    * upsert-with-partition-scoping or a real table format for
    * high-frequency appends. */
  def append(stage: DataFrame, targetDir: String,
             commit: Commit = RenameCommit): Unit = {
    val spark = stage.sparkSession
    val pointered = readManifest(fs(spark, targetDir), targetDir).isDefined
    commit match {
      case RenameCommit =>
        require(!pointered,
          s"Merge.append: $targetDir is pointer-committed (a `_current` manifest " +
            "exists); a raw file append would be invisible to readers. Pass " +
            "commit = PointerCommit (one commit mode per directory).")
        graft.io.Writers.parquet(stage, targetDir, mode = org.apache.spark.sql.SaveMode.Append)
      case PointerCommit =>
        if (!targetExists(spark, targetDir)) overwrite(stage, targetDir, PointerCommit)
        else {
          require(pointered,
            s"Merge.append: $targetDir holds rename-committed data; appending it " +
              "under PointerCommit would orphan the existing files. One commit " +
              "mode per directory — rewrite via overwrite(_, PointerCommit) first.")
          val merged = RelationalOps.uniteByName(
            Seq(readTarget(spark, targetDir), stage))
          pointerSwap(spark, targetDir)(d => graft.io.Writers.parquet(merged, d))
        }
    }
  }

  /** DELETE all + INSERT, atomically (`_full_refresh` `rs_client.py:285-312`). */
  def overwrite(stage: DataFrame, targetDir: String,
                commit: Commit = RenameCommit): Unit = commit match {
    case RenameCommit =>
      graft.io.Writers.parquet(stage, targetDir, mode = org.apache.spark.sql.SaveMode.Overwrite)
    case PointerCommit =>
      pointerSwap(stage.sparkSession, targetDir)(d => graft.io.Writers.parquet(stage, d))
  }

  /** Upsert: target rows whose composite key appears in stage are
    * replaced by the stage rows; new keys are inserted. Idempotent:
    * upsert(upsert(t,s),s) == upsert(t,s).
    *
    * The anti-join shuffles both sides on `keys` unless the stage is
    * small enough to broadcast — Catalyst/AQE decide. With
    * `prunePartitions` set (partition-column names present in both
    * frames), only target partitions that occur in the stage are read,
    * anti-joined and rewritten; untouched partitions never move.
    *
    * CONTRACT of the partition-scoped path: a key's partition value
    * must be stable across loads (true for the reference's
    * load-date-partitioned tables, where the partition IS part of the
    * identity). If a key can MOVE partitions between loads, the old
    * row in the unread partition survives — use the unscoped upsert
    * (full anti-join) for partition-mobile keys.
    */
  def upsert(stage: DataFrame, targetDir: String, keys: Seq[String],
             prunePartitions: Seq[String] = Nil,
             commit: Commit = RenameCommit): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(commit == RenameCommit || prunePartitions.isEmpty,
      "upsert: PointerCommit rewrites the whole table image; the " +
        "partition-scoped path needs in-place dynamic overwrite (use " +
        "RenameCommit, or a table format at S3 scale)")
    val spark = stage.sparkSession
    if (!targetExists(spark, targetDir)) { overwrite(stage, targetDir, commit); return }

    if (prunePartitions.nonEmpty) {
      // same fail-fast as append: dynamic partition
      // overwrite writes into the directory ROOT — on a
      // pointer-committed target those partitions land beside the
      // __data_ generations where manifest readers never look
      require(readManifest(fs(spark, targetDir), targetDir).isEmpty,
        s"Merge.upsert: $targetDir is pointer-committed; the partition-scoped " +
          "path writes root partitions manifest readers never see. Use the " +
          "unscoped upsert with commit = PointerCommit (whole-image rewrite).")
      // Partition-scoped MERGE: rewrite only the stage's partitions.
      val parts = stage.select(prunePartitions.map(org.apache.spark.sql.functions.col): _*)
        .distinct().collect()  // partition values only — tiny by definition
      val pred = parts.map { row =>
        prunePartitions.zipWithIndex.map { case (c, i) =>
          org.apache.spark.sql.functions.col(c) === org.apache.spark.sql.functions.lit(row.get(i))
        }.reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(org.apache.spark.sql.functions.lit(false))
      val affected = readTarget(spark, targetDir).where(pred) // partition-pruned scan
      val merged = RelationalOps.uniteByName(Seq(
        affected.join(stage.select(keys.map(org.apache.spark.sql.functions.col): _*),
          keys, "left_anti"),
        stage))
      graft.io.Writers.overwritePartitions(merged, targetDir, prunePartitions)
    } else {
      val target = readTarget(spark, targetDir)
      val survivors = target.join(
        stage.select(keys.map(org.apache.spark.sql.functions.col): _*), keys, "left_anti")
      val merged = RelationalOps.uniteByName(Seq(survivors, stage))
      atomicReplace(merged, targetDir, commit)
    }
  }

  /** Compute `df`, write it to a sibling temp dir, then swap it in for
    * `targetDir` with FileSystem renames (atomic on HDFS/local; on S3 a
    * table format or a committer-with-manifest replaces this). The
    * computation of `df` runs ENTIRELY against the untouched target —
    * a failure at any point before the first rename leaves `targetDir`
    * byte-identical, so `df` may safely read from `targetDir` itself
    * (the compaction / merge rewrite shape).
    */
  private[graft] def atomicReplace(df: DataFrame, targetDir: String,
                                   commit: Commit = RenameCommit): Unit = {
    requireCommitMode(df.sparkSession, targetDir, commit, "Merge.atomicReplace")
    commit match {
      case RenameCommit =>
        atomicSwap(df.sparkSession, targetDir)(tmp => graft.io.Writers.parquet(df, tmp))
      case PointerCommit =>
        pointerSwap(df.sparkSession, targetDir)(d => graft.io.Writers.parquet(df, d))
    }
  }

  /** The tmp-write → rename-swap → rollback protocol with an arbitrary
    * write step: `write` populates a sibling stage directory (any
    * layout — flat files or partition subtrees) while the target stays
    * readable, then two renames swap it in. Every failure path deletes
    * the stage copy, so repeated failed swaps never accumulate
    * table-sized `__stage_` orphans; a failed second rename rolls the
    * original back.
    */
  private[graft] def atomicSwap(spark: org.apache.spark.sql.SparkSession,
                                targetDir: String)(write: String => Unit): Unit = {
    val f = fs(spark, targetDir)
    val target = new Path(targetDir)
    val tmp = new Path(targetDir + "__stage_" + UUID.randomUUID().toString.take(8))
    val old = new Path(targetDir + "__old_" + UUID.randomUUID().toString.take(8))
    try write(tmp.toString)
    catch { case e: Throwable => f.delete(tmp, true); throw e }
    if (!f.rename(target, old)) {
      f.delete(tmp, true)
      throw new IllegalStateException(s"rename $target -> $old failed")
    }
    if (!f.rename(tmp, target)) {
      f.rename(old, target) // roll back
      f.delete(tmp, true)
      throw new IllegalStateException(s"rename $tmp -> $target failed")
    }
    f.delete(old, true)
  }

  /** The S3-safe commit: `write` populates an immutable
    * `__data_<uuid>` subdirectory of the target (readers keep
    * resolving the PREVIOUS manifest throughout), then the `_current`
    * manifest — one small file naming the data dir — is republished
    * atomically (tmp file + rename-with-overwrite here; a plain PUT
    * on S3, where replacing one object is atomic and
    * read-after-write consistent). Failure atlas:
    *
    *   - crash during `write`      → data dir deleted (or orphaned if
    *     the crash was a kill); manifest untouched; readers unaffected;
    *   - crash before the publish  → orphaned `__data_` dir, manifest
    *     untouched; the next successful commit garbage-collects it;
    *   - crash during the publish  → either the old or the new
    *     manifest is visible, never a torn one (single-object swap).
    *
    * After a successful publish, GC is best-effort and READER-GRACED:
    * the JUST-SUPERSEDED data dir (the one the old
    * manifest named) survives this commit and is collected on the NEXT
    * one — a reader that resolved the old manifest mid-swap keeps a
    * full commit interval to finish its scan, on every store (the
    * read-after-swap race is not S3-specific: local/HDFS readers that
    * open files task-by-task hit the same delete). Older generations
    * and manifest temps are deleted. Single-WRITER discipline is the
    * caller's, same as [[atomicSwap]]'s; readers need none. */
  private[graft] def pointerSwap(spark: SparkSession, targetDir: String)
                                (write: String => Unit): Unit = {
    val f = fs(spark, targetDir)
    val target = new Path(targetDir)
    f.mkdirs(target)
    val prevName = readManifest(f, targetDir) // graced through this commit
    val dataName = "__data_" + UUID.randomUUID().toString.take(8)
    val dataDir = new Path(target, dataName)
    try write(dataDir.toString)
    catch { case e: Throwable => f.delete(dataDir, true); throw e }
    val tmp = new Path(target,
      ManifestFile + ".tmp_" + UUID.randomUUID().toString.take(8))
    val out = f.create(tmp, true)
    try out.write(dataName.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      target.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, new Path(target, ManifestFile),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    try f.listStatus(target).foreach { st =>
      val n = st.getPath.getName
      // conversion leftovers: an overwrite(_, PointerCommit) over a
      // rename-committed dir publishes its FIRST manifest above root
      // files plain readers were still scanning — those files are
      // graced through that commit (prevName empty ⇒ keep) and
      // collected on the NEXT publish, like a superseded generation.
      val stray = !n.startsWith("__data_") && !n.startsWith(ManifestFile) &&
        !n.startsWith("." + ManifestFile) // local-FS checksum sibling
      // stray collection targets RENAME-COMMIT leftovers only: data-
      // file shapes a Spark/engine writer produces. An out-of-protocol
      // file an operator or foreign tool dropped at the root is NOT
      // ours to destroy, even once a prior manifest exists — those are
      // kept and logged so the anomaly is visible.
      val dataShape = n.startsWith("part-") || n == "_SUCCESS" ||
        n.endsWith(".parquet") || n.endsWith(".crc") ||
        n.startsWith("__stage_") || n.startsWith("_committed_") ||
        n.startsWith("_started_") || n.startsWith("_temporary")
      if ((n.startsWith("__data_") && n != dataName && !prevName.contains(n)) ||
        n.startsWith(ManifestFile + ".tmp_") ||
        (stray && prevName.isDefined && dataShape))
        f.delete(st.getPath, true)
      else if (stray && prevName.isDefined)
        System.err.println(s"[merge] pointerSwap: keeping out-of-protocol " +
          s"root entry ${st.getPath} (not a known data-file shape; " +
          "pointer-committed dirs should hold only manifest + __data_ generations)")
    } catch { case scala.util.control.NonFatal(_) => () } // GC is best-effort
  }

  /** The pure (non-writing) form of the upsert join — exposed so the
    * semantics are unit-testable and usable mid-pipeline. */
  def upsertFrame(target: DataFrame, stage: DataFrame, keys: Seq[String]): DataFrame = {
    val survivors = target.join(
      stage.select(keys.map(org.apache.spark.sql.functions.col): _*), keys, "left_anti")
    RelationalOps.uniteByName(Seq(survivors, stage))
  }

  /** Conditional upsert: insert only stage rows whose key is NOT in the
    * target (the reference's NOT EXISTS insert, `upsert_on_condition`
    * `src/pyveb/rs_client.py:174-233`).
    */
  def insertIfAbsentFrame(target: DataFrame, stage: DataFrame, keys: Seq[String]): DataFrame =
    RelationalOps.uniteByName(Seq(target, stage.join(target, keys, "left_anti")))

  /** Update-on-diff upsert — the UPDATE leg the reference's
    * `upsert_on_condition` sketches and leaves TODO
    * (`src/pyveb/rs_client.py:204-233`, `_upsert_on_condition` `:236`):
    * a matched key takes the STAGE row only when at least one compared
    * column actually differs (null-safe); an unchanged match keeps the
    * TARGET row untouched — so audit/meta columns outside `compareCols`
    * (load dates, lineage) survive no-op loads, which is the entire
    * point of conditional UPDATE over blind upsert. Unmatched stage
    * keys insert; unmatched target keys survive.
    *
    * One full-outer shuffle on `keys` — the standard warehouse MERGE
    * shape; at 100 TB pair it with the same partition scoping as
    * [[upsert]] (the frame form composes: scope the target scan, then
    * `overwritePartitions`).
    *
    * @param compareCols columns whose difference triggers the update;
    *   default = every shared non-key column. Columns OUTSIDE the set
    *   (e.g. the target's audit columns) are never compared and keep
    *   their target value on unchanged rows.
    */
  def upsertOnDiffFrame(target: DataFrame, stage: DataFrame, keys: Seq[String],
                        compareCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keys.nonEmpty, "upsertOnDiffFrame needs at least one key column")
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else target.columns.toSeq.filterNot(keys.contains).filter(stage.columns.contains)
    require(cmp.nonEmpty, "upsertOnDiffFrame: no columns to compare")
    // presence markers instead of key-null checks: a legitimately-null
    // key component must not read as "row absent"
    val sPref = stage.columns.foldLeft(stage.withColumn("__s_present", lit(true))) {
      (df, c) => df.withColumnRenamed(c, s"__s_$c")
    }
    val t = target.withColumn("__t_present", lit(true))
    val joined = t.join(sPref,
      keys.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _), "full_outer")
    val changed = cmp.map(c => !(col(c) <=> col(s"__s_$c"))).reduce(_ || _)
    val takeStage = col("__t_present").isNull ||
      (col("__s_present").isNotNull && changed)
    joined.select(target.columns.map { c =>
      (if (stage.columns.contains(c))
        when(takeStage, col(s"__s_$c")).otherwise(col(c))
      else col(c)).as(c)
    }.toSeq: _*)
  }

  /** Snapshot DIFF — the observability twin of [[upsertOnDiffFrame]]:
    * instead of silently merging, classify every key across two
    * snapshots as `added` (new only), `removed` (old only), `changed`
    * (both, any compare column differs null-safely), or `unchanged` —
    * the CDC-style audit a pipeline operator reads when a day's merge
    * volume moves ("what did yesterday's load actually do"). Same
    * null-safe `<=>` compare-set semantics as the merge itself, so the
    * report provably describes what [[upsertOnDiff]] would write:
    * `changed ∪ added` is exactly its take-stage set.
    *
    * Shuffle plan: ONE full-outer join on the keys (AQE-handled),
    * every comparison a codegen'd null-safe equality — no hashing, no
    * second pass. Output: key columns + `change`; filter
    * `change != 'unchanged'` for the delta view.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                   compareCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(keys.nonEmpty, "snapshotDiff needs at least one key column")
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else oldDf.columns.toSeq.filterNot(keys.contains).filter(newDf.columns.contains)
    require(cmp.nonEmpty, "snapshotDiff: no columns to compare")
    val nPref = newDf.columns.foldLeft(newDf.withColumn("__n_present", lit(true))) {
      (df, c) => df.withColumnRenamed(c, s"__n_$c")
    }
    val o = oldDf.withColumn("__o_present", lit(true))
    val joined = o.join(nPref,
      keys.map(k => col(k) <=> col(s"__n_$k")).reduce(_ && _), "full_outer")
    val differs = cmp.map(c => !(col(c) <=> col(s"__n_$c"))).reduce(_ || _)
    joined.select(
      keys.map(k => coalesce(col(k), col(s"__n_$k")).as(k)) :+
        when(col("__o_present").isNull, lit("added"))
          .when(col("__n_present").isNull, lit("removed"))
          .when(differs, lit("changed"))
          .otherwise(lit("unchanged")).as("change"): _*)
  }

  /** Writing form of [[upsertOnDiffFrame]]: merge against the stored
    * target and swap the result in atomically (same protocol as
    * [[upsert]]; creates the target if absent). Idempotent: a second
    * run with the same stage finds nothing changed and rewrites
    * identical content. */
  def upsertOnDiff(stage: DataFrame, targetDir: String, keys: Seq[String],
                   compareCols: Seq[String] = Nil,
                   commit: Commit = RenameCommit): Unit = {
    val spark = stage.sparkSession
    if (!targetExists(spark, targetDir)) { overwrite(stage, targetDir, commit); return }
    atomicReplace(upsertOnDiffFrame(readTarget(spark, targetDir), stage, keys, compareCols),
      targetDir, commit)
  }

  /** SCD TYPE-2 apply — the history-PRESERVING form of
    * [[upsertOnDiffFrame]] and the canonical warehouse dimension-load
    * the reference's upsert family circles around
    * (`src/pyveb/rs_client.py:242-283` replaces matched rows in place;
    * type 2 instead CLOSES them and opens a new version, so every past
    * attribute value stays queryable as-of any date — Kimball's
    * slowly-changing-dimension type 2).
    *
    * `history` carries the business columns plus the SCD bookkeeping
    * (`valid_from`, `valid_to`, `is_current`); `stage` is a plain
    * current snapshot (business columns only). For each stage key
    * against the CURRENT version set:
    *
    *   - new key                     → one open row (`valid_from` =
    *     `loadTs`, `valid_to` null, `is_current` true);
    *   - changed (any `compareCols` differs null-safely) → the current
    *     row closes (`valid_to` = `loadTs`, `is_current` false) AND a
    *     new open row is born from the stage values;
    *   - unchanged → the current row passes through UNTOUCHED (audit
    *     columns outside `compareCols` survive no-op loads — the
    *     [[upsertOnDiffFrame]] contract);
    *   - current key absent from stage → untouched by default;
    *     `closeMissing = true` treats the stage as a FULL snapshot and
    *     closes it at `loadTs` (the delete-as-expiry convention).
    *
    * Closed history rows always pass through verbatim. Idempotent:
    * re-applying the same stage finds every key unchanged and rewrites
    * identical content.
    *
    * Shuffle plan: ONE full-outer join of the current version set
    * against the stage on `keys` (AQE-handled), then a single
    * projection whose per-row 1-or-2-version fan-out is an in-row
    * `explode` — the joined subtree is evaluated ONCE, not re-expanded
    * per output leg (three filtered selects over the same join would
    * scan the dimension three times — the subtree-re-expansion trap the
    * image-dedup probe hit). Closed rows ride a disjoint union branch
    * that never joins. At 100 TB pair it with the same partition
    * scoping as [[upsert]].
    */
  def scd2Apply(history: DataFrame, stage: DataFrame, keys: Seq[String],
                loadTs: String, compareCols: Seq[String] = Nil,
                closeMissing: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{array, col, concat, explode, lit, raise_error, struct, when}
    require(keys.nonEmpty, "scd2Apply needs at least one key column")
    val scdCols = Seq("valid_from", "valid_to", "is_current")
    scdCols.foreach(c => require(history.columns.contains(c),
      s"scd2Apply: history lacks SCD column '$c'"))
    scdCols.foreach(c => require(!stage.columns.contains(c),
      s"scd2Apply: stage must not carry SCD column '$c'"))
    val biz = history.columns.toSeq.filterNot(scdCols.contains)
    biz.foreach(c => require(stage.columns.contains(c),
      s"scd2Apply: stage lacks business column '$c'"))
    val cmp =
      if (compareCols.nonEmpty) compareCols
      else biz.filterNot(keys.contains)
    require(cmp.nonEmpty, "scd2Apply: no columns to compare")
    val ts = lit(loadTs).cast(history.schema("valid_from").dataType)
    val closed = history.where(!col("is_current"))
    val current = history.where(col("is_current"))
    // presence markers, not key-null checks (upsertOnDiffFrame contract)
    val sPref = stage.columns.foldLeft(stage.withColumn("__s_present", lit(true))) {
      (df, c) => df.withColumnRenamed(c, s"__s_$c")
    }
    val joined = current.withColumn("__c_present", lit(true)).join(sPref,
      keys.map(k => col(k) <=> col(s"__s_$k")).reduce(_ && _), "full_outer")
    val changed = cmp.map(c => !(col(c) <=> col(s"__s_$c"))).reduce(_ || _)
    // OUT-OF-ORDER GUARD: closing a version at a loadTs EARLIER than
    // its valid_from would write valid_to < valid_from and open
    // overlapping versions — silently breaking the non-overlap
    // invariant scd2AsOf/scd2Enrich rely on ("at most one version per
    // instant"). A replayed/late stage must fail loudly, in-plan (no
    // driver-side pre-scan): the error raises only on rows the apply
    // would actually close, so an old stage that changes nothing still
    // no-ops idempotently.
    val closeTs = when(ts < col("valid_from"),
      raise_error(concat(
        lit(s"scd2Apply: loadTs '$loadTs' predates the open version's valid_from ("),
        col("valid_from").cast("string"),
        lit(") for a matched key — out-of-order/replayed stage; apply loads in valid_from order")))
        .cast(history.schema("valid_to").dataType))
      .otherwise(ts)
    def curVersion(validTo: Column, isCur: Column) = struct(
      biz.map(c => col(c).as(c)) ++ Seq(col("valid_from").as("valid_from"),
        validTo.as("valid_to"), isCur.as("is_current")): _*)
    val stageVersion = struct(
      biz.map(c => col(s"__s_$c").as(c)) ++ Seq(ts.as("valid_from"),
        lit(null).cast(history.schema("valid_to").dataType).as("valid_to"),
        lit(true).as("is_current")): _*)
    val versions =
      when(col("__c_present").isNull, array(stageVersion))
        .when(col("__s_present").isNotNull && changed,
          array(curVersion(closeTs, lit(false)), stageVersion))
        .when(lit(closeMissing) && col("__s_present").isNull,
          array(curVersion(closeTs, lit(false))))
        .otherwise(array(curVersion(col("valid_to"), col("is_current"))))
    joined.select(explode(versions).as("__v")).select(col("__v.*"))
      .unionByName(closed.select((biz ++ scdCols).map(col): _*))
  }

  /** Point-in-time read over an SCD-2 history ([[scd2Apply]] output):
    * the version of every key that was valid AT `asOfTs` —
    * `valid_from <= asOfTs < valid_to`, an open `valid_to` reading as
    * +∞. The entire reason type 2 exists: "what did this dimension say
    * on March 3rd" as one filter — no join, no window, and
    * partition-prunable when the history is laid out by `valid_from`.
    * Keys born after `asOfTs` are absent (correctly: they did not
    * exist yet). */
  def scd2AsOf(history: DataFrame, asOfTs: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    Seq("valid_from", "valid_to").foreach(c => require(history.columns.contains(c),
      s"scd2AsOf: history lacks SCD column '$c'"))
    val ts = lit(asOfTs).cast(history.schema("valid_from").dataType)
    history.where(col("valid_from") <= ts &&
      (col("valid_to").isNull || col("valid_to") > ts))
  }

  /** Point-in-time ENRICH: attach to every fact row the dimension
    * version valid at the fact's OWN timestamp — the join an SCD-2
    * history exists to serve ("price the order at the contract terms
    * of its day", the feature-store training join that must not leak
    * future attribute values). Left-join semantics: a fact whose key
    * had no valid version at its instant (unborn, or expired under
    * `closeMissing`) keeps null payloads.
    *
    * Shape: an equi-join on `keys` with the interval test as a join
    * filter — versions-per-key is small by construction (one per
    * change), so the fan-in per fact is version-count, not
    * corpus-sized, and each fact matches AT MOST one version by the
    * non-overlap invariant [[scd2Apply]] maintains. This is the
    * degenerate-interval case where the generic binned [[graft
    * .relational.RelationalOps.rangeJoin]] machinery would be
    * overkill: the key equality already prunes candidates to a
    * handful. Payload columns arrive suffixed.
    */
  def scd2Enrich(facts: DataFrame, history: DataFrame, keys: Seq[String],
                 factTsCol: String, payload: Seq[String],
                 suffix: String = "_dim"): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "scd2Enrich needs at least one key column")
    require(payload.nonEmpty, "scd2Enrich: no payload columns")
    Seq("valid_from", "valid_to").foreach(c => require(history.columns.contains(c),
      s"scd2Enrich: history lacks SCD column '$c'"))
    val h = history.columns.foldLeft(history) {
      (df, c) => df.withColumnRenamed(c, s"__h_$c")
    }
    val ts = col(factTsCol)
    val cond = keys.map(k => col(k) <=> col(s"__h_$k")).reduce(_ && _) &&
      col("__h_valid_from") <= ts &&
      (col("__h_valid_to").isNull || col("__h_valid_to") > ts)
    facts.join(h, cond, "left")
      .select(facts.columns.map(col) ++
        payload.map(c => col(s"__h_$c").as(s"$c$suffix")): _*)
  }

  /** Writing form of [[scd2Apply]]: merge against the stored dimension
    * and swap the result in atomically (the [[upsert]] protocol). An
    * absent target is born as an all-open day-0 snapshot of the stage
    * at `loadTs`. Idempotent per ([[scd2Apply]], same stage). */
  def scd2(stage: DataFrame, targetDir: String, keys: Seq[String],
           loadTs: String, compareCols: Seq[String] = Nil,
           closeMissing: Boolean = false,
           commit: Commit = RenameCommit): Unit = {
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.types.{BooleanType, TimestampNTZType}
    val spark = stage.sparkSession
    if (!targetExists(spark, targetDir)) {
      overwrite(stage
        .withColumn("valid_from", lit(loadTs).cast(TimestampNTZType))
        .withColumn("valid_to", lit(null).cast(TimestampNTZType))
        .withColumn("is_current", lit(true).cast(BooleanType)), targetDir, commit)
      return
    }
    atomicReplace(scd2Apply(readTarget(spark, targetDir), stage, keys,
      loadTs, compareCols, closeMissing), targetDir, commit)
  }
}
