package graft.layout

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.io.Readers

/** Storage-layout operators — how the bytes land on disk decides what
  * a 100 TB scan can SKIP. Two tools:
  *
  *  - Z-order clustering: interleave the bits of several filter
  *    columns into one sort key so that files (and parquet row groups)
  *    end up with TIGHT min/max ranges in EVERY clustered dimension —
  *    a selective filter on any of them then skips most of the data
  *    via footer statistics alone. This is the public lakehouse
  *    `OPTIMIZE ZORDER BY` technique; partitioning can prune only its
  *    one directory dimension, while Z-order buys multi-dimensional
  *    skipping inside a partition.
  *  - Small-file compaction: streaming/incremental sinks accrete
  *    thousands of KB-sized files whose open/footer overhead dominates
  *    a scan; rewrite a directory into target-sized files with the
  *    same atomic-swap protocol the merge sinks use.
  *
  * Extension surface beyond the reference (its S3 layout is one
  * time-partition tree, `/root/reference/src/pyveb/config.py:77-108`).
  */
object LayoutOps {

  /** Bit-interleaved Z-value of `cols` (round-robin: bit i of column j
    * lands at position `i * n + j`), as one non-negative long. Columns
    * must be integral and non-negative; values are masked to
    * `bitsPerCol` bits (callers scale/rank-normalize wider domains
    * first — interleaving only preserves locality for in-domain
    * values). `bitsPerCol * cols.size` must stay below 63.
    */
  def zValue(cols: Seq[Column], bitsPerCol: Int = 16): Column = {
    val n = cols.size
    require(n >= 1, "zValue: at least one column")
    require(bitsPerCol >= 1 && bitsPerCol * n <= 63,
      s"zValue: $n cols × $bitsPerCol bits must fit a positive long")
    val mask = (1L << bitsPerCol) - 1
    cols.zipWithIndex.map { case (c, j) =>
      val x = c.cast(LongType).bitwiseAND(lit(mask))
      (0 until bitsPerCol).map { i =>
        shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), i * n + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Write `df` Z-ordered on `zCols` into `nFiles` range-partitioned,
    * internally sorted parquet files. Range partitioning on the
    * Z-value gives each file a contiguous Z-interval, hence tight
    * per-file min/max on every clustered column; the within-file sort
    * tightens parquet row-group statistics the same way. The Z column
    * itself is dropped before writing — it is a layout device, not
    * data. Verification: `ScaleOpsSpec` shows a box filter decodes a
    * fraction of the rows a random layout decodes, from footer stats
    * alone.
    */
  def zOrderWrite(df: DataFrame, path: String, zCols: Seq[String],
                  nFiles: Int, bitsPerCol: Int = 16): Unit = {
    require(nFiles >= 1, "zOrderWrite: nFiles must be >= 1")
    df.withColumn("__z", zValue(zCols.map(col), bitsPerCol))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Rewrite a parquet directory into files of roughly
    * `targetFileBytes` (computed from the CURRENT on-disk size, so
    * compression ratios carry over), preserving rows and schema, via
    * the same atomic swap as the merge sinks — readers never observe
    * a half-compacted directory. `commit = PointerCommit` publishes
    * the compacted image as a fresh manifest generation instead of a
    * rename swap (object stores — exactly where small-file compaction
    * runs daily); a pointer-committed target resolves transparently.
    * Returns the file count written.
    */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              commit: graft.merge.Merge.Commit =
                graft.merge.Merge.RenameCommit): Int = {
    require(targetFileBytes > 0, "compact: targetFileBytes must be > 0")
    val resolved = graft.merge.Merge.resolveDir(spark, dir)
    val p = new org.apache.hadoop.fs.Path(resolved)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // the rewrite computes into a fresh dir (stage sibling or __data_
    // generation) while the source stays intact (no Spark
    // self-overwrite hazard); a crash mid-compaction leaves the
    // original readable.
    graft.merge.Merge.atomicReplace(
      Readers.parquet(spark, resolved).repartition(nFiles), dir, commit)
    nFiles
  }
}
