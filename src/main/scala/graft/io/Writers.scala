package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sink operators (SURVEY.md §2.9): partitioned parquet/csv/json writers.
  *
  * The reference writes parquet to local disk then hand-uploads files to
  * S3 (`write_to_parquet` `src/pyveb/spark_client.py:207-230`); the
  * engine writes straight through Spark's committer (rename-free with a
  * cloud committer at scale), honoring the reference's
  * `maxRecordsPerFile` file-sizing contract (100k default,
  * `spark_client.py:207`).
  */
object Writers {

  def parquet(df: DataFrame, path: String,
              maxRecordsPerFile: Int = 100000,
              mode: SaveMode = SaveMode.Overwrite,
              partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** CSV with a separator (reference: `src/pyveb/s3_client.py:233-253`). */
  def csv(df: DataFrame, path: String, sep: String = ";",
          mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.option("sep", sep).option("header", "true").mode(mode).csv(path)

  /** JSON-lines (reference: list-of-dicts → S3 JSON,
    * `src/pyveb/common.py:305-324`). */
  def json(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** Write `df` as a BUCKETED table: rows are hash-distributed into
    * `nBuckets` files per partition by `bucketCols`, and the layout is
    * recorded in the catalog. Two tables bucketed the same way
    * equi-join on the bucket columns WITHOUT a shuffle on either side
    * — at 100 TB, pre-bucketing the fact and its biggest dim by the
    * join key turns every daily join from a full two-sided shuffle
    * into a local zip of corresponding buckets (the spec asserts the
    * no-Exchange plan). Bucketing requires the table catalog
    * (`saveAsTable`) — plain `.parquet(path)` files cannot carry the
    * bucket metadata.
    *
    * Pick `nBuckets` so a bucket of the FACT table fits an executor
    * core's working set; both sides must use the same count (Spark
    * joins only equal bucket counts shuffle-free).
    */
  def bucketed(df: DataFrame, table: String, bucketCols: Seq[String],
               nBuckets: Int, sortCols: Seq[String] = Nil,
               mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketCols.nonEmpty && nBuckets > 0, "bucketed: need cols and buckets")
    val w = df.write.mode(mode)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Overwrite only the partitions present in `df` (dynamic partition
    * overwrite) — the engine-native form of the reference's
    * delete-prefix-then-rewrite idempotency
    * (`delete_prefix_if_exist` `src/pyveb/s3_client.py:110-133`,
    * retry-delete `src/pyveb/lynx_client.py:128-131`): re-running a load
    * for one partition date replaces exactly that partition.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionBy: Seq[String],
                          maxRecordsPerFile: Int = 100000): Unit =
    // the per-write option, not the session conf: a session-wide
    // set-and-restore lets a concurrent writer on the same session plan
    // with the other mode, and a static plan of this write deletes
    // every partition it does not rewrite
    df.write
      .option("maxRecordsPerFile", maxRecordsPerFile.toString)
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionBy: _*)
      .parquet(path)
}
