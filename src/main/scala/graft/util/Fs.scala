package graft.util

import org.apache.spark.sql.SparkSession

/** Hadoop-filesystem plumbing shared by the at-rest index families
  * and anything else that keeps small engine-owned control files (the
  * [[IndexMeta]] header, the absorbed-tag ledger) next to parquet
  * artifacts. Lives in `util` so no domain module has to depend on
  * another for filesystem access.
  */
object Fs {

  def hfs(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def pathExists(spark: SparkSession, path: String): Boolean =
    hfs(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  def writeSmallFile(spark: SparkSession, path: String, content: String): Unit = {
    val out = hfs(spark, path).create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  def readSmallFile(spark: SparkSession, path: String): Option[String] = {
    val fs = hfs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8"))
      finally in.close()
    }
  }
}
