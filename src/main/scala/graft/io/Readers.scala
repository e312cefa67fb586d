package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.DriverFooterParquet
import org.apache.spark.sql.types.StructType

import graft.relational.RelationalOps
import graft.schema.SchemaOps

/** Scan operators (SURVEY.md §2.1). Thin, schema-enforcing wrappers over
  * Spark's sources. Scans stay declarative so Catalyst's pushdown /
  * pruning / vectorized parquet reader all apply — `.explain` on any
  * downstream plan should show `PushedFilters` and a pruned `ReadSchema`.
  */
object Readers {

  /** Read every parquet file under a prefix (directory). With a schema:
    * lenient cast-by-projection, because parts written at different times
    * can disagree on types ("columns which contain only nulls in one
    * file", `src/pyveb/spark_client.py:110-113`). Without `mergeSchema`
    * the read starts no job: its schema is the one `spark.read.parquet`
    * infers, from the same footer, read on the driver.
    * Reference: `read_parquet` `src/pyveb/spark_client.py:107-115`.
    */
  def parquet(spark: SparkSession, path: String,
              schema: Option[StructType] = None,
              mergeSchema: Boolean = false): DataFrame = {
    // The declared schema is applied as a lenient cast-by-projection on
    // top of the files' own. Passing it to the reader instead would make
    // the scan itself reject type drift (files that wrote a column as
    // string while the caller declares timestamp — the reference's core
    // drift case), and footer-merging every file (mergeSchema) is wasted
    // metadata work at scale when a schema is declared. Opt into
    // `mergeSchema` only for a schema-LESS read over parts with disjoint
    // column subsets; per-file TYPE conflicts need the per-file drift
    // path (multipleParquet).
    val df =
      if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(path)
      else parquet(spark, Seq(path))
    schema.fold(df)(SchemaOps.applySchema(df, _))
  }

  /** One relation over several parquet paths (files or directories):
    * `spark.read.parquet(paths: _*)` with the schema read on the driver.
    * Every schema-less parquet read in the engine goes through here —
    * same schema, relation and errors as Spark's, and no footer-reading
    * job (see `DriverFooterParquet`). */
  def parquet(spark: SparkSession, paths: Seq[String]): DataFrame =
    DriverFooterParquet.read(spark, paths)

  /** One parquet file, optional cast-enforce.
    * Reference: `read_single_parquet_file` `src/pyveb/spark_client.py:136-153`. */
  def singleParquet(spark: SparkSession, file: String,
                    schema: Option[StructType] = None): DataFrame =
    parquet(spark, file, schema)

  /** Read N parquet files tolerating per-file schema drift: per-file
    * read, fold with union-by-name (missing columns → NULL), then one
    * lenient cast onto the declared schema.
    * Reference: `read_multiple_parquet_files` `src/pyveb/spark_client.py:177-196`.
    */
  def multipleParquet(spark: SparkSession, files: Seq[String],
                      schema: Option[StructType] = None): DataFrame = {
    val united = RelationalOps.uniteByName(files.map(f => parquet(spark, f)))
    schema.fold(united)(SchemaOps.applySchema(united, _))
  }

  /** CSV with header flag + delimiter (reference default `;`), optional
    * cast-enforce.
    * Reference: `read_single_csv_file` `src/pyveb/spark_client.py:117-134`. */
  def csv(spark: SparkSession, files: Seq[String], schema: Option[StructType] = None,
          header: Boolean = true, delimiter: String = ";"): DataFrame = {
    val df = spark.read
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(files: _*)
    schema.fold(df)(SchemaOps.applySchema(df, _))
  }

  /** Multi-CSV with per-file drift tolerance.
    * Reference: `read_multiple_csv_files` `src/pyveb/spark_client.py:155-175`. */
  def multipleCsv(spark: SparkSession, files: Seq[String],
                  schema: Option[StructType] = None,
                  header: Boolean = true, delimiter: String = ";"): DataFrame = {
    val united = RelationalOps.uniteByName(
      files.map(f => csv(spark, Seq(f), None, header, delimiter)))
    schema.fold(united)(SchemaOps.applySchema(united, _))
  }

  /** JSON-lines read (the reference downloads JSON objects from S3,
    * `src/pyveb/s3_client.py:255-299`). */
  def json(spark: SparkSession, path: String,
           schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read.json(path))(s => spark.read.schema(s).json(path))

  /** Binary files as (path, modificationTime, length, content) — the
    * engine-native form of the reference's byte-stream S3 download
    * (`download_s3_to_memory` `src/pyveb/s3_client.py:255-272`); feeds
    * the multimodal column ops.
    */
  def binary(spark: SparkSession, path: String, glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** List files under a prefix, optionally filtering by extension and
    * dropping empty files — distributed-filesystem analog of the
    * reference's paginated S3 listing (`list_files`
    * `src/pyveb/s3_client.py:29-71`; size filter `:73-87`).
    *
    * Fidelity to the reference listing contract:
    *   - returned paths are ABSOLUTE (the reference absolutizes every
    *     key to `s3://bucket/key`; here the filesystem's full URI);
    *   - keys are URL-unquoted (the reference lists with
    *     `EncodingType=url` then `unquote`s — a key written as
    *     `a%20b.csv` comes back as `a b.csv`);
    *   - `includeEmpty = false` drops zero-byte files (reference
    *     `list_empty_files` kwarg; default true for compatibility);
    *   - `minBytes` is the strictly-bigger-than filter of
    *     `list_files_bigger_than`; `maxFiles` caps the listing.
    */
  def listFiles(spark: SparkSession, prefix: String, fileType: Option[String] = None,
                minBytes: Long = -1L, maxFiles: Int = Int.MaxValue,
                includeEmpty: Boolean = true): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(prefix)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext && out.size < maxFiles) {
      val st = it.next()
      val name = unquote(st.getPath.getName)
      val typeOk = fileType.forall(name.contains)
      val sizeOk = st.getLen > minBytes && (includeEmpty || st.getLen > 0)
      if (st.isFile && typeOk && sizeOk) out += unquote(st.getPath.toString)
    }
    out.toSeq
  }

  /** Copy one remote file to the local filesystem — the reference's
    * byte-stream download-to-file (`download_s3_to_local_file`,
    * `src/pyveb/s3_client.py:274-283`), generalized over any Hadoop
    * filesystem. For feeding driver-side tools (xlsx readers, legacy
    * parsers) that need a real local path; distributed reads should use
    * the scan operators instead. Returns the local path.
    */
  def downloadToLocal(spark: SparkSession, remote: String, localPath: String): String = {
    val src = new org.apache.hadoop.fs.Path(remote)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.copyToLocalFile(false, src, new org.apache.hadoop.fs.Path(localPath), true)
    localPath
  }

  /** URL-unquote percent-escapes in a path string (reference `unquote`,
    * `s3_client.py:68`); strings without `%` pass through untouched and
    * malformed escapes are left as-is rather than failing the listing. */
  private[io] def unquote(s: String): String =
    if (!s.contains('%')) s
    else try java.net.URLDecoder.decode(s.replace("+", "%2B"), "UTF-8")
    catch { case _: IllegalArgumentException => s }
}
