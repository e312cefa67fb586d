package graft.util

import org.apache.spark.sql.SparkSession

/** The frozen-params header of every at-rest index family (dedup,
  * winnow, LSH, IVF, IVF-PQ, BM25, Bloom): one `_graft_meta` file of
  * `key=value` lines at the index root, written by the build inside
  * the tree it publishes. A family's params (shingle width and hash
  * tier, quantizers, bucket count, bloom triple) are a structural
  * invariant of its artifacts — rows written under other params never
  * meet their at-rest counterparts — so appends and probes read them
  * from here, never from callers. A key may repeat (one line per IVF
  * centroid or PQ codeword); [[Header.all]] returns its values in file
  * order. Families own only their key names and typed views.
  */
object IndexMeta {

  private val FileName = "_graft_meta"

  /** A parsed header: `dir` is the directory the index resolved to (a
    * pointer-committed index's current `__data_` generation, which is
    * where its artifacts live). A missing key means the directory
    * holds another family's index, and the error says so. */
  final class Header private[IndexMeta] (val dir: String, family: String,
                                         entries: Seq[(String, String)]) {
    def all(key: String): Seq[String] = entries.collect { case (`key`, v) => v }

    def apply(key: String): String = all(key).headOption.getOrElse(
      throw new IllegalArgumentException(
        s"$family index $dir: $FileName has no '$key' — the directory holds a " +
          s"DIFFERENT index family (meta keys: ${entries.map(_._1).distinct.sorted.mkString(", ")}); " +
          s"probe it with its own family's operators, or rebuild it as $family"))

    def int(key: String): Int = apply(key).toInt
    def long(key: String): Long = apply(key).toLong
    def bool(key: String): Boolean = apply(key).toBoolean
  }

  /** Write the header of the index being built under `root` (the
    * build's staging directory; the publish makes it visible together
    * with the artifacts). */
  def write(spark: SparkSession, root: String, entries: Seq[(String, Any)]): Unit =
    Fs.writeSmallFile(spark, s"$root/$FileName",
      entries.map { case (k, v) => s"$k=$v\n" }.mkString)

  /** The header of the index at `indexDir` (resolved through its commit
    * manifest), or None when the directory has none — for the one
    * family that still accepts an index written before headers
    * existed (the dedup exact tier). */
  def read(spark: SparkSession, indexDir: String, family: String): Option[Header] = {
    val dir = graft.merge.Merge.resolveDir(spark, indexDir)
    Fs.readSmallFile(spark, s"$dir/$FileName").map { s =>
      new Header(dir, family, s.linesIterator.filter(_.contains('=')).map { l =>
        val Array(k, v) = l.split("=", 2); (k.trim, v.trim)
      }.toSeq)
    }
  }

  /** The header of a written `family` index; a directory without one
    * fails fast naming the builder. */
  def open(spark: SparkSession, indexDir: String, family: String,
           builder: String): Header =
    read(spark, indexDir, family).getOrElse(throw new IllegalArgumentException(
      s"$family index ${graft.merge.Merge.resolveDir(spark, indexDir)} has no $FileName — " +
        s"not a written $family index (build it with $builder; its frozen params " +
        "are the index contract)"))

  /** Doubles as raw IEEE-754 long bits: a bit-exact, locale-proof round
    * trip (a decimal form that loses one ulp would move a vector
    * across a quantizer boundary). */
  def encodeDoubles(v: Array[Double]): String =
    v.map(java.lang.Double.doubleToRawLongBits).mkString(",")

  def decodeDoubles(s: String): Array[Double] =
    s.split(",").map(b => java.lang.Double.longBitsToDouble(b.toLong))
}
