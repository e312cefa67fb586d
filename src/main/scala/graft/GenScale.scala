package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Readers

/** Dev tool: build an sfN fixture set as `copies`× a source sf dir —
  * the fixture behind the scale curves ([[ScaleCurves]] records
  * sec(sf0.1) vs sec(sf1)). NOT part of the
  * engine; writes only under the given destination (default
  * /tmp/graft_sf1).
  *
  *   sbt "runMain graft.GenScale /root/testdata/sf0.1 /tmp/graft_sf1 10"
  *
  * Scaling model — every copy is a disjoint key universe, so operator
  * input size grows exactly `copies`× with the STRUCTURE per copy
  * unchanged (degree distributions, block sizes, near-dup density):
  *
  *   - every entity/fact key shifts by `copy · 10⁸` (disjoint from the
  *     `+10⁶` custkey offset the trade-graph queries apply, since
  *     within-copy keys stay far below 10⁶ at these SFs);
  *   - `documents.text` word-salts each token with the copy id, so
  *     shingle/minhash/winnow universes are disjoint across copies —
  *     near-dup structure replicates instead of exploding (10 exact
  *     copies of every doc would square the pair counts, which is a
  *     different corpus, not a bigger one); `n_chars` is recomputed;
  *   - `part.p_name` gets a copy-distinct FIRST token, so ER blocking
  *     keys stay per-copy and block sizes hold constant (a grown real
  *     corpus grows its name vocabulary too; without this the blocked
  *     join measures block-growth quadratics, not scale);
  *   - `events.ts` passes through: same window, `copies`× density;
  *   - dimension tables `nation`/`region` copy verbatim.
  */
object GenScale {
  private val Shift = 100000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Graft.session()
    spark.sparkContext.setLogLevel("WARN")

    def scaled(table: String, keyCols: Seq[String],
               textTweak: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = Readers.parquet(spark, s"$src/$table.parquet")
      val parts = (0 until copies).map { i =>
        val shifted = keyCols.foldLeft(base) { (df, k) =>
          df.withColumn(k, col(k) + lit(Shift * i))
        }
        textTweak(shifted, i)
      }
      parts.reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[genscale] $table x$copies done")
    }

    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scaled("orders", Seq("o_orderkey", "o_custkey"))
    scaled("customer", Seq("c_custkey"))
    scaled("supplier", Seq("s_suppkey"))
    scaled("part", Seq("p_partkey"), (df, i) =>
      if (i == 0) df
      else df.withColumn("p_name", concat(lit(s"c$i"), lit("_"), col("p_name"))))
    scaled("documents", Seq("doc_id"), (df, i) =>
      if (i == 0) df
      else df
        .withColumn("text",
          array_join(transform(split(col("text"), "\\s+"),
            w => concat(w, lit(s"_c$i"))), " "))
        .withColumn("n_chars", length(col("text")).cast("long")))
    scaled("events", Seq("event_id", "user_id"))
    scaled("embeddings", Seq("vec_id"))
    for (t <- Seq("nation", "region"))
      Readers.parquet(spark, s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    println(s"[genscale] wrote $dst (${copies}x $src)")
    spark.stop()
  }
}
