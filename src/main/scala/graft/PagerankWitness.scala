package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale correctness witness for `q_pagerank` where the DuckDB replay
  * is infeasible (the sf1 oracle spills >80 GB), as a recorded check
  * rather than a prose argument. The engine's PageRank is EXACT integer
  * arithmetic ([[graft.graph.GraphOps.pageRank]]) — replayable
  * arithmetic, so where oracle-vs-engine is infeasible the right
  * witness is engine-vs-engine: run the registered production query
  * under two DIFFERENT `local[cpus]` / `shuffle.partitions` configs
  * and record
  *
  *   (a) the exact integer mass gauge (n_nodes, total_rank, max, min —
  *       [[graft.graph.GraphOps.rankIndexStats]]'s shape, computed on
  *       the live result), and
  *   (b) a full-vector bit-identity checksum: bit_xor of
  *       xxhash64(node, rank) over all rows — order-free and
  *       overflow-free, so identical iff the (node, rank) multiset is
  *       identical bit for bit.
  *
  * Any FP drift, partition-dependent summation, or nondeterministic
  * tie would move the checksum between configs. Output: one JSON line
  * per config + a final `"identical": true/false` verdict; exits
  * nonzero on mismatch so the run can gate.
  *
  *   java ... graft.PagerankWitness [sfDir] [outFile]
  */
object PagerankWitness {

  final case class Obs(tag: String, cpus: Int, shufflePartitions: Int,
                       nNodes: Long, totalRank: Long, maxRank: Long,
                       minRank: Long, checksum: Long, sec: Double)

  def observe(tag: String, cpus: Int, sp: Int, sfDir: String): Obs = {
    val spark = Graft.session(s"local[$cpus]", sp)
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val ranks = SparkEntry.queries("q_pagerank")(spark, sfDir)
    val row = ranks.agg(
      count(lit(1)).as("n"),
      sum(col("rank_ppb")).as("total"), // total mass ≤ scale: no overflow
      max(col("rank_ppb")).as("mx"),
      min(col("rank_ppb")).as("mn"),
      // order-free, overflow-free per-row-hash fold: bit-identity gauge
      expr("bit_xor(xxhash64(node, rank_ppb))").as("ck")).head()
    val sec = (System.nanoTime() - t0) / 1e9
    // n == 0 makes every other aggregate NULL, and getLong on a null
    // would report the witness failure as an opaque NPE
    if (row.getLong(0) == 0L) {
      spark.stop()
      sys.error(s"PagerankWitness: q_pagerank returned ZERO rows on $sfDir " +
        s"(config $tag) — empty result, not a checksum mismatch")
    }
    val obs = Obs(tag, cpus, sp, row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4), sec)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    obs
  }

  private def json(o: Obs): String =
    s"""{"tag":"${o.tag}","cpus":${o.cpus},"shuffle_partitions":${o.shufflePartitions},""" +
      s""""n_nodes":${o.nNodes},"total_rank":${o.totalRank},"max_rank":${o.maxRank},""" +
      s""""min_rank":${o.minRank},"checksum":${o.checksum},"sec":${f"${o.sec}%.1f"}}"""

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_sf1")
    val out = args.lift(1).getOrElse("pagerank_witness.json")
    // deliberately unequal configs: different task counts, different
    // shuffle fan-in, different parallel summation order
    val a = observe("a", 32, 32, sfDir)
    println(s"[witness] ${json(a)}")
    val b = observe("b", 8, 7, sfDir)
    println(s"[witness] ${json(b)}")
    val identical = a.nNodes == b.nNodes && a.totalRank == b.totalRank &&
      a.maxRank == b.maxRank && a.minRank == b.minRank && a.checksum == b.checksum
    val doc =
      s"""{"sf_dir":"$sfDir","configs":[${json(a)},${json(b)}],"identical":$identical}\n"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), doc)
    println(s"[witness] identical=$identical -> $out")
    if (!identical) sys.exit(1)
  }
}
