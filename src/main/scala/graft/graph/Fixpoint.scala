package graft.graph

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one fixed-point driver of the graph family: connected
  * components, PageRank, label propagation and BFS each supply only a
  * `step` and a convergence `probe`; the round shape, the lineage
  * discipline and the resource contract live here, once.
  *
  * State is a two-column `(Long, Long)` frame. Every round's state is
  * an explicitly persisted RDD (the BACKBONE), re-wrapped as a
  * persisted DataFrame VIEW that the next step reads. The backbone
  * keeps plan depth constant: the returned frame is a plain scan of
  * the final RDD, so its plan does not grow with the round count. The
  * persisted view is STATS-BEARING: a bare `rdd.toDF` has no size
  * estimate (`defaultSizeInBytes`, effectively infinite), so every
  * per-round join against it would plan a SortMergeJoin — an Exchange
  * + Sort of the state each round. Once materialized, the view carries
  * its measured size and the planner broadcasts a state that fits the
  * threshold and keeps the shuffled join for one that does not.
  *
  * One action per round: the probe (or `count()` when there is none)
  * scans the whole new view, which materializes the view and its RDD
  * in the same job that tests convergence.
  *
  * Persisting truncates recomputation but not the serialized
  * dependency graph — task closures would carry every prior round's
  * plan, and past ~40 rounds deserialization overflows the stack.
  * Every [[CheckpointEvery]] rounds the new state is local-checkpointed
  * (marked before its first action, as required). That ROOT stays
  * pinned until the next one supersedes it, so an evicted state can
  * always rebuild from a ≤[[CheckpointEvery]]-deep chain.
  *
  * Resources are released by HANDLE, never by sweeping
  * `getPersistentRDDs` (that would also drop blocks concurrent jobs in
  * the same session own). Each superseded round is unpersisted as soon
  * as its successor is materialized; the final state (and its root,
  * when distinct) backs the returned frame, and its release registers
  * with the caller's innermost `graft.util.Materialize.scoped` block.
  * If anything throws — step, probe or action — every frame the run
  * persisted, and the caller's `owned` frames, are unpersisted before
  * the exception propagates.
  */
private[graph] object Fixpoint {

  val CheckpointEvery = 5

  /** Run `step` from `init` until `probe(prev, next, round)` reports
    * the fixpoint or `maxRounds` rounds ran. `init` is round 0's view
    * as given — a projection of a materialized cache (a node universe,
    * an edge set) already carries a size estimate. It is unpersisted
    * after round 1, like every superseded view. `owned` are the
    * caller's persisted frames the steps read (edge layouts, node
    * universes); they are unpersisted when the run ends either way —
    * the returned frame reads only the final RDD. Returns `(frame,
    * rounds, converged)`; with zero rounds the frame is `init` itself
    * and nothing is registered.
    */
  def apply(init: DataFrame, maxRounds: Int, owned: Seq[DataFrame] = Nil)
           (step: (DataFrame, Int) => DataFrame,
            probe: Option[(DataFrame, DataFrame, Int) => Boolean])
  : (DataFrame, Int, Boolean) = {
    val spark = init.sparkSession
    import spark.implicits._
    val Array(a, b) = init.columns
    var view = init
    var nextView: DataFrame = null
    var state, next, root: RDD[(Long, Long)] = null
    var rounds = 0
    var converged = false
    try {
      while (rounds < maxRounds && !converged) {
        rounds += 1
        next = step(view, rounds).as[(Long, Long)].rdd
          .persist(StorageLevel.MEMORY_AND_DISK)
        val isCkpt = rounds % CheckpointEvery == 0
        if (isCkpt) next.localCheckpoint()
        nextView = next.toDF(a, b).persist(StorageLevel.MEMORY_AND_DISK)
        converged = probe match {
          case Some(p) => p(view, nextView, rounds)
          case None => nextView.count(); false
        }
        val prev = state
        state = next
        view.unpersist()
        view = nextView
        if (isCkpt) { Option(root).foreach(_.unpersist()); root = next }
        if ((prev ne null) && (prev ne root)) prev.unpersist()
      }
    } catch {
      case t: Throwable =>
        (Seq(view, nextView) ++ owned).filter(_ ne null).foreach(_.unpersist())
        Seq(state, next, root).filter(_ ne null).foreach(_.unpersist())
        throw t
    }
    view.unpersist()
    owned.foreach(_.unpersist())
    if (state eq null) (init, 0, converged)
    else {
      val (fin, pinned) = (state, root)
      graft.util.Materialize.register { () =>
        fin.unpersist()
        if ((pinned ne null) && (pinned ne fin)) pinned.unpersist()
      }
      (fin.toDF(a, b), rounds, converged)
    }
  }
}
