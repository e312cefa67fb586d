package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The engine's one release path for blocks an operator persists.
  *
  * Operators run again and again inside one long-lived session, so
  * every block they leave persisted behind a returned frame (a pair
  * finder's fork cache, a graph fixpoint's final state, a bounded
  * gauge's checkpoint) must be freeable — and freeable WITHOUT
  * sweeping `getPersistentRDDs` or the CacheManager, which would also
  * drop blocks a concurrent job in the same session owns (a severed
  * localCheckpoint block is unrecoverable).
  *
  * The contract, stated once:
  *   - Operators persist through [[persist]], [[bounded]] or
  *     [[freeze]] (and the graph family's `Fixpoint`, through
  *     [[register]]). Each call registers its release with the calling
  *     thread's innermost open [[scoped]] block; with no scope open it
  *     registers nowhere and the blocks live until session teardown
  *     (one-shot sessions).
  *   - A caller that needs a handle wraps the call:
  *     `val (df, release) = Materialize.scoped { op(…) }`, acts on `df`
  *     (write, collect), THEN calls `release()`. The handle frees
  *     exactly what the wrapped calls registered — never anything else.
  *   - Acting on a returned frame AFTER release fails LOUDLY for a
  *     checkpointed frame (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`: the
  *     severed lineage cannot recompute) and recomputes for a plain
  *     persist — never a silent wrong result. Sequence as
  *     build → act → release.
  *   - Release is idempotent (unpersist is), and a throwing body
  *     releases what it already registered before the exception
  *     propagates: those frames are by definition unconsumed.
  *   - Nested scopes capture into the innermost only, so a composition
  *     frees an intermediate early by wrapping just that call in its
  *     own scope (`minhashDupGroups` frees its pair cache once CC has
  *     materialized the pairs).
  *   - [[Par]] workers register into the scope of the thread that
  *     called `Par.eval`: the caller's scope stack is captured
  *     explicitly and installed in each worker for the thunk's run.
  *     It is NOT an `InheritableThreadLocal`, so a long-lived thread
  *     spawned from inside a scope (a stream, a Spark internal thread)
  *     never registers into a scope that has since closed.
  */
object Materialize {

  /** One open scope's release handles; appended from the owning thread
    * and from the [[Par]] workers it started. */
  private[util] final class Scope {
    private val handles = new ConcurrentLinkedQueue[() => Unit]()
    def add(release: () => Unit): Unit = { handles.add(release); () }
    def release(): Unit = handles.forEach(r => r())
  }

  private val scopeStack = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** Register `release` with the calling thread's innermost open scope
    * (a no-op when none is open). */
  private[graft] def register(release: () => Unit): Unit =
    scopeStack.get.headOption.foreach(_.add(release))

  /** The calling thread's scope stack, for [[Par]] to hand to workers. */
  private[util] def currentScopes: List[Scope] = scopeStack.get

  /** Run `body` with `scopes` as this thread's scope stack. */
  private[util] def withScopes[A](scopes: List[Scope])(body: => A): A = {
    val saved = scopeStack.get
    scopeStack.set(scopes)
    try body finally scopeStack.set(saved)
  }

  /** Run `body` collecting the release of every materialization it
    * registers (on this thread and on its [[Par]] workers); returns the
    * result plus ONE combined release. */
  def scoped[A](body: => A): (A, () => Unit) = {
    val scope = new Scope
    scopeStack.set(scope :: scopeStack.get)
    val a = try body catch {
      case t: Throwable => scope.release(); throw t
    } finally scopeStack.set(scopeStack.get.tail)
    (a, () => scope.release())
  }

  /** `df.persist(MEMORY_AND_DISK)` with its unpersist registered — for
    * an operator's fork cache that backs the frame it returns. */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    register(() => { p.unpersist(); () })
    p
  }

  /** Plan surgery for BOUNDED intermediate frames that feed multiple
    * downstream branches (a totals aggregate plus the main path is the
    * recurring shape): Catalyst expands each reference into its own
    * copy of the subtree, and exchange reuse does not reliably collapse
    * near-identical-but-not-canonical aggregates (verified via
    * `.explain("formatted")` on the drift gauges — the corpus scan
    * appeared once per branch). Severing the lineage with a checkpoint
    * makes every branch read the materialized bounded frame, so the
    * corpus work runs exactly once however many branches follow.
    *
    * Reliable checkpoint when a dir is configured (files, owned by the
    * checkpoint dir's lifecycle — nothing to register); [[freeze]]
    * otherwise (fine on local[*] — a cluster run that can lose
    * executors should set a checkpoint dir). Only call on frames that
    * are bounded BY CONSTRUCTION (sketches, vocab counts, per-day
    * bucket rows) — this materializes eagerly. */
  def bounded(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else freeze(df)

  /** Eager `localCheckpoint` with its release registered — freezes a
    * frame whose lineage reads state the caller is about to mutate (an
    * index it appends to). A local checkpoint's RDD is persisted in the
    * BlockManager but never enters the CacheManager, so neither
    * `Dataset.unpersist` nor a CacheManager sweep can free it — only
    * the handle to the underlying checkpoint RDD can (ContextCleaner
    * frees it eventually on GC, too late for a tight streaming loop). */
  def freeze(df: DataFrame): DataFrame = {
    val ckpt = df.localCheckpoint()
    ckpt.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        register(() => { l.rdd.unpersist(blocking = false); () })
      case _ => () // plan shape drifted: fall back to ContextCleaner
    }
    ckpt
  }
}
