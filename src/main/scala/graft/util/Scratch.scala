package graft.util

/** Collision-safe scratch paths for write-then-read queries.
  *
  * The earlier scheme keyed scratch dirs by the digit residue of the
  * data dir (`dir.replaceAll("[^0-9.]", "")`), which collapses any two
  * dirs containing the same digits to ONE path, and two concurrent
  * harness runs over the same sf dir race overwrite-against-probe —
  * either can corrupt a hash-checked result. Paths are instead keyed
  * by a hash of the FULL dir string plus the JVM pid: stable within a
  * run (every query invocation for a given dir resolves to the same
  * path, so write→read pairs compose), distinct across dirs and across
  * concurrent processes.
  */
object Scratch {
  private lazy val pid: Long = ProcessHandle.current().pid()

  // pid-keyed scratch is unreachable by any OTHER process, so it is
  // garbage the instant this JVM exits — and without a hook it
  // accretes forever (thousands of orphaned dirs, gigabytes, after
  // repeated harness runs; on a long-lived cluster node the same leak
  // fills local disks). Best-effort delete of
  // every path this process handed out, registered once — through
  // Hadoop's ShutdownHookManager at a priority BELOW Spark's context
  // hook (50), so the sweep runs AFTER executors/block managers stop
  // and never yanks a dir a lingering task write still holds (a plain
  // Runtime hook runs CONCURRENTLY with Spark's).
  private val issued = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  private lazy val hook: Unit = {
    val sweep: Runnable = () => issued.keySet().forEach { p =>
      try org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      catch { case _: Throwable => () }
    }
    try org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(sweep, 10)
    catch { case _: Throwable => // no Hadoop on classpath: concurrent beats never
      Runtime.getRuntime.addShutdownHook(new Thread(sweep, "graft-scratch-gc"))
    }
  }

  // The exit hook only covers GRACEFUL deaths; harness JVMs commonly
  // die by SIGKILL/OOM-kill, where no hook runs. The
  // pid suffix makes orphanhood decidable from the outside, so the
  // FIRST path() call of any later JVM sweeps dirs whose owning pid is
  // no longer alive — each process cleans up after its dead siblings.
  private lazy val reaped: Unit = { reapOrphans(new java.io.File("/tmp")); () }

  /** Delete `root`'s `graft_*_p<pid>` entries whose pid is dead;
    * returns how many were deleted. Best-effort and side-effect-safe:
    * only names matching the exact issued pattern are considered, the
    * current JVM's own dirs are never touched, and a pid we cannot
    * interrogate is presumed alive (kept).
    *
    * PID-REUSE caveat: if the kernel recycles a dead
    * owner's pid onto an unrelated live process, that orphan reads
    * "alive" and is shielded for as long as the squatter runs — the
    * failure mode is bounded ACCRETION (a dir survives until the next
    * sweep after the squatter exits), never deletion of a live dir:
    * a live owner's dirs are protected by its own liveness, and a
    * recycled pid can only ADD protection. With Linux's default
    * 4M+ pid space and sequential allocation the window is rare and
    * self-heals; no counter-measure (e.g. process start-time stamps
    * in the dir name) is worth the path-format churn. */
  private[graft] def reapOrphans(root: java.io.File): Int = {
    val pat = "^graft_.+_p([0-9]{1,18})$".r
    var n = 0
    try Option(root.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      f.getName match {
        case pat(p) if p.toLong != pid =>
          val dead = try ProcessHandle.of(p.toLong).isEmpty
                     catch { case _: Throwable => false }
          if (dead && org.apache.commons.io.FileUtils.deleteQuietly(f)) n += 1
        case _ => ()
      }
    } catch { case _: Throwable => () }
    n
  }

  def path(tag: String, dir: String): String = {
    val h = Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(dir))
    val p = s"/tmp/graft_${tag}_${h}_p$pid"
    hook
    reaped
    issued.put(p, java.lang.Boolean.TRUE)
    p
  }

  /** [[path]] emptied first, for a query that builds its artifact from
    * nothing on every run. */
  def fresh(tag: String, dir: String): String = {
    val p = path(tag, dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
    p
  }
}
