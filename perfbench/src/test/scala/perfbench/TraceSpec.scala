package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, startMs: Long, endMs: Long,
                   layer: String = Trace.BenchLayer, pass: Int = 1): Span =
    Span(id, s"s$id", layer, parent, pass, startMs * 1000, endMs * 1000)

  test("tail reports p90 when at least ten samples lie beyond it") {
    val xs = (1 to 200).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 180.0)
    assert(t.percentile == 0.9)
    assert(t.beyond == 20)
  }

  test("tail lowers the percentile until ten samples lie beyond it") {
    val t = Stats.tail((1 to 50).map(_.toDouble))
    assert(t.value == 40.0)
    assert(t.percentile == 0.8)
    assert(t.beyond == 10)
    val edge = Stats.tail((1 to 100).map(_.toDouble))
    assert(edge.value == 90.0 && edge.beyond == 10)
  }

  test("tail never drops below the median on small samples") {
    val t = Stats.tail((1 to 12).map(_.toDouble))
    assert(t.value == 7.0)
    assert(t.beyond == 5)
    assert(Stats.tail(Seq(1.0, 2.0, 3.0, 4.0)).value >= Stats.median(Seq(1.0, 2.0, 3.0, 4.0)))
    assert(Stats.tail(Seq(3.0)).value == 3.0)
  }

  test("step median takes each step's own median before the median across steps") {
    val xs = Seq("a" -> 0.25, "b" -> 0.5, "c" -> 2.0, "a" -> 0.75, "b" -> 1.0, "c" -> 2.0)
    assert(Stats.perStep(xs) == Seq("a" -> 0.5, "b" -> 0.75, "c" -> 2.0))
    assert(Stats.median(Stats.perStep(xs).map(_._2)) == 0.75)
    // pooled, the median would fall between a's and b's slow samples
    assert(Stats.median(xs.map(_._2)) == 0.875)
  }

  test("union length merges overlapping and clips to the window") {
    assert(Trace.unionLength(Seq((10L, 30L), (20L, 50L), (60L, 70L)), 0L, 100L) == 50L)
    assert(Trace.unionLength(Seq((-10L, 5L), (95L, 150L)), 0L, 100L) == 10L)
    assert(Trace.unionLength(Nil, 0L, 100L) == 0L)
  }

  test("self time subtracts the union of direct children once") {
    val spans = Seq(
      span(0, -1, 0, 100),
      span(1, 0, 10, 30), span(2, 0, 20, 50), // overlapping siblings
      span(3, 0, 60, 70),
      span(4, 1, 12, 20)) // grandchild: counts against its parent only
    val self = Trace.selfTimes(spans)
    assert(self(0) == 50 * 1000)
    assert(self(1) == 12 * 1000)
    assert(self(2) == 30 * 1000)
    assert(self(4) == 8 * 1000)
  }

  test("self times of sequential spans add up to the root's wall time") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 5, 40), span(2, 1, 10, 30),
      span(3, 0, 40, 90), span(4, 3, 50, 60), span(5, 3, 60, 85))
    val self = Trace.selfTimes(spans)
    assert(spans.map(s => self(s.id)).sum == 100 * 1000)
  }

  test("a job belongs to the innermost span open when it started") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 90),
      span(2, 1, 20, 60, layer = "dedup"))
    assert(Trace.owner(spans, 30).map(_.id).contains(2))
    assert(Trace.owner(spans, 70).map(_.id).contains(1))
    assert(Trace.owner(spans, 95).map(_.id).contains(0))
    assert(Trace.owner(spans, 150).isEmpty)
  }

  test("jobs started from Par-style worker threads go to the span that started the threads") {
    val log = new SpanLog(() => System.nanoTime() / 1000)
    val jobTimes = new ConcurrentLinkedQueue[Long]()
    var after = 0L
    log.pass = 1
    log("step", Trace.BenchLayer) {
      log("DedupOps.dedupAgainstIndex", "dedup") {
        val workers = (1 to 3).map { _ =>
          // worker threads carry no job-group properties, only a start time
          val t = new Thread(() => { Thread.sleep(5); jobTimes.add(System.nanoTime() / 1000000) })
          t.start(); t
        }
        workers.foreach(_.join())
        Thread.sleep(2)
      }
      Thread.sleep(3)
      after = System.nanoTime() / 1000000
      Thread.sleep(2)
    }
    val spans = log.spans
    val dedup = spans.find(_.layer == "dedup").get
    jobTimes.asScala.foreach(t => assert(Trace.owner(spans, t).contains(dedup)))
    val jobs = jobTimes.asScala.toSeq.zipWithIndex.map { case (t, i) =>
      JobRec(i, t, Seq(StageRec(t, t + 1, 4, 10, 1024 * 1024, 0)))
    } :+ JobRec(99, after, Nil)
    val m = Layers.aggregate(spans, jobs, Nil, Set(1))
    assert(m("dedup.jobs") == 3.0)
    assert(m("dedup.tasks") == 12.0)
    assert(m("dedup.calls") == 1.0)
    assert(!m.contains("merge.jobs"))
  }

  test("driver gap is span wall minus the union of its stages' active time") {
    val spans = Seq(span(0, -1, 0, 1000), span(1, 0, 0, 1000, layer = "merge"))
    val jobs = Seq(
      JobRec(1, 100, Seq(StageRec(200, 600, 4, 300, 0, 0))),
      JobRec(2, 500, Seq(StageRec(500, 700, 4, 100, 0, 0))))
    val m = Layers.aggregate(spans, jobs, Seq(PlanRec(150, 40, 3)), Set(1))
    assert(m("merge.jobs") == 2.0)
    assert(math.abs(m("merge.driver_gap_s") - 0.5) < 1e-9)
    assert(math.abs(m("merge.task_s") - 0.4) < 1e-9)
    assert(m("merge.plan_ms") == 40.0)
    assert(m("io.output_files") == 3.0)
    assert(m("merge.wall_s") == 1.0)
  }

  test("per-layer figures are per pass and skip passes outside the set") {
    val spans = Seq(span(0, -1, 0, 100, pass = 0), span(1, 0, 0, 100, layer = "graph", pass = 0),
      span(2, -1, 200, 300, pass = 1), span(3, 2, 200, 300, layer = "graph", pass = 1),
      span(4, -1, 400, 500, pass = 2), span(5, 4, 400, 500, layer = "graph", pass = 2))
    val jobs = Seq(JobRec(1, 50, Nil), JobRec(2, 250, Nil), JobRec(3, 450, Nil), JobRec(4, 460, Nil))
    val m = Layers.aggregate(spans, jobs, Nil, Set(1, 2))
    assert(m("graph.jobs") == 1.5)
    assert(m("graph.calls") == 1.0)
  }
}
