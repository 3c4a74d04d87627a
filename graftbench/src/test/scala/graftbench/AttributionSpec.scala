package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {

  test("union of job intervals") {
    assert(Attribution.unionMs(Nil) == 0L)
    assert(Attribution.unionMs(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Attribution.unionMs(Seq((20L, 30L), (0L, 40L))) == 40L)
  }

  test("jobs attribute by span property, else by window; stages by first " +
      "job") {
    val spans = Seq(
      SpanRec("a#1", "a", 1.0, 1000L, 2000L, 0L, 0L),
      SpanRec("b#2", "b", 1.0, 2000L, 3000L, 0L, 0L))
    val jobs = Seq(
      // Started in a's window but carries b's property: b's.
      JobRec(0, Some("b#2"), None, 1500L, 1600L, Seq(0, 1)),
      // No property: falls to the window that holds its start (a).
      JobRec(1, None, Some("graft.cc round 0"), 1100L, 1300L, Seq(2)),
      // Lists stage 1 again (skipped): its tasks stay with job 0.
      JobRec(2, Some("b#2"), None, 2100L, 2500L, Seq(1, 3)))
    val stages = Map(0 -> TaskAgg(2L, 0.5), 1 -> TaskAgg(3L, 1.0),
      2 -> TaskAgg(1L, 0.25), 3 -> TaskAgg(4L, 2.0))
    val byLayer = Attribution.attribute(spans, jobs, stages)
      .map(s => s.span.layer -> s).toMap
    val a = byLayer("a")
    assert(a.jobs.map(_.jobId) == Seq(1))
    assert(a.tasks == TaskAgg(1L, 0.25))
    assert(a.rounds == 1)
    assert(math.abs(a.unionS - 0.2) < 1e-9)
    assert(math.abs(a.gapS - 0.8) < 1e-9)
    val b = byLayer("b")
    assert(b.jobs.map(_.jobId).sorted == Seq(0, 2))
    assert(b.tasks == TaskAgg(9L, 3.5))
    // Job 0 ran before b's window: the union counts it, the clipped gap
    // does not, and the self-check sees the excess.
    assert(math.abs(b.unionS - 0.5) < 1e-9)
    assert(math.abs(b.gapS - 0.6) < 1e-9)
  }

  test("a toy two-job span: both jobs, all tasks, wall = jobs + gaps") {
    val spark = SparkSession.builder().master("local[2]")
      .appName("attribution-spec").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val sc = spark.sparkContext
      val tr = new Tracer(sc, enabled = true)
      sc.parallelize(1 to 10, 3).count() // outside any span
      tr.span("toy") {
        sc.parallelize(1 to 100, 4).map(_ * 2).count()
        Thread.sleep(50) // driver time between the two jobs
        sc.parallelize(1 to 100, 2).count()
      }
      val stats = tr.finish(spark)
      assert(stats.size == 1)
      val s = stats.head
      assert(s.span.layer == "toy")
      assert(s.jobs.size == 2)
      assert(s.jobs.forall(_.span.contains(s.span.id)))
      assert(s.tasks.tasks == 6L)
      assert(s.gapS >= 0.05)
      // Millisecond event clocks against a nanosecond wall: a few ms slack.
      assert(math.abs(s.unionS + s.gapS - s.span.wallS) < 0.01)
      assert(Layers.spanCheck(stats)("toy") < 0.2)
    } finally spark.stop()
  }
}
