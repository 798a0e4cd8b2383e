package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("a percentile needs enough samples to leave ten beyond it") {
    assert(minSamples(80, 10) == 50)
    assert(samplesBeyond(50, 80) == 10)
    assert(samplesBeyond(49, 80) == 9)
    assert(minSamples(95, 10) == 200)
    assert(samplesBeyond(200, 95) == 10)
    assert(samplesBeyond(199, 95) == 9)
    assert(minSamples(50, 10) == 20)
  }

  test("nearest-rank percentile picks a sample, never interpolates") {
    val xs = (1 to 200).map(_.toDouble).reverse
    assert(percentile(xs, 95) == 190.0)
    assert(percentile(xs, 100) == 200.0)
    assert(percentile(Seq(7.0), 95) == 7.0)
    assert(percentile(Seq(1.0, 2.0, 3.0), 50) == 2.0)
  }

  test("a typical total counts each sample at its kind's median") {
    val xs = Seq("a" -> 1.0, "a" -> 2.0, "a" -> 90.0, "b" -> 10.0, "b" -> 30.0)
    assert(typicalTotal(xs) == 3 * 2.0 + 2 * 20.0)
    assert(typicalTotal(Seq("a" -> 5.0)) == 5.0)
  }

  test("median interpolates between the middle pair") {
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(median(Seq(5.0, 1.0, 3.0)) == 3.0)
  }

  test("interval union counts overlapping and nested intervals once") {
    assert(coveredWithin(Seq((0L, 10L), (5L, 15L)), 0, 100) == 15)
    assert(coveredWithin(Seq((0L, 10L), (2L, 3L)), 0, 100) == 10)
    assert(coveredWithin(Seq((0L, 10L), (20L, 30L)), 0, 100) == 20)
    assert(coveredWithin(Seq((20L, 30L), (0L, 10L), (10L, 20L)), 0, 100) == 30)
    assert(coveredWithin(Nil, 0, 100) == 0)
  }

  test("interval union is clipped to the span") {
    assert(coveredWithin(Seq((-5L, 5L), (95L, 120L)), 0, 100) == 10)
    assert(coveredWithin(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("time outside jobs is span wall minus the job union inside it") {
    assert(outsideJobs(Seq((10L, 20L), (15L, 30L), (50L, 60L)), 0, 100) == 70)
    assert(outsideJobs(Seq((0L, 100L)), 0, 100) == 0)
    assert(outsideJobs(Nil, 0, 100) == 100)
  }

  test("a job belongs to the innermost span open when it starts") {
    val spans = Seq(Interval(1, 0, 100, 0), Interval(2, 10, 40, 1), Interval(3, 20, 30, 2))
    assert(attribute(spans, 5).contains(1))
    assert(attribute(spans, 15).contains(2))
    assert(attribute(spans, 25).contains(3))
    assert(attribute(spans, 35).contains(2))
    assert(attribute(spans, 99).contains(1))
    assert(attribute(spans, 100).isEmpty)
  }

  test("back-to-back spans hand their shared instant to the later one") {
    val spans = Seq(Interval(1, 0, 10, 0), Interval(2, 10, 20, 0), Interval(3, 20, 30, 0))
    assert(attribute(spans, 9).contains(1))
    assert(attribute(spans, 10).contains(2))
    assert(attribute(spans, 20).contains(3))
    assert(attribute(spans, 30).isEmpty)
  }

  test("a zero-length span never takes a job") {
    val spans = Seq(Interval(1, 0, 10, 0), Interval(2, 5, 5, 1))
    assert(attribute(spans, 5).contains(1))
  }
}
