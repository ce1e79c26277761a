package perfbench

import org.apache.spark.perfbench.{CallMark, TestEvents}
import org.apache.spark.scheduler.SparkListenerUnpersistRDD

/** The benchmark's own test (`python3 perfbench/run.py --selftest`): the
  * generator is deterministic per seed, every printed metric line parses
  * back to a name, a value and a unit, the cache meter counts per call,
  * and the order statistics are right. Exits non-zero on the first failure. */
object SelfTest {
  private var checks = 0

  private def expect(what: String)(ok: Boolean): Unit = {
    checks += 1
    if (!ok) {
      System.err.println(s"selftest FAILED: $what")
      System.exit(1)
    }
  }

  def main(args: Array[String]): Unit = {
    // Same seed, byte-identical inputs; another seed, other inputs at
    // the same sizes.
    val c1 = Gen.cadence(7, 360, 3)
    expect("cadence: same seed, same digest")(
      Gen.digest(c1) == Gen.digest(Gen.cadence(7, 360, 3)))
    val c2 = Gen.cadence(8, 360, 3)
    expect("cadence: another seed, another digest")(Gen.digest(c1) != Gen.digest(c2))
    expect("cadence: base doc count is fixed")(
      Seq(c1, c2).forall(_.batches.flatten.count(_.id < 360) == 360))
    expect("cadence: batch ids are disjoint")({
      val ids = c1.batches.flatten.map(_.id)
      ids.distinct.size == ids.size
    })
    val x1 = Gen.corpus10x(7, 500, 200, 16)
    expect("corpus_10x: same seed, same digest")(
      Gen.digest(x1) == Gen.digest(Gen.corpus10x(7, 500, 200, 16)))
    expect("corpus_10x: another seed, another digest")(
      Gen.digest(x1) != Gen.digest(Gen.corpus10x(8, 500, 200, 16)))
    expect("corpus_10x: ten docs per clique, ids doc_id*10+i")(
      x1.docs.size == 5000 && x1.docs.groupBy(_.id / 10).forall(_._2.size == 10))

    // Printed metric lines parse back with a name and a unit.
    val samples = Seq(Metric("setup_s", 12.345678901234, "s"),
      Metric("step_gmean_ms", 4321.5, "ms"), Metric("items_per_s", 1.0e-7, "1/s"),
      Metric("spark.busy_frac", 0.25, "ratio"), Metric("spark.jobs", 634, "count"),
      Metric("trace.overhead_frac", -0.031, "ratio"),
      Metric("peak_cache_mb", 17.0, "MB"))
    samples.foreach { m =>
      expect(s"metric line parses: ${m.line}")(Metric.parse(m.line).contains(m))
    }
    expect("a malformed line does not parse")(
      Metric.parse("[perfbench] metric 1 s").isEmpty &&
        Metric.parse("[perfbench] metric x y s").isEmpty)
    val rec = Metric.record(correct = true, 3, 0, samples.take(2))
    expect("record keys")(rec.startsWith("""{"correct":true,"attempted":3,"failed":0,"metrics":{"setup_s":{"value":"""))

    // The cache meter counts, per call, only the blocks that call cached.
    val meter = new CacheMeter
    def block(rdd: Int, part: Int, bytes: Long) =
      meter.onBlockUpdated(TestEvents.blockUpdate(rdd, part, bytes))
    meter.onOtherEvent(CallMark(resetPeak = true))
    block(1, 0, 100); block(1, 1, 100)
    meter.onOtherEvent(CallMark(resetPeak = false))
    block(2, 0, 150)
    block(1, 2, 500) // a block of an RDD an earlier call cached
    meter.onUnpersistRDD(SparkListenerUnpersistRDD(1))
    block(3, 0, 30)
    expect(s"cache meter peak ${meter.peakBytes}, want 200")(meter.peakBytes == 200)
    meter.onUnpersistRDD(SparkListenerUnpersistRDD(2))
    block(3, 1, 100); block(3, 2, 100)
    expect(s"cache meter peak ${meter.peakBytes}, want 230")(meter.peakBytes == 230)
    meter.onOtherEvent(CallMark(resetPeak = true))
    block(4, 0, 10)
    expect(s"cache meter reset, peak ${meter.peakBytes}")(meter.peakBytes == 10)

    expect("median")(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
      Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    expect("geometric mean")(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    println(s"""{"selftest":"ok","checks":$checks}""")
  }
}
