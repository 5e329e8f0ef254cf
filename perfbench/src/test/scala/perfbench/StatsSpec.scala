package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median matches Python's statistics.median for odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("nearest-rank percentile carries its sample count") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == Stats.Pct(500.0, 1000))
    assert(Stats.percentile(xs, 99) == Stats.Pct(990.0, 1000))
    assert(Stats.percentile(xs, 100) == Stats.Pct(1000.0, 1000))
    assert(Stats.percentile(Seq(5.0), 99) == Stats.Pct(5.0, 1))
    // rank rounds up: the 3rd of 4 values is the smallest with ≥ 60% at or below
    assert(Stats.percentile(Seq(10.0, 20.0, 30.0, 40.0), 60).value == 30.0)
  }

  test("a percentile is supported only with ten samples beyond it") {
    assert(Stats.supported(99, 1000))
    assert(!Stats.supported(99, 999))
    assert(Stats.supported(50, 20))
    assert(!Stats.supported(50, 19))
  }

  test("skew is the slowest task over the median task") {
    assert(Stats.skew(Seq(1.0, 1.0, 1.0, 4.0)) == 4.0)
    assert(Stats.skew(Seq(2.0, 2.0, 2.0)) == 1.0)
    assert(Stats.skew(Seq(0.0, 0.0, 5.0)) == 0.0) // zero median: no ratio
  }

  test("slot_busy_frac is summed task time over wall times cores") {
    assert(Stats.slotBusyFrac(8.0, 4.0, 4) == 0.5)
    assert(Stats.slotBusyFrac(16.0, 4.0, 4) == 1.0)
    assert(Stats.slotBusyFrac(1.0, 0.0, 4) == 0.0)
  }

  test("stage roles follow what the stage moved") {
    import Stats._
    // ExtractJob: scan + salted shuffle write, then shuffle read + map + write
    assert(role(inputBytes = 100, 0, shuffleWriteBytes = 90, 0, extractJob = true) == Scan)
    assert(role(0, shuffleReadBytes = 90, 0, outputBytes = 10, extractJob = true) == Extract)
    // the lineage write reads no shuffle
    assert(role(0, 0, 0, outputBytes = 1, extractJob = true) == Write)
    assert(role(0, 0, 0, 0, extractJob = true) == Other)
    // a stage that scans and writes without a shuffle is a write
    assert(role(inputBytes = 5, 0, 0, outputBytes = 5, extractJob = true) == Write)
    // curation stages are attributed by marker times, never by bytes
    assert(role(100, 90, 90, 10, extractJob = false) == Curate)
  }
}
