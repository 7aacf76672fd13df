package graftbench

import java.util.concurrent.LinkedBlockingQueue

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the harness itself; run with `python3 perfbench/run.py --self-test`. */
class HarnessSpec extends AnyFunSuite {

  /** Offer 20 slots 10 ms apart into a queue drained by a sink that
    * sleeps `sinkMs` per slot; returns (offer times from start, latency
    * from due time to sink) in ms.
    */
  private def openLoop(sinkMs: Long): (Seq[Double], Seq[Double]) = {
    val queue = new LinkedBlockingQueue[java.lang.Long]()
    val latency = ArrayBuffer.empty[Double]
    val sink = new Thread(() => {
      var due = queue.take().longValue
      while (due >= 0) {
        Thread.sleep(sinkMs)
        latency += (System.nanoTime() - due) / 1e6
        due = queue.take().longValue
      }
    })
    sink.start()
    val start = System.nanoTime() + 5000000L
    val offered = ArrayBuffer.empty[Double]
    OpenLoop.run(20, 10000000L, start) { (_, due) =>
      offered += (System.nanoTime() - start) / 1e6
      queue.put(due)
    }
    queue.put(-1L)
    sink.join()
    (offered.toSeq, latency.toSeq)
  }

  test("due times do not depend on processing speed: a sleeping sink raises latency, not the offered rate") {
    val (fastOffers, fastLatency) = openLoop(0)
    val (slowOffers, slowLatency) = openLoop(25)
    assert(fastOffers.length == 20 && slowOffers.length == 20)
    // both schedules end at slot 19's due time (190 ms), give or take timer slack
    assert(fastOffers.last < 240 && slowOffers.last < 240, s"fast ${fastOffers.last} slow ${slowOffers.last}")
    // the sink is 2.5x slower than the period, so the queue grows and so does latency
    assert(Stats.median(slowLatency) > Stats.median(fastLatency) + 100)
    assert(slowLatency.last > 250)
  }

  test("the same seed gives identical inputs, another seed different ones") {
    def candles(seed: Long) = {
      val f = new CandleFeed(seed, 1000)
      Seq(f.slot(0, 300), f.slot(1, 5000), f.slot(2, 9600)).map(_.toSeq)
    }
    assert(candles(7) == candles(7))
    assert(candles(7) != candles(8))
    def ticks(seed: Long) = {
      val f = new TickFeed(seed, 20000)
      (f.hot, f.seedRows, Seq(f.slot(0, 200), f.slot(1, 200)).map(_.toSeq))
    }
    assert(ticks(7) == ticks(7))
    assert(ticks(7) != ticks(8))
    assert(AnalystBatch.order(7) == AnalystBatch.order(7))
    assert(AnalystBatch.order(7).sorted == AnalystBatch.Queries.sorted)
  }

  test("candle event time is monotone per symbol and names its slot") {
    val f = new CandleFeed(3, 1000)
    val rows = (0 until 5).flatMap(s => f.slot(s, 4000).toSeq)
    rows.groupBy(_.symbol).values.foreach { cs =>
      assert(cs.map(_.timeUs) == cs.map(_.timeUs).sorted && cs.map(_.timeUs).distinct.length == cs.length)
    }
    assert(rows.map(_.timeUs / CandleFeed.SlotUs).distinct.sorted == (0 until 5).map(_.toLong))
  }

  test("the percentile rule reports the highest percentile with at least 10 samples beyond it") {
    assert(Stats.supportedPercentile(9).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50.0))
    assert(Stats.supportedPercentile(99).contains(75.0))
    assert(Stats.supportedPercentile(100).contains(90.0))
    assert(Stats.supportedPercentile(200).contains(95.0))
    assert(Stats.supportedPercentile(1000).contains(99.0))
    assert(Stats.supportedPercentile(10000).contains(99.9))
  }

  test("percentiles interpolate linearly, and weights expand to repeated samples") {
    assert(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 50) == 2.5)
    assert(Stats.percentile((1 to 101).map(_.toDouble), 95) == 96.0)
    val weighted = Seq((1.0, 3L), (2.0, 1L), (5.0, 2L))
    val expanded = Seq(1.0, 1.0, 1.0, 2.0, 5.0, 5.0)
    Seq(0.0, 25.0, 50.0, 90.0, 100.0).foreach { p =>
      assert(Stats.weightedPercentile(weighted, p) == Stats.percentile(expanded, p), s"p$p")
    }
  }
}
