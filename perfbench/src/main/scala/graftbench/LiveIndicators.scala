package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Streams
import graft.streaming.Streams.{CandleIn, IndicatorOut}

/** Deterministic candle feed: `symbols` random walks, dealt round-robin
  * into slots. A candle's `timeUs` encodes its slot (slot * 100 ms) plus
  * its index among the same symbol's candles in that slot, so event time
  * is monotone per symbol and every output row names the slot it came
  * from.
  */
final class CandleFeed(seed: Long, symbols: Int) {
  private val rng = new java.util.Random(seed)
  private val names = Array.tabulate(symbols)(i => f"S$i%04d")
  private val order = {
    val a = Array.range(0, symbols)
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  private val close = Array.fill(symbols)(20.0 + 180.0 * rng.nextDouble())
  private var dealt = 0L

  def slot(slotIdx: Long, n: Int): Array[CandleIn] = {
    val perSym = new Array[Int](symbols)
    Array.fill(n) {
      val s = order((dealt % symbols).toInt)
      dealt += 1
      val j = perSym(s)
      perSym(s) += 1
      close(s) = close(s) * math.exp(0.002 * rng.nextGaussian())
      CandleIn(names(s), slotIdx * CandleFeed.SlotUs + j * 1000L, close(s))
    }
  }
}

object CandleFeed {
  val SlotUs = 100000L
  val SlotNs = 100000000L
}

/** `live_indicators`: an open-loop generator adds one MemoryStream slot
  * every 100 ms to `Streams.indicatorSeriesStream`; the input rate
  * climbs a ladder of fixed rates. Every rung runs, so every run offers
  * the same load; the sustained rate is the top of the passing prefix.
  * An event's latency runs from its slot's scheduled due time to the
  * moment its output row has been collected by the sink.
  */
object LiveIndicators extends Workload {
  val Symbols = 1000
  val Rungs = Seq(3000, 6000, 12000, 24000, 48000, 96000)
  val LimitMs = 2000.0
  val Name = "live_indicators"

  /** Seconds each rung runs: one for each rung but 3k and 24k, whose
    * latencies are the named figures; those two split the rest of the
    * run 60:40, so a longer run adds samples where latency is named and
    * leaves the pass test of the top rungs as it is.
    */
  def rungSeconds(rate: Int, total: Double): Double = {
    val rest = math.max(total - (Rungs.length - 2), 0.0)
    rate match {
      case 3000 => 0.6 * rest
      case 24000 => 0.4 * rest
      case _ => 1.0
    }
  }

  final case class Rung(rate: Int, p50: Double, p95: Double, lastMs: Double, n: Long, passed: Boolean)

  /** One running stream plus its sink's record of what arrived when. */
  final class Pipeline(spark: SparkSession, ckpt: String) {
    implicit private val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input: MemoryStream[CandleIn] = MemoryStream[CandleIn]
    val offered = new AtomicLong
    val emitted = new AtomicLong
    /** (arrival ns, rows) per micro-batch, in arrival order. */
    val arrivals = mutable.ArrayBuffer.empty[(Long, Array[IndicatorOut])]
    val query: StreamingQuery = Streams.indicatorSeriesStream(input.toDS())
      .writeStream
      .queryName(Name)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: Dataset[IndicatorOut], _: Long) =>
        val rows = ds.collect()
        val t = System.nanoTime()
        arrivals.synchronized(arrivals += ((t, rows)))
        emitted.addAndGet(rows.length)
        ()
      }
      .start()

    def add(rows: Array[CandleIn]): Unit = {
      input.addData(rows.toSeq)
      offered.addAndGet(rows.length)
    }

    /** Wait until every offered row has been emitted; false on timeout. */
    def drain(timeoutMs: Long): Boolean = {
      val deadline = System.nanoTime() + timeoutMs * 1000000L
      while (emitted.get < offered.get && System.nanoTime() < deadline) {
        if (query.exception.isDefined) throw query.exception.get
        Thread.sleep(2)
      }
      emitted.get >= offered.get
    }
  }

  def layerNames: Seq[String] =
    Seq("trigger", "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
      .map(p => s"stream.${p}_ms") ++
      Seq("stream.state.commit_ms", "stream.state.rows", "stream.state.bytes", "stream.rows_per_trigger",
        "spark.jobs_per_trigger", "spark.tasks_per_trigger", "gen.late_p99_ms", "gen.backlog_max",
        "baseline.fold_eps")

  def run(spark: SparkSession, cfg: Config, trace: Trace, report: Report): Unit = {
    val feed = new CandleFeed(cfg.seed, Symbols)
    val sent = mutable.ArrayBuffer.empty[CandleIn]
    val dueNs = mutable.HashMap.empty[Long, Long]
    val lateMs = mutable.ArrayBuffer.empty[Double]
    var nextSlot = 0L

    // Set-up, three times on fresh checkpoints: start the query and push
    // one slot through it. The last pipeline carries the run.
    var pipe: Pipeline = null
    val startS = (1 to 3).map { i =>
      if (pipe != null) pipe.query.stop()
      Timing.secondsOf {
        pipe = new Pipeline(spark, s"${cfg.workDir}/live_ckpt$i")
        val rows = feed.slot(nextSlot, Symbols)
        if (i == 3) { sent ++= rows; dueNs(nextSlot) = System.nanoTime() }
        nextSlot += 1
        pipe.add(rows)
        require(pipe.drain(60000), "set-up slot was not emitted")
      }._2
    }
    val p = pipe
    trace.nameQuery(p.query.id, Name)

    /** Offer `seconds` of slots at `rate` events/s from the generator
      * thread, on a schedule that does not wait for the stream.
      */
    def offer(rate: Int, seconds: Double): (Long, Long) = {
      val n = rate / 10
      val first = nextSlot
      var rows = feed.slot(nextSlot, n)
      val slots = math.max(1, math.round(seconds * 10).toInt)
      lateMs ++= OpenLoop.run(slots, CandleFeed.SlotNs, System.nanoTime() + 5000000L) { (i, due) =>
        dueNs.synchronized(dueNs(nextSlot) = due)
        p.add(rows)
        sent ++= rows
        nextSlot += 1
        if (i + 1 < slots) rows = feed.slot(nextSlot, n)
      }
      (first, nextSlot)
    }

    def rungOf(rate: Int, slots: (Long, Long), drained: Boolean): Rung = {
      val (lo, hi) = slots
      val perSlot = mutable.HashMap.empty[Long, (Double, Long)] // slot -> (latency ms, rows)
      p.arrivals.synchronized(p.arrivals.toList).foreach { case (t, rows) =>
        rows.groupBy(_.time_us / CandleFeed.SlotUs).foreach { case (slot, rs) =>
          if (slot >= lo && slot < hi) {
            val lat = (t - dueNs(slot)) / 1e6
            val (l0, n0) = perSlot.getOrElse(slot, (0.0, 0L))
            perSlot(slot) = (math.max(l0, lat), n0 + rs.length)
          }
        }
      }
      val pairs = perSlot.values.toSeq
      val p50 = Stats.weightedPercentile(pairs, 50)
      val p95 = Stats.weightedPercentile(pairs, 95)
      val lastMs = perSlot.get(hi - 1).map(_._1).getOrElse(Double.PositiveInfinity)
      val n = pairs.map(_._2).sum
      Rung(rate, p50, p95, lastMs, n, drained && p95 <= LimitMs && lastMs <= LimitMs)
    }

    def runRung(rate: Int, seconds: Double): Rung = {
      val slots = offer(rate, seconds)
      val drained = p.drain(30000)
      rungOf(rate, slots, drained)
    }

    // Warm-up: the per-trigger path at a low rate, then large batches.
    val (_, warmS) = Timing.secondsOf {
      runRung(3000, 0.5)
      runRung(48000, 0.5)
    }
    report.setupS = Stats.median(startS) + warmS
    report.detail("setup.query_start_s") = startS
    report.detail("setup.warmup_s") = warmS

    // Traced runs first measure the bottom rung untraced, as the
    // reference for the tracing overhead.
    val reference = if (cfg.trace) Some(runRung(3000, rungSeconds(3000, cfg.seconds))) else None
    val firstLadderSlot = nextSlot
    val arrivalsBefore = p.arrivals.synchronized(p.arrivals.length)
    val ladderStartMs = System.currentTimeMillis()
    if (cfg.trace) trace.start()
    val rungs = Rungs.map(rate => runRung(rate, rungSeconds(rate, cfg.seconds)))
    if (cfg.trace) trace.stop()
    // The sink has a trigger's rows before the trigger's progress is
    // recorded, so wait for the progress of every ladder row.
    val ladderN = rungs.map(_.n).sum
    def ladderTriggers = p.query.recentProgress.toSeq.filter(pr =>
      pr.numInputRows > 0 && java.time.Instant.parse(pr.timestamp).toEpochMilli >= ladderStartMs)
    val progressDeadline = System.nanoTime() + 10000000000L
    while (ladderTriggers.map(_.numInputRows).sum < ladderN && System.nanoTime() < progressDeadline) Thread.sleep(5)
    val triggers = ladderTriggers
    p.query.stop()

    rungs.foreach { r =>
      val k = s"r${r.rate / 1000}k"
      report.detail(s"emit_p50_ms.$k") = r.p50
      report.detail(s"emit_p95_ms.$k") = r.p95
      report.detail(s"emit_last_ms.$k") = r.lastMs
      report.detail(s"emit_n.$k") = r.n
      report.detail(s"sustained.$k") = r.passed
    }
    val sustained = rungs.takeWhile(_.passed).lastOption.map(_.rate.toDouble).getOrElse(0.0)
    report.detail("sustained_eps") = sustained
    val bottom = rungs.head
    // Throughput: candles folded per second of trigger time over the
    // whole ladder. Unlike the sustained rate, a step of the ladder, it
    // moves with the stream's speed and is never 0.
    val ladderRows = triggers.map(_.numInputRows).sum
    report.e2e("throughput") =
      ladderRows / (triggers.map(_.durationMs.get("triggerExecution").toLong).sum / 1000.0)
    report.detail("ladder.triggers") = triggers.length
    report.check("live.ladder_progress", ladderRows == ladderN, s"progress holds $ladderRows of $ladderN ladder rows")

    // Open-loop validity and backlog.
    val lateP99 = Stats.percentile(lateMs.toSeq, 99)
    report.detail("gen.late_p99_ms") = lateP99
    if (lateP99 > CandleFeed.SlotNs / 1e6)
      report.invalid = Some(f"generator ran late: p99 $lateP99%.1f ms exceeds one slot")
    var cum = 0L
    val ladderArrivals = p.arrivals.synchronized(p.arrivals.drop(arrivalsBefore).toList)
    val offeredBySlot = sent.groupBy(_.timeUs / CandleFeed.SlotUs).map { case (s, xs) => s -> xs.length.toLong }
    val backlog = ladderArrivals.map { case (t, rows) =>
      cum += rows.length
      val due = dueNs.collect { case (s, d) if s >= firstLadderSlot && d <= t => offeredBySlot.getOrElse(s, 0L) }.sum
      due - cum
    }
    report.detail("gen.backlog_max") = if (backlog.isEmpty) 0L else backlog.max

    // Correctness: one row per offered candle, each bit-equal to the
    // single-threaded fold over the same candles.
    val emittedRows = p.arrivals.synchronized(p.arrivals.toList).flatMap(_._2)
    report.check("live.rows_per_candle", emittedRows.length == sent.length,
      s"emitted ${emittedRows.length} rows for ${sent.length} candles")
    val (expected, foldS) = Timing.secondsOf(fold(sent.toSeq))
    val byKey = emittedRows.groupBy(r => (r.symbol, r.time_us))
    val mismatched = expected.count { e =>
      byKey.get((e.symbol, e.time_us)) match {
        case Some(Seq(r)) => !sameBits(r, e)
        case _ => true
      }
    }
    report.check("live.rows_equal_fold", mismatched == 0, s"$mismatched rows differ from the fold")
    report.attempted += sent.length
    report.failed += mismatched
    report.detail("baseline.fold_eps") = sent.length / foldS

    if (cfg.trace) {
      layers(trace, report)
      report.layers("trace.overhead_frac") = bottom.p50 / reference.get.p50 - 1
    }
  }

  def fold(candles: Seq[CandleIn]): Seq[IndicatorOut] =
    candles.groupBy(_.symbol).toSeq.flatMap { case (sym, cs) =>
      var st = Streams.emptyIndicatorState
      cs.sortBy(_.timeUs).map { c =>
        val (ns, cd, _) = Streams.stepIndicatorFull(st, c, 20, 12, 26, 9)
        st = ns
        IndicatorOut(sym, c.timeUs, cd.hullValue, cd.hullColor, cd.macdValue, cd.macdSignal, cd.macdHistogram)
      }
    }

  private def sameBits(a: IndicatorOut, b: IndicatorOut): Boolean = {
    def eq(x: Double, y: Double) = java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
    a.symbol == b.symbol && a.time_us == b.time_us && a.hma_color == b.hma_color &&
      eq(a.hma, b.hma) && eq(a.macd_value, b.macd_value) && eq(a.avg, b.avg) && eq(a.diff, b.diff)
  }

  private def layers(trace: Trace, report: Report): Unit = {
    val progs = trace.progressOf(Name).filter(_.numInputRows > 0)
    def dur(k: String) = Stats.median(progs.map(pr => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    Seq("trigger" -> "triggerExecution", "addBatch" -> "addBatch", "queryPlanning" -> "queryPlanning",
      "walCommit" -> "walCommit", "commitOffsets" -> "commitOffsets", "latestOffset" -> "latestOffset")
      .foreach { case (m, k) => report.layers(s"stream.${m}_ms") = dur(k) }
    report.layers("stream.state.commit_ms") =
      Stats.median(progs.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble))
    report.layers("stream.state.rows") = progs.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0)
    report.layers("stream.state.bytes") = progs.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0)
    report.layers("stream.rows_per_trigger") = Stats.median(progs.map(_.numInputRows.toDouble))
    val perBatch = progs.map(pr => trace.countersOf(s"stream:$Name:${pr.batchId}"))
    report.layers("spark.jobs_per_trigger") = Stats.median(perBatch.map(_.jobs.toDouble))
    report.layers("spark.tasks_per_trigger") = Stats.median(perBatch.map(_.tasks.toDouble))
    progs.foreach { pr =>
      val start = java.time.Instant.parse(pr.timestamp)
      val ns = start.getEpochSecond * 1000000000L + start.getNano
      trace.addSpan(s"trigger:${pr.batchId}", ns, ns + pr.durationMs.get("triggerExecution") * 1000000L)
    }
    Seq("gen.late_p99_ms", "gen.backlog_max", "baseline.fold_eps").foreach { k =>
      report.layers(k) = report.detail(k).toString.toDouble
    }
  }
}
