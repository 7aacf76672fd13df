package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.io.LatestUpsert

final case class Tick(symbol: String, ts_us: Long, seq: Long, price: Double, size: Long)

/** Seeded tick source: Zipf(1.1) over a shuffled keyspace, one global
  * sequence number per tick, event time monotone across slots.
  */
final class TickFeed(seed: Long, val symbols: Int) {
  private val rng = new java.util.Random(seed)
  val names: Array[String] = {
    val a = Array.tabulate(symbols)(i => f"K$i%05d")
    for (i <- a.indices.reverse) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  private val cdf = {
    val w = Array.tabulate(symbols)(k => 1.0 / math.pow(k + 1.0, 1.1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  /** Hot keys for the reader: 20 seeded picks among the 100 hottest. */
  val hot: Seq[String] = rng.ints(0, 100).distinct().limit(20).toArray.toSeq.map(names(_))
  val ticks = mutable.ArrayBuffer.empty[Tick]

  lazy val seedRows: IndexedSeq[Tick] =
    names.toIndexedSeq.zipWithIndex.map { case (s, i) => Tick(s, 0L, i.toLong - symbols, 100.0, 1L) }

  def slot(slotIdx: Long, n: Int): Array[Tick] = Array.tabulate(n) { i =>
    val k = java.util.Arrays.binarySearch(cdf, rng.nextDouble()) match {
      case x if x >= 0 => x
      case x => math.min(-x - 1, symbols - 1)
    }
    ticks.synchronized {
      val t = Tick(names(k), slotIdx * CandleFeed.SlotUs + i, ticks.length.toLong,
        math.round(rng.nextDouble() * 1e6) / 100.0, 1L + rng.nextInt(500))
      ticks += t
      t
    }
  }

  def written(t: Tick): Boolean =
    if (t.seq < 0) t.seq + symbols >= 0 && t == seedRows((t.seq + symbols).toInt)
    else ticks.synchronized(t.seq < ticks.length && ticks(t.seq.toInt) == t)
}

/** `latest_lake`: the open-loop writer sends 2,000 Zipf-skewed ticks/s
  * through `LatestUpsert.start` (32 buckets, maxFilesPerBucket=4) over a
  * table seeded with 20,000 keys, while one closed-loop reader reads the
  * table filtered to 20 hot keys. Writer and reader run for `WarmUpS`
  * untimed before the measured window: commits and reads keep getting
  * faster for their first several seconds while the JVM compiles their
  * code, and a short window would measure mostly that. A tick's visible
  * latency runs from its slot's due time to the end of the trigger that
  * committed it.
  */
object LatestLake extends Workload {
  val Symbols = 20000
  val Buckets = 32
  val TicksPerSlot = 200
  val MaxFilesPerBucket = 4
  val WarmUpS = 5.0
  val Name = "latest_lake"

  def layerNames: Seq[String] =
    Seq("ms", "jobs", "tasks", "files_written", "bytes_written", "write_amp", "buckets_touched")
      .map(m => s"io.LatestUpsert.upsert.$m") ++
      Seq("ms", "files_scanned", "failed").map(m => s"io.LatestUpsert.read.$m") ++
      Seq("io.live_files", "io.space_amp")

  /** Files, bytes and buckets of every generation directory present. */
  def generations(root: String): Map[Long, (Long, Long, Int)] = {
    val data = Paths.get(root, "data")
    if (!Files.isDirectory(data)) return Map.empty
    Files.list(data).iterator.asScala.toSeq.collect {
      case g if g.getFileName.toString.matches("g\\d+") =>
        val files = walkFiles(g).filter(_.getFileName.toString.endsWith(".parquet"))
        val buckets = Files.list(g).iterator.asScala.count(_.getFileName.toString.startsWith("kb="))
        g.getFileName.toString.drop(1).toLong -> ((files.length.toLong, files.map(Files.size).sum, buckets))
    }.toMap
  }

  def walkFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).toList

  def run(spark: SparkSession, cfg: Config, trace: Trace, report: Report): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val feed = new TickFeed(cfg.seed, Symbols)
    val seed = feed.seedRows.toDF()

    // Set-up, three times on fresh roots: seed the table. The last root
    // carries the run.
    val roots = (1 to 3).map(i => s"${cfg.workDir}/lake$i")
    val seedS = roots.map(r => Timing.secondsOf(
      LatestUpsert.init(spark, r, seed, Seq("symbol"), Seq("ts_us", "seq"), Buckets))._2)
    val root = roots.last
    val input = MemoryStream[Tick]
    var slot = 0L // MemoryStream offset == slot index
    val (query, startS) = Timing.secondsOf {
      val q = LatestUpsert.start(input.toDF(), root, s"${cfg.workDir}/lake_ckpt", MaxFilesPerBucket)
      trace.nameQuery(q.id, Name)
      input.addData(feed.slot(slot, TicksPerSlot).toSeq)
      slot += 1
      q.processAllAvailable()
      q
    }
    report.setupS = Stats.median(seedS) + startS
    report.detail("setup.seed_s") = seedS
    report.detail("setup.stream_start_s") = startS

    // Traced runs list each new generation as its progress arrives.
    val genSeen = new ConcurrentHashMap[Long, (Long, Long, Int)]()
    @volatile var tracedFromGen = Long.MaxValue
    val genListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        generations(root).foreach { case (g, s) => genSeen.putIfAbsent(g, s) }
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    val dueNs = new ConcurrentHashMap[Long, Long]()
    val firstSlot = slot
    val warmNs = (WarmUpS * 1e9).toLong
    val windowNs = (cfg.seconds * 1e9).toLong
    val t0 = System.nanoTime() + 20000000L
    val windowStart = t0 + warmNs
    val windowEnd = windowStart + windowNs
    val tMid = windowStart + windowNs / 2
    report.detail("setup.warmup_s") = WarmUpS

    val slots = ((warmNs + windowNs) / CandleFeed.SlotNs).toInt
    def generate(): Seq[Double] = {
      var rows = feed.slot(slot, TicksPerSlot)
      OpenLoop.run(slots, CandleFeed.SlotNs, t0) { (i, due) =>
        dueNs.put(slot, due)
        input.addData(rows.toSeq)
        slot += 1
        if (i + 1 < slots) rows = feed.slot(slot, TicksPerSlot)
      }
    }

    // (start ns, end ns, traced) per successful read
    val reads = mutable.ArrayBuffer.empty[(Long, Long, Boolean)]
    val readFiles = mutable.ArrayBuffer.empty[Double]
    var readFailed = 0L
    var readMismatch = 0L
    val stop = new AtomicBoolean(false)
    val lastSeq = mutable.HashMap.empty[String, Long]
    val reader = new Thread(() => {
      Timing.sleepUntil(t0)
      while (!stop.get) {
        val traced = trace.isOn
        val s = System.nanoTime()
        try {
          val (df, rows) = trace.span("io.LatestUpsert.read") {
            val df = LatestUpsert.read(spark, root).filter(col("symbol").isin(feed.hot: _*))
            (df, df.collect())
          }
          reads.synchronized(reads += ((s, System.nanoTime(), traced)))
          if (traced) readFiles += df.queryExecution.executedPlan.collect {
            case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
          }.sum.toDouble
          if (!readIsConsistent(rows, feed, lastSeq)) readMismatch += 1
        } catch {
          case e: Exception =>
            readFailed += 1
            System.err.println(s"[perfbench] read failed: $e")
        }
      }
    }, "perfbench-reader")

    reader.start()
    val tracer = new Thread(() => if (cfg.trace) {
      Timing.sleepUntil(tMid)
      tracedFromGen = generations(root).keys.max + 1
      spark.streams.addListener(genListener)
      trace.start()
    })
    tracer.start()
    val lateMs = generate()
    tracer.join()
    stop.set(true)
    reader.join()
    query.processAllAvailable()
    trace.stop()
    spark.streams.removeListener(genListener)
    val progress = query.recentProgress.toSeq
    query.stop()
    query.exception.foreach(e => report.check("lake.stream", ok = false, e.toString))

    // Visible latency: slot due time -> end of the trigger holding it.
    val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val committed = progress.filter(_.numInputRows > 0).flatMap { pr =>
      val src = pr.sources.head
      val lo = Option(src.startOffset).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
      val hi = src.endOffset.trim.toLong
      val start = java.time.Instant.parse(pr.timestamp)
      val endNs = start.getEpochSecond * 1000000000L + start.getNano +
        pr.durationMs.get("triggerExecution") * 1000000L - epochOffsetNs
      (lo + 1 to hi).map(s => (s, endNs, pr))
    }
    // Figures cover the window only: slots due in it, commits holding
    // them, and reads that started in it.
    val inWindow = committed.filter { case (s, _, _) => dueNs.containsKey(s) && dueNs.get(s) >= windowStart }
    val visible = inWindow.map { case (s, end, _) => (end - dueNs.get(s)) / 1e6 }
    val commitMs = inWindow.map(_._3).distinct.map(_.durationMs.get("addBatch").toDouble)
    val windowReads = reads.filter { case (s, _, _) => s >= windowStart && s < windowEnd }.toSeq
    def readsMs(traced: Boolean) = windowReads.filter(_._3 == traced).map { case (s, e, _) => (e - s) / 1e6 }
    val readMs = readsMs(traced = false)
    val tracedReads = readsMs(traced = true)

    report.latencies("visible", visible)
    report.latencies("read", readMs)
    report.detail("visible_p50_ms") = Stats.median(visible)
    report.detail("visible_p95_ms") = Stats.percentile(visible, 95)
    report.detail("commit_p50_ms") = Stats.median(commitMs)
    report.detail("commits") = commitMs.length
    report.detail("read_p50_ms") = Stats.median(readMs)
    report.detail("read_p95_ms") = Stats.percentile(readMs, 95)
    report.detail("gen.late_p99_ms") = Stats.percentile(lateMs, 99)
    // Throughput: untraced reads per second of reading, over the reads
    // that started between the first and the last commit to end in the
    // window. The span holds whole commit cycles: a read that meets a
    // commit runs several times slower, and a window holding one cycle
    // more or less would move the rate by about a tenth.
    val commitEnds = committed.map(_._2).distinct.filter(e => e >= windowStart && e < windowEnd).sorted
    val (cycleStart, cycleEnd) =
      if (commitEnds.length >= 2) (commitEnds.head, commitEnds.last) else (windowStart, windowEnd)
    val cycleReads = windowReads.filter { case (s, _, traced) => !traced && s >= cycleStart && s < cycleEnd }
    report.e2e("throughput") = cycleReads.length / (cycleReads.map { case (s, e, _) => e - s }.sum / 1e9)
    report.detail("throughput.reads") = cycleReads.length
    report.detail("throughput.span_s") = (cycleEnd - cycleStart) / 1e9
    if (Stats.percentile(lateMs, 99) > CandleFeed.SlotNs / 1e6)
      report.invalid = Some("generator ran late by more than one slot")

    val ticksOffered = feed.ticks.length.toLong
    report.attempted += ticksOffered + reads.length + readFailed + commitMs.length
    report.failed += readFailed + readMismatch
    report.check("lake.reads_consistent", readMismatch == 0, s"$readMismatch reads returned rows never written")
    report.check("lake.reads_succeeded", readFailed == 0, s"$readFailed reads failed")
    val seen = committed.count { case (s, _, _) => dueNs.containsKey(s) }
    report.check("lake.all_visible", seen == slot - firstSlot,
      s"$seen of ${slot - firstSlot} slots seen committed")

    // The final table equals latest-per-key over the seed and every tick.
    val expected = (feed.seedRows ++ feed.ticks).groupBy(_.symbol).map { case (k, ts) =>
      k -> ts.maxBy(t => (t.ts_us, t.seq))
    }
    val actual = LatestUpsert.read(spark, root).as[Tick].collect()
    val wrong = actual.count(t => !expected.get(t.symbol).contains(t)) + math.abs(expected.size - actual.length)
    report.check("lake.final_equals_latest", wrong == 0, s"$wrong keys differ from latest-per-key")
    if (wrong > 0) report.failed += 1

    if (cfg.trace) {
      val g = genSeen.asScala.toSeq.filter(_._1 >= tracedFromGen)
      val liveBytes = LatestUpsert.read(spark, root).inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
      val rowBytes = liveBytes.toDouble / Symbols
      val traced = progress.filter(pr => pr.numInputRows > 0 && trace.countersOf(s"stream:$Name:${pr.batchId}").jobs > 0)
      val perBatch = traced.map(pr => trace.countersOf(s"stream:$Name:${pr.batchId}"))
      report.layers("io.LatestUpsert.upsert.ms") = Stats.median(traced.map(_.durationMs.get("addBatch").toDouble))
      report.layers("io.LatestUpsert.upsert.jobs") = Stats.median(perBatch.map(_.jobs.toDouble))
      report.layers("io.LatestUpsert.upsert.tasks") = Stats.median(perBatch.map(_.tasks.toDouble))
      report.layers("io.LatestUpsert.upsert.files_written") = Stats.median(g.map(_._2._1.toDouble))
      report.layers("io.LatestUpsert.upsert.bytes_written") = Stats.median(g.map(_._2._2.toDouble))
      report.layers("io.LatestUpsert.upsert.buckets_touched") = Stats.median(g.map(_._2._3.toDouble))
      report.layers("io.LatestUpsert.upsert.write_amp") =
        Stats.median(g.map(_._2._2.toDouble)) / (Stats.median(traced.map(_.numInputRows.toDouble)) * rowBytes)
      report.layers("io.LatestUpsert.read.ms") = Stats.median(tracedReads)
      report.layers("io.LatestUpsert.read.files_scanned") = Stats.median(readFiles.toSeq)
      report.layers("io.LatestUpsert.read.failed") = readFailed.toDouble
      report.layers("io.live_files") = LatestUpsert.read(spark, root).inputFiles.length.toDouble
      report.layers("io.space_amp") = walkFiles(Paths.get(root, "data")).map(Files.size).sum / liveBytes.toDouble
      report.layers("trace.overhead_frac") = Stats.median(tracedReads) / Stats.median(readMs) - 1
    }
  }

  /** Every hot key present, each row one that was written, and no key
    * older than an earlier read showed it.
    */
  private def readIsConsistent(rows: Array[Row], feed: TickFeed, lastSeq: mutable.HashMap[String, Long]): Boolean =
    rows.length == feed.hot.length && rows.forall { r =>
      val t = Tick(r.getAs[String]("symbol"), r.getAs[Long]("ts_us"), r.getAs[Long]("seq"),
        r.getAs[Double]("price"), r.getAs[Long]("size"))
      val written = feed.written(t)
      val monotone = lastSeq.get(t.symbol).forall(_ <= t.seq)
      lastSeq(t.symbol) = t.seq
      written && monotone
    }
}
