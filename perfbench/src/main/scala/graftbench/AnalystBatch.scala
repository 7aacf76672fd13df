package graftbench

import org.apache.spark.sql.SparkSession

import graft.{Queries => GraftQueries, SparkEntry}

/** `analyst_batch`: one closed-loop client, in a fresh JVM, runs
  * seven declared queries (one per analytics module) in a
  * seed-permuted order, each written to parquet, then the d13/d14
  * ingest gates ([[IngestGates]]) on a fresh root. Set-up fits the n3
  * centroids and seeds the gates' root. The outputs of the timed calls
  * are the ones checked against the DuckDB oracle.
  */
object AnalystBatch extends Workload {
  /** ops, accounts, backtest (over signals and indicators), metrics,
    * io.TradeChains, io.WireDecoder, strategies.
    */
  val Queries: Seq[String] = Seq(
    "a1_latest_per_key", "a8_lifo", "b1_backtest", "j2_position_metrics", "j7_chain_snapshots",
    "s2_wire_decode", "s11_classify")

  def layerNames: Seq[String] =
    (for (q <- Queries; m <- Seq("s", "plan_ms", "tasks", "shuffle_bytes")) yield s"q.$q.$m") ++
      IngestGates.layerNames

  def order(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(Queries)

  /** Run one query into `out`; its wall seconds, or None if it threw. */
  def runQuery(spark: SparkSession, sfDir: String, q: String, out: String, trace: Trace): Option[Double] =
    try {
      val (_, s) = Timing.secondsOf(trace.span(q) {
        SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite").parquet(out)
      })
      Some(s)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $q failed: $e")
        None
    }

  def run(spark: SparkSession, cfg: Config, trace: Trace, report: Report): Unit = {
    val qs = order(cfg.seed)
    report.detail("order") = qs
    val root = s"${cfg.workDir}/gates"
    val ((cents, calls), setupS) = Timing.secondsOf {
      val cents = GraftQueries.n3FittedCentroids(spark, cfg.sfDir)
      (cents, IngestGates.seed(spark, cfg.sfDir, root, cents))
    }
    report.setupS = setupS

    if (cfg.trace) trace.start()
    val perQuery = qs.map { q =>
      val out = s"${cfg.workDir}/out/$q"
      val s = runQuery(spark, cfg.sfDir, q, out, trace)
      if (s.isDefined) report.oracle += ((q, SparkEntry.oracleSql(q), out))
      if (cfg.trace) {
        val c = trace.countersOf(q)
        report.layers(s"q.$q.plan_ms") = trace.takePlanMs()
        report.layers(s"q.$q.tasks") = c.tasks.toDouble
        report.layers(s"q.$q.shuffle_bytes") = c.shuffleBytes.toDouble
        report.layers(s"q.$q.s") = s.getOrElse(0.0)
      }
      q -> s
    }
    val gates = IngestGates.run(calls, root, trace)
    trace.stop()
    IngestGates.outputs(spark, root, s"${cfg.workDir}/out", cents, report)

    val querySeconds = perQuery.flatMap(_._2)
    val gateSeconds = gates.flatMap(_.seconds)
    val ms = (querySeconds ++ gateSeconds).map(_ * 1000)
    report.attempted += perQuery.length + gates.length
    report.failed += perQuery.count(_._2.isEmpty) + gates.count(_.seconds.isEmpty)
    report.latencies("call", ms)
    report.detail("batch_wall_s") = querySeconds.sum
    report.detail("ingest_pass_s") = gateSeconds.sum
    report.detail("query_s") = perQuery.map { case (q, s) => q -> s.getOrElse(Double.NaN) }.toMap
    report.detail("gate_call_s") =
      gates.map(t => s"${t.call.gate}.b${t.call.batch}" -> t.seconds.getOrElse(Double.NaN)).toMap
    report.e2e("throughput") = ms.length / (ms.sum / 1000)

    // Tracing overhead: the first four queries twice more, each traced
    // in one pass and untraced in the other, half of them traced first.
    if (cfg.trace) {
      IngestGates.layers(gates, root, trace, report)
      val timed = for (pass <- 0 to 1; (q, i) <- qs.take(4).zipWithIndex) yield {
        val traced = (i + pass) % 2 == 0
        if (traced) trace.start()
        val s = runQuery(spark, cfg.sfDir, q, s"${cfg.workDir}/overhead/$q", trace)
        trace.stop()
        (traced, s.getOrElse(Double.NaN))
      }
      report.layers("trace.overhead_frac") =
        timed.filter(_._1).map(_._2).sum / timed.filterNot(_._1).map(_._2).sum - 1
    }
  }
}
