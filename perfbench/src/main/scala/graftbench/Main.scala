package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.Sessions

/** Benchmark harness entry point, started by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --sf <testdata dir> --result <file> [--spans <file>]
  * }}}
  *
  * Runs one workload in a `local[nproc]` session and writes the result
  * JSON to `--result`; the caller adds the oracle checks and prints.
  */
object Main {
  val Workloads: Map[String, Workload] = Map(
    "live_indicators" -> LiveIndicators,
    "latest_lake" -> LatestLake,
    "analyst_batch" -> AnalystBatch)

  /** Every per-layer name, in report order; shared ones last. */
  val SharedLayers: Seq[String] = Seq("spark.gc_ms", "spark.scheduler_delay_ms", "spark.spill_bytes",
    "spark.task_failures", "jvm.heap_peak_mb", "leak.persisted_rdds", "leak.tmp_entries", "trace.overhead_frac")

  def allLayerNames: Seq[String] =
    Seq(LiveIndicators, LatestLake, AnalystBatch).flatMap(_.layerNames).distinct ++ SharedLayers

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--layer-names")) {
      println(allLayerNames.mkString("\n"))
      return
    }
    if (args.headOption.contains("--class-list-run")) {
      classListRun(args(1), args(2), args(3))
      return
    }
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("work"), a("sf"))
    val workload = Workloads(cfg.workload)
    val report = new Report
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val trace = new Trace(spark)
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val error =
      try { workload.run(spark, cfg, trace, report); None }
      catch {
        case e: Throwable =>
          e.printStackTrace()
          Some(e.toString)
      }
    trace.stop()
    error.foreach(e => report.check(s"${cfg.workload}.completed", ok = false, e))

    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val persisted = spark.sparkContext.getPersistentRDDs.size
    report.detail("leak.persisted_rdds") = persisted
    report.detail("setup.session_s") = sessionS
    if (cfg.trace) {
      val t = trace.total
      report.layers("spark.gc_ms") = t.gcMs.toDouble
      report.layers("spark.scheduler_delay_ms") = t.schedulerDelayMs.toDouble
      report.layers("spark.spill_bytes") = t.spillBytes.toDouble
      report.layers("spark.task_failures") = t.taskFailures.toDouble
      report.layers("jvm.heap_peak_mb") = heapPeakMb
      report.layers("leak.persisted_rdds") = persisted.toDouble
      a.get("spans").foreach(p => trace.writeSpans(Paths.get(p)))
    }
    val result = Json.obj(Seq(
      "workload" -> cfg.workload,
      "seed" -> cfg.seed,
      "trace" -> cfg.trace,
      "attempted" -> report.attempted,
      "failed" -> report.failed,
      "invalid" -> report.invalid,
      "setup_s" -> (sessionS + report.setupS),
      "checks" -> report.checks.map { case (n, ok, info) => Map("name" -> n, "ok" -> ok, "info" -> info) },
      "e2e" -> report.e2e.toMap,
      "detail" -> report.detail.toMap,
      "layers" -> allLayerNames.map(n => n -> report.layers.getOrElse(n, 0.0)).toMap,
      "oracle" -> report.oracle.map { case (n, sql, out) => Map("name" -> n, "sql" -> sql, "out" -> out) },
      "stamp" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"))))
    Files.writeString(Paths.get(a("result")), result + "\n")
    spark.stop()
  }

  /** A short run that loads the classes every workload starts with, so
    * the caller can archive them for class-data sharing: a session, a
    * parquet round trip and one micro-batch of the indicator stream. It
    * also writes the analyst workload's oracle SQL to `oracleOut`, so the
    * caller can compute the oracle side before the first timed run.
    */
  def classListRun(workDir: String, sfDir: String, oracleOut: String): Unit = {
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors)
    spark.range(1000).toDF("id").write.mode("overwrite").parquet(s"$workDir/t")
    spark.read.parquet(s"$workDir/t").groupBy("id").count().write.format("noop").mode("overwrite").save()
    val p = new LiveIndicators.Pipeline(spark, s"$workDir/ckpt")
    p.add(new CandleFeed(0, 10).slot(0, 10))
    p.drain(60000)
    p.query.stop()
    val sql = (AnalystBatch.Queries :+ "d13_ingest_corpus").map(q => q -> graft.SparkEntry.oracleSql(q)) :+
      ("d14_sem_ingest" -> graft.Oracles.d14SemIngestSql(graft.Queries.n3FittedCentroids(spark, sfDir)))
    Files.writeString(Paths.get(oracleOut), Json.obj(sql))
    spark.stop()
  }

}
