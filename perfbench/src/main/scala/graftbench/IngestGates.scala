package graftbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Oracles, SparkEntry}
import graft.io.Tables
import graft.similarity.Similarity
import graft.streaming.{DedupIngest, SemDedupIngest}

/** The d13 and d14 ingest constructions on a fresh root: seed the
  * corpus, both dedup indexes and the IVF index with the `id % 3 == 1`
  * rows, then gate the `% 3 == 2` and `% 3 == 0` batches through
  * `DedupIngest.ingestBatch` and `SemDedupIngest.ingestBatch`. Inputs
  * are the fixed testdata splits, so the declared oracles apply.
  */
object IngestGates {
  val Dedup = "streaming.DedupIngest.ingestBatch"
  val SemDedup = "streaming.SemDedupIngest.ingestBatch"

  def layerNames: Seq[String] =
    (for (g <- Seq(Dedup, SemDedup); m <- Seq("s", "jobs", "tasks", "files_written")) yield s"$g.$m") ++
      Seq("gate.accepted_frac", "index.max_leaf_files")

  final case class Call(gate: String, batch: Int, run: () => Unit, offered: Long, size: () => Long)

  /** One timed gate call: seconds (None if it threw), rows accepted
    * (traced runs only) and files it added under the root.
    */
  final case class Timed(call: Call, seconds: Option[Double], accepted: Long, filesWritten: Long)

  /** Seed a fresh root and return the four gate calls, in order. */
  def seed(spark: SparkSession, sfDir: String, root: String, cents: Array[Array[Double]]): Seq[Call] = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"), col("text"))
    val emb = Tables.embeddings(spark, sfDir)
    val seedDocs = docs.filter(col("doc_id") % 3 === 1)
    DedupIngest.initIndexes(seedDocs, "doc_id", "text", s"$root/idx")
    seedDocs.write.mode("overwrite").parquet(s"$root/corpus")
    Similarity.writeIvfIndex(emb.filter(col("vec_id") % 3 === 1), "vec_id", "embedding", s"$root/ivf",
      nCentroids = 16, centroidModel = Some(cents))
    def rows(dir: String)() = spark.read.parquet(s"$root/$dir").count()
    def gate(b: DataFrame) =
      () => { DedupIngest.ingestBatch(spark, s"$root/idx", s"$root/corpus", b, "doc_id", "text"); () }
    def sem(b: DataFrame) =
      () => SemDedupIngest.ingestBatch(spark, s"$root/ivf", b, "vec_id", "embedding", 0.4)
    val Seq(d2, d0) = Seq(2, 0).map(k => docs.filter(col("doc_id") % 3 === k))
    val Seq(e2, e0) = Seq(2, 0).map(k => emb.filter(col("vec_id") % 3 === k))
    Seq(
      Call(Dedup, 1, gate(d2), d2.count(), rows("corpus")),
      Call(Dedup, 2, gate(d0), d0.count(), rows("corpus")),
      Call(SemDedup, 1, sem(e2), e2.count(), rows("ivf")),
      Call(SemDedup, 2, sem(e0), e0.count(), rows("ivf")))
  }

  def run(calls: Seq[Call], root: String, trace: Trace): Seq[Timed] = calls.map { c =>
    def files = LatestLake.walkFiles(Paths.get(root)).length
    val before = files
    val sizeBefore = if (trace.isOn) c.size() else 0L
    val s = try Some(Timing.secondsOf(trace.span(c.gate)(c.run()))._2) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] ${c.gate} batch ${c.batch} failed: $e")
        None
    }
    val accepted = if (trace.isOn) c.size() - sizeBefore else 0L
    Timed(c, s, accepted, files - before)
  }

  /** Write the final corpus and index for the DuckDB comparison. */
  def outputs(spark: SparkSession, root: String, outDir: String, cents: Array[Array[Double]], report: Report): Unit = {
    val d13 = s"$outDir/d13_ingest_corpus"
    val d14 = s"$outDir/d14_sem_ingest"
    spark.read.parquet(s"$root/corpus").select("doc_id", "source").orderBy("doc_id")
      .write.mode("overwrite").parquet(d13)
    spark.read.parquet(s"$root/ivf").select(col("id").as("vec_id"), col("cell").cast("int").as("cell"))
      .orderBy("vec_id").write.mode("overwrite").parquet(d14)
    report.oracle += (("d13_ingest_corpus", SparkEntry.oracleSql("d13_ingest_corpus"), d13))
    report.oracle += (("d14_sem_ingest", Oracles.d14SemIngestSql(cents), d14))
  }

  def layers(timed: Seq[Timed], root: String, trace: Trace, report: Report): Unit = {
    Seq(Dedup, SemDedup).foreach { g =>
      val mine = timed.filter(_.call.gate == g)
      val c = trace.countersOf(g)
      report.layers(s"$g.s") = mine.flatMap(_.seconds).sum
      report.layers(s"$g.jobs") = c.jobs.toDouble
      report.layers(s"$g.tasks") = c.tasks.toDouble
      report.layers(s"$g.files_written") = mine.map(_.filesWritten).sum.toDouble
    }
    report.layers("gate.accepted_frac") = timed.map(_.accepted).sum.toDouble / timed.map(_.call.offered).sum
    report.layers("index.max_leaf_files") = Seq("idx", "ivf").flatMap { d =>
      LatestLake.walkFiles(Paths.get(root, d)).filter(_.getFileName.toString.endsWith(".parquet"))
        .groupBy(_.getParent).values.map(_.length)
    }.maxOption.getOrElse(0).toDouble
  }
}
