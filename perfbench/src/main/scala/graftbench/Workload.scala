package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    workDir: String,
    sfDir: String
)

/** Everything one run reports. End-to-end metrics (`e2e`) use the names
  * every workload shares; `detail` carries the workload's own named
  * figures and sample counts; `layers` is filled by traced runs only.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  var setupS = 0.0
  var invalid: Option[String] = None
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** (name, oracle SQL, parquet output dir) for the DuckDB comparison. */
  val oracle = mutable.ArrayBuffer.empty[(String, String, String)]

  def check(name: String, ok: Boolean, info: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else info))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $info")
  }

  /** Median, 95th percentile and sample count of latencies in ms,
    * plus the highest percentile the sample supports.
    */
  def latencies(prefix: String, ms: Seq[Double]): Unit = {
    detail(s"$prefix.p50_ms") = Stats.median(ms)
    detail(s"$prefix.p95_ms") = Stats.percentile(ms, 95)
    detail(s"$prefix.n") = ms.length
    Stats.supportedPercentile(ms.length).foreach { p =>
      detail(s"$prefix.tail_pct") = p
      detail(s"$prefix.tail_ms") = Stats.percentile(ms, p)
    }
  }
}

trait Workload {
  /** Run set-up, the timed section and the checks; fill `report`. */
  def run(spark: SparkSession, cfg: Config, trace: Trace, report: Report): Unit

  /** Per-layer metric names this workload fills in a traced run. */
  def layerNames: Seq[String]
}

/** The open-loop generator: slot `i` is offered at its due time
  * `startNs + i * periodNs` whether or not the consumer has kept up, so
  * a slow system sees a growing queue, never a lower offered rate.
  */
object OpenLoop {
  /** Run `offer(i, dueNs)` for `slots` slots on a generator thread and
    * wait for it; returns how late each offer started, in ms.
    */
  def run(slots: Int, periodNs: Long, startNs: Long)(offer: (Int, Long) => Unit): Seq[Double] = {
    val late = new Array[Double](slots)
    val gen = new Thread(() => {
      for (i <- 0 until slots) {
        val due = startNs + i * periodNs
        Timing.sleepUntil(due)
        late(i) = (System.nanoTime() - due) / 1e6
        offer(i, due)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    late.toSeq
  }
}

object Timing {
  def secondsOf[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def sleepUntil(deadlineNs: Long): Unit = {
    var left = deadlineNs - System.nanoTime()
    while (left > 0) {
      java.util.concurrent.locks.LockSupport.parkNanos(left)
      left = deadlineNs - System.nanoTime()
    }
  }
}
