package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters summed over the jobs of one key. */
final class Counters {
  var jobs, tasks, taskFailures, gcMs, schedulerDelayMs, spillBytes, shuffleBytes = 0L
}

/** One traced call: `parent` is the span open on the same thread. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Layer tracing from outside the program: a span around every call the
  * benchmark makes into graft, Spark task metrics summed per job group
  * (batch calls) or per streaming (query name, batch id), the planning
  * phases of every executed query, and each stream's per-trigger
  * progress keyed by the name captured in `onQueryStarted`.
  *
  * Tracing is on only between [[start]] and [[stop]]: the listeners are
  * registered for that stretch and removed after it, [[stop]] drains the
  * listener bus so counts are read after their events arrived, and spans
  * stay in memory until [[writeSpans]]. Outside it every method is a
  * plain call, so untraced runs pay nothing.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext

  private val spans = ArrayBuffer.empty[Span]
  private val openSpan = ThreadLocal.withInitial[Int](() => 0)
  @volatile private var active = false

  private val byKey = new ConcurrentHashMap[String, Counters]()
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val queryNames = new ConcurrentHashMap[String, String]()
  private val progress = new ConcurrentHashMap[String, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  private val planMs = new ConcurrentLinkedQueue[java.lang.Double]()

  val total = new Counters

  private def counters(key: String): Counters = byKey.computeIfAbsent(key, _ => new Counters)

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val key = prop("sql.streaming.queryId") match {
        case Some(id) =>
          s"stream:${queryNames.getOrDefault(id, id)}:${prop("streaming.sql.batchId").getOrElse("?")}"
        case None => prop("spark.jobGroup.id").getOrElse("-")
      }
      e.stageIds.foreach(stageKey.put(_, key))
      counters(key).synchronized(counters(key).jobs += 1)
      total.synchronized(total.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val key = stageKey.getOrDefault(e.stageId, "-")
      Seq(counters(key), total).foreach { c =>
        c.synchronized {
          c.tasks += 1
          if (!e.taskInfo.successful) c.taskFailures += 1
          Option(e.taskMetrics).foreach { m =>
            c.gcMs += m.jvmGCTime
            c.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime)
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryNames.putIfAbsent(e.id.toString, Option(e.name).getOrElse(e.id.toString))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val name = queryNames.getOrDefault(e.progress.id.toString, e.progress.id.toString)
      progress.computeIfAbsent(name, _ => new ConcurrentLinkedQueue()).add(e.progress)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.add(phaseMs(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      planMs.add(phaseMs(qe))
  }

  /** Analysis + optimization + physical planning of one executed query. */
  def phaseMs(qe: QueryExecution): Double =
    Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum

  /** Register a stream's name before it starts, so its very first
    * batch is keyed by name even if `onQueryStarted` is still queued.
    */
  def nameQuery(id: java.util.UUID, name: String): Unit = queryNames.put(id.toString, name)

  def isOn: Boolean = active

  def start(): Unit = if (!active) {
    sc.addSparkListener(taskListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
    active = true
  }

  /** Drain the listener bus, then remove the listeners. */
  def stop(): Unit = if (active) {
    drain()
    sc.removeSparkListener(taskListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(planListener)
    active = false
  }

  def drain(): Unit = BenchAccess.drainListeners(sc)

  /** A span around a call into graft; with tracing on, its jobs are
    * tagged with `name` as their job group.
    */
  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = spans.synchronized(spans.length + 1)
      val parent = openSpan.get
      openSpan.set(id)
      val t0 = System.nanoTime()
      sc.setJobGroup(name, name, interruptOnCancel = false)
      try body
      finally {
        sc.clearJobGroup()
        spans.synchronized(spans += Span(id, parent, name, t0, System.nanoTime()))
        openSpan.set(parent)
      }
    }

  /** Record a span measured elsewhere (for example a stream trigger). */
  def addSpan(name: String, startNs: Long, endNs: Long): Unit =
    if (active) spans.synchronized(spans += Span(spans.length + 1, 0, name, startNs, endNs))

  def countersOf(key: String): Counters = byKey.getOrDefault(key, new Counters)

  /** Planning milliseconds of every query executed since the last call. */
  def takePlanMs(): Double = {
    drain()
    var s = 0.0
    var x = planMs.poll()
    while (x != null) { s += x; x = planMs.poll() }
    s
  }

  def progressOf(name: String): Seq[StreamingQueryProgress] =
    Option(progress.get(name)).map(_.asScala.toSeq).getOrElse(Nil)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
