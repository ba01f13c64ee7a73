package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution (nanoTime anchored
  * to the wall clock once), so harness spans line up with Spark's
  * epoch-millisecond stage and progress timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spans recorded by the harness around each layer call: a gate run, a
  * `commitIfAbsent`, a read, a generator drop. They are the end-to-end
  * samples in every run; in a traced run the stages Spark runs under a
  * span carry its id (local property [[Spans.Key]]), so the analysis
  * can split the span's time into its own and its children's.
  */
object Spans {
  final val Key = "graftbench.span"
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()

  final case class Open(id: String, layer: String, name: String,
                        parent: String, start: Double)

  def open(layer: String, name: String, parent: String = null): Open =
    Open(s"s${ids.incrementAndGet()}", layer, name, parent, Clock.now())

  def close(s: Open, ok: Boolean, extra: Map[String, Any] = Map.empty): Double = {
    val end = Clock.now()
    done.add(Map("id" -> s.id, "layer" -> s.layer, "name" -> s.name,
      "parent" -> s.parent, "start" -> s.start, "end" -> end, "ok" -> ok) ++ extra)
    end - s.start
  }

  /** Run `body` inside a span on the calling thread; Spark jobs it
    * submits are tagged with the span id. Exceptions propagate after
    * the span is closed as failed.
    */
  def apply[T](spark: SparkSession, layer: String, name: String,
               parent: String = null)(body: => T): T = {
    val s = open(layer, name, parent)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id)
    try {
      val r = body
      close(s, ok = true)
      r
    } catch {
      case e: Throwable =>
        close(s, ok = false, Map("error" -> Tracer.describe(e)))
        throw e
    } finally sc.setLocalProperty(Key, prev)
  }

  def all(): Seq[Map[String, Any]] = done.asScala.toSeq
}

/** The traced run's listeners: Spark's public `SparkListener`,
  * `QueryExecutionListener` and `StreamingQueryListener`. Everything is
  * kept in memory and handed to the analysis at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val jobStarts = new ConcurrentLinkedQueue[Double]()
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[(Int, Int), String]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private final class StageAcc {
    var tasks = 0; var failed = 0
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L
    val durations = scala.collection.mutable.ArrayBuffer.empty[Long]
  }
  private val acc = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAcc]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time.toDouble)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Spans.Key))).orNull
      if (tag != null) stageTag.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), tag)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = acc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
      a.synchronized {
        a.tasks += 1
        if (e.taskInfo.failed || e.taskInfo.killed) a.failed += 1
        a.durations += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val key = (i.stageId, i.attemptNumber())
      val a = Option(acc.remove(key)).getOrElse(new StageAcc)
      a.synchronized {
        stages.add(Map(
          "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "start" -> i.submissionTime.map(_.toDouble).getOrElse(null),
          "end" -> i.completionTime.map(_.toDouble).getOrElse(null),
          "tag" -> stageTag.remove(key),
          "tasks" -> a.tasks, "failed_tasks" -> a.failed,
          "cpu_ms" -> a.cpuNs / 1e6, "run_ms" -> a.runMs, "gc_ms" -> a.gcMs,
          "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
          "spill" -> a.spill, "input" -> a.input,
          "task_ms" -> a.durations.toList))
      }
    }
  }

  private def phases(qe: QueryExecution, func: String, ok: Boolean): Unit = {
    val p = qe.tracker.phases
    def ms(k: String): Long = p.get(k).map(_.durationMs).getOrElse(0L)
    queries.add(Map("func" -> func, "ok" -> ok, "at" -> Clock.now(),
      "analysis_ms" -> ms("analysis"),
      "optimizer_ms" -> ms("optimization"), "planning_ms" -> ms("planning")))
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe, func, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe, func, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress.json)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the listener bus, detach, and return everything recorded. */
  def finish(): Map[String, Any] = {
    org.apache.spark.graftbench.ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    Map("job_starts" -> jobStarts.asScala.toSeq, "stages" -> stages.asScala.toSeq,
      "queries" -> queries.asScala.toSeq,
      "progress" -> progress.asScala.toSeq.map(Json.tree))
  }
}

object Tracer {
  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Whole-stage codegen compiles so far and their summed compile
    * time (ns): process-wide counters in Spark's codegen metrics.
    */
  def codegen(): Seq[Long] = Seq(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
}
