package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Spans around the benchmark's own calls into the engine, plus the
  * Spark-side events they cause.
  *
  * Before each call the span id is set as the local property
  * [[Tracer.SpanKey]]; every job and stage carries the local properties of
  * the thread that launched it, so each is attributed to exactly the span
  * that launched it. Tasks are folded into per-stage sums. A
  * QueryExecutionListener collects the planning phases of the executions
  * Spark tracks (eager barriers inside a build, writes); the planned
  * query's own phases are read from its QueryPlanningTracker directly.
  *
  * Everything stays in memory and is written by [[flush]], after
  * `spark.stop()` has drained the listener bus. Times are epoch ms. */
final class Tracer(spark: SparkSession, log: Harness.Log) {
  import Harness.Json
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[String]
  private val live = mutable.Map.empty[Long, (String, Long, Int, String, Double)]
  private val extra = mutable.Map.empty[Long, Seq[(String, Any)]].withDefaultValue(Nil)
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val listener = new Events
  private val qeListener = new QeEvents

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }
  def detach(): Unit = {
    sc.setLocalProperty(SpanKey, null)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def open(name: String, parent: Long, pass: Int, query: String): Long = {
    val id = ids.incrementAndGet()
    live(id) = (name, parent, pass, query, nowMs)
    sc.setLocalProperty(SpanKey, id.toString)
    id
  }

  /** Close span `id`; returns its duration in ms. */
  def close(id: Long): Double = {
    val end = nowMs
    val (name, parent, pass, query, start) = live.remove(id).get
    spans += Json.obj(Seq("kind" -> "span", "id" -> id, "parent" -> parent,
      "name" -> name, "pass" -> pass, "query" -> query, "start" -> start,
      "end" -> end) ++ extra.remove(id).getOrElse(Nil): _*)
    sc.setLocalProperty(SpanKey, if (parent > 0) parent.toString else null)
    end - start
  }

  /** Run `f` inside a child span of `parent`. */
  def span[T](name: String, parent: Long)(f: => T): T = {
    val (_, _, pass, query, _) = live(parent)
    val id = open(name, parent, pass, query)
    try f finally close(id)
  }

  /** Plan `qe` and record its planning phases on the query span. */
  def planPhases(query: Long, qe: QueryExecution): Unit = {
    qe.executedPlan
    extra(query) = extra(query) ++ phases(qe)
  }

  /** Persisted RDDs alive after the action, before the sweep. */
  def pinCensus(query: Long): Unit = {
    val pinnedBytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    extra(query) = extra(query) ++ Seq(
      "pinned_rdds" -> sc.getPersistentRDDs.size,
      "pinned_mb" -> pinnedBytes / 1048576.0,
      "memo_rdds" -> graft.plans.FrameMemo.ownedIds(spark).size)
  }

  /** Resolve every input table standalone; returns the wall ms. */
  def resolveTables(pass: Int, dataDir: String): Double = {
    val id = open("tables.resolve", 0L, pass, "")
    graft.Tables.names.foreach(n => graft.Tables(spark, dataDir, n).schema)
    close(id)
  }

  def flush(): Unit = {
    spans.foreach(log.write)
    listener.flush()
    qeListener.rows.foreach(log.write)
  }

  private final class QeEvents extends QueryExecutionListener {
    val rows = mutable.ArrayBuffer.empty[String]
    private def record(qe: QueryExecution): Unit = synchronized {
      rows += Json.obj(Seq("kind" -> "qe") ++ phases(qe): _*)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  /** Jobs and stages with the span that launched them; tasks summed per
    * stage attempt. Called on the listener bus thread only. */
  private final class Events extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
    private val stages = mutable.LinkedHashMap.empty[(Int, Int), mutable.Map[String, Any]]

    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val site = e.stageInfos.map(_.name).mkString(" | ")
      jobs(e.jobId) = mutable.Map("kind" -> "job", "id" -> e.jobId,
        "span" -> spanOf(e.properties), "start" -> e.time.toDouble,
        "stages" -> Json.arr(e.stageInfos.map(_.stageId)),
        "tables" -> e.stageInfos.exists(_.details.contains("graft.Tables")),
        "site" -> site.take(200))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach { j =>
        j("end") = e.time.toDouble
        j("ok") = e.jobResult == JobSucceeded
      }

    private def stage(id: Int, attempt: Int): mutable.Map[String, Any] =
      stages.getOrElseUpdate((id, attempt), mutable.Map[String, Any](
        "kind" -> "stage", "id" -> id, "attempt" -> attempt) ++ zero)

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s("span") = spanOf(e.properties)
      s("start") = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(0.0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s("end") = e.stageInfo.completionTime.map(_.toDouble).getOrElse(0.0)
      s("ok") = e.stageInfo.failureReason.isEmpty
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stage(e.stageId, e.stageAttemptId)
      def add(k: String, v: Double): Unit = s(k) = s(k).asInstanceOf[Double] + v
      add("tasks", 1)
      if (!e.taskInfo.successful) add("failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("run_ms", m.executorRunTime)
        add("cpu_ms", m.executorCpuTime / 1e6)
        add("deser_ms", m.executorDeserializeTime)
        add("gc_ms", m.jvmGCTime)
        add("delay_ms", e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
        s("peak_mem_mb") = math.max(s("peak_mem_mb").asInstanceOf[Double],
          m.peakExecutionMemory / 1048576.0)
        add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle_records", m.shuffleWriteMetrics.recordsWritten)
        add("shuffle_write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
        add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_mb", m.diskBytesSpilled / 1048576.0)
        add("input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("input_rows", m.inputMetrics.recordsRead)
        add("output_mb", m.outputMetrics.bytesWritten / 1048576.0)
        add("output_rows", m.outputMetrics.recordsWritten)
      }
    }

    def flush(): Unit = {
      jobs.values.foreach(j => log.write(Json.obj(j.toSeq: _*)))
      stages.values.foreach(s => log.write(Json.obj(s.toSeq: _*)))
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  private val zero: Seq[(String, Any)] = Seq("tasks", "failed", "run_ms", "cpu_ms",
    "deser_ms", "gc_ms", "delay_ms", "peak_mem_mb", "shuffle_write_mb",
    "shuffle_records", "shuffle_write_ms", "shuffle_read_mb", "fetch_wait_ms",
    "spill_mb", "input_mb", "input_rows", "output_mb", "output_rows").map(_ -> 0.0)

  /** Planning phases of one execution: ms spent in each, and the start of
    * the last one (planning runs right before execution, so it places the
    * execution in its query; analysis may have run queries earlier). */
  def phases(qe: QueryExecution): Seq[(String, Any)] = {
    val ph = qe.tracker.phases
    val start = if (ph.isEmpty) 0.0 else ph.values.map(_.startTimeMs).max.toDouble
    Seq("phase_start" -> start) ++
      Seq("analysis", "optimization", "planning").map { n =>
        s"${n}_ms" -> ph.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      }
  }
}
