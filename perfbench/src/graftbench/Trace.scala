package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the run record (no JSON library on the
  * engine's classpath is part of its public surface). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One call the benchmark made into a layer: the op it serves (`trace`),
  * the span that caused it, and its wall interval. */
final case class Span(id: Long, parent: Long, trace: Int, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long)

/** Records what a run did. Untraced, it keeps only per-op timings; traced,
  * it also keeps one span per call into a layer, labels every Spark job
  * with the span that started it (through the job group, which Spark
  * hands on to the threads it starts for a query), and collects jobs,
  * stages, tasks and planning phases from Spark's public listeners. All
  * of it stays in memory until [[write]] at the end of the run.
  */
final class Recorder(val traced: Boolean) {
  private val ids = new AtomicLong(0)
  private var stack: List[Span] = Nil
  private var trace = -1
  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[Map[String, Any]]
  val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  // listener state, written from Spark's listener bus thread
  private val jobs = new ConcurrentHashMap[Int, scala.collection.mutable.Map[String, Any]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, Array[Long]]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private var spark: SparkSession = _

  def install(s: SparkSession): Unit = {
    spark = s
    if (traced) {
      s.sparkContext.addSparkListener(Listener)
      s.listenerManager.register(Queries)
    }
  }

  /** Run `body` as the op `op` of the script (every op, traced or not). */
  def op[A](id: Int)(body: => A): A = { trace = id; try span("op")(body) finally trace = -1 }

  /** Time `body` as a child span of the current one; untraced this is
    * only the call itself. */
  def span[A](name: String)(body: => A): A = {
    if (!traced) return body
    val sc = spark.sparkContext
    val parent = stack.headOption
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val m0 = System.currentTimeMillis()
    stack = Span(id, parent.map(_.id).getOrElse(0L), trace, name, t0, 0, m0, 0) :: stack
    sc.setJobGroup(s"gb-$id", name, interruptOnCancel = false)
    try body
    finally {
      val open = stack.head
      stack = stack.tail
      spans += open.copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis())
      parent match {
        case Some(p) => sc.setJobGroup(s"gb-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit = if (traced) {
    var prev = -1L
    var rounds = 0
    while (rounds < 50 && prev != stages.size + jobs.size + queries.size) {
      prev = stages.size + jobs.size + queries.size
      Thread.sleep(100)
      rounds += 1
    }
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      e.stageInfos.foreach(si => stageJob.put(si.stageId, e.jobId))
      jobs.put(e.jobId, scala.collection.mutable.Map[String, Any](
        "job" -> e.jobId, "group" -> group.orNull, "start_ms" -> e.time,
        "stages" -> e.stageIds.size, "tasks" -> e.stageInfos.map(_.numTasks).sum))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.put("end_ms", e.time))
    // per stage: cpu ns, run ms, scheduler delay ms, fetch wait ms,
    // shuffle write bytes, shuffle read bytes, spill bytes, peak memory,
    // input bytes, tasks
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val i = e.taskInfo
      val a = stages.computeIfAbsent(e.stageId, _ => new Array[Long](10))
      val sr = m.shuffleReadMetrics
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
      a.synchronized {
        a(0) += m.executorCpuTime; a(1) += m.executorRunTime; a(2) += delay
        a(3) += sr.fetchWaitTime; a(4) += m.shuffleWriteMetrics.bytesWritten
        a(5) += sr.remoteBytesRead + sr.localBytesRead
        a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
        a(7) = math.max(a(7), m.peakExecutionMemory); a(8) += m.inputMetrics.bytesRead
        a(9) += 1
      }
    }
  }

  private object Queries extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe, ok = true)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe, ok = false)
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      val (files, bytes) = try scans(qe.executedPlan) catch { case _: Throwable => (0L, 0L) }
      queries.add(Map("start_ms" -> start, "ok" -> ok, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
        "files" -> files, "file_bytes" -> bytes))
    }
  }

  /** (files, bytes) the plan's file scans listed, AQE stages included. */
  private def scans(plan: SparkPlan): (Long, Long) = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): (Long, Long) = {
      if (!seen.add(p)) return (0L, 0L)
      val self = p match {
        case f: FileSourceScanExec =>
          (f.metrics.get("numFiles").map(_.value).getOrElse(0L),
            f.metrics.get("filesSize").map(_.value).getOrElse(0L))
        case _ => (0L, 0L)
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      (kids ++ p.subqueries).map(walk).foldLeft(self) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    walk(plan)
  }

  def write(path: String): Unit = {
    val stageRows = stages.asScala.toSeq.sortBy(_._1).map { case (sid, a) =>
      Map("stage" -> sid, "job" -> Option(stageJob.get(sid)).getOrElse(-1),
        "cpu_ns" -> a(0), "run_ms" -> a(1), "delay_ms" -> a(2), "fetch_wait_ms" -> a(3),
        "shuffle_write" -> a(4), "shuffle_read" -> a(5), "spill" -> a(6),
        "peak_mem" -> a(7), "input_bytes" -> a(8), "tasks" -> a(9))
    }
    val doc = Map(
      "facts" -> facts,
      "ops" -> ops,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "dur_ns" -> (s.endNs - s.startNs), "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)),
      "jobs" -> jobs.asScala.toSeq.sortBy(_._1).map(_._2),
      "stages" -> stageRows,
      "queries" -> queries.asScala.toSeq)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), Json.value(doc).getBytes("UTF-8"))
  }
}
