package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Ordered JSON object, written by hand so the harness needs no library
  * beyond Spark's own classpath. */
final class Record {
  private val kv = new java.util.LinkedHashMap[String, Any]
  def put(k: String, v: Any): Unit = synchronized { kv.put(k, v); () }
  def json: String = synchronized(Record.render(Record.Obj(kv.asScala.toSeq)))
}

object Record {
  /** A JSON object with its keys in insertion order. */
  final case class Obj(kvs: Seq[(String, Any)])

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case Obj(kvs) => kvs.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }))
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case a: Array[_] => a.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Spans kept in memory and written when the run ends. A request is a
  * root span (one query invocation, micro-batch or read); `span` opens a
  * child around one public call. The current span id travels to Spark
  * as the local property `perfbench.span`, so [[Layers]] can hang each
  * Spark job under the span whose thread submitted it. */
final class Tracer {
  /** On inside a traced run's timed window only. */
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val rows = new ConcurrentLinkedQueue[String]
  private val open = new ConcurrentHashMap[Long, (Long, Long, String, Long)] // id -> (parent, req, name, start)
  private val reqOf = new ConcurrentHashMap[Long, Long]
  private val reqName = new ConcurrentHashMap[Long, String]
  @volatile var sc: SparkContext = _

  private def setCurrent(id: Long): Unit =
    if (sc != null) sc.setLocalProperty(Tracer.Key, if (id == 0) null else id.toString)

  def request(name: String): Long =
    if (!enabled) 0L
    else {
      val id = ids.incrementAndGet()
      open.put(id, (0L, id, name, System.nanoTime()))
      reqOf.put(id, id)
      reqName.put(id, name)
      setCurrent(id)
      id
    }

  def end(id: Long): Unit = if (enabled) close(id, System.nanoTime())

  private def close(id: Long, endNs: Long): Unit = {
    val s = open.remove(id)
    if (s != null) {
      val (parent, req, name, start) = s
      record(id, parent, req, name, start, endNs)
      setCurrent(if (parent == 0) 0 else parent)
    }
  }

  def record(id: Long, parent: Long, req: Long, name: String, start: Long, end: Long): Unit =
    rows.add(Record.render(Record.Obj(Seq("id" -> id, "parent" -> parent,
      "req" -> req, "name" -> name, "start_ns" -> start, "end_ns" -> end))))

  def span[T](name: String, parent: Long)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      open.put(id, (parent, reqOf.getOrDefault(parent, parent), name, System.nanoTime()))
      reqOf.put(id, reqOf.getOrDefault(parent, parent))
      setCurrent(id)
      try body finally close(id, System.nanoTime())
    }

  def nextId(): Long = ids.incrementAndGet()
  def requestOf(span: Long): Long = reqOf.getOrDefault(span, 0L)
  def requestName(span: Long): String = reqName.getOrDefault(requestOf(span), "")

  def write(p: Path): Unit =
    Files.write(p, rows.asScala.toSeq.asJava)
}

object Tracer { val Key = "perfbench.span" }

/** Per-layer counters, read from outside through Spark's public listener
  * APIs: a SparkListener (jobs, stages, tasks, shuffle, spill, output),
  * a QueryExecutionListener (Catalyst phase times) and a
  * StreamingQueryListener (trigger overhead). Only events inside the
  * timed window count. Installed for traced runs only. */
final class Layers(tracer: Tracer) {
  @volatile private var from = Long.MaxValue // epoch ms
  @volatile private var until = Long.MaxValue
  private val c = new ConcurrentHashMap[String, AtomicLong]
  private val byFile = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]
  private val byRequest = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]
  private val jobs = new ConcurrentHashMap[Int, Layers.Job]
  /** epoch ms → the System.nanoTime clock the spans use */
  private val nsOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val appliedFiles = new AtomicLong
  private val landedFiles = new AtomicLong
  @volatile private var wall = 0.0

  private def add(k: String, v: Long): Unit = { c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v); () }
  private def addTo(m: ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]],
                    key: String, k: String, v: Long): Unit = {
    m.computeIfAbsent(key, _ => new ConcurrentHashMap[String, AtomicLong])
      .computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
    ()
  }
  private def addFile(f: String, k: String, v: Long): Unit = addTo(byFile, f, k, v)
  private def inWindow(ms: Long): Boolean = ms >= from && ms <= until

  def reset(): Unit = {
    c.clear(); byFile.clear(); byRequest.clear()
    from = System.currentTimeMillis()
    tracer.enabled = true
  }
  def close(wallS: Double): Unit = {
    tracer.enabled = false
    until = System.currentTimeMillis(); wall = wallS
  }

  /** Marks jobs fired while a query's DataFrame is being built. */
  def phase(p: String): Unit =
    SparkSession.active.sparkContext.setLocalProperty(Layers.PhaseKey, p)

  def landed(n: Int): Unit = { landedFiles.addAndGet(n); () }
  def batchStarted(files: Int): Unit = {
    val backlog = landedFiles.get - appliedFiles.get
    c.computeIfAbsent("backlog_files_max", _ => new AtomicLong).accumulateAndGet(backlog, math.max)
    appliedFiles.addAndGet(files)
    add("batch_files", files)
    ()
  }

  /** SQL execution id → source file of the program (or harness) frame
    * that started it; the jobs of an execution, including those adaptive
    * execution submits from its own threads, inherit it. */
  private val execFile = new ConcurrentHashMap[Long, String]
  private val frameRe = """(?m)^\s*(?:graft|perfbench)\.[^(]*\(([A-Za-z0-9_$]+\.scala):""".r
  private def fileOf(stack: String): String =
    frameRe.findFirstMatchIn(stack).map(_.group(1)).getOrElse("other")

  val spark: SparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        val own = fileOf(x.details)
        execFile.put(x.executionId,
          if (own != "other") own
          else x.rootExecutionId.flatMap(r => Option(execFile.get(r))).getOrElse(own))
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).flatMap(id => Option(execFile.get(id)))
      val file = exec.getOrElse(fileOf(e.stageInfos.map(_.details).mkString("\n")))
      val span = props.flatMap(p => Option(p.getProperty(Tracer.Key))).map(_.toLong).getOrElse(0L)
      val build = props.flatMap(p => Option(p.getProperty(Layers.PhaseKey))).contains("build")
      jobs.put(e.jobId, Layers.Job(e.time, file, span, build, tracer.requestName(span)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null && inWindow(j.startMs)) {
        add("jobs", 1)
        if (j.build) add("build_jobs", 1)
        addFile(j.file, "jobs", 1)
        addFile(j.file, "job_ms", e.time - j.startMs)
        if (j.span != 0) {
          addTo(byRequest, j.request, "jobs", 1)
          tracer.record(tracer.nextId(), j.span, tracer.requestOf(j.span), s"job:${j.file}",
            j.startMs * 1000000L + nsOffset, e.time * 1000000L + nsOffset)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (e.stageInfo.submissionTime.exists(inWindow)) add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      if (inWindow(ti.launchTime)) {
        add("tasks", 1)
        if (!ti.successful) add("task_failures", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("task_run_ms", m.executorRunTime)
          add("sched_delay_ms", math.max(0L, ti.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime))
          add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          add("spill_bytes", m.diskBytesSpilled)
          if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
            add("empty_tasks", 1)
          val job = Option(jobs.get(stageJob.getOrDefault(e.stageId, -1)))
          val file = job.map(_.file).getOrElse("other")
          job.filter(_.span != 0).foreach { j =>
            addTo(byRequest, j.request, "tasks", 1)
            addTo(byRequest, j.request, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
            addTo(byRequest, j.request, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          }
          if (m.outputMetrics.recordsWritten > 0) {
            addFile(file, "records_written", m.outputMetrics.recordsWritten)
            addFile(file, "bytes_written", m.outputMetrics.bytesWritten)
            addFile(file, "files_written", 1)
          }
        }
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (inWindow(System.currentTimeMillis())) {
        val ph = qe.tracker.phases
        add("qe", 1)
        Seq("analysis", "optimization", "planning").foreach { k =>
          ph.get(k).foreach(p => add(s"${k}_ms", p.durationMs))
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch") && d.containsKey("triggerExecution") &&
        inWindow(System.currentTimeMillis())) {
        add("progress", 1)
        add("trigger_overhead_ms", d.get("triggerExecution") - d.get("addBatch"))
      }
    }
  }

  def snapshot(): Map[String, Any] = Map(
    "window_s" -> wall,
    "cores" -> Runtime.getRuntime.availableProcessors,
    "counters" -> c.asScala.map { case (k, v) => k -> v.get }.toMap,
    "by_file" -> byFile.asScala.map { case (f, m) =>
      f -> m.asScala.map { case (k, v) => k -> v.get }.toMap }.toMap,
    "by_request" -> byRequest.asScala.map { case (r, m) =>
      r -> m.asScala.map { case (k, v) => k -> v.get }.toMap }.toMap)
}

object Layers {
  val PhaseKey = "perfbench.phase"

  /** A job as it started: the layer (source file) and span it belongs to. */
  final case class Job(startMs: Long, file: String, span: Long, build: Boolean, request: String)

  def install(spark: SparkSession, tracer: Tracer): Layers = {
    val l = new Layers(tracer)
    tracer.sc = spark.sparkContext
    spark.sparkContext.addSparkListener(l.spark)
    spark.listenerManager.register(l.queries)
    spark.streams.addListener(l.streams)
    l
  }
}
