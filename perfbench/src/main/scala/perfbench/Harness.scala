package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkEntry
import graft.streaming.{BucketedReplica, CdcStream, IncrementalAgg, StoreIO}

/** The benchmark's JVM side: one workload per process, driven only through
  * the program's public entry points (SparkEntry, CdcStream,
  * BucketedReplica, IncrementalAgg, StoreIO.Stats) and observed through
  * Spark's public listener APIs.
  *
  * Usage: `Harness <workload> <runDir> <seconds> <trace 0|1> [key=value...]`.
  * Inputs are read from `runDir/inputs` (written by run.py from the seed);
  * raw measurements go to `runDir/measure.json`, spans to
  * `runDir/spans.jsonl`, and the outputs to check to `runDir/check`.
  * run.py turns these into metrics and runs the correctness checks.
  */
object Harness {
  final class Run(val dir: Path, val seconds: Int, val trace: Boolean,
                  val opts: Map[String, String]) {
    val out = new Record
    val errors = new ConcurrentLinkedQueue[String]
    val attempted = new java.util.concurrent.atomic.AtomicLong
    val tracer = new Tracer

    /** Run `body` as one counted operation; a failure is recorded by name
      * and never timed as a success. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted.incrementAndGet()
      try Some(body)
      catch {
        case t: Throwable =>
          val msg = s"$what: ${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"
          errors.add(msg)
          System.err.println(s"perfbench FAILURE $msg")
          None
      }
    }
    def path(rel: String): String = dir.resolve(rel).toString
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, runDir, seconds, trace) = args.take(4)
    val opts = args.drop(4).map { kv =>
      val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val run = new Run(Paths.get(runDir), seconds.toInt, trace == "1", opts)
    Host.spawnedNs = opts("spawned_ns").toLong
    val spark = Session.start(run)
    run.out.put("session_s", Host.sinceStart)
    val layers = if (run.trace) Some(Layers.install(spark, run.tracer)) else None
    try {
      workload match {
        case "analyst_queries" => Queries.run(spark, run, layers)
        case "cdc" => Cdc.run(spark, run, layers)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case t: Throwable =>
        run.errors.add(s"harness: ${t.getClass.getName}: ${t.getMessage}")
        t.printStackTrace()
    } finally {
      spark.stop()
      run.out.put("attempted", run.attempted.get)
      run.out.put("errors", run.errors.asScala.toSeq)
      run.out.put("peak_rss_mb", Host.peakRssMb)
      run.out.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
      layers.foreach(l => run.out.put("layers", l.snapshot()))
      Files.writeString(run.dir.resolve("measure.json"), run.out.json)
      if (run.trace) run.tracer.write(run.dir.resolve("spans.jsonl"))
    }
  }
}

/** One isolated session per run: every store, artifact, warehouse and
  * checkpoint lives under the run directory, which run.py deletes. */
object Session {
  def start(run: Harness.Run): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", run.path("tmp/spark-local"))
      .config("spark.sql.warehouse.dir", run.path("tmp/warehouse"))
      .config("graft.artifact.dir", run.path("tmp/artifacts"))
      .config("graft.checkpoint.dir", run.path("tmp/fixpoint"))
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(run.path("tmp/rdd-checkpoints"))
    s
  }
}

object Host {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Epoch nanoseconds at which run.py spawned this process. */
  @volatile var spawnedNs: Long = 0L

  /** Seconds since the process was spawned: the set-up clock. */
  def sinceStart: Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000000L + now.getNano - spawnedNs) / 1e9
  }

  def storeOps: Map[String, Long] = StoreIO.Stats.snapshot()
}

/** Closed loop, one client: the sampled queries, cold, in seeded order. */
object Queries {
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def settle(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    System.gc()
  }

  def run(spark: SparkSession, run: Harness.Run, layers: Option[Layers]): Unit = {
    val dir = run.path("inputs/corpus")
    val order = run.opts("queries").split(",").toSeq
    val fns = SparkEntry.queries
    // Warm-up: every sampled query once at the benchmark scale, writing the
    // result the oracle check reads. This also builds the corpus artifacts
    // the queries use, so no timed query pays a one-time build.
    run.op("warmup:noop")(materialize(spark.range(10).toDF()))
    order.foreach { q =>
      run.op(s"result:$q")(fns(q)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(run.path(s"check/$q")))
    }
    run.out.put("oracle_sql", order.map(q => q -> SparkEntry.oracleSql.get(q)).toMap)
    settle(spark)
    val setupS = Host.sinceStart
    layers.foreach(_.reset())
    val gc0 = Host.gcSeconds
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    val deadline = t0 + run.seconds * 1000000000L
    // whole passes over the sample, so every run times the same query mix
    val passes = mutable.ArrayBuffer.empty[Double]
    while (System.nanoTime() < deadline) {
      val p0 = System.nanoTime()
      order.foreach { q =>
        val req = run.tracer.request(s"query:$q")
        val a = System.nanoTime()
        var b = a
        val ok = run.op(s"query:$q") {
          val df = run.tracer.span("entry.build", req) {
            layers.foreach(_.phase("build"))
            try fns(q)(spark, dir) finally layers.foreach(_.phase("exec"))
          }
          b = System.nanoTime()
          run.tracer.span("exec", req)(materialize(df))
        }.isDefined
        val c = System.nanoTime()
        run.tracer.end(req)
        if (ok) samples += Map("q" -> q, "pass" -> passes.size, "build_s" -> (b - a) / 1e9,
          "latency_s" -> (c - a) / 1e9)
        settle(spark)
      }
      passes += (System.nanoTime() - p0) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    layers.foreach(_.close(wall))
    run.out.put("setup_s", setupS)
    run.out.put("wall_s", wall)
    run.out.put("gc_s", Host.gcSeconds - gc0)
    run.out.put("samples", samples.toSeq)
    run.out.put("pass_wall_s", passes.toSeq)
  }
}

/** The CDC pipeline: change files → staging/DLQ → per-table replica →
  * per-table reporting view → frontier marker, one micro-batch at a time
  * through `CdcStream.applyTablesWithAggViews`. */
object Cdc {
  val Tables = Seq("events", "pets")

  final class Pipeline(val root: String) {
    val land = s"$root/land"
    val replicas = s"$root/replica"
    val views = s"$root/view"
    val staging = s"$root/staging"
    val dlq = s"$root/dlq"
    val checkpoint = s"$root/checkpoint"
    Files.createDirectories(Paths.get(land))
  }

  /** Runs each micro-batch through the pipeline and keeps its record. */
  final class Applier(spark: SparkSession, run: Harness.Run, p: Pipeline,
                      layers: Option[Layers]) {
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]
    /** Called with a batch's files and the start and end of its apply. */
    @volatile var onApplied: (Seq[String], Long, Long) => Unit = (_, _, _) => ()
    /** Names the batches' trace requests: `backfill` or `tail`. */
    @volatile var kind = "batch"

    def apply(batch: DataFrame, batchId: Long): Unit = {
      val files = batchFiles(batchId)
      val req = run.tracer.request(s"$kind:$batchId")
      val s0 = Host.storeOps
      val a = System.nanoTime()
      layers.foreach(_.batchStarted(files.size))
      // traced runs: let each job name its own call site instead of the
      // stream's start()
      if (run.trace) spark.sparkContext.clearCallSite()
      val ok = run.op(s"batch:$batchId") {
        run.tracer.span("cdc.apply", req) {
          CdcStream.applyTablesWithAggViews(batch, batchId, p.replicas, p.views,
            p.staging, p.dlq)
        }
      }.isDefined
      val b = System.nanoTime()
      run.tracer.end(req)
      if (!ok) throw new IllegalStateException(s"batch $batchId failed") // stop the stream
      batches.add(Map("id" -> batchId, "files" -> files.size, "apply_s" -> (b - a) / 1e9,
        "store" -> StoreIO.Stats.diff(Host.storeOps, s0)))
      onApplied(files, a, b)
    }

    /** The change files of micro-batch `id`, from the file source's log in
      * the checkpoint (foreachBatch hands over a plan without file info). */
    private def batchFiles(id: Long): Seq[String] = {
      val dir = Paths.get(p.checkpoint, "sources", "0")
      val tag = s"\"batchId\":$id}"
      Seq(dir.resolve(id.toString), dir.resolve(s"$id.compact")).filter(Files.exists(_))
        .flatMap(f => Files.readAllLines(f).asScala).filter(_.endsWith(tag))
        .map { l =>
          val path = l.substring(l.indexOf("\"path\":\"") + 8, l.indexOf("\",\"timestamp\""))
          path.substring(path.lastIndexOf('/') + 1)
        }.distinct.sorted
    }

    def start(trigger: Trigger, maxFiles: Int): StreamingQuery =
      CdcStream.nestedFileChangelogStream(spark, p.land, maxFiles)
        .writeStream
        .option("checkpointLocation", p.checkpoint)
        .trigger(trigger)
        .foreachBatch((b: DataFrame, id: Long) => apply(b, id))
        .start()
  }

  private def land(src: Path, p: Pipeline, names: Seq[String]): Unit =
    names.foreach { n =>
      Files.copy(src.resolve(n), Paths.get(p.land, s".$n"))
      Files.move(Paths.get(p.land, s".$n"), Paths.get(p.land, n), StandardCopyOption.ATOMIC_MOVE)
    }

  private def listed(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted

  /** Write what the correctness check compares against its oracle. */
  private def dumpForCheck(spark: SparkSession, run: Harness.Run, p: Pipeline): Unit =
    Tables.foreach { t =>
      val rep = new BucketedReplica(s"${p.replicas}/$t")
      val view = new IncrementalAgg(rep, s"${p.views}/$t")
      run.op(s"check:replica:$t")(rep.read(spark).coalesce(1).write.parquet(run.path(s"check/replica_$t")))
      run.op(s"check:view:$t")(view.read(spark).coalesce(1).write.parquet(run.path(s"check/view_$t")))
      run.op(s"check:audit:$t")(run.out.put(s"audit_rows_$t", view.audit(spark).count()))
    }

  private def drain(q: StreamingQuery): Unit = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** The cdc workload, two regimes on one pipeline.
    *
    * Backfill, closed loop: the whole backlog is landed, then drained with
    * AvailableNow and a fixed maxFilesPerTrigger; big batches touch every
    * bucket. Tail, open loop, on the replica the backfill left: one
    * generator thread lands a small change file every `interval_ms`, the
    * stream applies them with the default trigger, and one reader thread
    * sends an analyst read every `read_interval_ms`. Tail latencies are
    * timed from the scheduled times. */
  def run(spark: SparkSession, run: Harness.Run, layers: Option[Layers]): Unit = {
    val backlogSrc = run.dir.resolve("inputs/backfill")
    val backlog = listed(backlogSrc)
    val tailSrc = run.dir.resolve("inputs/tail")
    val tailNames = listed(tailSrc)
    val maxFiles = run.opts("max_files").toInt
    val interval = run.opts("interval_ms").toLong * 1000000L
    val readInterval = run.opts("read_interval_ms").toLong * 1000000L
    val readKeys = run.opts("read_keys").split(",").map(_.toLong)

    // warm-up: a short drain and each read on a scratch pipeline
    val w = new Pipeline(run.path("tmp/warmup"))
    land(backlogSrc, w, backlog.take(1))
    run.op("warmup:drain")(drain(new Applier(spark, run, w, None).start(Trigger.AvailableNow(), 1)))
    val warmReads = new Readers(spark, run, w)
    (0 until 3).foreach(k => run.op(s"warmup:read$k")(warmReads.read(k, readKeys(0))))
    run.out.put("setup_s", Host.sinceStart)
    layers.foreach(_.reset())
    val gc0 = Host.gcSeconds
    val t0 = System.nanoTime()

    val p = new Pipeline(run.path("tmp/cdc"))
    val ap = new Applier(spark, run, p, layers)
    val started = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    val applied = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    ap.onApplied = (fs, a, b) => fs.foreach { f => started.put(f, a); applied.put(f, b) }

    land(backlogSrc, p, backlog)
    layers.foreach(_.landed(backlog.size))
    val b0 = System.nanoTime()
    ap.kind = "backfill"
    run.op("backfill:drain")(drain(ap.start(Trigger.AvailableNow(), maxFiles)))
    val backfillEnd = backlog.flatMap(f => Option(applied.get(f))).map(_.longValue)
      .maxOption.getOrElse(System.nanoTime())
    run.out.put("backfill", Map(
      "events" -> run.opts("backfill_events").toLong,
      "drain_s" -> (backfillEnd - b0) / 1e9,
      "batches" -> ap.batches.size,
      "freshness_s" -> backlog.flatMap(f => Option(applied.get(f))).map(v => (v - b0) / 1e9)))

    val readers = new Readers(spark, run, p)
    val landedAt = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
    ap.kind = "tail"
    val q = ap.start(Trigger.ProcessingTime(0L), Int.MaxValue)
    // the tail clock starts once the stream polls for new files
    val readyBy = System.nanoTime() + 30L * 1000000000L
    while (q.isActive && !q.status.message.startsWith("Waiting for") &&
      System.nanoTime() < readyBy) Thread.sleep(5)
    val t1 = System.nanoTime()
    val deadline = t1 + run.seconds * 1000000000L
    def due(i: Int, every: Long): Long = t1 + i * every
    def sleepUntil(t: Long): Unit = {
      val d = t - System.nanoTime()
      if (d > 0) Thread.sleep(d / 1000000L, (d % 1000000L).toInt)
    }
    val generator = new Thread(() => {
      var i = 0
      while (i < tailNames.size && due(i, interval) < deadline) {
        sleepUntil(due(i, interval))
        run.op(s"land:${tailNames(i)}") {
          land(tailSrc, p, Seq(tailNames(i)))
          landedAt.put(tailNames(i), System.nanoTime())
          layers.foreach(_.landed(1))
        }
        i += 1
      }
    }, "perfbench-generator")
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]
    val reader = new Thread(() => {
      var j = 0
      while (due(j, readInterval) < deadline) {
        sleepUntil(due(j, readInterval))
        val kind = j % 3
        val a = System.nanoTime()
        val s0 = Host.storeOps
        val ok = readers.read(kind, readKeys(j % readKeys.length)).isDefined
        val b = System.nanoTime()
        if (ok) reads.add(Map("kind" -> Readers.names(kind),
          "latency_s" -> (b - due(j, readInterval)) / 1e9, "service_s" -> (b - a) / 1e9,
          "store_ops" -> StoreIO.Stats.diff(Host.storeOps, s0).values.sum))
        j += 1
      }
    }, "perfbench-reader")
    generator.start(); reader.start()
    generator.join(); reader.join()
    // wait (bounded) until every landed file is applied
    val drainBy = System.nanoTime() + 60L * 1000000000L
    while (landedAt.keySet.asScala.exists(f => !applied.containsKey(f)) &&
      q.isActive && System.nanoTime() < drainBy) Thread.sleep(10)
    val wall = (System.nanoTime() - t0) / 1e9
    q.stop()
    q.exception.foreach(e => run.errors.add(s"stream: $e"))
    layers.foreach(_.close(wall))
    val landedNames = tailNames.filter(landedAt.containsKey)
    val missing = landedNames.filterNot(applied.containsKey)
    if (missing.nonEmpty) run.errors.add(s"tail: ${missing.size} landed files never applied")
    def idx(f: String) = tailNames.indexOf(f)
    run.out.put("wall_s", wall)
    run.out.put("tail_s", (System.nanoTime() - t1) / 1e9)
    run.out.put("gc_s", Host.gcSeconds - gc0)
    run.out.put("landed", backlog ++ landedNames)
    run.out.put("tail_landed", landedNames)
    run.out.put("lateness_s", landedNames.map(f => (landedAt.get(f) - due(idx(f), interval)) / 1e9))
    // freshness = wait (scheduled landing to the start of the batch that
    // applied the file) + that batch's apply time
    val appliedNames = landedNames.filter(applied.containsKey)
    run.out.put("freshness_s", appliedNames.map(f => (applied.get(f) - due(idx(f), interval)) / 1e9))
    run.out.put("wait_s", appliedNames.map(f => (started.get(f) - due(idx(f), interval)) / 1e9))
    run.out.put("batches", ap.batches.asScala.toSeq)
    run.out.put("reads", reads.asScala.toSeq)
    dumpForCheck(spark, run, p)
    run.out.put("check_root", p.root)
  }

}

/** The three analyst reads of the cdc_tail workload. */
final class Readers(spark: SparkSession, run: Harness.Run, p: Cdc.Pipeline) {
  private val events = new BucketedReplica(s"${p.replicas}/events")

  def read(kind: Int, key: Long): Option[Long] = {
    val name = Readers.names(kind)
    val req = run.tracer.request(s"read:$name")
    try run.op(s"read:$name") {
      run.tracer.span(s"read.$name", req) {
        kind match {
          case 0 => new IncrementalAgg(events, s"${p.views}/events").read(spark).collect().length.toLong
          case 1 => events.live(spark).filter(col("user_id") === key).collect().length.toLong
          case 2 =>
            val (_, vers) = CdcStream.consistentCutVersions(p.replicas, Cdc.Tables)
            CdcStream.consistentLiveFor(spark, p.replicas, "events", vers).count()
        }
      }
    } finally run.tracer.end(req)
  }
}

object Readers {
  val names: Seq[String] = Seq("view", "point", "cut")
}
