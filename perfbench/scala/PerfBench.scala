package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.functions.TextFunctions
import graft.operators.{StatefulExec, StatefulLogic}
import graft.sinks.StatefulParquetSink
import graft.sources.KafkaShim
import graft.streaming.StreamingOps
import graft.time.EventTime

final case class Ev(partition: Int, offset: Long, key: String, value: String,
                    ts: java.sql.Timestamp)
final case class KeyTotal(key: String, cnt: Long, total: Long)

/** Per-key running count and sum: one output row per input event. */
object RunningTotal extends StatefulLogic[String, Ev, (Long, Long), KeyTotal] {
  def zero: (Long, Long) = (0L, 0L)
  def update(k: String, v: Ev, s: (Long, Long)): ((Long, Long), IterableOnce[KeyTotal]) = {
    val n = (s._1 + 1L, s._2 + v.value.toLong)
    (n, Iterator.single(KeyTotal(k, n._1, n._2)))
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder. Spans are kept only when tracing is on; the
  * current span id travels to Spark jobs as a local property, so the
  * listener can attribute jobs (and their tasks) to the call that ran them. */
final class Tracer(@volatile var enabled: Boolean) {
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var session: SparkSession = _

  def span[T](name: String, layer: String, attrs: => Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val sc = session.sparkContext
      val prev = sc.getLocalProperty("perfbench.span")
      stack.set(id :: stack.get())
      sc.setLocalProperty("perfbench.span", id.toString)
      val start = Clock.nowMs
      try body
      finally {
        val end = Clock.nowMs
        sc.setLocalProperty("perfbench.span", prev)
        stack.set(stack.get().tail)
        spans.add(Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
          "start_ms" -> start, "end_ms" -> end) ++ attrs)
      }
    }
}

/** Spark listener recording jobs, stages and tasks through Spark's public
  * listener API; aggregation happens after the run. A task's stored bytes
  * are the RDD blocks it cached (filled in when the session tracks updated
  * block statuses, i.e. in traced runs). */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobEnds = new ConcurrentLinkedQueue[Seq[Any]]()
  val stages = new ConcurrentLinkedQueue[Seq[Any]]()
  val tasks = new ConcurrentLinkedQueue[Seq[Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): String = Option(e.properties).map(_.getProperty(k)).orNull
    jobs.add(Map("job" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds,
      "span" -> prop("perfbench.span"),
      "callsite" -> e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).orNull,
      "batch" -> prop("streaming.sql.batchId"), "query_run" -> prop("sql.streaming.queryId")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add(Seq(e.jobId, e.time, e.jobResult == JobSucceeded))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Seq(s.stageId, s.attemptNumber(), s.numTasks,
      s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sr = m.shuffleReadMetrics
      val stored = m.updatedBlockStatuses.collect {
        case (id, st) if id.isRDD && st.storageLevel.isValid => st.memSize + st.diskSize
      }.sum
      tasks.add(Seq(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime / 1000000.0, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten, stored))
    }
  }
}

/** Streaming progress recorder: one entry per finished micro-batch. */
final class ProgressRecorder extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress.json)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** One benchmark run: set-up cycles, the workload's timed phases, and a JSON
  * record of everything measured. Checks and metrics are computed from that
  * record by the Python side. */
final class Run(cfg: Map[String, Any]) {
  private def str(k: String): String = cfg(k).toString
  private def num(k: String): Long = cfg(k).asInstanceOf[Number].longValue
  private def dbl(k: String): Double = cfg(k).asInstanceOf[Number].doubleValue
  private val params = cfg("params").asInstanceOf[Map[String, Any]]
  private def p(k: String): Long = params(k).asInstanceOf[Number].longValue
  private def files(k: String): Seq[Map[String, Any]] =
    cfg("files").asInstanceOf[Map[String, Any]](k).asInstanceOf[Seq[Map[String, Any]]]
  private def rows(fs: Seq[Map[String, Any]]): Long =
    fs.map(_("rows").asInstanceOf[Number].longValue).sum

  val work: String = str("work")
  val workload: String = str("workload")
  val traced: Boolean = cfg("trace") == true
  val tracer = new Tracer(false) // on for the timed phases of a traced run
  val recorder = new Recorder
  val progress = new ProgressRecorder
  val out = scala.collection.mutable.LinkedHashMap[String, Any]()
  private val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val releases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val marks = new ConcurrentLinkedQueue[Map[String, Any]]()
  var spark: SparkSession = _

  def mark(name: String): Unit = marks.add(Map("name" -> name, "t_ms" -> Clock.nowMs))

  def newSession(slots: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", num("shuffle_partitions"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .config("spark.taskMetrics.trackUpdatedBlockStatuses", traced)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(recorder)
    s.streams.addListener(progress)
    tracer.session = s
    spark = s
    s
  }

  def stopSession(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Time one operation; `rows` is the input it consumed. The body may add
    * attributes (e.g. a commit time) to the operation's record. In a traced
    * run every operation is also a root span, so roots have one source. */
  def op[T](kind: String, rows: Long, attrs: Map[String, Any] = Map.empty)(
      body: mutable.Map[String, Any] => T): T = {
    val extra = mutable.Map[String, Any]()
    val t0 = Clock.nowMs
    val r = tracer.span(kind, "op", attrs ++ extra)(body(extra))
    ops.add(Map("kind" -> kind, "start_ms" -> t0, "end_ms" -> Clock.nowMs, "rows" -> rows) ++
      attrs ++ extra)
    r
  }

  /** Traced runs materialize a graft call's output on its own, so the
    * call's time is not fused into the next one's job. The span is tagged
    * `persist`, so the blocks its job caches are not counted as graft's. */
  private def materialize[T](ds: org.apache.spark.sql.Dataset[T], name: String, layer: String,
                             attrs: Map[String, Any] = Map.empty): org.apache.spark.sql.Dataset[T] =
    tracer.span(name, layer, attrs + ("persist" -> true)) {
      val c = ds.persist(StorageLevel.MEMORY_AND_DISK)
      c.count()
      c
    }

  /** Epoch ms at which the first batch with input of `q`'s current run
    * committed, from its progress report. */
  private def firstCommitMs(q: StreamingQuery): Option[Double] =
    q.recentProgress.find(_.numInputRows > 0).map(pg =>
      java.time.Instant.parse(pg.timestamp).toEpochMilli.toDouble +
        pg.durationMs.get("triggerExecution").doubleValue)

  /** Atomically publish a staged file into a watched directory. */
  def release(staged: String, target: String, copy: Boolean): Unit = {
    val dst = Paths.get(target)
    Files.createDirectories(dst.getParent)
    if (copy) {
      val tmp = dst.resolveSibling("." + dst.getFileName + ".tmp")
      Files.copy(Paths.get(staged), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    } else Files.move(Paths.get(staged), dst, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Release `fs` on their schedule from a thread of its own, so a slow
    * system never slows the generator (open loop). */
  def openLoop(fs: Seq[Map[String, Any]], root: String, phase: String): Thread = {
    val t0 = Clock.nowMs
    val t = new Thread(() => {
      fs.foreach { f =>
        val due = t0 + f("due_ms").asInstanceOf[Number].doubleValue
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val target = s"$root/${f("target")}"
        release(f("staged").toString, target, copy = false)
        releases.add(Map("target" -> target, "due_ms" -> due, "actual_ms" -> Clock.nowMs,
          "rows" -> f("rows"), "phase" -> phase))
      }
    }, "perfbench-open-loop")
    t.setDaemon(true)
    t.start()
    t
  }

  // ------------------------------------------------------------ stream_keyed

  /** Write raw events into a topic with KafkaShim.write; returns the
    * topic's files (relative to the topic dir), one per partition. */
  def stageTopic(input: String, root: String): Seq[String] = {
    tracer.span("sources.kafka_write", "sources") {
      KafkaShim.write(spark.read.parquet(input), root, "events", Seq("seq"))
    }
    val topic = Paths.get(s"$root/topic=events")
    Files.walk(topic).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => topic.relativize(f).toString).toSeq.sorted
  }

  def keyedQuery(liveRoot: String, ckpt: String, outDir: String, trigger: Trigger): StreamingQuery = {
    val s = spark
    import s.implicits._
    val events = EventTime.generateEpochs(
      KafkaShim.readStream(s, liveRoot, "events"), "ts", s"${num("watermark_delay_ms")} milliseconds")
    val totals = StatefulExec.stream[String, Ev, (Long, Long), KeyTotal](
      events.as[Ev], _.key, RunningTotal)
    totals.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[KeyTotal], id: Long) =>
        val sink = StatefulParquetSink(s"$outDir/batch=$id")
        if (tracer.enabled) {
          val at = Map("batch" -> id,
            "query" -> batch.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId"))
          val held = materialize(batch, "operators.update", "operators", at)
          tracer.span("sinks.write", "sinks", at)(sink.write(held.toDF(), id))
          held.unpersist(blocking = true)
        } else sink.write(batch.toDF(), id)
        ()
      }
      .start()
  }

  private val staged = s"$work/topic-stage"
  private lazy val chunkFiles: Seq[String] = stageTopic(s"$work/in/backlog", staged)

  /** Drain backlog chunks `which`, one file per micro-batch, each to commit
    * before the next is released. */
  def drain(root: String, ck: String, od: String, which: Seq[Int], kind: String): StreamingQuery = {
    var q: StreamingQuery = null
    which.foreach { c =>
      op(kind, p("backlog_rows") / chunkFiles.size, Map("chunk" -> c)) { _ =>
        val f = chunkFiles(c)
        release(s"$staged/topic=events/$f", s"$root/topic=events/$f", copy = true)
        if (q == null) q = keyedQuery(root, ck, od, Trigger.ProcessingTime(0))
        q.processAllAvailable()
      }
    }
    q
  }

  def streamWarm(cycle: Int): Unit = {
    val root = s"$work/warm-$cycle"
    stageTopic(s"$work/in/warm", root)
    keyedQuery(root, s"$work/ckpt-warm-$cycle", s"$work/out/warm-$cycle",
      Trigger.AvailableNow()).awaitTermination()
  }

  def streamTimed(): Unit = {
    // Topic build: KafkaShim assigns the backlog's offsets, one file per
    // partition; each file is then one fixed-size drain batch.
    (0 until p("index_builds").toInt).foreach { i =>
      op("index_build", p("backlog_rows")) { _ =>
        if (i == 0) chunkFiles else stageTopic(s"$work/in/backlog", s"$work/topic-build-$i")
      }
    }
    val live = s"$work/topic-live"
    val ckpt = s"$work/ckpt"
    val outDir = s"$work/out/stream"

    // Phase 1: drain the backlog, one fixed-size file per micro-batch. A
    // traced run drains the first half untraced and the second half traced:
    // the difference per batch is the tracing overhead.
    val all = chunkFiles.indices
    val q = if (traced) {
      val half = all.size / 2
      tracer.enabled = false
      drain(live, ckpt, outDir, all.take(half), "drain").stop()
      tracer.enabled = true
      drain(live, ckpt, outDir, all.drop(half), "drain_traced")
    } else drain(live, ckpt, outDir, all, "drain")

    // Phase 2: open-loop release at a fixed rate below capacity.
    op("open_phase", rows(files("open"))) { _ =>
      openLoop(files("open"), s"$live/topic=events", "open").join()
      q.processAllAvailable()
    }
    q.stop()

    // Phase 3: restarts. Stop, append, restart on the same checkpoint, and
    // time start() to the first committed batch.
    files("restart").foreach { f =>
      release(f("staged").toString, s"$live/topic=events/${f("target")}", copy = false)
      val rq = op("restart", rows(Seq(f))) { at =>
        val rq = keyedQuery(live, ckpt, outDir, Trigger.ProcessingTime(0))
        var commit = firstCommitMs(rq)
        while (commit.isEmpty) {
          if (!rq.isActive) throw rq.exception.getOrElse(new IllegalStateException("query stopped"))
          Thread.sleep(1)
          commit = firstCommitMs(rq)
        }
        at("commit_ms") = commit.get
        rq
      }
      rq.processAllAvailable()
      rq.stop()
    }
  }

  /** Single-threaded baseline of the drain, untraced like the drain it is
    * compared with. */
  def streamBaseline(): Unit =
    drain(s"$work/topic-one-core", s"$work/ckpt-one-core", s"$work/out/one-core",
      chunkFiles.indices, "drain_1core").stop()

  // ------------------------------------------------------- dedup_incremental

  /** graft's text folds as an ingest quality gate: English documents whose
    * quality score clears the bar. */
  def qualityGate(docs: DataFrame): DataFrame = {
    val text = F.col("text")
    docs.filter(TextFunctions.qualityScore(text) >= dbl("quality_min") &&
      TextFunctions.langId(text) === "en" && TextFunctions.tokenCount(text) >= 20L)
  }

  /** Gate a corpus and build the signature index over the survivors. */
  def buildIndex(corpus: String, table: String): Unit = {
    val gated = qualityGate(spark.read.parquet(corpus))
    if (!tracer.enabled) Dedup.indexInit(gated, table)
    else {
      val held = materialize(gated, "functions.text_fold", "functions")
      try tracer.span("dedup.index_init", "dedup")(Dedup.indexInit(held, table))
      finally held.unpersist(blocking = true)
    }
  }

  def dedupStream(shards: String, table: String, outDir: String, ckpt: String): StreamingQuery =
    StreamingOps.incrementalDedupStream(
      qualityGate(spark.readStream.schema("doc_id BIGINT, text STRING").parquet(shards)),
      table, outDir, ckpt)

  def dedupWarm(cycle: Int): Unit = {
    val table = s"warm_index_$cycle"
    buildIndex(s"$work/in/warm_base", table)
    dedupStream(s"$work/in/warm_shard", table, s"$work/out/warm-$cycle",
      s"$work/ckpt-warm-$cycle").awaitTermination()
  }

  def dedupTimed(): Unit = {
    val table = "sig_index"
    // The index build is timed untraced, several times into tables of their
    // own; the rounds use the first. A traced run then builds once more,
    // traced: the difference is the tracing overhead.
    tracer.enabled = false
    (0 until p("index_builds").toInt).foreach { i =>
      op("index_build", p("base_docs"))(_ => buildIndex(s"$work/in/base", s"$table$i"))
    }
    if (traced) {
      tracer.enabled = true
      op("index_build_traced", p("base_docs"))(_ => buildIndex(s"$work/in/base", "sig_index_traced"))
    }

    // Rounds: each round's shards are released on a fixed schedule, then
    // incrementalDedupStream starts on the same checkpoint (an AvailableNow
    // restart), commits them in one micro-batch and stops.
    val live = s"$work/shards-live"
    Files.createDirectories(Paths.get(live))
    val rounds = cfg("files").asInstanceOf[Map[String, Any]]("rounds")
      .asInstanceOf[Seq[Seq[Map[String, Any]]]]
    rounds.zipWithIndex.foreach { case (group, r) =>
      openLoop(group, live, "round").join()
      op("round", rows(group), Map("round" -> r)) { at =>
        val q = dedupStream(live, s"${table}0", s"$work/out/pairs", s"$work/ckpt")
        q.awaitTermination()
        at("commit_ms") = firstCommitMs(q).getOrElse(Clock.nowMs)
        at("run_id") = q.runId.toString
      }
    }
  }

  /** Single-threaded baseline of the index build, untraced like the build
    * it is compared with. */
  def dedupBaseline(): Unit =
    op("index_build_1core", p("base_docs"))(_ => buildIndex(s"$work/in/base", "sig_index_one_core"))

  // ------------------------------------------------------------------- driver

  def run(): Unit = {
    val (warm, timed, baseline): (Int => Unit, () => Unit, () => Unit) = workload match {
      case "stream_keyed" => (streamWarm, () => streamTimed(), () => streamBaseline())
      case "dedup_incremental" => (dedupWarm, () => dedupTimed(), () => dedupBaseline())
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = (0 until num("setup_cycles").toInt).map { c =>
      val t0 = if (c == 0) jvmStart else { stopSession(); Clock.nowMs }
      newSession(num("slots").toInt)
      warm(c)
      Clock.nowMs - t0
    }
    out("setup_s") = setups.map(_ / 1000.0)
    mark("timed_start")
    tracer.enabled = traced
    timed()
    tracer.enabled = false
    mark("timed_end")
    if (traced) {
      stopSession()
      newSession(1)
      baseline()
    }
    stopSession() // drains the listener bus
    out("peak_rss_mb") = peakRssMb()
    out("ops") = ops.asScala.toSeq
    out("releases") = releases.asScala.toSeq
    out("marks") = marks.asScala.toSeq
    out("progress") = progress.progress.asScala.toSeq
    out("jobs") = recorder.jobs.asScala.toSeq
    out("job_ends") = recorder.jobEnds.asScala.toSeq
    out("stages") = recorder.stages.asScala.toSeq
    out("tasks") = recorder.tasks.asScala.toSeq
    out("spans") = tracer.spans.asScala.toSeq
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(-1.0)
}

object Main {
  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val cfg = mapper.readValue(Paths.get(args(0)).toFile, classOf[Map[String, Any]])
    val run = new Run(cfg)
    var code = 0
    try run.run()
    catch {
      case t: Throwable =>
        t.printStackTrace()
        run.out("error") = t.toString
        code = 1
    } finally {
      run.stopSession()
      mapper.writeValue(Paths.get(args(1)).toFile, run.out)
    }
    sys.exit(code)
  }
}
