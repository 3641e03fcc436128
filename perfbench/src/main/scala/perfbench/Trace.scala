package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A span kept in memory and written out when the run ends. */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty)

/** Observers for a traced phase. Everything here watches the program
  * from outside: Spark's listener buses, thread stacks sampled from
  * another thread, Hadoop FileSystem statistics, and GC counters.
  * Nothing is instrumented inside the program.
  *
  *  - a StreamingQueryListener records each micro-batch's `durationMs`
  *    phases and input rows;
  *  - a SparkListener records jobs, stages and task CPU, attributed to the micro-batch (Spark's `streaming.sql.batchId`
  *    local property) or to the layer a direct call ran under
  *    ([[layer]] sets `perfbench.layer` on the calling thread);
  *  - a stack sampler charges driver wall time to the outermost public
  *    `graft.cdc` entry point on each thread, and to the `BucketStore`
  *    function below it. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  final class JobAcc(val batch: Option[Long], val layer: Option[String]) {
    var stages = 0; var cpuNs = 0L
  }

  val progress: mutable.Buffer[Progress] = mutable.Buffer.empty
  val jobs: mutable.LinkedHashMap[Int, JobAcc] = mutable.LinkedHashMap.empty
  private val stageJob = mutable.Map.empty[Int, Int]
  /** One sample: wall since the previous sample, and the labels seen. */
  val ticks: mutable.Buffer[(Double, Double, Set[String])] = mutable.Buffer.empty
  val spans: mutable.Buffer[Span] = mutable.Buffer.empty
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  def newId(): Long = nextId.getAndIncrement()

  private var fs0 = fsStats()
  var fsDelta: Map[String, Long] = Map.empty
  private var gc0 = 0L
  private var t0 = 0L
  var gcMsPerS = 0.0

  private val queryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) progress.synchronized {
        progress += Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val props = Option(e.properties)
      val acc = new JobAcc(
        props.flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).map(_.toLong),
        props.flatMap(p => Option(p.getProperty(LayerProp))))
      jobs(e.jobId) = acc
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = jobs.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      for (j <- stageJob.get(e.stageId); acc <- jobs.get(j); m <- Option(e.taskMetrics)) {
        acc.cpuNs += m.executorCpuTime
      }
    }
  }

  @volatile private var sampling = false
  private val sampler = new Thread(() => {
    var last = System.nanoTime()
    while (sampling) {
      Thread.sleep(SampleMs)
      val now = System.nanoTime()
      val labels = sample()
      ticks.synchronized { ticks += ((System.currentTimeMillis().toDouble, (now - last) / 1e6, labels)) }
      last = now
    }
  }, "perfbench-stack-sampler")
  sampler.setDaemon(true)

  def start(): Unit = {
    spark.streams.addListener(queryListener)
    spark.sparkContext.addSparkListener(jobListener)
    fs0 = fsStats(); gc0 = Stats.gcMs(); t0 = System.nanoTime()
    sampling = true
    sampler.start()
  }

  /** End the observed phase: sampling stops and the FileSystem and GC
    * deltas are taken. The listeners stay attached,
    * so direct calls made after the phase are still attributed. */
  def stop(): Unit = {
    sampling = false
    sampler.join()
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    val f1 = fsStats()
    fsDelta = f1.map { case (k, v) => k -> (v - fs0.getOrElse(k, 0L)) }
    gcMsPerS = (Stats.gcMs() - gc0) / ((System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` on this thread as a direct call into `name`'s layer: its
    * Spark jobs carry the layer, and a span records its wall. */
  def layer[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LayerProp)
    sc.setLocalProperty(LayerProp, name)
    val s = System.currentTimeMillis().toDouble
    try f
    finally {
      sc.setLocalProperty(LayerProp, prev)
      spans.synchronized { spans += Span(newId(), 0L, name, s, System.currentTimeMillis().toDouble) }
    }
  }

  def jobsOf(layer: String): Seq[JobAcc] = jobs.synchronized(jobs.values.filter(_.layer.contains(layer)).toList)
  def jobsOfBatch(b: Long): Seq[JobAcc] = jobs.synchronized(jobs.values.filter(_.batch.contains(b)).toList)

  /** Sampled wall (ms) carrying `label` within [from, to]. */
  def sampledMs(label: String, from: Double, to: Double): Double = ticks.synchronized {
    ticks.iterator.filter(t => t._1 >= from && t._1 <= to && t._3(label)).map(_._2).sum
  }

  /** Trigger spans with sampled layer spans under them. */
  def streamSpans(): Unit = {
    val ps = progress.synchronized(progress.toList)
    ps.foreach { p =>
      val tid = newId()
      spans += Span(tid, 0L, "trigger", p.startMs, p.endMs,
        Map("batch" -> p.batchId.toDouble, "rows" -> p.rows.toDouble) ++
          p.durations.map { case (k, v) => s"durationMs.$k" -> v.toDouble })
      val inTrigger = ticks.synchronized(ticks.filter(t => t._1 >= p.startMs && t._1 <= p.endMs).toList)
      Labels.foreach { l =>
        // contiguous runs of samples carrying the label become one span
        var runStart = -1.0; var runEnd = -1.0
        def close(): Unit = if (runStart >= 0) {
          spans += Span(newId(), tid, l, runStart, runEnd); runStart = -1.0
        }
        inTrigger.foreach { case (t, dt, ls) =>
          if (ls(l)) { if (runStart < 0) runStart = t - dt; runEnd = t } else close()
        }
        close()
      }
    }
  }

  def writeSpans(f: File): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k": ${Stats.num(v)}""" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""start_ms": ${Stats.num(s.startMs)}, "end_ms": ${Stats.num(s.endMs)}, "attrs": {$attrs}}"""
    }
    GenFiles.writeText(f, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val LayerProp = "perfbench.layer"

  /** One micro-batch as the query listener saw it. */
  final case class Progress(batchId: Long, startMs: Double, rows: Long,
                            durations: Map[String, Long]) {
    def endMs: Double = startMs + durations.getOrElse("triggerExecution", 0L)
  }
  val SampleMs = 15L

  /** Public entry points: (class, method) → label; the outermost one on
    * a thread is charged. A snapshot fold nested in another maintainer
    * is charged to `snapshot` as well. */
  private val Entries = Seq(
    ("graft.cdc.Ingest$", "appendBatch", "ingest"),
    ("graft.cdc.AggMaintainer$", "foldAndMaintain", "agg"),
    ("graft.cdc.Scd2Maintainer$", "update", "scd2"),
    ("graft.cdc.JoinMaintainer$", "foldAndMaintain", "join"),
    ("graft.cdc.SnapshotMaintainer$", "update", "snapshot"))
  private val Snapshot = ("graft.cdc.SnapshotMaintainer$", Set("update", "updateTouched"))
  private val Bucket = Map("readTouched" -> "bs.read_touched",
    "stageAndSwap" -> "bs.stage_swap", "touchedBuckets" -> "bs.touched_collect")
  private val SinkClass = "org.apache.spark.sql.execution.streaming.sources.ForeachBatchSink"
  val Labels: Seq[String] = Seq("ingest", "agg", "scd2", "join", "snapshot",
    "bs.read_touched", "bs.stage_swap", "bs.touched_collect", "closure_self")

  private def is(f: StackTraceElement, cls: String, m: String): Boolean =
    f.getClassName == cls &&
      (f.getMethodName == m || f.getMethodName.startsWith("$anonfun$" + m + "$"))

  /** Labels present on driver threads right now. Only the threads that
    * run driver code are sampled: the stream's execution thread, the
    * short-lived pools `core.Par` starts, and the main thread. */
  def sample(): Set[String] = {
    val out = mutable.Set.empty[String]
    val threads = new Array[Thread](Thread.activeCount() * 2 + 16)
    val n = Thread.enumerate(threads)
    var i = 0
    while (i < n) {
      val t = threads(i)
      val name = t.getName
      if (name.startsWith("stream execution thread") || name.startsWith("pool-") || name == "main") {
        val st = t.getStackTrace.reverse // outermost frame first
        var entry: String = null
        var bucket: String = null
        var inSink = false
        st.foreach { f =>
          if (!inSink && f.getClassName == SinkClass) inSink = true
          if (entry == null) Entries.find(e => is(f, e._1, e._2)).foreach(e => entry = e._3)
          else if (bucket == null && f.getClassName == "graft.cdc.BucketStore$")
            Bucket.get(f.getMethodName).foreach(b => bucket = b)
          if (f.getClassName == Snapshot._1 && Snapshot._2.exists(m => is(f, Snapshot._1, m)))
            out += "snapshot"
        }
        if (entry != null) out += entry
        if (bucket != null) out += bucket
        if (inSink && entry == null) out += "closure_self"
      }
      i += 1
    }
    out.toSet
  }

  /** Hadoop FileSystem byte counters for the local scheme. (The local
    * filesystem does not count operations, so there are no op counts.) */
  def fsStats(): Map[String, Long] = {
    val s = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
    def stat(k: String) = s.flatMap(x => Option(x.getLong(k))).map(_.longValue).getOrElse(0L)
    Map("bytes_written" -> stat("bytesWritten"), "bytes_read" -> stat("bytesRead"))
  }
}
