package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.cdc.{AggMaintainer, Envelope, Ingest, JoinMaintainer, Registry, Scd2Maintainer,
  SnapshotMaintainer, TableSpec}
import graft.streaming.{CdcStream, CdcStreamConfig, JoinViewSpec}

/** bulk_backfill: `CdcStream` drains a pre-landed backlog of generated
  * envelope files with AvailableNow. An operation is one micro-batch;
  * its latency is the time from the previous batch's commit (for the
  * first, the drain's start) to its own commit. */
object Cdc {
  import Gen._

  val OrdersAgg: AggMaintainer.AggSpec =
    AggMaintainer.AggSpec("by_status", Seq("o_orderstatus"), Seq("o_totalprice"))
  val JoinView: JoinViewSpec = JoinViewSpec("li_part", "partkey", "lineitem", "part")

  // ---- bulk_backfill ---------------------------------------------------

  /** The backlog: `Events` change events in `Files` files, drained in
    * `Triggers` micro-batches with snapshot folds on `orders` and
    * `customer`. `lineitem` and `part` events are appended only; the
    * traced run replays them through the join maintainer. */
  val Events = 24000
  val Files = 24
  val Triggers = 4
  val Tables: Seq[Table] = Seq(Orders, Customer, Lineitem, Part)
  val Folded: Seq[Table] = Seq(Orders, Customer)
  /** Seconds of point-in-time reads in a traced run. */
  val ReadProbeSeconds = 5

  /** One drain: its wall and each micro-batch's latency (between
    * consecutive commit-log entries, the first from the drain's start). */
  final case class Drain(secs: Double, triggerMs: Seq[Double], in: File, wh: File, ck: File) {
    /** Micro-batches the drain should have committed but did not. */
    def missing: Int = math.max(0, Triggers - triggerMs.size)
  }

  def bulkBackfill(a: Main.Args): Result = {
    val gen = new Gen(a.seed, Seq(Orders -> 0.55, Customer -> 0.25, Lineitem -> 0.15, Part -> 0.05),
      skew = 0.6)
    val in = new File(a.work, "in")
    val events = mutable.ArrayBuffer.empty[Event]
    val inputBytes = (0 until Files).map { i =>
      val es = gen.take(Events / Files); events ++= es
      GenFiles.write(new File(in, f"backlog-$i%04d.json.gz"), es)
    }.sum
    val registry = writeRegistry(a.work, Tables)
    Log("backlog generated")
    val (spark, setupS) = Setup.session(a.work, warmUp(a.work, Tables, registry))

    /** Drain the whole backlog once into a fresh warehouse. */
    def drain(tag: String): Drain = {
      val wh = new File(a.work, s"wh$tag"); val ck = new File(a.work, s"ck$tag")
      val t0ms = System.currentTimeMillis().toDouble
      val t0 = System.nanoTime()
      CdcStream.runOnce(spark, CdcStreamConfig(in.getPath, wh.getPath, ck.getPath, registry,
        maxFilesPerTrigger = Files / Triggers,
        snapshotKeys = Folded.map(t => t.logical -> t.pkNames).toMap))
      val secs = (System.nanoTime() - t0) / 1e9
      val commits = StreamLog.commits(ck).toSeq.sortBy(_._1).map(_._2)
      Log(f"drain $tag: $secs%.2fs, commits at ${commits.map(c => f"${(c - t0ms) / 1000}%.1f").mkString(" ")}")
      Drain(secs, (t0ms +: commits).sliding(2).collect { case Seq(x, y) => y - x }.toSeq,
        in, wh, ck)
    }

    /** Drains until `seconds` is used up (at least one), each into a
      * fresh warehouse; the last one is kept for the checks. */
    def drains(tag: String): Seq[Drain] = {
      val out = mutable.Buffer.empty[Drain]
      val start = System.nanoTime()
      def used = (System.nanoTime() - start) / 1e9
      while (out.isEmpty || used + out.last.secs <= a.seconds) {
        out.lastOption.foreach(d => { Dirs.rm(d.wh); Dirs.rm(d.ck) })
        out += drain(s"$tag${out.size}")
      }
      out.toSeq
    }

    val us = drains("u")
    if (!a.trace) {
      val checks = cdcChecks(spark, us.last.wh.getPath, Tables, gen, snapshots = Folded, None)
      val batchMs = us.flatMap(_.triggerMs)
      result(checks, Triggers * us.size, us.map(_.missing).sum, Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_ms_p50", Stats.median(batchMs), "ms"),
        Metric("op_ms_p90", Stats.q(batchMs, 0.9), "ms"),
        Metric("work_per_s", Events / Stats.median(us.map(_.secs)), "1/s")))
    } else {
      val tr = new Tracer(spark)
      tr.start()
      val t = drain("t")
      tr.stop()
      val (replayed, views) = replayLayers(spark, tr, a.work, t, registry)
      val layers = streamLayers(tr, t.wh, Tables, Events.toDouble, inputBytes) ++ replayed ++
        // the first trigger of a drain pays one-off warm-up, so the
        // traced and untraced drains compare on their later triggers
        Seq(Metric("trace.overhead_pct",
          (Stats.median(t.triggerMs.drop(1)) / Stats.median(us.flatMap(_.triggerMs.drop(1))) - 1) * 100,
          "%"))
      // the read path over the history the stream just wrote and the
      // replayed stores
      val reads = Pit.phase(spark, t.wh.getPath, views, Pit.queries(a.seed, events.toArray, Folded),
        ReadProbeSeconds, Some(tr))
      val checks = cdcChecks(spark, t.wh.getPath, Tables, gen, snapshots = Folded, Some(views))
      Pit.check(checks, events.toArray, reads)
      tr.streamSpans(); tr.writeSpans(spanFile(a))
      val drained = us :+ t
      result(checks, Triggers * drained.size + reads.size, drained.map(_.missing).sum,
        PerLayer.complete(layers ++ Pit.readLayers(reads)))
    }
  }

  // ---- shared ----------------------------------------------------------

  def spanFile(a: Main.Args): File =
    new File(a.out.getParentFile, s"spans-${a.workload}-s${a.seed}.jsonl")

  def writeRegistry(work: File, tables: Seq[Table]): Map[String, TableSpec] = {
    val f = new File(work, "registry.json")
    GenFiles.writeText(f, registryJson(tables))
    Registry.load(f.getPath)
  }

  /** The program's warm-up: one small batch through the public ingest
    * function and one snapshot fold, into a scratch warehouse. */
  def warmUp(work: File, tables: Seq[Table], registry: Map[String, TableSpec]): SparkSession => Unit = {
    var n = 0
    spark => {
      n += 1
      val dir = new File(work, s"warm$n")
      val t = tables.head
      val f = new File(dir, "in/warm.json.gz")
      GenFiles.write(f, new Gen(n.toLong, Seq(t -> 1.0), skew = 1.0).take(100))
      val wh = new File(dir, "wh").getPath
      Ingest.appendBatch(Envelope.parse(spark.read.text(f.getPath)), registry, wh, 0L)
      SnapshotMaintainer.update(spark, wh, t.logical,
        spark.read.parquet(s"$wh/${t.physical}/batch=0"), t.pkNames)
    }
  }

  /** Checks of the drained warehouse `wh`: appended rows against the
    * generator's counts, and the stream's snapshots of `snapshots`. With
    * `views`, also the stores in that warehouse — the `orders` aggregate
    * and SCD2 tables and the `lineitem` ⋈ `part` join view — against
    * derivations over `wh`'s changelog. */
  def cdcChecks(spark: SparkSession, wh: String, tables: Seq[Table], gen: Gen,
                snapshots: Seq[Table], views: Option[String]): Checks = {
    Log("checks")
    val c = new Checks
    c.all(
      Seq[() => Unit](() => Checks.appended(c, spark, wh, tables, gen.counts)) ++
        snapshots.map(t => () => Checks.snapshot(c, spark, wh, t)) ++
        views.toSeq.flatMap(v => Seq[() => Unit](
          () => Checks.agg(c, spark, wh, v, Orders, OrdersAgg),
          () => Checks.scd2(c, spark, wh, v, Orders),
          () => Checks.join(c, spark, wh, v, JoinView.view, JoinView.jk, Lineitem, Part))))
    Log("checks done")
    c
  }

  def result(c: Checks, ops: Long, failedOps: Long, metrics: Seq[Metric]): Result =
    Result(c.failures.isEmpty && failedOps == 0, ops + c.run, failedOps + c.failures.size,
      metrics, c.failures.map("check failed: " + _).toSeq)

  /** Per-trigger stream and layer figures from a traced phase. */
  def streamLayers(tr: Tracer, wh: File, tables: Seq[Table], events: Double,
                   inputBytes: Long): Seq[Metric] = {
    val ps = tr.progress.toList.sortBy(_.batchId)
    def p50(f: Tracer.Progress => Double) = Stats.median(ps.map(f))
    def d(p: Tracer.Progress, ks: String*) = ks.map(k => p.durations.getOrElse(k, 0L)).sum.toDouble
    def sampled(l: String) = p50(p => tr.sampledMs(l, p.startMs, p.endMs))
    val jobsPer = ps.map(p => tr.jobsOfBatch(p.batchId).size.toDouble)
    val cpuPer = ps.map(p => tr.jobsOfBatch(p.batchId).map(_.cpuNs).sum / 1e6)
    // files each trigger wrote into the tables' and dead letter's batch dirs
    val physical = tables.map(_.physical) :+ Ingest.UnknownTableDir
    val filesPer = ps.map(p => physical.map(t => Dirs.walk(new File(wh, s"$t/batch=${p.batchId}"))._1).sum.toDouble)
    val appendedBytes = physical.map(t => Dirs.walk(new File(wh, t))._2).sum
    val (_, storedBytes) = Dirs.walk(wh)
    val n = math.max(1, ps.size).toDouble
    Seq(
      Metric("stream.trigger_ms_p50", p50(d(_, "triggerExecution")), "ms"),
      Metric("stream.jobs_per_trigger", medianInt(jobsPer), "count"),
      Metric("stream.closure_self_ms_p50", sampled("closure_self"), "ms"),
      Metric("stream.commit_ms_p50", p50(d(_, "walCommit", "commitOffsets")), "ms"),
      Metric("stream.plan_ms_p50", p50(d(_, "latestOffset", "getBatch", "queryPlanning")), "ms"),
      Metric("stream.events_per_trigger", p50(_.rows.toDouble), "count"),
      Metric("stream.parallelism", Stats.median(ps.zip(cpuPer).map { case (p, c) =>
        c / math.max(1.0, d(p, "triggerExecution")) }), "ratio"),
      Metric("ingest.append_ms_p50", sampled("ingest"), "ms"),
      Metric("ingest.files_per_trigger", medianInt(filesPer), "count"),
      Metric("ingest.bytes_per_event", appendedBytes / events, "B"),
      Metric("ingest.dead_letter_events", countRows(wh, Ingest.UnknownTableDir), "count"),
      Metric("store.bytes_per_input_byte", storedBytes.toDouble / inputBytes, "ratio"),
      Metric("snapshot.fold_ms_p50", sampled("snapshot"), "ms"),
      Metric("bucketstore.read_touched_ms_p50", sampled("bs.read_touched"), "ms"),
      Metric("bucketstore.stage_swap_ms_p50", sampled("bs.stage_swap"), "ms"),
      Metric("bucketstore.touched_collect_ms_p50", sampled("bs.touched_collect"), "ms"),
      Metric("fs.bytes_written_per_trigger", tr.fsDelta("bytes_written") / n, "B"),
      Metric("fs.bytes_read_per_trigger", tr.fsDelta("bytes_read") / n, "B"),
      Metric("jvm.gc_ms_per_s", tr.gcMsPerS, "ms/s"),
      Metric("jvm.rss_peak_mb", Stats.rssPeakMb(), "MB"))
  }

  private def countRows(wh: File, dir: String): Double =
    SparkSession.active.read.parquet(new File(wh, dir).getPath).count().toDouble

  /** Lower median of integer counts: an observed value, printed whole. */
  def medianInt(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply((xs.size - 1) / 2)

  /** Re-run recorded micro-batches through the public entry points, one
    * call at a time, into scratch warehouses: exact Spark jobs per call,
    * wall per fold, ingest task CPU, and the buckets and rows a snapshot
    * fold rewrote. Every batch but batch 1 is folded first, unmeasured,
    * so the measured folds of batch 1 meet populated stores, as in a
    * running stream, and the stores end up holding the whole changelog
    * (the maintainers converge under any batch order). The aggregate
    * and SCD2 stores fold `orders`; the join view `lineitem` ⋈ `part`.
    * Returns the metrics and the warehouse holding those three stores. */
  def replayLayers(spark: SparkSession, tr: Tracer, work: File, d: Drain,
                   registry: Map[String, TableSpec]): (Seq[Metric], String) = {
    val rwh = new File(work, "replay").getPath
    val views = s"$rwh/views"
    val jobs = mutable.Map.empty[String, Double]
    def rows(t: Table, measured: Boolean) = Ingest.readTable(spark, d.wh.getPath, t.physical,
        keepPartitionCols = true)
      .filter(if (measured) col("batch") === 1 else col("batch") =!= 1)
      .drop("batch").drop(Envelope.DtCol)
    def call(name: String, measured: Boolean)(f: => Unit): Unit = {
      val before = tr.jobsOf(name).size
      tr.layer(name)(f)
      org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
      if (measured) jobs(name) = (tr.jobsOf(name).size - before).toDouble
    }
    val snapDir = new File(SnapshotMaintainer.snapshotDir(s"$rwh/snap", Orders.logical))
    var touched = 0.0; var rewrite = 0.0
    Seq(false, true).foreach { measured =>
      val orders = rows(Orders, measured)
      val startMs = System.currentTimeMillis() - 1000.0
      call("snapshot", measured)(SnapshotMaintainer.update(spark, s"$rwh/snap", Orders.logical,
        orders, Orders.pkNames))
      if (measured) {
        // buckets the fold swapped in carry this fold's staging mtime
        val swapped = Option(snapDir.listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith("__bucket=") && Dirs.mtimeMs(f) >= startMs)
        touched = swapped.size.toDouble
        val n = if (swapped.isEmpty) 0L else spark.read.parquet(swapped.map(_.getPath): _*).count()
        rewrite = n.toDouble / math.max(1L, orders.count())
      }
      call("agg", measured)(AggMaintainer.foldAndMaintain(spark, views, Orders.logical,
        orders, Orders.pkNames, Seq(OrdersAgg)))
      call("scd2", measured)(Scd2Maintainer.update(spark, views, Orders.logical, orders,
        Orders.pkNames))
      call("join", measured)(JoinMaintainer.foldAndMaintain(spark, views, JoinView.view,
        JoinView.jk,
        JoinMaintainer.Side(Lineitem.logical, Lineitem.pkNames, Some(rows(Lineitem, measured))),
        JoinMaintainer.Side(Part.logical, Part.pkNames, Some(rows(Part, measured)))))
    }
    val files = StreamLog.fileBatches(d.ck).collect { case (f, 1L) => new File(d.in, f).getPath }
    call("ingest", measured = true)(Ingest.appendBatch(
      Envelope.parse(spark.read.text(files.toSeq: _*)), registry, s"$rwh/ingest", 1L))
    val ingestEvents = spark.read.text(files.toSeq: _*).count()
    val spans = tr.spans.synchronized(tr.spans.toList)
    def foldMs(n: String) = spans.filter(_.name == n).lastOption.map(s => s.endMs - s.startMs).getOrElse(0.0)
    (Seq(
      Metric("ingest.cpu_ms_per_kevent",
        tr.jobsOf("ingest").map(_.cpuNs).sum / 1e6 / math.max(1L, ingestEvents) * 1000, "ms"),
      Metric("snapshot.touched_buckets_p50", touched, "count"),
      Metric("snapshot.jobs_per_fold", jobs("snapshot"), "count"),
      Metric("snapshot.rewrite_ratio", rewrite, "ratio"),
      Metric("agg.fold_ms_p50", foldMs("agg"), "ms"),
      Metric("agg.jobs_per_fold", jobs("agg"), "count"),
      Metric("scd2.fold_ms_p50", foldMs("scd2"), "ms"),
      Metric("scd2.jobs_per_fold", jobs("scd2"), "count"),
      Metric("join.fold_ms_p50", foldMs("join"), "ms"),
      Metric("join.jobs_per_fold", jobs("join"), "count")),
      views)
  }
}
