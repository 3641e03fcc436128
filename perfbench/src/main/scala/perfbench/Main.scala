package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <file>`.
  *
  * Runs one workload in this JVM on `local[4]`, checks its outputs,
  * and writes the result object (see [[Result]]) to `--out`. `run.py`
  * builds this program, starts it, and prints the result line. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: File, out: File)

  val Workloads: Map[String, Args => Result] = Map(
    "bulk_backfill" -> Cdc.bulkBackfill,
    "kn_scoring" -> Kn.run)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", new File(kv("work")), new File(kv("out")))
    val run = Workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; one of ${Workloads.keys.mkString(", ")}"))
    a.work.mkdirs()
    val r = run(a)
    GenFiles.writeText(a.out, r.json)
    SparkSession.getActiveSession.foreach(_.stop())
    // non-daemon threads Spark leaves behind must not hold the exit
    System.exit(0)
  }
}

/** The result object: `correct` is false when any check failed;
  * `attempted`/`failed` count the workload's operations (triggers,
  * files, queries or passes; a failed check counts as a failure). */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[Metric], notes: Seq[String] = Nil) {
  def json: String = {
    val ms = metrics.map(m => s""""${m.name}": {"value": ${Stats.num(m.value)}, "unit": "${m.unit}"}""")
    val ns = notes.map(n => "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}, "notes": [${ns.mkString(", ")}]}"""
  }
}

final case class Metric(name: String, value: Double, unit: String)

object Stats {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  /** Linear-interpolated quantile (q in [0,1]); 0 for an empty sample. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = q(xs, 0.5)

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Peak resident set of this process, from the kernel (MB). */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Milliseconds of GC so far, over all collectors. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }
}

/** Session creation plus the program's warm-up, repeated: `setup_s` is
  * the median of the repetitions, so a cold JVM's first class loading
  * does not dominate it and work moved into set-up still shows. */
object Setup {
  val Cycles = 3
  val Master = "local[4]"

  def session(work: File, warm: SparkSession => Unit): (SparkSession, Double) = {
    val local = new File(work, "spark-local"); local.mkdirs()
    System.setProperty("spark.local.dir", local.getAbsolutePath)
    System.setProperty("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getAbsolutePath)
    // the engine's own Bench/Verify sessions set this for the wide
    // multi-column expression trees the KN scorers generate
    System.setProperty("spark.sql.codegen.hugeMethodLimit", "8000")
    var spark: SparkSession = null
    val secs = (1 to Cycles).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.core.GraftSession.create(master = Master, appName = "perfbench",
        shufflePartitions = 4)
      warm(spark)
      val secs = (System.nanoTime() - t0) / 1e9
      Log(f"set-up cycle $i: $secs%.2fs")
      secs
    }
    (spark, Stats.median(secs))
  }
}

object Log {
  def apply(msg: String): Unit = System.err.println(
    f"[perfbench +${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs] $msg")
}

/** Local-filesystem helpers for the checkout-local work directory. */
object Dirs {
  def rm(f: File): Unit = graft.core.WorkDirs.deleteDir(f.getAbsolutePath)

  /** (files, bytes) under `f`, excluding Hadoop's `.crc` side files and
    * `_SUCCESS` markers. */
  def walk(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) {
      val n = f.getName
      if (n.endsWith(".crc") || n == "_SUCCESS") (0L, 0L) else (1L, f.length())
    } else Option(f.listFiles()).toSeq.flatten.map(walk)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def mtimeMs(f: File): Double =
    java.nio.file.Files.getLastModifiedTime(f.toPath)
      .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
}
