package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** kn_scoring: one client scoring a generated corpus with the declared
  * Kneser-Ney queries — one cold pass, then warm passes. It shares no
  * CDC code, so it is the control workload for CDC changes and the
  * CDC workloads are its control. Answers are checked by `run.py`
  * against the queries' DuckDB oracle SQL over the same corpus. */
object Kn {
  val Queries: Seq[String] =
    Seq("q201_kn_loglik", "q203_kn3_loglik", "q205_kn_pruned", "q216_kn4_pruned")
  /** The sf0.01 corpus size: 500 documents of 10..90 tokens. (A warm
    * pass over the sf0.1 size, 5000 documents, takes ~26 s on a 4-core
    * host — too long for the runs a benchmark check makes.) */
  val Docs = 500

  private val vocab = Array("the", "a", "spark", "stream", "data", "table", "query", "row",
    "key", "value", "batch", "order", "part", "line", "scan", "hash", "join", "group", "sort",
    "merge", "window", "filter", "agg", "column", "vector", "index", "fast", "slow", "big",
    "small", "customer", "token", "model", "score", "count", "gram", "text", "word", "doc")

  /** Seeded corpus in the `documents` schema of the engine's test corpus. */
  def writeCorpus(spark: SparkSession, dir: File, seed: Long, n: Int): Unit = {
    val r = new java.util.Random(seed)
    val zipf = new Gen.Zipf(vocab.length, 1.1)
    val rows = (0 until n).map { i =>
      val text = Seq.fill(10 + r.nextInt(81))(vocab(zipf.draw(r))).mkString(" ")
      (i.toLong, text, Seq("en", "de", "fr", "pt", "zh")(r.nextInt(5)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(new File(dir, "documents.parquet").getPath)
  }

  private def query(name: String) = graft.SparkEntry.queries(name)

  /** Exchanges in every plan the session executes (listener-observed,
    * so actions inside a query — checkpoints, collects — count too). */
  final class ExchangeCounter extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val count = new java.util.concurrent.atomic.AtomicLong(0)
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      count.addAndGet(collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size.toLong)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** One pass: every query once; (seconds per query, rows per query). */
  def pass(spark: SparkSession, dir: String, tr: Option[Tracer]): Seq[(Double, Array[Row])] =
    Queries.map { q =>
      val t0 = System.nanoTime()
      val rows = tr match {
        case Some(t) => t.layer(s"kn.$q")(query(q)(spark, dir).collect())
        case None => query(q)(spark, dir).collect()
      }
      ((System.nanoTime() - t0) / 1e9, rows)
    }

  /** Answers of one pass, the queries' oracle SQL and the corpus path,
    * for the oracle comparison in run.py. */
  def dumpAnswers(spark: SparkSession, out: File, corpus: File, answers: Seq[Array[Row]]): Unit = {
    Queries.zip(answers).foreach { case (q, rows) =>
      rows.headOption.foreach { r =>
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), r.schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(out, q).getPath)
      }
    }
    GenFiles.writeText(new File(out, "oracle_sql.json"), Queries.map { q =>
      val sql = graft.SparkEntry.oracleSql(q)
      "\"" + q + "\": \"" + sql.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n") + "\""
    }.mkString("{", ",\n", "}\n"))
    GenFiles.writeText(new File(out, "corpus.txt"), new File(corpus, "documents.parquet").getPath)
  }

  def run(a: Main.Args): Result = {
    val corpus = new File(a.work, "corpus")
    var n = 0
    val (spark, setupS) = Setup.session(a.work, { s =>
      n += 1
      val tiny = new File(a.work, s"warm$n")
      writeCorpus(s, tiny, n.toLong, 40)
      query(Queries.head)(s, tiny.getPath).collect()
    })
    writeCorpus(spark, corpus, a.seed, Docs)
    val dir = corpus.getPath
    var failedPasses = 0
    var passesRun = 1 // the cold pass
    var lastRows: Seq[Array[Row]] = Nil

    def passes(tr: Option[Tracer]): Seq[Seq[Double]] = {
      val out = mutable.Buffer.empty[Seq[Double]]
      val start = System.nanoTime()
      def used = (System.nanoTime() - start) / 1e9
      while (out.isEmpty || used + out.last.sum <= a.seconds) {
        try {
          val p = pass(spark, dir, tr)
          passesRun += 1
          out += p.map(_._1); lastRows = p.map(_._2)
        } catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] pass failed: $e"); failedPasses += 1
            return out.toSeq
        }
      }
      out.toSeq
    }

    Log("corpus written")
    // the cold pass runs over the last warm-up corpus: it pays the
    // queries' one-off planning, code generation and JIT cost, which do
    // not depend on the corpus size, in less time
    pass(spark, new File(a.work, s"warm$n").getPath, None)
    Log("cold pass done")
    val warm = passes(None)
    Log(s"warm passes: ${warm.map(_.sum)}")
    val perQuery = warm.flatten.map(_ * 1000)
    val passS = Stats.median(warm.map(_.sum))
    val metrics =
      if (!a.trace) Seq(
        Metric("setup_s", setupS, "s"),
        Metric("op_ms_p50", Stats.median(perQuery), "ms"),
        Metric("op_ms_p90", Stats.q(perQuery, 0.9), "ms"),
        Metric("work_per_s", Queries.size * Docs / passS, "1/s"))
      else {
        val tr = new Tracer(spark)
        val ex = new ExchangeCounter
        spark.listenerManager.register(ex)
        tr.start()
        val traced = passes(Some(tr))
        tr.stop()
        spark.listenerManager.unregister(ex)
        val np = math.max(1, traced.size).toDouble
        val kn = tr.jobs.values.filter(_.layer.exists(_.startsWith("kn."))).toSeq
        val cpuS = kn.map(_.cpuNs).sum / 1e9 / np
        val tPass = Stats.median(traced.map(_.sum))
        PerLayer.complete(Queries.zipWithIndex.map { case (q, i) =>
          Metric(s"kn.${q.take(4)}_s_p50", Stats.median(traced.map(_(i))), "s")
        } ++ Seq(
          Metric("kn.pass_s_p50", tPass, "s"),
          Metric("kn.task_cpu_s_per_pass", cpuS, "s"),
          Metric("kn.parallelism", cpuS / tPass, "ratio"),
          Metric("kn.stages_per_pass", math.round(kn.map(_.stages).sum / np).toDouble, "count"),
          Metric("kn.exchanges_per_pass", math.round(ex.count.get / np).toDouble, "count"),
          Metric("jvm.gc_ms_per_s", tr.gcMsPerS, "ms/s"),
          Metric("jvm.rss_peak_mb", Stats.rssPeakMb(), "MB"),
          Metric("trace.overhead_pct", (tPass / passS - 1) * 100, "%")))
      }

    dumpAnswers(spark, new File(a.out.getParentFile, "kn"), corpus, lastRows)
    Result(failedPasses == 0, (passesRun + failedPasses).toLong, failedPasses.toLong, metrics)
  }
}
