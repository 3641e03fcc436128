package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{AggMaintainer, Ingest, JoinMaintainer, Scd2Maintainer, SnapshotMaintainer, Versioned}

/** Correctness checks run after a timed phase (never timed). Each one
  * compares what the program left behind with a from-scratch derivation
  * or with the generator's own record; a failed check is recorded by
  * name and counts as a failed operation. */
final class Checks {
  val failures: mutable.Buffer[String] = mutable.Buffer.empty
  @volatile var run = 0

  def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] check $name threw: $e"); false
    }
    synchronized {
      run += 1
      if (!pass) { failures += name; System.err.println(s"[perfbench] CHECK FAILED: $name") }
    }
  }

  /** Run independent groups of checks on a few threads: they are
    * untimed, and each alone leaves most of local[4] idle. */
  def all(groups: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try groups.map(g => pool.submit(new Runnable { def run(): Unit = g() })).foreach(_.get())
    finally pool.shutdown()
  }
}

object Checks {

  /** Same multiset of rows over the same column names (order-free). */
  def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.sorted
    if (!cols.sameElements(b.columns.sorted)) {
      System.err.println(s"[perfbench] column mismatch: ${a.columns.sorted.mkString(",")} vs " +
        b.columns.sorted.mkString(","))
      false
    } else {
      val x = a.select(cols.map(col).toIndexedSeq: _*)
      val y = b.select(cols.map(col).toIndexedSeq: _*)
      x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty
    }
  }

  def changelog(spark: SparkSession, wh: String, t: Gen.Table): DataFrame =
    Ingest.readTable(spark, wh, t.physical)

  /** Appended rows per table, and dead-lettered rows, equal the
    * generated counts. */
  def appended(c: Checks, spark: SparkSession, wh: String, tables: Seq[Gen.Table],
               counts: String => Long): Unit = {
    tables.foreach { t =>
      c.check(s"appended.${t.logical}")(changelog(spark, wh, t).count() == counts(t.logical))
    }
    c.check("appended.dead_letter")(
      spark.read.parquet(s"$wh/${Ingest.UnknownTableDir}").count() ==
        Gen.Unregistered.map(counts).sum)
  }

  /** The maintained snapshot (tombstones included) equals the newest
    * version per key of the appended changelog. */
  def snapshot(c: Checks, spark: SparkSession, wh: String, t: Gen.Table): Unit =
    c.check(s"snapshot.${t.logical}") {
      val stored = spark.read.option("mergeSchema", "true")
        .parquet(SnapshotMaintainer.snapshotDir(wh, t.logical)).drop("__bucket")
      sameRows(stored, Versioned.latestSnapshotWithTombstones(changelog(spark, wh, t), t.pkNames))
    }

  // The view checks below compare a store in warehouse `store` with a
  // derivation over the changelog appended in warehouse `cl` (the same
  // warehouse when the stream maintained the store itself).

  /** The maintained aggregate equals GROUP BY over the derived snapshot. */
  def agg(c: Checks, spark: SparkSession, cl: String, store: String, t: Gen.Table,
          spec: AggMaintainer.AggSpec): Unit =
    c.check(s"agg.${t.logical}.${spec.name}") {
      val live = Versioned.latestSnapshot(changelog(spark, cl, t), t.pkNames)
      val expected = live.groupBy(spec.groupCols.map(col): _*)
        .agg(count(lit(1)).as("n_rows"),
          spec.sumCols.map(s => sum(col(s).cast("decimal(38,8)")).as(s"sum_$s")): _*)
      sameRows(AggMaintainer.read(spark, store, t.logical, spec.name), expected)
    }

  /** The maintained SCD2 table equals the SCD2 derivation of the
    * changelog. */
  def scd2(c: Checks, spark: SparkSession, cl: String, store: String, t: Gen.Table): Unit =
    c.check(s"scd2.${t.logical}") {
      sameRows(Scd2Maintainer.read(spark, store, t.logical),
        Versioned.scd2(changelog(spark, cl, t), t.pkNames))
    }

  /** The maintained join view equals the join of the two derived live
    * snapshots (payload columns prefixed a_/b_ around the join key). */
  def join(c: Checks, spark: SparkSession, cl: String, store: String, view: String, jk: String,
           a: Gen.Table, b: Gen.Table): Unit =
    c.check(s"join.$view") {
      def side(t: Gen.Table, p: String) = {
        val s = Versioned.latestSnapshot(changelog(spark, cl, t), t.pkNames)
        s.select(s.columns.map(n => if (n == jk) col(n) else col(n).as(s"${p}_$n")).toIndexedSeq: _*)
      }
      val expected = side(a, "a").join(side(b, "b"), jk)
      val stored = JoinMaintainer.read(spark, store, view)
      sameRows(stored.select(expected.columns.map(col).toIndexedSeq: _*), expected)
    }
}
