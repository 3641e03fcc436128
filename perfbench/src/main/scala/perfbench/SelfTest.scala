package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.cdc.{AggMaintainer, JoinMaintainer, Scd2Maintainer, SnapshotMaintainer}
import graft.streaming.{CdcStream, CdcStreamConfig}

/** The benchmark's tests of its own checks: every check passes on the
  * program's real output and fails on a corrupted copy of it.
  * `perfbench.SelfTest <work dir>` prints one PASS/FAIL line per case
  * and exits non-zero on any FAIL; it also leaves a small KN answer
  * set under `<work>/kn` for `selftest.py` to corrupt. */
object SelfTest {
  import Gen._

  private var failed = 0
  private def expect(name: String, want: Boolean)(got: => Boolean): Unit = {
    val ok = try got == want catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[selftest] $name threw $e"); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failed += 1
  }

  private def copyTree(src: File, dst: File): Unit = {
    Dirs.rm(dst)
    Files.walk(src.toPath).forEach { p =>
      val t = dst.toPath.resolve(src.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** The checks over a copy of `wh` with `corrupt` applied: true when
    * all of `names` pass. */
  private def passes(spark: SparkSession, work: File, wh: File, gen: Gen, names: Seq[String])
                    (corrupt: File => Unit): Boolean = {
    val copy = new File(work, "corrupt")
    copyTree(wh, copy)
    corrupt(copy)
    spark.catalog.clearCache()
    val c = Cdc.cdcChecks(spark, copy.getPath, Seq(Orders, Lineitem, Part), gen,
      snapshots = Seq(Orders, Lineitem, Part), Some(copy.getPath))
    names.forall(n => !c.failures.contains(n))
  }

  /** Swap a store's bucket dir for the same bucket from an older copy. */
  private def staleBucket(store: String, old: File, bucketCol: String)(wh: File): Unit = {
    val now = new File(wh, store)
    val before = new File(old, store)
    val b = Option(before.listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(bucketCol + "=")).sorted.head
    Dirs.rm(new File(now, b))
    copyTree(new File(before, b), new File(now, b))
  }

  def main(argv: Array[String]): Unit = {
    val work = new File(argv(0))
    Dirs.rm(work); work.mkdirs()
    val tables = Seq(Orders, Lineitem, Part)
    val registry = Cdc.writeRegistry(work, tables)
    val (spark, _) = Setup.session(work, _ => ())
    spark.sparkContext.setLogLevel("ERROR")

    // a small maintained warehouse: one trigger, a copy of the stores,
    // then two more triggers
    val gen = new Gen(7L, Seq(Orders -> 0.5, Lineitem -> 0.35, Part -> 0.15), skew = 1.0)
    val in = new File(work, "in"); val wh = new File(work, "wh"); val ck = new File(work, "ck")
    val cfg = CdcStreamConfig(in.getPath, wh.getPath, ck.getPath, registry,
      trigger = Trigger.AvailableNow(), maxFilesPerTrigger = 1,
      snapshotKeys = tables.map(t => t.logical -> t.pkNames).toMap,
      aggSpecs = Map("orders" -> Seq(Cdc.OrdersAgg)), scd2Keys = Map("orders" -> Orders.pkNames),
      joinViews = Seq(Cdc.JoinView))
    GenFiles.write(new File(in, "f0.json.gz"), gen.take(3000))
    CdcStream.runOnce(spark, cfg)
    val old = new File(work, "old")
    copyTree(wh, old)
    GenFiles.write(new File(in, "f1.json.gz"), gen.take(3000))
    GenFiles.write(new File(in, "f2.json.gz"), gen.take(3000))
    CdcStream.runOnce(spark, cfg)

    val all = Seq("appended.orders", "appended.lineitem", "appended.part", "appended.dead_letter",
      "snapshot.orders", "snapshot.lineitem", "snapshot.part", "agg.orders.by_status",
      "scd2.orders", "join.li_part")
    expect("cdc checks pass on the program's output", true)(passes(spark, work, wh, gen, all)(_ => ()))
    expect("dropped batch dir fails appended.orders", false)(
      passes(spark, work, wh, gen, Seq("appended.orders"))(w => Dirs.rm(new File(w, "orders_cdc/batch=1"))))
    expect("dropped dead-letter batch fails appended.dead_letter", false)(
      passes(spark, work, wh, gen, Seq("appended.dead_letter"))(w =>
        Dirs.rm(new File(w, "_dead_letter/batch=2"))))
    expect("stale snapshot bucket fails snapshot.orders", false)(
      passes(spark, work, wh, gen, Seq("snapshot.orders"))(
        staleBucket("_snapshot/orders", old, "__bucket")))
    expect("stale aggregate bucket fails agg.orders.by_status", false)(
      passes(spark, work, wh, gen, Seq("agg.orders.by_status"))(
        staleBucket("_agg/orders/by_status", old, "__gbucket")))
    expect("stale SCD2 bucket fails scd2.orders", false)(
      passes(spark, work, wh, gen, Seq("scd2.orders"))(staleBucket("_scd2/orders", old, "__bucket")))
    expect("stale join-view bucket fails join.li_part", false)(
      passes(spark, work, wh, gen, Seq("join.li_part"))(
        staleBucket("_join/li_part/view", old, "__jbucket")))

    // point-in-time answers: the real ones pass; a dropped row, a
    // DataFrame/SQL disagreement, and answers read from a warehouse
    // with a dropped batch dir fail
    val pOrders = Orders.copy(keys = 4000); val pCustomer = Customer.copy(keys = 1000)
    val pTables = Seq(pOrders, pCustomer, Lineitem.copy(keys = 8000), Part)
    val events = new Gen(11L, pTables.zip(Seq(0.45, 0.2, 0.25, 0.1)), skew = 0.9).take(5000)
    val pin = new File(work, "pit_in"); val pwh = new File(work, "pit_wh").getPath
    val preg = Cdc.writeRegistry(new File(work, "pit"), pTables)
    events.grouped(500).zipWithIndex.foreach { case (b, i) =>
      val f = new File(pin, s"b$i.json.gz"); GenFiles.write(f, b)
      graft.cdc.Ingest.appendBatch(graft.cdc.Envelope.parse(spark.read.text(f.getPath)), preg,
        pwh, i.toLong)
    }
    def history(t: Table) = graft.cdc.Ingest.readTable(spark, pwh, t.physical)
    AggMaintainer.foldAndMaintain(spark, pwh, "orders", history(pOrders), pOrders.pkNames,
      Seq(Cdc.OrdersAgg))
    Scd2Maintainer.update(spark, pwh, "orders", history(pOrders), pOrders.pkNames)
    SnapshotMaintainer.update(spark, pwh, "customer", history(pCustomer), pCustomer.pkNames)
    JoinMaintainer.foldAndMaintain(spark, pwh, Cdc.JoinView.view, Cdc.JoinView.jk,
      JoinMaintainer.Side("lineitem", Lineitem.pkNames, Some(history(Lineitem))),
      JoinMaintainer.Side("part", Part.pkNames, Some(history(Part))))
    val mix = Pit.queries(11L, events, Seq(pOrders, pCustomer)).take(60)
    val answers = Pit.phase(spark, pwh, pwh, mix, 60, None)
    def pitOk(xs: Seq[Pit.Answer]) = { val c = new Checks; Pit.check(c, events, xs); c.failures.isEmpty }
    expect("pit checks pass on the program's answers", true)(pitOk(answers))
    expect("a dropped answer row fails the pit check", false)(pitOk(answers.map(x =>
      if (x eq answers.find(_.rows.nonEmpty).get) x.copy(rows = x.rows.tail) else x)))
    expect("a DataFrame/SQL disagreement fails the pit check", false) {
      val i = answers.indexWhere(_.q.kind == "as_of_sql")
      val j = answers.indexWhere(x => x.q.kind == "as_of_sql" && x.rows != answers(i).rows)
      val c = new Checks
      Pit.check(c, events, answers.updated(i, answers(i).copy(rows = answers(j).rows)))
      !c.failures.contains("pit.dataframe_equals_sql")
    }
    expect("answers over a dropped batch dir fail the pit check", false) {
      Dirs.rm(new File(pwh, s"${pOrders.physical}/batch=4"))
      Dirs.rm(new File(pwh, s"${pCustomer.physical}/batch=4"))
      pitOk(Pit.phase(spark, pwh, pwh, mix.filter(q => q.kind.startsWith("changes_between") ||
        q.kind == "history" || q.kind == "as_of"), 60, None))
    }

    // a small KN answer set for selftest.py's oracle cases
    val corpus = new File(work, "kn_corpus")
    Kn.writeCorpus(spark, corpus, 3L, 200)
    Kn.dumpAnswers(spark, new File(work, "kn"), corpus,
      Kn.Queries.map(q => graft.SparkEntry.queries(q)(spark, corpus.getPath).collect()))

    spark.stop()
    println(if (failed == 0) "store and read-probe cases: all passed" else s"store and read-probe cases: $failed FAILED")
    System.exit(if (failed == 0) 0 else 1)
  }
}
