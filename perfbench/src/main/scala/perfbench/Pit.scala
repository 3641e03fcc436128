package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.{AggMaintainer, Ingest, JoinMaintainer, Scd2Maintainer, SnapshotMaintainer,
  Versioned, VersionedSql}

/** Point-in-time reads: one client in a closed loop of seeded queries
  * over a warehouse the program wrote. Each query resolves the table
  * from the warehouse (listing, schema merge) and returns a small
  * result. Every answer is checked against the same query evaluated
  * over the generator's own changelog, and DataFrame and SQL answers
  * against each other. */
object Pit {
  import Gen._

  val KeyRange = 16

  /** One query: its kind, table, parameters, and the rows it returned. */
  final case class Query(kind: String, table: Table, lo: Long, hi: Long, t1: Long, t2: Long)
  final case class Answer(q: Query, ms: Double, resolveMs: Double, files: Int,
                          rows: Seq[String])

  /** Read-path layer figures from traced answers. */
  def readLayers(ts: Seq[Answer]): Seq[Metric] = {
    def kind(k: String*) = Stats.median(ts.filter(x => k.contains(x.q.kind)).map(_.ms))
    val cl = ts.filter(_.files > 0)
    Seq(
      Metric("versioned.resolve_ms_p50", Stats.median(cl.map(_.resolveMs)), "ms"),
      Metric("versioned.files_listed_per_query", Cdc.medianInt(cl.map(_.files.toDouble)), "count"),
      Metric("versioned.as_of_ms_p50", kind("as_of"), "ms"),
      Metric("versioned.as_of_sql_ms_p50", kind("as_of_sql"), "ms"),
      Metric("versioned.changes_between_ms_p50", kind("changes_between", "changes_between_sql"), "ms"),
      Metric("versioned.history_ms_p50", kind("history"), "ms"),
      Metric("versioned.snapshot_ms_p50", kind("latest"), "ms"),
      Metric("snapshot.read_ms_p50", kind("snapshot_read"), "ms"),
      Metric("agg.read_ms_p50", kind("agg_read"), "ms"),
      Metric("scd2.read_ms_p50", kind("scd2_read"), "ms"),
      Metric("join.read_ms_p50", kind("join_read"), "ms"))
  }

  /** A seeded query sequence, long enough for any run, over changelog
    * tables `cl` (the first is `orders`, which also carries the
    * maintained aggregate and SCD2 stores). DataFrame and SQL forms of
    * as_of and changes_between come in adjacent pairs; the first ten
    * queries cover every kind. */
  def queries(seed: Long, events: Array[Event], cl: Seq[Table]): Seq[Query] = {
    val r = new java.util.Random(seed * 31 + 7)
    val t0 = events.head.tsMicros; val t1 = events.last.tsMicros
    def at() = t0 + (r.nextDouble() * (t1 - t0)).toLong
    def keys(t: Table) = { val lo = 1L + r.nextInt(math.max(1, t.keys / 4 - KeyRange)); (lo, lo + KeyRange - 1) }
    val groups = Iterator.continually {
      val u = r.nextDouble()
      if (u < 0.2) {
        val t = cl(r.nextInt(2)); val (lo, hi) = keys(t); val ts = at()
        Seq(Query("as_of", t, lo, hi, ts, ts), Query("as_of_sql", t, lo, hi, ts, ts))
      } else if (u < 0.35) {
        val t = cl(r.nextInt(2)); val ts = at()
        Seq(Query("changes_between", t, 0, 0, ts, ts + 60000),
          Query("changes_between_sql", t, 0, 0, ts, ts + 60000))
      } else if (u < 0.5) {
        val t = cl(r.nextInt(2)); val k = 1L + r.nextInt(t.keys / 8)
        Seq(Query("history", t, k, k, 0, 0))
      } else if (u < 0.6) {
        val t = cl(r.nextInt(2)); val (lo, hi) = keys(t)
        Seq(Query("latest", t, lo, hi, 0, 0))
      } else if (u < 0.7) {
        val t = cl(r.nextInt(2)); val (lo, hi) = keys(t)
        Seq(Query("snapshot_read", t, lo, hi, 0, 0))
      } else if (u < 0.8) Seq(Query("agg_read", cl.head, 0, 0, 0, 0))
      else if (u < 0.9) {
        val k = 1L + r.nextInt(cl.head.keys / 8)
        Seq(Query("scd2_read", cl.head, k, k, 0, 0))
      } else {
        val k = 1L + r.nextInt(200)
        Seq(Query("join_read", Lineitem, k, k, 0, 0))
      }
    }.take(4000).toSeq
    // one group of every kind first, so even a short run covers them all
    val firsts = groups.groupBy(_.head.kind).values.map(g => groups.indexOf(g.head)).toSet
    (groups.zipWithIndex.filter(x => firsts(x._2)) ++ groups.zipWithIndex.filterNot(x => firsts(x._2)))
      .flatMap(_._1)
  }

  private def tsLit(t: Table, us: Long) =
    if (t.isTimestamp) lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000)))
    else lit(isoMicros(us))
  private def tsSql(t: Table, us: Long) =
    if (t.isTimestamp) s"TIMESTAMP '${isoMicros(us).replace("T", " ").stripSuffix("Z")}'"
    else s"'${isoMicros(us)}'"

  /** Queries a phase runs at least: the first ten of a mix cover every
    * kind. */
  val MinQueries = 10

  /** Run queries from `mix` until `seconds` of query time is used and at
    * least [[MinQueries]] ran. Changelog queries and snapshot reads go
    * to `wh`; aggregate, SCD2 and join-view reads to `views`. */
  def phase(spark: SparkSession, wh: String, views: String, mix: Seq[Query], seconds: Int,
            tr: Option[Tracer]): Seq[Answer] = {
    val out = mutable.Buffer.empty[Answer]
    val end = System.nanoTime() + seconds * 1000000000L
    val it = mix.iterator
    while ((System.nanoTime() < end || out.size < MinQueries) && it.hasNext) {
      val q = it.next()
      val t0 = System.nanoTime()
      val t0ms = System.currentTimeMillis().toDouble
      var resolveMs = 0.0; var files = 0
      def changelog(): DataFrame = {
        val r0 = System.nanoTime()
        val df = Ingest.readTable(spark, wh, q.table.physical)
        resolveMs = Stats.ms(r0, System.nanoTime())
        files = df.inputFiles.length
        df
      }
      val pk = col(q.table.pkNames.head)
      val inRange = pk.between(q.lo, q.hi)
      val rows: Array[Row] = q.kind match {
        case "as_of" => Versioned.asOf(changelog(), tsLit(q.table, q.t1), q.table.pkNames)
          .filter(inRange).collect()
        case "as_of_sql" =>
          VersionedSql.register(s"${q.table.logical}_v", changelog(), q.table.pkNames)
          spark.sql(s"SELECT * FROM as_of('${q.table.logical}_v', ${tsSql(q.table, q.t1)}) " +
            s"WHERE ${q.table.pkNames.head} BETWEEN ${q.lo} AND ${q.hi}").collect()
        case "changes_between" => Versioned.changesBetween(changelog(),
          tsLit(q.table, q.t1), tsLit(q.table, q.t2)).collect()
        case "changes_between_sql" =>
          VersionedSql.register(s"${q.table.logical}_v", changelog(), q.table.pkNames)
          spark.sql(s"SELECT * FROM changes_between('${q.table.logical}_v', " +
            s"${tsSql(q.table, q.t1)}, ${tsSql(q.table, q.t2)})").collect()
        case "history" => Versioned.history(changelog(), pk === q.lo).collect()
        case "latest" => Versioned.latestSnapshot(changelog(), q.table.pkNames)
          .filter(inRange).collect()
        case "snapshot_read" => SnapshotMaintainer.read(spark, wh, q.table.logical)
          .filter(inRange).collect()
        case "agg_read" => AggMaintainer.read(spark, views, q.table.logical,
          Cdc.OrdersAgg.name).collect()
        case "scd2_read" => Scd2Maintainer.read(spark, views, q.table.logical)
          .filter(pk === q.lo).collect()
        case "join_read" => JoinMaintainer.read(spark, views, Cdc.JoinView.view)
          .filter(col(Cdc.JoinView.jk) === q.lo).collect()
      }
      val ms = Stats.ms(t0, System.nanoTime())
      tr.foreach(x => x.spans.synchronized {
        x.spans += Span(x.newId(), 0L, s"query.${q.kind}", t0ms, t0ms + ms,
          Map("resolve_ms" -> resolveMs, "files" -> files.toDouble, "rows" -> rows.length.toDouble))
      })
      out += Answer(q, ms, resolveMs, files, canon(q, rows))
    }
    out.toSeq
  }

  // ---- the oracle ------------------------------------------------------

  private def str(v: Any): String = v match {
    case null => "null"
    case t: java.sql.Timestamp => (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case d: java.math.BigDecimal => d.setScale(8).toPlainString
    case other => other.toString
  }

  /** The columns an answer is compared on. */
  def columns(q: Query): Seq[String] = q.kind match {
    case "agg_read" => Seq("o_orderstatus", "n_rows", "sum_o_totalprice")
    case "scd2_read" => base(q.table) ++ Seq("valid_from", "valid_to", "is_current")
    case "join_read" => Seq("partkey") ++
      (base(Lineitem).filterNot(_ == "partkey").map("a_" + _)) ++
      (base(Part).filterNot(_ == "partkey").map("b_" + _))
    case _ => base(q.table)
  }
  private def base(t: Table) = t.colNames ++ Seq("action", "update_date")

  def canon(q: Query, rows: Array[Row]): Seq[String] = {
    val cs = columns(q)
    rows.map(r => cs.map(c => str(r.get(r.fieldIndex(c)))).mkString("|")).toSeq.sorted
  }

  private def version(t: Table, e: Event): Map[String, Any] = {
    val p = e.payload.toMap
    t.colNames.map(c => c -> p.getOrElse(c, null)).toMap ++ Map("action" -> e.action,
      "update_date" -> (if (t.isTimestamp) e.tsMicros else isoMicros(e.tsMicros)))
  }

  private def pkOf(t: Table, e: Event): Long =
    e.payload.find(_._1 == t.pkNames.head).get._2.asInstanceOf[java.lang.Long]

  /** The answer the generator's own changelog gives for `q`. */
  def expected(q: Query, events: Array[Event]): Seq[String] = {
    def of(t: Table) = events.iterator.filter(_.obj == t.logical)
    def latest(t: Table, upTo: Long) = of(t).filter(_.tsMicros <= upTo).toSeq
      .groupBy(e => e.key).values.map(_.maxBy(_.tsMicros))
    def live(t: Table) = latest(t, Long.MaxValue).filter(_.action != "delete")
    def row(cs: Seq[String], m: Map[String, Any]) = cs.map(c => str(m.getOrElse(c, null))).mkString("|")
    val cs = columns(q)
    val t = q.table
    val rows: Seq[Map[String, Any]] = q.kind match {
      case "as_of" | "as_of_sql" => latest(t, q.t1).filter(e => e.action != "delete" && {
        val k = pkOf(t, e); k >= q.lo && k <= q.hi }).map(version(t, _)).toSeq
      case "changes_between" | "changes_between_sql" =>
        of(t).filter(e => e.tsMicros > q.t1 && e.tsMicros <= q.t2).map(version(t, _)).toSeq
      case "history" => of(t).filter(pkOf(t, _) == q.lo).map(version(t, _)).toSeq
      case "latest" | "snapshot_read" => live(t).filter { e =>
        val k = pkOf(t, e); k >= q.lo && k <= q.hi }.map(version(t, _)).toSeq
      case "agg_read" => live(t).map(version(t, _)).groupBy(_("o_orderstatus")).map { case (g, vs) =>
        val prices = vs.flatMap(v => Option(v("o_totalprice")))
          .map(p => java.math.BigDecimal.valueOf(p.asInstanceOf[java.lang.Double]))
        Map[String, Any]("o_orderstatus" -> g, "n_rows" -> vs.size.toLong,
          "sum_o_totalprice" -> (if (prices.isEmpty) null else prices.reduce(_ add _)))
      }.toSeq
      case "scd2_read" =>
        val vs = of(t).filter(pkOf(t, _) == q.lo).toSeq.sortBy(_.tsMicros)
        vs.zipWithIndex.map { case (e, i) =>
          val next = vs.lift(i + 1).map(n => version(t, n)("update_date")).orNull
          version(t, e) ++ Map("valid_from" -> version(t, e)("update_date"), "valid_to" -> next,
            "is_current" -> (next == null && e.action != "delete"))
        }
      case "join_read" =>
        val parts = live(Part).filter(pkOf(Part, _) == q.lo).map(version(Part, _))
        val lines = live(Lineitem).map(version(Lineitem, _)).filter(_("partkey") == java.lang.Long.valueOf(q.lo))
        for (l <- lines.toSeq; p <- parts.toSeq) yield
          Map[String, Any]("partkey" -> q.lo) ++
            l.collect { case (k, v) if k != "partkey" => s"a_$k" -> v } ++
            p.collect { case (k, v) if k != "partkey" => s"b_$k" -> v }
    }
    rows.map(row(cs, _)).sorted
  }

  /** Every answer equals the oracle's, and each DataFrame/SQL pair
    * agrees. */
  def check(c: Checks, events: Array[Event], answers: Seq[Answer]): Unit = {
    answers.groupBy(x => (x.q.kind, x.q.table.logical)).foreach { case ((k, t), xs) =>
      c.check(s"pit.$k.$t")(xs.forall { x =>
        val e = expected(x.q, events)
        if (x.rows != e) System.err.println(s"[perfbench] ${x.q}: got ${x.rows.take(3)} " +
          s"(${x.rows.size} rows), expected ${e.take(3)} (${e.size} rows)")
        x.rows == e
      })
    }
    val pairs = answers.sliding(2).collect {
      case Seq(x, y) if y.q.kind == x.q.kind + "_sql" && y.q.copy(kind = x.q.kind) == x.q => (x, y)
    }.toSeq
    c.check("pit.dataframe_equals_sql")(pairs.forall { case (x, y) => x.rows == y.rows })
  }
}
