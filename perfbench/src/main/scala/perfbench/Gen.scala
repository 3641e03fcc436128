package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import scala.collection.mutable

/** Seeded generator of Datastream change envelopes (FIXTURES.md §1) and
  * of the registry that routes them (FIXTURES.md §2).
  *
  * The stream it draws from has the properties the engine's behaviour
  * depends on: Zipf-skewed keys (which pk-hash buckets a batch touches),
  * an insert/update/delete mix whose deletes carry key-only payloads
  * (tombstones), payload keys that are null or missing, about 1% of
  * events for objects the registry does not know (the dead letter), and
  * the registry's STRING vs TIMESTAMP `update_date` split. Event times
  * strictly increase, so every key's version order is unambiguous and
  * the point-in-time oracle needs no tie-break.
  */
object Gen {

  sealed trait Kind { def bq: String }
  case object IntK extends Kind { val bq = "INT64" }
  case object DblK extends Kind { val bq = "FLOAT" }
  case object StrK extends Kind { val bq = "STRING" }

  /** A payload column and how its values are drawn (`key` is the row's
    * key rank, for columns derived from the key). */
  final case class Col(name: String, kind: Kind, draw: (java.util.Random, Int) => Any)

  /** One registry table; `keys` is the size of its key space (key ranks
    * map to pk values through the pk columns' `draw`). */
  final case class Table(logical: String, physical: String, pk: Seq[Col],
                         cols: Seq[Col], tsType: String, keys: Int) {
    def pkNames: Seq[String] = pk.map(_.name)
    def colNames: Seq[String] = (pk ++ cols).map(_.name)
    def isTimestamp: Boolean = tsType == "TIMESTAMP"
  }

  private val words = Array("spark", "stream", "delta", "batch", "order", "part",
    "key", "merge", "fold", "bucket", "table", "row", "value", "query", "scan",
    "hash", "join", "window", "fast", "slow", "big", "small", "data", "log")
  private def pick[A](r: java.util.Random, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def cents(c: Long): java.lang.Double = c / 100.0
  private def phrase(r: java.util.Random, n: Int): String =
    Seq.fill(n)(words(r.nextInt(words.length))).mkString(" ")

  val Orders: Table = Table("orders", "orders_cdc",
    Seq(Col("o_orderkey", IntK, (_, k) => (k + 1).toLong)),
    Seq(Col("o_custkey", IntK, (r, _) => (r.nextInt(15000) + 1).toLong),
      Col("o_orderstatus", StrK, (r, _) => pick(r, Seq("O", "F", "P"))),
      Col("o_totalprice", DblK, (r, _) => cents(100000L + r.nextInt(49000000))),
      Col("o_orderdate", StrK, (r, _) =>
        f"199${r.nextInt(8) + 2}-${r.nextInt(12) + 1}%02d-${r.nextInt(28) + 1}%02d"),
      Col("o_orderpriority", StrK, (r, _) =>
        pick(r, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))),
      Col("o_comment", StrK, (r, _) => phrase(r, 2 + r.nextInt(5)))),
    "STRING", 150000)

  val Customer: Table = Table("customer", "customer_cdc",
    Seq(Col("c_custkey", IntK, (_, k) => (k + 1).toLong)),
    Seq(Col("c_name", StrK, (_, k) => f"Customer#${k + 1}%09d"),
      Col("c_nationkey", IntK, (r, _) => r.nextInt(25).toLong),
      Col("c_acctbal", DblK, (r, _) => cents(r.nextInt(1100000) - 100000L)),
      Col("c_mktsegment", StrK, (r, _) =>
        pick(r, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))),
    "TIMESTAMP", 15000)

  /** Four line numbers per order: key rank k is order k/4+1, line k%4+1. */
  val Lineitem: Table = Table("lineitem", "lineitem_cdc",
    Seq(Col("l_orderkey", IntK, (_, k) => (k / 4 + 1).toLong),
      Col("l_linenumber", IntK, (_, k) => (k % 4 + 1).toLong)),
    Seq(Col("partkey", IntK, (r, _) => (r.nextInt(2000) + 1).toLong),
      Col("l_quantity", DblK, (r, _) => cents((r.nextInt(50) + 1) * 100L)),
      Col("l_extendedprice", DblK, (r, _) => cents(90000L + r.nextInt(9000000))),
      Col("l_returnflag", StrK, (r, _) => pick(r, Seq("A", "N", "R")))),
    "TIMESTAMP", 60000)

  val Part: Table = Table("part", "part_cdc",
    Seq(Col("partkey", IntK, (_, k) => (k + 1).toLong)),
    Seq(Col("p_name", StrK, (r, _) => phrase(r, 3)),
      Col("p_brand", StrK, (r, _) => s"Brand#${r.nextInt(5) + 1}${r.nextInt(5) + 1}"),
      Col("p_retailprice", DblK, (r, _) => cents(90000L + r.nextInt(110000)))),
    "STRING", 2000)

  /** Share of events for [[Unregistered]] objects (about 1%, so the dead
    * letter is used). The other shares are this benchmark's choices,
    * not taken from a measured source: deletes among changes to a live
    * key, and inserts and updates with one payload column null or missing. */
  val UnknownShare = 0.01
  val DeleteShare = 0.06
  val NullShare = 0.03
  val MissingShare = 0.03

  /** Objects the registry never learns: routed to the dead letter. */
  val Unregistered: Seq[String] = Seq("olist_sessions", "audit_log")

  /** Registry JSON in the reference's BigQuery-typed shape. */
  def registryJson(tables: Seq[Table]): String =
    tables.map { t =>
      val fields = ((t.pk ++ t.cols).map(c => c.name -> c.kind.bq) ++
        Seq("action" -> "STRING", "update_date" -> t.tsType))
        .map { case (n, ty) => s"""{"name": "$n", "type": "$ty"}""" }
        .mkString(", ")
      s""""${t.logical}": {"table_name": "${t.physical}", "schema": {"fields": [$fields]}}"""
    }.mkString("{\n  ", ",\n  ", "\n}\n")

  /** One change event. `payload` is ordered; a value may be null, and a
    * missing key is simply absent. `obj` is a table's logical name or
    * one of [[Unregistered]]. */
  final case class Event(obj: String, action: String, tsMicros: Long,
                         key: Int, payload: Array[(String, Any)])

  /** Event times start here and advance one millisecond per event. */
  val BaseMicros: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond * 1000000L
  val StepMicros = 1000

  private val secondFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private var lastSecond = Long.MinValue
  private var lastPrefix = ""

  /** `yyyy-MM-ddTHH:mm:ss.ffffffZ` (UTC) for epoch microseconds. */
  def isoMicros(us: Long): String = synchronized {
    val secs = Math.floorDiv(us, 1000000L)
    if (secs != lastSecond) {
      lastSecond = secs
      lastPrefix = secondFmt.format(java.time.LocalDateTime.ofEpochSecond(secs, 0,
        java.time.ZoneOffset.UTC)) + "."
    }
    val frac = (Math.floorMod(us, 1000000L) + 1000000L).toString.substring(1)
    lastPrefix + frac + "Z"
  }

  private def jsonStr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\""); case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def jsonVal(v: Any): String = v match {
    case null => "null"
    case s: String => jsonStr(s)
    case d: java.lang.Double => java.math.BigDecimal.valueOf(d).setScale(2,
      java.math.RoundingMode.HALF_EVEN).toPlainString
    case other => other.toString
  }

  def line(e: Event): String =
    s"""{"object":${jsonStr(e.obj)},"source_timestamp":"${isoMicros(e.tsMicros)}",""" +
      s""""source_metadata":{"change_type":"${e.action}"},"payload":{""" +
      e.payload.map { case (k, v) => s"${jsonStr(k)}:${jsonVal(v)}" }.mkString(",") + "}}"

  /** Inverse-CDF Zipf sampler over ranks 0..n-1 (rank 0 hottest). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      var acc = 0.0
      val c = new Array[Double](n)
      var i = 0
      while (i < n) { acc += w(i); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }
    def draw(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** A seeded event stream over `mix` (table → share of registered
  * events). Keys are Zipf(`skew`) over each table's key space; an event
  * on a key that is absent (never seen, or deleted) is an insert,
  * otherwise a delete with probability [[Gen.DeleteShare]], else an
  * update. */
final class Gen(seed: Long, mix: Seq[(Gen.Table, Double)], skew: Double) {
  import Gen._

  private val rng = new java.util.Random(seed)
  private val tables = mix.map(_._1)
  private val cum = mix.map(_._2).scanLeft(0.0)(_ + _).tail.map(_ / mix.map(_._2).sum)
  private val zipf = tables.map(t => t.logical -> new Zipf(t.keys, skew)).toMap
  private val live = tables.map(t => t.logical -> new java.util.BitSet(t.keys)).toMap
  private var seq = 0L

  /** Events generated so far, per object (tables and unregistered). */
  val counts: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def next(): Event = {
    val ts = BaseMicros + seq * StepMicros + rng.nextInt(StepMicros)
    val ev =
      if (rng.nextDouble() < UnknownShare) {
        val obj = Unregistered(rng.nextInt(Unregistered.size))
        Event(obj, "insert", ts, -1,
          Array("id" -> java.lang.Long.valueOf(seq), "note" -> words(rng.nextInt(words.length))))
      } else {
        val u = rng.nextDouble()
        val t = tables(math.max(0, cum.indexWhere(u < _)))
        val k = zipf(t.logical).draw(rng)
        val bits = live(t.logical)
        val action =
          if (!bits.get(k)) "insert"
          else if (rng.nextDouble() < DeleteShare) "delete" else "update"
        if (action == "delete") bits.clear(k) else bits.set(k)
        val pk = t.pk.map(c => c.name -> c.draw(rng, k))
        val payload =
          if (action == "delete") pk
          else {
            val vals = t.cols.map(c => c.name -> c.draw(rng, k))
            val r = rng.nextDouble()
            val j = rng.nextInt(t.cols.size)
            if (r < MissingShare) pk ++ vals.patch(j, Nil, 1)
            else if (r < MissingShare + NullShare) pk ++ vals.updated(j, vals(j)._1 -> null)
            else pk ++ vals
          }
        Event(t.logical, action, ts, k, payload.toArray)
      }
    seq += 1
    counts(ev.obj) += 1
    ev
  }

  def take(n: Int): Array[Event] = Array.fill(n)(next())
}

object GenFiles {
  /** Write events as one gzipped JSONL file; returns uncompressed bytes. */
  def write(f: File, events: Iterable[Gen.Event]): Long = {
    f.getParentFile.mkdirs()
    val out = new GZIPOutputStream(new BufferedOutputStream(new FileOutputStream(f), 1 << 16), 1 << 16)
    var bytes = 0L
    try events.foreach { e =>
      val b = (Gen.line(e) + "\n").getBytes(UTF_8)
      out.write(b); bytes += b.length
    } finally out.close()
    bytes
  }

  def writeText(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes(UTF_8))
  }
}
