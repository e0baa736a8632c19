package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator. Everything a workload feeds the engine is made
  * here, before any timing starts, from `--seed` alone:
  *
  *  - day-over-day source snapshots of the five tables the medallion
  *    reads (TPC-H-shaped, the testdata schema), each day carrying a
  *    recorded change set (updated, inserted and deleted keys);
  *  - a near-duplicate document corpus in id order for the curation
  *    ingest, with its known duplicate share.
  *
  * The engine only ever sees the parquet written by [[writeDay]] and
  * [[writeBatch]]; the in-memory snapshots back the reference checks. */
object Gen {

  final case class Cust(key: Long, name: String, nation: Int, acctbal: Double, segment: String)
  final case class Ord(key: Long, cust: Long, status: String, total: Double,
      dateMs: Long, priority: String)
  final case class Line(order: Long, part: Long, supp: Long, line: Int, qty: Double,
      price: Double, disc: Double, tax: Double, rflag: String, lstatus: String, shipMs: Long)

  /** One day's full source snapshot plus what the generator changed to
    * produce it from the previous day. `changedRows` counts source rows
    * updated, inserted or deleted across all five tables. */
  final case class Day(index: Int, kind: String,
      customers: Vector[Cust], orders: Vector[Ord], lines: Vector[Line],
      changedRows: Long)

  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Vector("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
    "RUSSIA", "UNITED KINGDOM", "UNITED STATES")
  def nationRegion(n: Int): Int = n % Regions.size
  private val Status = Vector("O", "F", "P")
  private val Priority = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val DayMs = 86400000L
  /** 1995-01-01T00:00Z and the order-date span (about 3.6 years). */
  private val Epoch1995 = 788918400000L
  private val DateSpanDays = 1300

  /** Day kinds, cycled day after day (day 0 is the initial snapshot). A
    * mixed day updates `rate` of the orders (about half of each updated
    * order's lines with them) and of the customers, deletes `rate / 10`
    * of the orders with their lines and `rate / 20` of the customers,
    * inserts `rate / 5` new orders and customers, and rewrites the key of
    * `rate / 20` of the orders, the key rewrite of the reference SCD2
    * scenario (`SET key = new WHERE key = old`, reference
    * 23_Testing_SCD2.py:60: the old key closes in silver and the new key
    * inserts as current).
    * Every kind of change is present from the first loaded day on, so
    * each run, the shortest included, loads all of them; the rate varies
    * from day to day to show whether a load's cost follows its change
    * set. */
  val DayKinds = Vector("mixed_10pct", "unchanged", "mixed_1pct")
  private val KindRate = Map("mixed_10pct" -> 0.10, "unchanged" -> 0.0, "mixed_1pct" -> 0.01)

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0

  private def pick[T](r: SplittableRandom, v: Vector[T]): T = v(r.nextInt(v.size))

  private def newCust(r: SplittableRandom, key: Long): Cust =
    Cust(key, f"Customer#$key%09d", r.nextInt(Nations.size), money(r, -999.99, 9999.99),
      pick(r, Segments))

  private def newOrder(r: SplittableRandom, key: Long, custs: Int): Ord =
    Ord(key, 1L + r.nextInt(custs), pick(r, Status), money(r, 1000, 400000),
      Epoch1995 + r.nextInt(DateSpanDays) * DayMs, pick(r, Priority))

  private def newLines(r: SplittableRandom, o: Ord): Vector[Line] =
    (1 to 1 + r.nextInt(7)).map(n => newLine(r, o, n)).toVector

  private def newLine(r: SplittableRandom, o: Ord, n: Int): Line =
    Line(o.key, 1L + r.nextInt(20000), 1L + r.nextInt(1000), n, (1 + r.nextInt(50)).toDouble,
      money(r, 900, 100000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
      pick(r, Vector("R", "A", "N")), pick(r, Vector("O", "F")),
      o.dateMs + (1 + r.nextInt(121)) * DayMs)

  /** `nDays` consecutive snapshots (day 0 included) over `nOrders` initial
    * orders and `nOrders / 10` customers. */
  def days(seed: Long, nOrders: Int, nDays: Int): Vector[Day] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val nCust = math.max(10, nOrders / 10)
    val custs0 = (1 to nCust).map(k => newCust(r, k.toLong)).toVector
    val orders0 = (1 to nOrders).map(k => newOrder(r, k.toLong, nCust)).toVector
    val lines0 = orders0.flatMap(o => newLines(r, o))
    val out = mutable.ArrayBuffer(Day(0, "initial", custs0, orders0, lines0, 0L))
    for (d <- 1 until nDays) {
      val prev = out.last
      out += nextDay(r, prev, d, DayKinds((d - 1) % DayKinds.size))
    }
    out.toVector
  }

  private def nextDay(r: SplittableRandom, p: Day, d: Int, kind: String): Day = {
    val rate = KindRate(kind)
    if (rate == 0.0) return Day(d, kind, p.customers, p.orders, p.lines, 0L)
    def count(n: Int, frac: Double): Int = math.max(1, math.round(n * frac).toInt)
    /** `want` distinct indices below `n`, in draw order. */
    def sample(n: Int, want: Int): Vector[Int] = {
      val s = mutable.LinkedHashSet.empty[Int]
      while (s.size < want) s += r.nextInt(n)
      s.toVector
    }
    var changed = 0L

    // orders: disjoint sets to update, delete and re-key
    val nO = p.orders.size
    val (upd, rest) = sample(nO, count(nO, rate) + count(nO, rate / 10) + count(nO, rate / 20))
      .splitAt(count(nO, rate))
    val (del, rekey) = rest.splitAt(count(nO, rate / 10))
    val updKeys = upd.map(p.orders(_).key).toSet
    val delKeys = del.map(p.orders(_).key).toSet
    val maxO = p.orders.map(_.key).max
    val remap = rekey.sorted.zipWithIndex.map { case (i, j) =>
      p.orders(i).key -> (maxO + 1 + j) }.toMap
    val updIdx = upd.toSet
    var orders = p.orders.zipWithIndex.collect {
      case (o, i) if updIdx(i) => o.copy(status = pick(r, Status), total = money(r, 1000, 400000))
      case (o, _) if !delKeys(o.key) => remap.get(o.key).map(k => o.copy(key = k)).getOrElse(o)
    }
    // about half the lines of an updated order change their measures
    var lines = p.lines.flatMap { l =>
      if (delKeys(l.order)) { changed += 1; None }
      else if (remap.contains(l.order)) { changed += 2; Some(l.copy(order = remap(l.order))) }
      else if (updKeys(l.order) && r.nextBoolean()) {
        changed += 1
        Some(l.copy(qty = (1 + r.nextInt(50)).toDouble, disc = r.nextInt(11) / 100.0))
      } else Some(l)
    }
    changed += upd.size + del.size + 2L * remap.size

    // customers: update and delete; a deleted customer's orders stay and
    // resolve to the unknown member in the gold fact
    val nC = p.customers.size
    val (cUpd, cDel) = sample(nC, count(nC, rate) + count(nC, rate / 20))
      .splitAt(count(nC, rate))
    val cUpdIdx = cUpd.toSet
    val cDelIdx = cDel.toSet
    var custs = p.customers.zipWithIndex.collect {
      case (c, i) if cUpdIdx(i) =>
        c.copy(acctbal = money(r, -999.99, 9999.99), segment = pick(r, Segments))
      case (c, i) if !cDelIdx(i) => c
    }
    changed += cUpd.size + cDel.size

    // inserts: new customers and new orders above every existing key
    val maxC = p.customers.map(_.key).max
    val newC = (1 to count(nC, rate / 5)).map(i => newCust(r, maxC + i)).toVector
    custs = custs ++ newC
    val newO = (1 to count(nO, rate / 5)).map(i => newOrder(r, maxO + remap.size + i, custs.size))
      .toVector.map(o => o.copy(cust = custs(r.nextInt(custs.size)).key))
    val newL = newO.flatMap(o => newLines(r, o))
    orders = orders ++ newO
    lines = lines ++ newL
    changed += newC.size + newO.size + newL.size

    Day(d, kind, custs, orders, lines, changed)
  }

  // ---------------------------------------------------------------- parquet

  /** Plain parquet-hadoop writes: one single-file table per call, no Spark
    * job, so writing a week of snapshots costs milliseconds, not seconds. */
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  private def writeFile(path: String, schema: String, rows: Iterator[Seq[Any]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val mt = org.apache.parquet.schema.MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(mt).withConf(hadoopConf)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(mt)
    try rows.foreach { vals =>
      val g = groups.newGroup()
      vals.zipWithIndex.foreach {
        case (v: Long, i) => g.add(i, v)
        case (v: Int, i) => g.add(i, v)
        case (v: Double, i) => g.add(i, v)
        case (v: String, i) => g.add(i, v)
        case (v, _) => throw new IllegalArgumentException(s"unsupported value $v")
      }
      w.write(g)
    } finally w.close()
  }

  private def str(n: String) = s"optional binary $n (STRING);"
  private def ts(n: String) = s"optional int64 $n (TIMESTAMP(MILLIS,true));"

  /** Writes `day` as `<dir>/<table>.parquet`, the layout the medallion's
    * source reader expects. Returns the bytes written. */
  def writeDay(day: Day, dir: String): Long = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    writeFile(s"$dir/region.parquet",
      s"message region { optional int32 r_regionkey; ${str("r_name")} }",
      Regions.indices.iterator.map(i => Seq(i, Regions(i))))
    writeFile(s"$dir/nation.parquet",
      s"message nation { optional int32 n_nationkey; ${str("n_name")} optional int32 n_regionkey; }",
      Nations.indices.iterator.map(i => Seq(i, Nations(i), nationRegion(i))))
    writeFile(s"$dir/customer.parquet",
      s"message customer { optional int64 c_custkey; ${str("c_name")} optional int32 c_nationkey; " +
        s"optional double c_acctbal; ${str("c_mktsegment")} }",
      day.customers.iterator.map(c => Seq(c.key, c.name, c.nation, c.acctbal, c.segment)))
    writeFile(s"$dir/orders.parquet",
      s"message orders { optional int64 o_orderkey; optional int64 o_custkey; " +
        s"${str("o_orderstatus")} optional double o_totalprice; ${ts("o_orderdate")} " +
        s"${str("o_orderpriority")} }",
      day.orders.iterator.map(o => Seq(o.key, o.cust, o.status, o.total, o.dateMs, o.priority)))
    writeFile(s"$dir/lineitem.parquet",
      s"message lineitem { optional int64 l_orderkey; optional int64 l_partkey; " +
        "optional int64 l_suppkey; optional int32 l_linenumber; optional double l_quantity; " +
        "optional double l_extendedprice; optional double l_discount; optional double l_tax; " +
        s"${str("l_returnflag")} ${str("l_linestatus")} ${ts("l_shipdate")} }",
      day.lines.iterator.map(l => Seq(l.order, l.part, l.supp, l.line, l.qty, l.price, l.disc,
        l.tax, l.rflag, l.lstatus, l.shipMs)))
    Seq("region", "nation", "customer", "orders", "lineitem")
      .map(t => java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/$t.parquet"))).sum
  }

  // ---------------------------------------------------------------- corpus

  /** The shape of the testdata `documents.parquet` (5,000 documents at
    * sf0.1, 500 at sf0.01; perfbench/README.md gives the measurement):
    * 10 to 100 words per document, evenly spread; 30 words, each used
    * about equally often; 4.9% of documents are near-copies of an earlier
    * document, at a distance spread evenly over all earlier documents.
    * A near-copy is its original with a trailing `dup` word added or
    * dropped, or, for 3.3% of them, the original verbatim. */
  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  val CopyShare = 0.049
  private val VerbatimShare = 0.033

  /** A corpus of `nDocs` documents in id order with the shape above.
    * Copies may point into the same ingest batch or any earlier one, so
    * both the in-batch and the against-index duplicate paths of the
    * incremental dedup are taken. Returns the corpus and its number of
    * near-copies. */
  def corpus(seed: Long, nDocs: Int): (Vector[(Long, String)], Int) = {
    val r = new SplittableRandom(seed * 0xBF58476D1CE4E5B9L + 29)
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    var copies = 0
    for (id <- 0 until nDocs) {
      val text =
        if (id > 0 && r.nextDouble() < CopyShare) {
          copies += 1
          val orig = docs(r.nextInt(id))._2
          if (r.nextDouble() < VerbatimShare) orig
          else if (orig.endsWith(" dup")) orig.dropRight(4)
          else orig + " dup"
        } else Vector.fill(10 + r.nextInt(91))(pick(r, Vocab)).mkString(" ")
      docs += id.toLong -> text
    }
    (docs.toVector, copies)
  }

  /** Writes one ingest batch; returns its bytes. */
  def writeBatch(docs: Seq[(Long, String)], path: String): Long = {
    writeFile(path, s"message documents { optional int64 doc_id; ${str("text")} }",
      docs.iterator.map { case (id, t) => Seq(id, t) })
    java.nio.file.Files.size(java.nio.file.Paths.get(path))
  }
}
