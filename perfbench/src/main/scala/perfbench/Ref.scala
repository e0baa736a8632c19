package perfbench

import java.math.{BigDecimal => JBD, RoundingMode}
import java.time.{Instant, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.Row

/** Reference model of what the medallion must publish, computed from the
  * generator's in-memory snapshots with plain Scala — no Spark, no
  * `TableStore`, no `Medallion` — plus the checks that compare a store's
  * tables and a query's answer against it. Every check runs outside the
  * timed region and returns the list of problems it found (empty = pass). */
object Ref {

  type FactKey = (Long, Int)
  final case class FactRow(cal: Int, cust: Long, geo: Long, qty: JBD, price: JBD, disc: JBD,
      net: JBD)
  final case class DimCust(id: Long, key: Long, name: String, segment: String, nation: Int)
  final case class DimGeo(id: Long, nation: Int, nationName: String, region: String)

  /** Spark's double → decimal cast: the double's shortest decimal string,
    * rounded half-up to the target scale. */
  def dec(d: Double, scale: Int): JBD =
    new JBD(java.lang.Double.toString(d)).setScale(scale, RoundingMode.HALF_UP)

  def calKey(ms: Long): Int = {
    val d = Instant.ofEpochMilli(ms).atZone(ZoneOffset.UTC).toLocalDate
    d.getYear * 10000 + d.getMonthValue * 100 + d.getDayOfMonth
  }

  /** The gold star after a day's load: SCD1 dims rebuilt from the day's
    * current rows (ids in natural-key order, -9 unknown members), and the
    * fact folded forward — lines in today's snapshot are upserted, lines
    * that vanished keep their last values. */
  final class Star(val day: Gen.Day, val dimCust: Vector[DimCust], val dimGeo: Vector[DimGeo],
      val fact: Map[FactKey, FactRow]) {
    lazy val custById: Map[Long, DimCust] = dimCust.map(c => c.id -> c).toMap
    lazy val geoById: Map[Long, DimGeo] = dimGeo.map(g => g.id -> g).toMap
    lazy val byOrder: Map[Long, Seq[FactRow]] =
      fact.toSeq.groupBy(_._1._1).map { case (k, v) => k -> v.map(_._2) }
    lazy val ordersByCust: Map[Long, Seq[Gen.Ord]] = day.orders.groupBy(_.cust)
  }

  def nextStar(prev: Option[Star], day: Gen.Day): Star = {
    val dimCust = DimCust(-9, -9, "N/A", "N/A", -9) +:
      day.customers.sortBy(_.key).zipWithIndex.map { case (c, i) =>
        DimCust(i + 1L, c.key, c.name, c.segment, c.nation) }
    val dimGeo = DimGeo(-9, -9, "N/A", "N/A") +:
      Gen.Nations.indices.map(n =>
        DimGeo(n + 1L, n, Gen.Nations(n), Gen.Regions(Gen.nationRegion(n)))).toVector
    val custByKey = dimCust.tail.map(c => c.key -> c).toMap
    val geoByNation = dimGeo.tail.map(g => g.nation -> g.id).toMap
    val orders = day.orders.map(o => o.key -> o).toMap
    val built = day.lines.map { l =>
      val o = orders.get(l.order)
      val c = o.flatMap(o => custByKey.get(o.cust))
      (l.order, l.line) -> FactRow(
        o.map(o => calKey(o.dateMs)).getOrElse(-9),
        c.map(_.id).getOrElse(-9L),
        c.flatMap(c => geoByNation.get(c.nation)).getOrElse(-9L),
        dec(l.qty, 4), dec(l.price, 4), dec(l.disc, 4),
        dec(l.price * (1.0 - l.disc), 6))
    }
    new Star(day, dimCust, dimGeo, prev.map(_.fact).getOrElse(Map.empty) ++ built)
  }

  // ------------------------------------------------------------ store checks

  private def norm(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime
    case other => other
  }

  private def sameDec(a: Any, b: JBD): Boolean = a match {
    case d: JBD => d.compareTo(b) == 0
    case _ => false
  }

  /** SCD2 invariants of one silver table after loading `day` at `loadTsMs`:
    * at most one current row per natural key; a key's validity intervals
    * do not overlap; the current slice equals the day's snapshot; a key
    * the day left unchanged keeps its current row (opened before this
    * load), and a changed or new key gets a row opened by this load. */
  def checkSilver(table: String, rows: Array[Row], keys: Seq[String], payload: Seq[String],
      snapshot: Map[Seq[Any], Seq[Any]], previous: Map[Seq[Any], Seq[Any]],
      loadTsMs: Long): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def ms(r: Row, c: String): Option[Long] =
      Option(r.getAs[java.sql.Timestamp](c)).map(_.getTime)
    val byKey = rows.groupBy(r => keys.map(k => norm(r.getAs[Any](k))))
    for ((k, rs) <- byKey) {
      val cur = rs.filter(r => ms(r, "_tf_valid_to").isEmpty)
      if (cur.length > 1) problems += s"$table key $k has ${cur.length} current rows"
      val sorted = rs.sortBy(r => ms(r, "_tf_valid_from").getOrElse(Long.MinValue))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val aTo = ms(a, "_tf_valid_to")
          if (aTo.isEmpty || aTo.get > ms(b, "_tf_valid_from").getOrElse(Long.MinValue))
            problems += s"$table key $k has overlapping validity intervals"
        case _ =>
      }
      for (c <- cur.headOption) {
        val vals = payload.map(p => norm(c.getAs[Any](p)))
        snapshot.get(k) match {
          case None => problems += s"$table key $k is current but absent from the source"
          case Some(exp) =>
            if (exp != vals) problems += s"$table key $k current payload $vals != source $exp"
            val from = ms(c, "_tf_valid_from").getOrElse(Long.MinValue)
            val unchanged = previous.get(k).contains(exp)
            if (unchanged && from >= loadTsMs)
              problems += s"$table key $k was unchanged but got a new version"
            if (!unchanged && from != loadTsMs)
              problems += s"$table key $k changed but its current row was not opened by this load"
        }
      }
    }
    val current = byKey.filter(_._2.exists(r => ms(r, "_tf_valid_to").isEmpty)).keySet
    val missing = snapshot.keySet -- current
    if (missing.nonEmpty) problems += s"$table misses ${missing.size} current keys, e.g. ${missing.head}"
    problems.toSeq
  }

  /** Source snapshot of a silver table as natural key → payload. */
  def sourceRows(day: Gen.Day, table: String): Map[Seq[Any], Seq[Any]] = table match {
    case "customer" => day.customers.map(c =>
      Seq[Any](c.key) -> Seq[Any](c.name, c.nation, c.acctbal, c.segment)).toMap
    case "orders" => day.orders.map(o =>
      Seq[Any](o.key) -> Seq[Any](o.cust, o.status, o.total, o.dateMs, o.priority)).toMap
    case "lineitem" => day.lines.map(l => Seq[Any](l.order, l.line) ->
      Seq[Any](l.part, l.supp, l.qty, l.price, l.disc, l.tax, l.rflag, l.lstatus, l.shipMs)).toMap
    case "nation" => Gen.Nations.indices.map(n =>
      Seq[Any](n) -> Seq[Any](Gen.Nations(n), Gen.nationRegion(n))).toMap
    case "region" => Gen.Regions.indices.map(r => Seq[Any](r) -> Seq[Any](Gen.Regions(r))).toMap
  }

  /** (table, natural key, payload columns) of the five silver tables. */
  val SilverSpecs: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("customer", Seq("c_custkey"), Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
    ("orders", Seq("o_orderkey"),
      Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")),
    ("lineitem", Seq("l_orderkey", "l_linenumber"),
      Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")),
    ("nation", Seq("n_nationkey"), Seq("n_name", "n_regionkey")),
    ("region", Seq("r_regionkey"), Seq("r_name")))

  def checkDims(cust: Array[Row], geo: Array[Row], star: Star): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val gotC = cust.map(r => DimCust(r.getAs[Long]("_tf_dim_customer_id"),
      r.getAs[Long]("customer_key"), r.getAs[String]("customer_name"),
      r.getAs[String]("mktsegment"), r.getAs[Int]("nation_key"))).toSet
    if (gotC != star.dimCust.toSet)
      problems += s"gold.dim_customer differs: ${(gotC -- star.dimCust).take(3)} / " +
        s"${(star.dimCust.toSet -- gotC).take(3)}"
    val gotG = geo.map(r => DimGeo(r.getAs[Long]("_tf_dim_geography_id"),
      r.getAs[Int]("nation_key"), r.getAs[String]("nation_name"),
      r.getAs[String]("region_name"))).toSet
    if (gotG != star.dimGeo.toSet) problems += "gold.dim_geography differs"
    problems.toSeq
  }

  def checkFact(rows: Array[Row], star: Star): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    if (rows.length != star.fact.size)
      problems += s"gold.fact_sales has ${rows.length} rows, expected ${star.fact.size}"
    val seen = mutable.HashSet.empty[FactKey]
    for (r <- rows if problems.size < 10) {
      val k = (r.getAs[Long]("sales_order_key"), r.getAs[Int]("sales_line_number"))
      if (!seen.add(k)) problems += s"gold.fact_sales duplicates key $k"
      star.fact.get(k) match {
        case None => problems += s"gold.fact_sales has unexpected key $k"
        case Some(e) =>
          val ok = r.getAs[Int]("_tf_dim_calendar_id") == e.cal &&
            r.getAs[Long]("_tf_dim_customer_id") == e.cust &&
            r.getAs[Long]("_tf_dim_geography_id") == e.geo &&
            sameDec(r.getAs[Any]("sales_qty"), e.qty) &&
            sameDec(r.getAs[Any]("sales_extended_price"), e.price) &&
            sameDec(r.getAs[Any]("sales_discount"), e.disc) &&
            sameDec(r.getAs[Any]("sales_net_price"), e.net)
          if (!ok) problems += s"gold.fact_sales row $k = $r, expected $e"
      }
    }
    problems.toSeq
  }
}
