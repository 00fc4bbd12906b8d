package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.Graft
import graft.catalog.{FamilyDescriptor, TableDescriptor}
import graft.core.{Bytes, CellCodec}
import graft.write.Delete
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.Row

/** A read-only closed loop of SQL over a lineitem-shaped fact table and
  * two small dimension tables (orders, customer), through both SQL doors of
  * [[graft.sql.GraftSqlCatalog]]: the cell table and the declared wide
  * view `t$wide`. The fact table has one secondary index, and set-up
  * writes a second version of some cells and deletes some rows, so
  * Resolve sees real versions and tombstones. Cost
  * here is scanning and exchange; writes are absent. Every answer is
  * checked against the benchmark's own copy of the rows. */
final class SqlAnalytics(ctx: Ctx) extends Workload {
  import SqlAnalytics._

  private val rnd = new scala.util.Random(ctx.seed * 131 + 3)
  private val nOrders = math.max(200, (2500 * ctx.scale).toInt)
  private val nCust = math.max(50, nOrders / 10)
  private val nParts = math.max(20, nOrders / 5)
  private var cat: String = _
  private var loadVersion = 0L
  private var original: Map[(Long, Int), Line] = _
  private var lines: Map[(Long, Int), Line] = _
  private var orders: Map[Long, Ord] = _
  private var custs: Map[Long, Cust] = _

  def setup(root: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    SqlAnalytics.catalogs += 1
    cat = s"perfbench${SqlAnalytics.catalogs}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sql.GraftSqlCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)

    custs = (1L to nCust).map { k =>
      k -> Cust(Segments(rnd.nextInt(Segments.size)))
    }.toMap
    orders = (1L to nOrders).map { k =>
      k -> Ord(1L + rnd.nextInt(nCust), Seq("F", "O", "P")(rnd.nextInt(3)),
        8000L + rnd.nextInt(2500))
    }.toMap
    original = orders.toSeq.flatMap { case (ok, o) =>
      (1 to 1 + rnd.nextInt(7)).map { ln =>
        val qty = 1L + rnd.nextInt(50)
        (ok, ln) -> Line(1L + rnd.nextInt(nParts), qty,
          qty * (900 + rnd.nextInt(100000)) / 100.0, rnd.nextInt(11) / 100.0,
          Seq("A", "N", "R")(rnd.nextInt(3)), o.date + 1 + rnd.nextInt(120))
      }
    }.toMap

    val g = Graft(spark, root)
    g.createTable(TableDescriptor("li", Seq(FamilyDescriptor("l")),
      wideKey = Some("l_orderkey:long,l_linenumber:int"),
      wideSchema = Some("l:l_partkey:long;l:l_quantity:long;" +
        "l:l_extendedprice:double;l:l_discount:double;l:l_returnflag:string;" +
        "l:l_shipdate:long")), 1L)
    // Versions and tombstones for Resolve: the load carries a second
    // l_discount version (ts 10) for the 'R' lines of the first half of
    // the orders; a later commit deletes the lines of a range of orders
    // (DeleteFamily, ts 20). `VERSION AS OF` reads the version before it.
    val updTo = nOrders / 2
    val (delFrom, delTo) = (nOrders / 3, nOrders / 3 + math.max(1, nOrders / 20))
    val updated = original.collect {
      case (k, l) if l.flag == "R" && k._1 < updTo => k -> l.copy(disc = l.disc + 0.01)
    }
    val deleted = original.keys.filter(k => k._1 >= delFrom && k._1 < delTo).toSeq
    val liDf = original.toSeq.map { case ((ok, ln), l) =>
      (ok, ln, l.partkey, l.qty, l.price, l.disc, l.flag, l.ship)
    }.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate")
    val key = Seq("l_orderkey", "l_linenumber")
    val versions = updated.toSeq.map { case ((ok, ln), l) => (ok, ln, l.disc) }
      .toDF("l_orderkey", "l_linenumber", "l_discount")
    val versionCells = CellCodec.encode(versions, "l", key, batchTs = 10L)
      .filter(col("qualifier") === lit(Bytes.toBytes("l_discount")))
    g.table("li").mutate(CellCodec.encode(liDf, "l", key).unionByName(versionCells), 1L)
    g.createIndex("li", "l", Bytes.toBytes("l_partkey"), 2L)
    loadVersion = g.catalog.currentManifest("li").version
    def keyBytes(k: (Long, Int)) = Bytes.toBytes(k._1) ++ Bytes.toBytes(k._2)
    g.table("li").delete(deleted.map(k => Delete(keyBytes(k)).deleteFamily("l", 20L)), 20L)
    lines = (original ++ updated) -- deleted
    // the dimensions are plain Spark tables the fact table joins
    orders.toSeq.map { case (k, o) => (k, o.cust, o.status, o.date) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
      .createOrReplaceTempView(s"${cat}_orders")
    custs.toSeq.map { case (k, c) => (k, c.segment) }
      .toDF("c_custkey", "c_mktsegment")
      .createOrReplaceTempView(s"${cat}_customer")
  }

  /** Plans the query (`sql.plan`: parse, analysis, optimization, physical
    * planning, including any jobs the doors run to plan), then runs it. */
  private def query(kind: String, sql: String)(check: Array[Row] => Unit): Unit =
    ctx.op(s"sql_$kind") {
      val df = ctx.span("sql.plan") {
        val d = ctx.spark.sql(sql)
        d.queryExecution.executedPlan
        d
      }
      val rows = ctx.span("sql.exec")(df.collect())
      ctx.sample("sql.rows_returned", rows.length)
      check(rows)
    }

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

  private def wideLines(rows: Array[Row]): Set[(Long, Int, Double)] =
    rows.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet

  private def point(): Unit = {
    val k = 1L + rnd.nextInt(nOrders)
    query("point", s"""SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice,
        l_discount, l_returnflag FROM $cat.`li$$wide` WHERE l_orderkey = $k""") { rows =>
      val got = rows.map(r => (r.getInt(0), Line(r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getString(5), 0L))).toSet
      val want = lines.collect { case ((`k`, ln), l) => (ln, l.copy(ship = 0L)) }.toSet
      ctx.check(got == want, s"wide point $k: ${got.size} rows, want ${want.size}")
    }
  }

  private def cellPoint(): Unit = {
    val k = 1L + rnd.nextInt(nOrders)
    query("point", s"""SELECT row, qualifier, value FROM $cat.li
        WHERE row >= X'${hex(Bytes.toBytes(k))}' AND row < X'${hex(Bytes.toBytes(k + 1))}'
        AND qualifier = X'${hex(Bytes.toBytes("l_quantity"))}'""") { rows =>
      val got = rows.map(r => (Bytes.toInt(r.getAs[Array[Byte]](0).drop(8)),
        Bytes.toLong(r.getAs[Array[Byte]](2)))).toSet
      val want = lines.collect { case ((`k`, ln), l) => (ln, l.qty) }.toSet
      ctx.check(got == want, s"cell point $k: ${got.size} cells, want ${want.size}")
    }
  }

  private def rangeFilter(): Unit = {
    val a = 1L + rnd.nextInt(nOrders)
    val q = 1 + rnd.nextInt(45)
    query("range", s"""SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM $cat.`li$$wide` WHERE l_orderkey >= $a AND l_orderkey < ${a + RangeSpan}
        AND l_quantity > $q""") { rows =>
      val want = lines.collect {
        case ((ok, ln), l) if ok >= a && ok < a + RangeSpan && l.qty > q => (ok, ln, l.price)
      }.toSet
      val got = wideLines(rows)
      ctx.check(got == want, s"range $a: ${got.size} rows, want ${want.size}")
    }
  }

  private def cellRange(): Unit = {
    val a = 1L + rnd.nextInt(nOrders)
    query("range", s"""SELECT count(*) FROM $cat.li
        WHERE row >= X'${hex(Bytes.toBytes(a))}' AND row < X'${hex(Bytes.toBytes(a + RangeSpan))}'
        AND qualifier = X'${hex(Bytes.toBytes("l_returnflag"))}'
        AND value = X'${hex("R".getBytes(UTF_8))}'""") { rows =>
      val want = lines.count { case ((ok, _), l) =>
        ok >= a && ok < a + RangeSpan && l.flag == "R" }
      ctx.check(rows.head.getLong(0) == want, s"cell range $a: ${rows.head}, want $want")
    }
  }

  private def agg(): Unit = {
    val f = pick(Seq("A", "N", "R"))
    query("agg", s"""SELECT count(*), sum(l_quantity), min(l_extendedprice),
        max(l_extendedprice) FROM $cat.`li$$wide` WHERE l_returnflag = '$f'""") { rows =>
      val sel = lines.values.filter(_.flag == f)
      val r = rows.head
      val ok = r.getLong(0) == sel.size && r.getLong(1) == sel.map(_.qty).sum &&
        r.getDouble(2) == sel.map(_.price).min && r.getDouble(3) == sel.map(_.price).max
      ctx.check(ok, s"agg $f: $r")
    }
  }

  private def topN(): Unit = {
    val d = 8000L + rnd.nextInt(2500)
    query("topn", s"""SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM $cat.`li$$wide` WHERE l_shipdate >= $d AND l_shipdate < ${d + 60}
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""") { rows =>
      val want = lines.toSeq.filter { case (_, l) => l.ship >= d && l.ship < d + 60 }
        .sortBy { case ((ok, ln), l) => (-l.price, ok, ln) }.take(10)
        .map { case ((ok, ln), l) => (ok, ln, l.price) }
      val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      ctx.check(got == want, s"topn $d: ${got.take(2)} want ${want.take(2)}")
    }
  }

  private def indexEq(): Unit = {
    val p = 1L + rnd.nextInt(nParts)
    query("index", s"""SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM $cat.`li$$wide` WHERE l_partkey = $p""") { rows =>
      val want = lines.collect { case ((ok, ln), l) if l.partkey == p => (ok, ln, l.price) }.toSet
      val got = wideLines(rows)
      ctx.check(got == want, s"index $p: ${got.size} rows, want ${want.size}")
    }
  }

  /** The customers with `c_custkey % 125 = r`: the same share of the
    * dimension on every seed. */
  private def join(): Unit = {
    val r = rnd.nextInt(125)
    query("join", s"""SELECT o.o_orderstatus, c.c_mktsegment, count(*), sum(l.l_quantity)
        FROM $cat.`li$$wide` l
        JOIN ${cat}_orders o ON l.l_orderkey = o.o_orderkey
        JOIN ${cat}_customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey % 125 = $r
        GROUP BY o.o_orderstatus, c.c_mktsegment""") { rows =>
      val want = lines.toSeq.flatMap { case ((ok, _), l) =>
        val o = orders(ok)
        if (o.cust % 125 == r) Some((o.status, custs(o.cust).segment) -> l.qty) else None
      }.groupBy(_._1).map { case ((st, seg), xs) =>
        (st, seg, xs.size.toLong, xs.map(_._2).sum) }.toSet
      val got = rows.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      ctx.check(got == want, s"join $r: $got want $want")
    }
  }

  private def asOf(): Unit = {
    val a = 1L + rnd.nextInt(nOrders)
    query("asof", s"""SELECT count(*), sum(l_quantity)
        FROM $cat.`li$$wide` VERSION AS OF $loadVersion
        WHERE l_orderkey >= $a AND l_orderkey < ${a + AsOfSpan}""") { rows =>
      val sel = original.collect { case ((ok, _), l) if ok >= a && ok < a + AsOfSpan => l.qty }
      val r = rows.head
      val ok = r.getLong(0) == sel.size &&
        (if (sel.isEmpty) r.isNullAt(1) else r.getLong(1) == sel.sum)
      ctx.check(ok, s"asof $a: $r want ${sel.size}/${sel.sum}")
    }
  }

  private def all(): Unit = {
    point(); cellPoint(); rangeFilter(); cellRange(); agg(); topN(); indexEq()
    join(); asOf()
  }

  def warmup(): Unit = all()

  /** Every query kind once, then the short kinds again: 16 queries in a
    * fixed order; the seed picks the parameters. */
  def round(): Unit = {
    all()
    point(); cellPoint(); rangeFilter(); cellRange(); point(); cellPoint(); asOf()
  }
}

object SqlAnalytics {
  final case class Line(partkey: Long, qty: Long, price: Double, disc: Double,
      flag: String, ship: Long)
  final case class Ord(cust: Long, status: String, date: Long)
  final case class Cust(segment: String)
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val RangeSpan = 300L
  val AsOfSpan = 2000L
  private var catalogs = 0
}
