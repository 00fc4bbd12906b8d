package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

import graft.{Graft, GraftTable}
import graft.catalog.{BloomType, FamilyDescriptor, TableDescriptor}
import graft.core.Bytes
import graft.read.{BinaryComparator, CompareOp, Get, Scan, SingleColumnValueFilter}
import graft.streaming.Replication
import graft.write.{Delete, Put}
import org.apache.spark.sql.Row

/** The benchmark's own record of every cell it wrote: versions newest
  * first, and the DeleteFamily timestamp of each (row, family). Reads are
  * checked against it. */
final class KvModel(maxVersions: Int) {
  private val cells = mutable.HashMap.empty[(Long, String, String), List[(Long, String)]]
  private val quals = mutable.HashMap.empty[(Long, String), mutable.LinkedHashSet[String]]
  private val famDel = mutable.HashMap.empty[(Long, String), Long]
  val rows = mutable.TreeSet.empty[Long]

  def put(row: Long, fam: String, qual: String, ts: Long, value: String): Unit = {
    cells((row, fam, qual)) = (ts, value) :: cells.getOrElse((row, fam, qual), Nil)
    quals.getOrElseUpdate((row, fam), mutable.LinkedHashSet.empty) += qual
    rows += row
  }
  def deleteFamily(row: Long, fam: String, ts: Long): Unit = famDel((row, fam)) = ts

  /** Visible (family, qualifier, ts, value) of a row, up to `versions`
    * newest per column. */
  def visible(row: Long, versions: Int): Set[(String, String, Long, String)] =
    KvMixed.Families.flatMap { fam =>
      val cut = famDel.getOrElse((row, fam), Long.MinValue)
      quals.getOrElse((row, fam), Nil).flatMap { q =>
        cells((row, fam, q)).filter(_._1 > cut).take(math.min(versions, maxVersions))
          .map { case (ts, v) => (fam, q, ts, v) }
      }
    }.toSet

  def liveRows: Long = rows.count(r => visible(r, 1).exists(_._4.nonEmpty))

  /** Key + qualifier + value bytes of every live newest cell. */
  def liveBytes: Long = rows.iterator.map { r =>
    visible(r, 1).iterator.map(c => 8L + c._2.length + c._4.length).sum
  }.sum
}

/** HBase PerformanceEvaluation-style traffic on the facade: Zipf-skewed
  * gets, multi-gets, 100-key range scans and value-filtered scans, put
  * and delete batches, and one ship cycle (snapshot, incremental export,
  * replication of the change feed, minor compaction every second cycle,
  * oldest snapshot dropped) per round. Per-operation cost here is fixed cost: query
  * planning, manifest reads, file listing and one Spark job per read. */
final class KvMixed(ctx: Ctx) extends Workload {
  import KvMixed._

  private val rnd = new scala.util.Random(ctx.seed * 31 + 7)
  private val nRows = math.max(200, (1000 * ctx.scale).toInt)
  private val model = new KvModel(MaxVersions)
  private var g: Graft = _
  private var t: GraftTable = _
  private var root: String = _
  private var clock = 10L
  private var nextNewKey = 0L
  private val recent = mutable.Queue.empty[Long]
  private var zipfCdf: Array[Double] = _
  private var rankToKey: Array[Long] = _
  private var cycle = 0
  private var shippedVersion = 0L
  private val exports = mutable.Queue.empty[(String, String)]
  private var replicaCkpt: String = _
  private var versionAtStart = 0L

  private def now(): Long = { clock += 1; clock }

  private def value(len: Int): String = {
    val sb = new StringBuilder(len)
    (0 until len).foreach(_ => sb += ('a' + rnd.nextInt(26)).toChar)
    sb.result()
  }

  def setup(root0: String): Unit = {
    root = root0
    g = Graft(ctx.spark, root)
    val fams = Seq(
      FamilyDescriptor("c", maxVersions = MaxVersions, bloomFilter = BloomType.Row),
      FamilyDescriptor("h", maxVersions = MaxVersions, inMemory = true))
    g.createTable(TableDescriptor(Table, fams), 1L)
    g.createTable(TableDescriptor(Replica, fams), 1L)
    t = g.table(Table)
    replicaCkpt = s"$root/_replica_ckpt"

    // Zipf(1.0) over ranks, ranks scattered over the key space
    val w = (1 to nRows).map(r => 1.0 / r)
    val total = w.sum
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    rankToKey = rnd.shuffle((1L to nRows.toLong).toVector).toArray
    nextNewKey = nRows + 1L

    val puts = (1L to nRows.toLong).map(k => newRowPut(k, 1L))
    t.put(puts.map(_._1), 1L)
    puts.foreach(_._2.apply())
    versionAtStart = g.catalog.currentManifest(Table).version
  }

  /** A Put of every column of row `k` and the model update to apply once
    * the write is acknowledged. */
  private def newRowPut(k: Long, ts: Long): (Put, () => Unit) = {
    val vals = Seq(
      "c" -> "o_custkey" -> (1 + rnd.nextInt(15000)).toString,
      "c" -> "o_totalprice" -> f"${rnd.nextInt(50000000) / 100.0}%.2f",
      "c" -> "o_orderstatus" -> Seq("F", "O", "P")(rnd.nextInt(3)),
      "c" -> "o_comment" -> value(20 + rnd.nextInt(40)),
      "h" -> "st" -> Seq("new", "open", "done")(rnd.nextInt(3)))
    val p = vals.foldLeft(Put(Bytes.toBytes(k))) { case (p, ((f, q), v)) =>
      p.add(f, Bytes.toBytes(q), ts, v.getBytes(UTF_8))
    }
    (p, () => vals.foreach { case ((f, q), v) => model.put(k, f, q, ts, v) })
  }

  private def zipfKey(): Long =
    if (recent.nonEmpty && rnd.nextDouble() < 0.2) recent(rnd.nextInt(recent.size))
    else {
      val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
      rankToKey(math.min(nRows - 1, if (i >= 0) i else -i - 1))
    }

  private def touched(k: Long): Unit = {
    recent.enqueue(k)
    if (recent.size > 64) recent.dequeue()
  }

  private def cellsOf(rows: Array[Row]): Set[(Long, String, String, Long, String)] =
    rows.map { r =>
      (Bytes.toLong(r.getAs[Array[Byte]]("row")), r.getAs[String]("family"),
        new String(r.getAs[Array[Byte]]("qualifier"), UTF_8), r.getAs[Long]("ts"),
        new String(r.getAs[Array[Byte]]("value"), UTF_8))
    }.toSet

  private def expected(keys: Iterable[Long], versions: Int) =
    keys.flatMap(k => model.visible(k, versions).map(c => (k, c._1, c._2, c._3, c._4))).toSet

  /** Runs a read through the facade: `build` makes the DataFrame (catalog
    * reads, Resolve planning), `read.exec` runs it. */
  private def read(kind: String, build: => org.apache.spark.sql.DataFrame)(
      check: Array[Row] => Unit): Unit = {
    ctx.op(kind) {
      val df = ctx.span("read.build")(build)
      val rows = ctx.span("read.exec")(df.collect())
      ctx.sample("read.rows_returned", rows.length)
      check(rows)
    }
    if (ctx.tracer.enabled) probeCatalog()
  }

  /** Traced run only: the catalog calls the facade makes inside every
    * read, timed on their own right after the read. */
  private def probeCatalog(): Unit = {
    val m = ctx.span("catalog.manifest")(g.catalog.currentManifest(Table))
    ctx.sample("catalog.data_dirs", m.dataDirs.size)
    val cells = ctx.span("catalog.read")(t.cells)
    ctx.sample("catalog.files_listed", cells.inputFiles.length)
  }

  private def get(): Unit = {
    val k = zipfKey()
    read("get", t.get(Get(Bytes.toBytes(k)).setMaxVersions(MaxVersions))) { rows =>
      val got = cellsOf(rows)
      val want = expected(Seq(k), MaxVersions)
      ctx.check(got == want, s"get $k: got ${got.size} cells, want ${want.size}")
    }
  }

  private def multiGet(): Unit = {
    val keys = Seq.fill(10)(zipfKey()).distinct
    read("multiget", t.multiGet(keys.map(Bytes.toBytes))) { rows =>
      val got = cellsOf(rows)
      val want = expected(keys, 1)
      ctx.check(got == want, s"multiGet: got ${got.size} cells, want ${want.size}")
    }
  }

  private def range(): Unit = {
    val k = zipfKey()
    read("range", t.scan(Scan().setStartRow(Bytes.toBytes(k))
        .setStopRow(Bytes.toBytes(k + 100)))) { rows =>
      val got = cellsOf(rows)
      val want = expected(model.rows.range(k, k + 100), 1)
      ctx.check(got == want, s"range $k: got ${got.size} cells, want ${want.size}")
    }
  }

  private def filterScan(): Unit = {
    val k = zipfKey()
    val status = Seq("F", "O", "P")(rnd.nextInt(3))
    read("filter", t.scan(Scan().setStartRow(Bytes.toBytes(k))
        .setStopRow(Bytes.toBytes(k + FilterSpan))
        .setFilter(SingleColumnValueFilter("c", Bytes.toBytes("o_orderstatus"),
          CompareOp.EQUAL, BinaryComparator(Bytes.toBytes(status)))))) { rows =>
      val got = cellsOf(rows)
      val want = model.rows.range(k, k + FilterSpan).toSeq.flatMap { r =>
        val vis = model.visible(r, 1)
        val st = vis.find(c => c._1 == "c" && c._2 == "o_orderstatus")
        if (vis.nonEmpty && st.forall(_._4 == status))
          vis.map(c => (r, c._1, c._2, c._3, c._4))
        else Nil
      }.toSet
      ctx.check(got == want, s"filter $k: got ${got.size} cells, want ${want.size}")
    }
  }

  private def putBatch(): Unit = {
    val ts = now()
    val keys = Seq.fill(PutBatch)(
      if (rnd.nextDouble() < 0.2) { nextNewKey += 1; nextNewKey - 1 } else zipfKey()
    ).distinct
    val puts = keys.map { k =>
      if (!model.rows.contains(k)) newRowPut(k, ts)
      else {
        val v1 = f"${rnd.nextInt(50000000) / 100.0}%.2f"
        val v2 = Seq("F", "O", "P")(rnd.nextInt(3))
        val v3 = Seq("new", "open", "done")(rnd.nextInt(3))
        val p = Put(Bytes.toBytes(k))
          .add("c", Bytes.toBytes("o_totalprice"), ts, v1.getBytes(UTF_8))
          .add("c", Bytes.toBytes("o_orderstatus"), ts, v2.getBytes(UTF_8))
          .add("h", Bytes.toBytes("st"), ts, v3.getBytes(UTF_8))
        (p, () => {
          model.put(k, "c", "o_totalprice", ts, v1)
          model.put(k, "c", "o_orderstatus", ts, v2)
          model.put(k, "h", "st", ts, v3)
        })
      }
    }
    ctx.op("put") {
      ctx.span("write.put")(t.put(puts.map(_._1), ts))
      puts.foreach(_._2.apply())
      keys.foreach(touched)
      ctx.sample("write.user_bytes", puts.map(_._1.cells.map(c =>
        c.row.length + c.qualifier.length + c.value.length).sum).sum.toDouble)
    }
  }

  private def deleteBatch(): Unit = {
    val ts = now()
    val keys = Seq.fill(DeleteBatch)(zipfKey()).distinct
    val dels = keys.map(k => Delete(Bytes.toBytes(k)).deleteFamily("c", ts).deleteFamily("h", ts))
    ctx.op("delete") {
      ctx.span("write.delete")(t.delete(dels, ts))
      keys.foreach { k => Families.foreach(f => model.deleteFamily(k, f, ts)); touched(k) }
      ctx.sample("write.user_bytes", dels.map(_.cells.map(c =>
        c.row.length + c.qualifier.length).sum).sum.toDouble)
    }
  }

  /** Snapshot, incremental export against the previous export, replicate
    * the change feed, minor-compact on every second cycle, drop the
    * previous snapshot (its export stays as the next export's base); the
    * replica's row count must match the model. A compaction here folds
    * every dir of the table, so only the cycle before one still
    * references dirs the previous export holds and exports incrementally. */
  private def shipCycle(): Unit = ctx.op("ship", client = false) {
    cycle += 1
    val snap = s"ship$cycle"
    val exportDir = s"$root/_exports/$snap"
    val base = exports.lastOption.map(_._2)
    val v0 = g.catalog.currentManifest(Table).version
    ctx.sample("streaming.lag_versions", (v0 - shippedVersion).toDouble)
    ctx.span("snapshot.create")(g.snapshot(snap, Table, now()))
    ctx.span("snapshot.export")(g.exportSnapshot(snap, exportDir, base))
    ctx.sample("snapshot.export_bytes", dirBytes(exportDir).toDouble)
    // dirs the exported manifest references in place, outside its own dir
    val exported = exportedDirs(exportDir)
    val own = new org.apache.hadoop.fs.Path(exportDir).toUri.getPath + "/"
    ctx.sample("snapshot.shared_dir_ratio",
      exported.count(d => !new org.apache.hadoop.fs.Path(d).toUri.getPath.startsWith(own))
        .toDouble / math.max(1, exported.size))
    exports.enqueue(snap -> exportDir)

    val shipped = ctx.span("streaming.replicate") {
      val q = Replication.replicate(g.readStream(Table, Int.MaxValue), g.catalog, Replica, replicaCkpt)
      try q.awaitTermination() finally q.stop()
      q.recentProgress.map(_.numInputRows).sum
    }
    ctx.sample("streaming.rows_shipped", shipped.toDouble)
    shippedVersion = v0

    val count = ctx.span("jobs.row_count")(graft.jobs.Jobs.rowCount(g.table(Replica).cells))
    val live = model.liveRows
    ctx.check(count == live, s"replica has $count live rows, model $live")

    if (cycle % 2 == 0) ctx.span("write.compact")(t.minorCompact(now()))
    if (exports.size > 1) {
      val (old, _) = exports.dequeue()
      ctx.span("snapshot.delete")(g.deleteSnapshot(old))
    }
  }

  /** Data dirs of the snapshot manifest an export wrote. */
  private def exportedDirs(exportDir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(exportDir, "snapshotinfo.json")
    val fs = p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try graft.catalog.ManifestJson.read(
      new String(in.readAllBytes(), UTF_8)).dataDirs
    finally in.close()
  }

  /** Bytes under a directory or data-dir URI. */
  private def dirBytes(dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  def warmup(): Unit = {
    get(); multiGet(); range(); filterScan(); putBatch(); deleteBatch()
    shipCycle()
  }

  /** A fixed sequence — 12 reads, 2 writes — then one ship cycle. The
    * seed picks the keys; the order is fixed so that every round, on
    * every seed, reads the same mix of fresh and settled state. */
  def round(): Unit = {
    get(); range(); multiGet(); get(); filterScan(); get(); range()
    putBatch(); multiGet(); get(); range(); get(); deleteBatch(); get()
    shipCycle()
  }

  override def finish(): Unit = {
    val m = g.catalog.currentManifest(Table)
    ctx.sample("catalog.versions", (m.version - versionAtStart).toDouble)
    val onDisk = m.dataDirs.map(dirBytes).sum
    ctx.sample("write.space_per_live_byte", onDisk.toDouble / math.max(1L, model.liveBytes))
  }

  override def endToEnd: Seq[(String, Double, String)] = {
    def p50(k: String => Boolean) = Stats.pct(ctx.lat.of(k), 50)
    val reads = Set("get", "multiget", "range", "filter")
    Seq(
      ("read_p50_ms", p50(reads), "ms"),
      ("read_tail_ms", Stats.tail(ctx.lat.of(reads))._2, "ms"),
      ("write_p50_ms", p50(Set("put", "delete")), "ms"),
      ("ship_p50_ms", p50(_ == "~ship"), "ms"))
  }
}

object KvMixed {
  val Table = "kv"
  val Replica = "kv_replica"
  val Families = Seq("c", "h")
  val MaxVersions = 3
  val FilterSpan = 1000L
  val PutBatch = 20
  val DeleteBatch = 5
}
