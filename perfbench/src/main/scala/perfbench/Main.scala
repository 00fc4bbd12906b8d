package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A wrong answer: the program returned something the benchmark's own
  * oracle disagrees with. Counted as a failed operation. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

/** What a workload sees of the run: the session, the tracer, the seed and
  * the bookkeeping of operations, failures and sampled gauges. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val scale: Double, val work: Path, val cores: Int) {
  val lat = new Latencies
  var attempted = 0L
  var failed = 0L
  /** Time spent in operations, maintenance included, in ns. */
  var busyNs = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var opSeq = 0L
  private var roots = 0

  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** Runs one operation and records its latency under `kind`. A thrown
    * exception or a failed check counts the operation as failed; it is
    * reported on stderr and the run goes on. Operations with
    * `client = false` (maintenance) are timed but left out of the client
    * latency and throughput figures. */
  def op(kind: String, client: Boolean = true)(f: => Unit): Unit = {
    opSeq += 1
    tracer.beginOp(opSeq)
    attempted += 1
    val t0 = System.nanoTime()
    val ok =
      try { tracer.span(s"op.$kind")(f); true }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] $kind failed: $e")
        false
      }
    val dt = System.nanoTime() - t0
    busyNs += dt
    if (!ok) failed += 1
    if (ok || !client) lat.add(if (client) kind else s"~$kind", dt / 1e6)
  }

  /** Checks answers outside any timed operation; a failure counts. */
  def verify(what: String)(f: => Unit): Unit =
    try f
    catch { case NonFatal(e) =>
      System.err.println(s"[perfbench] $what failed: $e")
      failed += 1
    }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) throw new WrongAnswer(msg)

  /** A fresh, empty directory for one set-up's tables. */
  def freshRoot(tag: String): String = {
    roots += 1
    val p = work.resolve(s"roots/$tag-$roots")
    Files.createDirectories(p)
    p.toString
  }

  def resetCounters(): Unit = {
    lat.clear(); attempted = 0; failed = 0; busyNs = 0; samples.clear()
  }
}

/** A workload: fresh set-up under a root, warm-up, and rounds of
  * operations that check every answer. */
trait Workload {
  def setup(root: String): Unit
  def warmup(): Unit
  def round(): Unit
  /** Samples taken once the measured rounds are over. */
  def finish(): Unit = ()
  /** Workload-specific end-to-end figures: (name, value, unit). */
  def endToEnd: Seq[(String, Double, String)] = Nil
}

object Main {
  private def usage(): Nothing = {
    System.err.println(s"usage: perfbench.Main --workload <${Workloads.names.mkString("|")}> " +
      "--seed <n> --seconds <s> --trace <0|1> --work <dir> [--scale <x>] [--setups <n>]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    val workload = args.getOrElse("workload", usage())
    val seed = args.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = args.get("seconds").map(_.toDouble).getOrElse(usage())
    val trace = args.get("trace").map(_ == "1").getOrElse(usage())
    val work = Paths.get(args.getOrElse("work", usage())).toAbsolutePath
    val scale = args.get("scale").map(_.toDouble).getOrElse(1.0)
    val setups = args.get("setups").map(_.toInt).getOrElse(2)
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession
      .builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation",
        work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, seed, scale, work, cores)

    // Build the tables `setups` times, each under a fresh root; the last
    // build is the one measured, after one warm-up. Warm-up failures
    // count: the counters are reset only after they are carried over.
    var w: Workload = null
    val buildS = (1 to setups).map { _ =>
      val t0 = System.nanoTime()
      w = Workloads.make(workload, ctx)
      w.setup(ctx.freshRoot(workload))
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = {
      val t0 = System.nanoTime()
      w.warmup()
      (System.nanoTime() - t0) / 1e9
    }
    val warmAttempted = ctx.attempted
    val warmFailed = ctx.failed
    ctx.resetCounters()
    tracer.clear()

    // Closed loop, one client: whole rounds until the time is up.
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var rounds = 0
    while (System.nanoTime() < deadline) { w.round(); rounds += 1 }
    val wallNs = System.nanoTime() - t0
    w.finish()
    tracer.close()

    val out = mutable.ArrayBuffer.empty[(String, Double, String)]
    val client = ctx.lat.of(k => !k.startsWith("~"))
    out += (("setup_s", sessionS + Stats.median(buildS) + warmS, "s"))
    out += (("ops_per_s", client.size / (ctx.busyNs / 1e9), "1/s"))
    out += (("p50_ms", Stats.pct(client, 50), "ms"))
    val (tp, tv, tn) = Stats.tail(client)
    out += (("tail_ms", tv, "ms"))
    out += (("tail_pct", tp, "%"))
    out += (("tail_beyond", tn.toDouble, "count"))
    val attempted = ctx.attempted + warmAttempted
    val failed = ctx.failed + warmFailed
    out += (("failed_ratio", failed.toDouble / math.max(1L, attempted), "ratio"))
    out += (("mem_peak_mb", Mem.peakMb(), "MB"))
    out ++= w.endToEnd
    if (trace) {
      out ++= Layers.metrics(ctx, wallNs)
      tracer.writeJsonLines(work.resolve("spans.jsonl"))
    }
    out.foreach { case (n, v, u) => println(Json.metric(n, v, u, workload, trace)) }
    println(s"""{"summary":{"workload":"$workload","seed":$seed,""" +
      s""""trace":${if (trace) 1 else 0},"rounds":$rounds,""" +
      s""""correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""builds_s":[${buildS.map(Json.num).mkString(",")}],""" +
      s""""warmup_s":${Json.num(warmS)},"session_s":${Json.num(sessionS)}}}""")
    spark.stop()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def metric(name: String, v: Double, unit: String, workload: String,
      trace: Boolean): String =
    s"""{"metric":"$name","value":${num(v)},"unit":"$unit",""" +
      s""""workload":"$workload","trace":${if (trace) 1 else 0}}"""
}

object Mem {
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else {
      val src = scala.io.Source.fromFile(status.toFile)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
      finally src.close()
    }
  }
}
