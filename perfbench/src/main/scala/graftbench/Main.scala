package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One timed operation's outcome; `items` is the work it completed
  * (one query, or the docs a wave delivered). */
final case class OpResult(name: String, startMs: Double, wallMs: Double, ok: Boolean,
    error: String, items: Double = 1.0)

/** Shared run state: the session, the optional tracer, the timed window
  * and what the run has measured and checked so far. */
final class Ctx(val spark: SparkSession, val tracer: Option[Tracer],
    val opts: Map[String, String]) {
  def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
  val seconds: Double = opt("seconds").toDouble
  val seed: Long = opt("seed").toLong
  val work: String = opt("work")

  val ops = mutable.ArrayBuffer[OpResult]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val oracleDirs = mutable.ArrayBuffer[(String, String)]()
  val extra = mutable.LinkedHashMap[String, Double]()
  private var timedStartMs = -1.0
  var setupMs = 0.0
  var peakRssMb = 0.0
  var liveMb = 0.0

  def startTimed(): Unit = {
    timedStartMs = Clock.nowMs
    setupMs = timedStartMs - opt("t0-ms").toDouble
  }
  def timeUp: Boolean = Clock.nowMs - timedStartMs >= seconds * 1000.0

  /** Runs one closed-loop op: the next starts only after this returns.
    * A `body` that throws fails the op. */
  def op(name: String)(body: => Unit): OpResult = {
    val idx = ops.size
    tracer.foreach(_.opStart(idx, name))
    val t0 = Clock.nowMs
    val r = try { body; OpResult(name, t0, Clock.nowMs - t0, ok = true, "") }
      catch { case e: Throwable => OpResult(name, t0, Clock.nowMs - t0, ok = false, Main.message(e)) }
    tracer.foreach(_.opEnd())
    ops += r
    println(f"op ${r.name} ${r.wallMs}%.1f ms ok=${r.ok} ${r.error}")
    r
  }

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = {
    checks += ((name, ok, detail)); ok
  }

  /** Drops query-owned persists so each op starts from the same memory
    * state: Dataset caches and the RDD-level localCheckpoint blocks
    * `clearCache` does not cover. */
  def releaseCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** At the end of the timed phase: peak RSS so far (`VmHWM`), and the live
    * heap plus direct buffers after two full GCs 250 ms apart — the pause
    * lets Spark's ContextCleaner drop blocks whose owners the first GC
    * freed — i.e. the memory the workload retains (caches, pinned blocks,
    * standing state). */
  def recordMemory(): Unit = {
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    import scala.jdk.CollectionConverters._
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).foreach { l =>
      peakRssMb = l.split("\\s+")(1).toDouble / 1024.0 }
    finally src.close()
    System.gc(); Thread.sleep(250); System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val direct = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .filter(_.getName == "direct").map(_.getMemoryUsed).sum
    liveMb = (heap + direct) / 1048576.0
  }
}

/** Entry point launched by `perfbench/run.py`:
  * {{{
  * graftbench.Main --workload interactive|curation --input DIR
  *   --work DIR --seconds S --trace 0|1 --seed N --t0-ms MS
  *   [--small DIR --costs CSV]
  * }}}
  * Runs on `local[n]`, n the processors this JVM may use.
  * Writes `WORK/result.json` (ops, checks, oracle dirs, traced layer
  * metrics) and, traced, `WORK/spans.jsonl`. */
object Main {
  def message(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getName)
    e.getClass.getSimpleName + ": " + m.linesIterator.take(3).mkString(" | ").take(400)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val work = opts("work")
    // honours the process's CPU affinity
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (opts.get("trace").contains("1")) Some(new Tracer(spark, cores)) else None
    val ctx = new Ctx(spark, tracer, opts)
    // exit explicitly either way: a stray non-daemon thread must not keep
    // the JVM (and the run) alive after the result is written
    try run(ctx) catch { case e: Throwable =>
      e.printStackTrace(); sys.exit(1)
    }
    sys.exit(0)
  }

  private def run(ctx: Ctx): Unit = {
    val work = ctx.work
    ctx.opts("workload") match {
      case "interactive" => Interactive.run(ctx)
      case "curation" => Curation.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val layers = ctx.tracer.map(_.finish(s"$work/spans.jsonl")).getOrElse(Map.empty)
    val result = Json.obj(
      "setup_ms" -> ctx.setupMs,
      "peak_rss_mb" -> ctx.peakRssMb,
      "live_mb" -> ctx.liveMb,
      "ops" -> ctx.ops.map(o => Json.obj("name" -> o.name, "start_ms" -> o.startMs,
        "wall_ms" -> o.wallMs, "ok" -> o.ok, "error" -> o.error, "items" -> o.items)),
      "checks" -> ctx.checks.map { case (n, ok, d) =>
        Json.obj("name" -> n, "ok" -> ok, "detail" -> d) },
      "oracle_dirs" -> ctx.oracleDirs.map { case (d, o) =>
        Json.obj("data" -> d, "out" -> o) },
      "extra" -> ctx.extra.toMap,
      "layers" -> layers)
    java.nio.file.Files.writeString(new File(s"$work/result.json").toPath, result.text)
    ctx.spark.stop()
  }
}
