package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.codahale.metrics.{Histogram, Reservoir, Snapshot}

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * anchored once so benchmark spans and Spark's listener timestamps
  * (`System.currentTimeMillis`) share one timeline. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs: Double = baseMs + (System.nanoTime() - baseNano) / 1e6
}

/** Half-open interval arithmetic over (start, end) pairs in ms. */
object Intervals {
  type Iv = (Double, Double)

  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(iv => iv._2 > iv._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  def clip(ivs: Seq[Iv], lo: Double, hi: Double): Seq[Iv] =
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(iv => iv._2 > iv._1)

  def length(ivs: Seq[Iv]): Double = union(ivs).map(iv => iv._2 - iv._1).sum

  /** `a` minus every interval of `b`. */
  def minus(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] = {
    val cut = union(b)
    union(a).flatMap { case (s0, e0) =>
      val out = mutable.ArrayBuffer[Iv]()
      var s = s0
      cut.foreach { case (cs, ce) =>
        if (ce > s && cs < e0) {
          if (cs > s) out += ((s, cs))
          s = math.max(s, ce)
        }
      }
      if (s < e0) out += ((s, e0))
      out.toSeq
    }
  }
}

/** The traced run's collector. Installed only when `--trace 1`: a
  * `SparkListener` (jobs, stages, task metrics), a `QueryExecutionListener`
  * (Catalyst phase intervals from `qe.tracker.phases`), a
  * `StreamingQueryListener` (micro-batch progress) and before/after reads of
  * the static `CodegenMetrics` / `HiveCatalogMetrics` sources around each
  * op. Events are kept raw in memory and attributed to ops only in
  * [[finish]], after the listener bus has drained: a job belongs to the op
  * whose job group it carries, else to the op whose time window holds its
  * start (pooled and streaming threads carry other or stale groups). */
final class Tracer(spark: SparkSession, cores: Int) {
  import Intervals._
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val taskSums = mutable.Map[Int, TaskSums]()
  private val execs = mutable.ArrayBuffer[Exec]()
  private val batches = mutable.ArrayBuffer[Batch]()
  private val opRecs = mutable.ArrayBuffer[OpRec]()
  private val wraps = mutable.ArrayBuffer[Wrap]()

  val GroupPrefix = "graftbench-op-"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, group, e.time.toDouble, e.time.toDouble,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      for (s <- si.submissionTime; c <- si.completionTime)
        stages += Stage(si.stageId, s.toDouble, c.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      Option(e.taskMetrics).foreach { m =>
        val t = taskSums.getOrElseUpdate(e.stageId, new TaskSums)
        t.tasks += 1
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.deserMs += m.executorDeserializeTime
        t.gcMs += m.jvmGCTime
        t.inputB += m.inputMetrics.bytesRead
        t.shWriteB += m.shuffleWriteMetrics.bytesWritten
        t.shWriteNs += m.shuffleWriteMetrics.writeTime
        t.shReadB += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      execs += Exec(qe.tracker.phases.toSeq.map { case (n, p) =>
        (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) })
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val obs = p.observedMetrics.asScala
        def obsLong(name: String, field: String): Long =
          obs.get(name).map(r => r.getAs[Long](field)).getOrElse(0L)
        batches += Batch(
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          obsLong("intake", "n_in"), obsLong("gated", "n_gated"))
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  // ---- op boundaries, called by the workload's op loop ----------------

  private val compileMsSum = ExactSum.of(CodegenMetrics.METRIC_COMPILATION_TIME)
  private val classBytesSum = ExactSum.of(CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE)
  private def codegenNow: (Long, Double, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      compileMsSum.sum.toDouble, classBytesSum.sum.toDouble)
  private def hiveNow: (Long, Long) =
    (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)

  // read from the stream thread by `wrap`
  @volatile private var openOp: Option[(Int, String, Double, (Long, Double, Double), (Long, Long))] = None

  def opStart(idx: Int, name: String): Unit = {
    spark.sparkContext.setJobGroup(GroupPrefix + idx, name, interruptOnCancel = false)
    openOp = Some((idx, name, Clock.nowMs, codegenNow, hiveNow))
  }

  def opEnd(): Unit = {
    val end = Clock.nowMs
    spark.sparkContext.clearJobGroup()
    openOp.foreach { case (idx, name, start, cg0, h0) =>
      val cg1 = codegenNow; val h1 = hiveNow
      synchronized {
        opRecs += OpRec(idx, name, start, end,
          (cg1._1 - cg0._1, cg1._2 - cg0._2, cg1._3 - cg0._3),
          (h1._1 - h0._1, h1._2 - h0._2), Map.empty)
      }
    }
    openOp = None
  }

  /** Adds op-level measurements known only after the op (state sizes). */
  def addExtra(idx: Int, extra: Map[String, Double]): Unit = synchronized {
    val i = opRecs.lastIndexWhere(_.idx == idx)
    if (i >= 0) opRecs(i) = opRecs(i).copy(extra = opRecs(i).extra ++ extra)
  }

  /** A benchmark wrapper span around a call into one of graft's layers. */
  def wrap[T](layer: String, name: String)(body: => T): T = {
    val idx = openOp.map(_._1).getOrElse(-1)
    val s = Clock.nowMs
    try body finally synchronized { wraps += Wrap(idx, name, layer, s, Clock.nowMs) }
  }

  // ---- attribution ----------------------------------------------------

  /** Per-layer metrics (mean per op, ratios of totals) plus the span file.
    * Every op's wall is split into layer self times by a priority sweep:
    * stage-active time (split into executor and shuffle by the tasks'
    * shuffle share) > Catalyst phases > job-active time without a running
    * stage (scheduler) > the benchmark's wrapper spans (operators >
    * queries > streaming micro-batch); what no span covers is the
    * residual. Codegen has no intervals in Spark's metric source, so its
    * compile time is carved out of the wrapper and residual time,
    * pro rata. Self times plus the residual equal the op wall. */
  def finish(spansPath: String): Map[String, Double] = {
    org.apache.spark.graft.ListenerBridge.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    synchronized { attribute(spansPath) }
  }

  private def attribute(spansPath: String): Map[String, Double] = {
    val ops = opRecs.toSeq.sortBy(_.start)
    def opAt(t: Double): Int =
      ops.find(o => t >= o.start && t <= o.end).map(_.idx).getOrElse(-1)
    val jobOp: Map[Int, Int] = jobs.values.map { j =>
      val byGroup =
        if (j.group.startsWith(GroupPrefix))
          scala.util.Try(j.group.stripPrefix(GroupPrefix).toInt).toOption
        else None
      // a stale group (pooled thread) shows as a job outside its op's window
      val idx = byGroup.filter(i => ops.exists(o =>
        o.idx == i && j.start >= o.start && j.start <= o.end)).getOrElse(opAt(j.start))
      j.id -> idx
    }.toMap
    val stageOp = mutable.Map[Int, Int]()
    jobs.values.foreach(j => j.stages.foreach(s => stageOp.getOrElseUpdate(s, jobOp(j.id))))

    val out = new java.io.PrintWriter(spansPath, "UTF-8")
    var nextId = 0L
    def span(name: String, layer: String, op: Int, s: Double, e: Double,
        parent: Long): Long = {
      nextId += 1
      out.println(Json.obj("id" -> nextId, "name" -> name, "layer" -> layer,
        "op" -> op, "start_ms" -> s, "end_ms" -> e, "parent" -> parent))
      nextId
    }

    val tot = mutable.Map[String, Double]().withDefaultValue(0.0)
    // curation-only keys read 0 on other workloads
    Seq("bloom", "index", "para").foreach(t => tot(s"operators.lock_hold_ms.$t") = 0.0)
    def add(k: String, v: Double): Unit = tot(k) = tot(k) + v
    var maxErr = 0.0
    val walls = mutable.ArrayBuffer[Double]()
    ops.foreach { o =>
      val (s, e) = (o.start, o.end)
      val wall = e - s
      walls += wall
      val opSpan = span(o.name, "op", o.idx, s, e, 0L)
      val myJobs = jobs.values.filter(j => jobOp(j.id) == o.idx).toSeq
      val jobIv = clip(myJobs.map(j => (j.start, j.end)), s, e)
      myJobs.foreach(j => span(s"job ${j.id}", "scheduler", o.idx, j.start, j.end, opSpan))
      val myStages = stages.filter(st => stageOp.get(st.id).contains(o.idx)).toSeq
      myStages.foreach(st => span(s"stage ${st.id}", "scheduler", o.idx, st.start, st.end, opSpan))
      val stageIv = union(clip(myStages.map(st => (st.start, st.end)), s, e))
      val myExecs = execs.filter(x => x.phases.nonEmpty &&
        opAt(x.phases.map(_._2).min) == o.idx).toSeq
      myExecs.foreach(_.phases.foreach { case (n, ps, pe) =>
        span(s"catalyst.$n", "catalyst", o.idx, ps, pe, opSpan) })
      val catIv = clip(myExecs.flatMap(_.phases.map(p => (p._2, p._3))), s, e)
      val myWraps = wraps.filter(_.op == o.idx).toSeq
      myWraps.foreach(w => span(w.name, w.layer, o.idx, w.start, w.end, opSpan))
      val myBatches = batches.filter(b => opAt(b.start) == o.idx).toSeq
      myBatches.foreach { b =>
        span("micro-batch", "streaming", o.idx, b.start,
          b.start + b.durations.getOrElse("triggerExecution", 0L), opSpan) }

      // priority sweep
      val stageT = length(stageIv)
      val catOnly = minus(catIv, stageIv)
      val schedOnly = minus(minus(jobIv, stageIv), catIv)
      var covered = union(stageIv ++ catIv ++ jobIv)
      def claim(ivs: Seq[Iv]): Double = {
        val mine = minus(clip(ivs, s, e), covered)
        covered = union(covered ++ mine)
        length(mine)
      }
      val opsT = claim(myWraps.filter(_.layer == "operators").map(w => (w.start, w.end)))
      val qT = claim(myWraps.filter(_.layer == "queries").map(w => (w.start, w.end)))
      val stT = claim(myBatches.map(b =>
        (b.start, b.start + b.durations.getOrElse("triggerExecution", 0L))))
      val resT = wall - length(covered)
      val carveBase = opsT + qT + stT + resT
      val cgSelf = math.min(o.codegen._2, math.max(carveBase, 0.0))
      val keep = if (carveBase > 0) 1.0 - cgSelf / carveBase else 1.0
      val sums = myStages.flatMap(st => taskSums.get(st.id))
      val runMs = sums.map(_.runMs).sum.toDouble
      val shMs = sums.map(t => t.shWriteNs / 1e6 + t.fetchWaitMs).sum
      val shFrac = if (runMs > 0) math.min(1.0, shMs / runMs) else 0.0
      val self = Seq(
        "executor" -> stageT * (1 - shFrac), "shuffle" -> stageT * shFrac,
        "catalyst" -> length(catOnly), "scheduler" -> length(schedOnly),
        "codegen" -> cgSelf, "operators" -> opsT * keep, "queries" -> qT * keep,
        "streaming" -> stT * keep, "residual" -> resT * keep)
      val err = math.abs(self.map(_._2).sum - wall)
      maxErr = math.max(maxErr, err)
      out.println(Json.obj("op" -> o.idx, "name" -> o.name, "wall_ms" -> wall,
        "self_ms" -> Json.obj(self: _*), "reconcile_err_ms" -> err))
      self.foreach { case (k, v) => add(s"self.${k}_ms", v) }

      // per-layer counters
      val constructIv = myWraps.filter(_.layer == "queries").map(w => (w.start, w.end))
      add("queries.construct_ms", constructIv.map(iv => iv._2 - iv._1).sum)
      add("queries.eager_jobs", myJobs.count(j =>
        constructIv.exists(iv => j.start >= iv._1 && j.start <= iv._2)).toDouble)
      add("queries.files_listed", o.hive._1.toDouble)
      add("queries.file_cache_hits", o.hive._2.toDouble)
      Seq("analysis", "optimization", "planning").foreach { ph =>
        add(s"catalyst.${ph}_ms", myExecs.flatMap(_.phases.filter(_._1 == ph))
          .map(p => p._3 - p._2).sum) }
      add("catalyst.executions", myExecs.size.toDouble)
      add("codegen.compiles", o.codegen._1.toDouble)
      add("codegen.compile_ms", o.codegen._2)
      add("codegen.class_kb", o.codegen._3 / 1024.0)
      add("scheduler.jobs", myJobs.size.toDouble)
      add("scheduler.stages", myStages.size.toDouble)
      add("scheduler.tasks", sums.map(_.tasks).sum.toDouble)
      add("scheduler.stage_active_ms", stageT)
      add("scheduler.driver_gap_ms", wall - stageT)
      add("executor.run_ms", runMs)
      add("executor.cpu_ms", sums.map(_.cpuNs).sum / 1e6)
      add("executor.deser_ms", sums.map(_.deserMs).sum.toDouble)
      add("executor.gc_ms", sums.map(_.gcMs).sum.toDouble)
      add("executor.input_mb", sums.map(_.inputB).sum / 1048576.0)
      add("shuffle.write_mb", sums.map(_.shWriteB).sum / 1048576.0)
      add("shuffle.read_mb", sums.map(_.shReadB).sum / 1048576.0)
      add("shuffle.write_ms", sums.map(_.shWriteNs).sum / 1e6)
      add("shuffle.fetch_wait_ms", sums.map(_.fetchWaitMs).sum.toDouble)
      add("shuffle.spill_mb", sums.map(_.spillB).sum / 1048576.0)
      Seq("latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
        "addBatch" -> "add_batch_ms", "walCommit" -> "wal_commit_ms").foreach {
        case (k, m) => add(s"streaming.$m", myBatches.map(_.durations.getOrElse(k, 0L)).sum.toDouble) }
      add("streaming.intake_rows", myBatches.map(_.intake).sum.toDouble)
      add("streaming.gated_rows", myBatches.map(_.gated).sum.toDouble)
      add("operators.pipeline_batch_ms", myWraps.filter(_.layer == "operators")
        .map(w => w.end - w.start).sum)
      o.extra.foreach { case (k, v) => add(k, v) }
    }
    out.close()

    val n = math.max(ops.size, 1).toDouble
    val ratios = Map(
      "scheduler.slot_util" -> (if (tot("scheduler.stage_active_ms") > 0)
        tot("executor.run_ms") / (tot("scheduler.stage_active_ms") * cores) else 0.0),
      "streaming.gate_pass_ratio" -> (if (tot("streaming.intake_rows") > 0)
        tot("streaming.gated_rows") / tot("streaming.intake_rows") else 0.0),
      "operators.admit_ratio" -> (if (tot("streaming.gated_rows") > 0)
        tot("operators.admitted_rows") / tot("streaming.gated_rows") else 0.0))
    // state sizes are levels, not per-op work: report the last op's
    val levels = Seq("operators.state_mb", "operators.state_files").map { k =>
      k -> ops.lastOption.flatMap(_.extra.get(k)).getOrElse(0.0) }.toMap
    val sorted = walls.sorted
    val p50 = if (sorted.isEmpty) 0.0 else Stats.percentile(sorted.toSeq, 50)
    tot.toMap.filterNot(kv => levels.contains(kv._1) || kv._1 == "operators.admitted_rows")
      .map { case (k, v) => k -> v / n } ++ ratios ++ levels ++ Map(
        "trace.ops" -> ops.size.toDouble,
        "trace.op_p50_ms" -> p50,
        "trace.reconcile_err_ms" -> maxErr)
  }
}

/** An exact running total of a static histogram's values. A codahale
  * `Histogram` keeps only a sample (1028 entries in the default reservoir),
  * so a sum read back from its snapshot is exact only until the JVM's
  * 1029th value. `of` wraps the histogram's reservoir, once, in one that
  * also adds up every value it is given; sums count from that moment on. */
final class ExactSum private (inner: Reservoir) extends Reservoir {
  private val total = new java.util.concurrent.atomic.LongAdder
  def sum: Long = total.sum()
  override def size(): Int = inner.size()
  override def update(v: Long): Unit = { total.add(v); inner.update(v) }
  override def getSnapshot: Snapshot = inner.getSnapshot
}

object ExactSum {
  def of(h: Histogram): ExactSum = synchronized {
    val f = classOf[Histogram].getDeclaredField("reservoir")
    f.setAccessible(true)
    f.get(h) match {
      case s: ExactSum => s
      case r: Reservoir => val s = new ExactSum(r); f.set(h, s); s
    }
  }
}

object Tracer {
  private[graftbench] final case class Job(id: Int, group: String, start: Double,
      var end: Double, stages: Seq[Int])
  private[graftbench] final case class Stage(id: Int, start: Double, end: Double)
  private[graftbench] final class TaskSums {
    var tasks, runMs, cpuNs, deserMs, gcMs, inputB, shWriteB, shWriteNs,
      shReadB, fetchWaitMs, spillB = 0L
  }
  private[graftbench] final case class Exec(phases: Seq[(String, Double, Double)])
  private[graftbench] final case class Batch(start: Double, durations: Map[String, Long],
      intake: Long, gated: Long)
  private[graftbench] final case class OpRec(idx: Int, name: String, start: Double,
      end: Double, codegen: (Long, Double, Double),
      hive: (Long, Long), extra: Map[String, Double])
  private[graftbench] final case class Wrap(op: Int, name: String, layer: String,
      start: Double, end: Double)
}
