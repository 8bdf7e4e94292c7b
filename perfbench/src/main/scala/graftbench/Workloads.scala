package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.operators.{AggState, Generations}
import graft.streaming.CorpusStream

/** Calls into `SparkEntry.queries`: construction under the `queries`
  * wrapper span. */
object QueryCalls {
  def construct(ctx: Ctx, name: String, dir: String): DataFrame = {
    val fn = SparkEntry.queries(name)
    ctx.tracer match {
      case Some(t) => t.wrap("queries", "queries.construct")(fn(ctx.spark, dir))
      case None => fn(ctx.spark, dir)
    }
  }

  def writeOracleSql(dir: String, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    val body = names.filter(sql.contains).map(n => s"${Json.str(n)}:${Json.str(sql(n))}")
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), body.mkString("{", ",", "}"))
  }
}

/** `interactive`: distinct queries drawn from the whole catalog, each issued
  * once in seeded order against the sf0.01 sample — an analyst meeting
  * plans cold. An op is one query, from construction until its result is
  * written: the parquet output the oracle then checks, so the check covers
  * the timed execution itself and needs no second run. */
object Interactive {
  /** Warm-up queries (scan/aggregate, join, window, text): JVM, session
    * and code-path warm-up before the timed window, so its first draws do
    * not pay the cold JVM alone. Never drawn. */
  val WarmUp: Seq[String] = Seq("q02_filter_project", "q01_pricing_summary",
    "q21_semi_join", "q10_window_rank", "q30_token_stats")

  /** The committed per-query table (query, cost_ms, oracle_ms), measured
    * once on this workload's input at the commit that defined the
    * benchmark; restricted to the current catalog, warm-up excluded. */
  def table(csv: String): Vector[(String, Double, Double)] = {
    val src = scala.io.Source.fromFile(csv)
    try src.getLines().drop(1).map(_.split(",")).collect {
      case Array(q, cost, oracle) if SparkEntry.queries.contains(q) && !WarmUp.contains(q) =>
        (q, cost.toDouble, oracle.toDouble)
    }.toVector finally src.close()
  }

  /** Queries whose DuckDB oracle takes longer than this on the sf0.01
    * sample are checked against their oracle on the sf0.001 sample. An
    * oracle_ms of -1 marks an oracle that did not finish in 40 s even
    * there (q279's double recursive closure): such a query is rerun on
    * the small sample and checked rows-only, as `check_oracle.py` treats a
    * query without oracle SQL. */
  val SlowOracleMs = 2000.0

  /** The sample: the catalog, ordered by cost, is cut into `k` equal-count
    * strata and one query is drawn from each with a fixed draw seed, so a
    * k-query sample spans the whole cost range and is the same on every
    * run and commit; the run's seed shuffles the issue order (and draws
    * the data sample). A per-seed draw was measured first: its median
    * moved 25-35% between seeds, far beyond any bound worth gating on. */
  def draw(seed: Long, byCost: Seq[String], k: Int): Seq[String] = {
    val pick = new scala.util.Random(DrawSeed)
    val n = byCost.size
    val sample = (0 until k).map { i =>
      val (lo, hi) = (i * n / k, (i + 1) * n / k)
      byCost(lo + pick.nextInt(hi - lo))
    }
    new scala.util.Random(seed).shuffle(sample)
  }
  val DrawSeed = 0L

  def run(ctx: Ctx): Unit = {
    val input = ctx.opt("input")
    val tbl = table(ctx.opt("costs"))
    // one query per second of the timed window: about `seconds` of work
    val order = draw(ctx.seed, tbl.sortBy(t => (t._2, t._1)).map(_._1),
      math.max(2, math.round(ctx.seconds).toInt))
    val slowOracle = tbl.collect { case (q, _, o) if o > SlowOracleMs || o < 0 => q }.toSet
    val rowsOnly = tbl.collect { case (q, _, o) if o < 0 => q }.toSet
    def issue(q: String, data: String, out: String): Unit =
      QueryCalls.construct(ctx, q, data).write.mode("overwrite").parquet(s"$out/$q")
    val warm = s"${ctx.work}/warmup"
    WarmUp.foreach { q => issue(q, input, warm); ctx.releaseCaches() }
    val out = s"${ctx.work}/out"
    ctx.startTimed()
    order.foreach { q =>
      ctx.op(q)(issue(q, input, out))
      ctx.releaseCaches()
    }
    ctx.recordMemory()
    // correctness, untimed: the DuckDB oracle checks each timed query's own
    // output on the same generated tables; slow oracles check a rerun on the
    // sf0.001 sample of the same seed instead
    QueryCalls.writeOracleSql(out, order.filterNot(slowOracle))
    ctx.oracleDirs += ((input, out))
    val slow = order.filter(slowOracle)
    if (slow.nonEmpty) {
      val (small, outSmall) = (ctx.opt("small"), s"${ctx.work}/out_small")
      slow.foreach { q =>
        try issue(q, small, outSmall)
        catch { case e: Throwable => ctx.check(s"rerun $q", ok = false, Main.message(e)) }
        ctx.releaseCaches()
      }
      QueryCalls.writeOracleSql(outSmall, slow.filterNot(rowsOnly))
      ctx.oracleDirs += ((small, outSmall))
    }
  }
}

/** `curation`: the production stream, verbatim — `CorpusStream.curated`
  * into the `CorpusStream.pipelineBatch` sink, one checkpointed
  * `Trigger.AvailableNow` drain per wave. The first wave builds the
  * standing tables (set-up); an op is the drain of one later wave. The
  * timed window ends on a whole optimize cycle. */
object Curation {
  /** `pipelineBatch`'s optimize/publish cadence: every second batch
    * optimizes and publishes a generation. */
  val OptimizeEvery = 2

  private def tree(path: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
      else (f.length, 1L)
    val f = new File(path)
    if (f.exists) walk(f) else (0L, 0L)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val input = ctx.opt("input")
    // waves/manifest.csv: wave,file,docs,text_bytes (written by run.py)
    val manifest = scala.io.Source.fromFile(s"$input/waves/manifest.csv")
    val waves = try manifest.getLines().drop(1).map(_.split(",")).map(a =>
      (a(0).toInt, a(1), a(2).toLong, a(3).toLong)).toVector finally manifest.close()
    val st = s"${ctx.work}/state"
    val (feed, bloom, index, clusters, corpus, para) = (s"$st/feed", s"$st/bloom",
      s"$st/index", s"$st/clusters", s"$st/corpus", s"$st/para")
    new File(feed).mkdirs()
    val totalDocs = waves.map(_._3).sum
    // sized per doc count as PipeScaleMain sizes it: ~8 bits per expected
    // corpus 8-gram, prime modulus
    val bloomBits = java.math.BigInteger.valueOf(
      math.max(AggState.BloomDefaultBits, totalDocs * 33L * 8L))
      .nextProbablePrime().longValueExact()
    val sink: (DataFrame, Long) => Unit = { (batch, id) =>
      def call(): Unit = CorpusStream.pipelineBatch(bloom, index, clusters, corpus,
        OptimizeEvery, bloomBits = bloomBits, paraTable = para)(batch, id)
      ctx.tracer match {
        case Some(t) => t.wrap("operators", "operators.pipelineBatch")(call())
        case None => call()
      }
    }
    val schema = spark.read.parquet(s"$input/waves/${waves.head._2}").schema
    def corpusRows(): Long =
      if (new File(corpus).exists) spark.read.parquet(corpus).count() else 0L
    val tables = Seq("bloom" -> bloom, "index" -> index, "para" -> para)
      .map { case (k, p) => new File(p).getCanonicalPath -> k }.toMap

    var corpusCount = 0L
    var admittedTotal = 0L
    var drainedText = 0L
    var nonEmptyLo = 0; var nonEmptyHi = 0
    /** Drains wave `w` and reconciles its funnel: intake == docs delivered,
      * gated <= intake, admitted (corpus growth) <= gated. */
    def drain(w: Int, timed: Boolean): Unit = {
      val (_, file, docs, textBytes) = waves(w)
      Files.move(Paths.get(s"$input/waves/$file"), Paths.get(s"$feed/$file"),
        StandardCopyOption.ATOMIC_MOVE)
      var q: org.apache.spark.sql.streaming.StreamingQuery = null
      def body(): Unit = {
        val src = spark.readStream.schema(schema).parquet(feed)
          .withColumn("ingest_ts", col("ingest_ts").cast("timestamp"))
        q = CorpusStream.curated(src).writeStream
          .option("checkpointLocation", s"$st/checkpoint")
          .foreachBatch(sink)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      val r = if (timed) ctx.op(s"wave $w")(body())
        else OpResult(s"wave $w", 0, 0, ok = scala.util.Try(body()).isSuccess, "")
      val locks = Generations.drainLockHoldMs()
      def obs(name: String, field: String): Long = Option(q).toSeq
        .flatMap(_.recentProgress).flatMap(p => Option(p.observedMetrics.get(name)))
        .map(_.getAs[Long](field)).sum
      val (intake, gated) = (obs("intake", "n_in"), obs("gated", "n_gated"))
      val after = corpusRows()
      val admitted = after - corpusCount
      corpusCount = after
      admittedTotal += admitted
      drainedText += textBytes
      if (gated > 0) nonEmptyHi += 1
      if (admitted > 0) nonEmptyLo += 1
      val funnelOk = ctx.check(s"wave $w funnel",
        intake == docs && gated <= intake && admitted >= 0 && admitted <= gated,
        s"docs=$docs intake=$intake gated=$gated admitted=$admitted") && r.ok
      if (timed) {
        ctx.ops(ctx.ops.size - 1) = r.copy(ok = funnelOk, items = intake.toDouble,
          error = if (r.ok && !funnelOk) "funnel does not reconcile" else r.error)
        val (sBytes, sFiles) = Seq(bloom, index, para, clusters).map(tree)
          .foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
        ctx.tracer.foreach(_.addExtra(ctx.ops.size - 1, Map(
          "operators.state_mb" -> sBytes / 1048576.0,
          "operators.state_files" -> sFiles.toDouble,
          "operators.admitted_rows" -> admitted.toDouble) ++
          Seq("bloom", "index", "para").map { t => s"operators.lock_hold_ms.$t" ->
            locks.collect { case (p, ms) if tables.get(new File(p).getCanonicalPath)
              .contains(t) => ms.toDouble }.sum }))
        def tally(k: String, v: Long): Unit = ctx.extra(k) = ctx.extra.getOrElse(k, 0.0) + v
        tally("timed_gated", gated)
        tally("timed_admitted", admitted)
      }
    }

    drain(0, timed = false) // set-up: the first wave builds the standing tables
    ctx.check("setup wave admitted docs", admittedTotal > 0, s"admitted=$admittedTotal")
    val timedAdmitted0 = admittedTotal
    ctx.startTimed()
    // whole optimize cycles only: timed batch ids 1..k, k+1..2k, ... each
    // hold exactly one cadence batch (batchId % k == k - 1)
    var w = 1
    while (!ctx.timeUp && w + OptimizeEvery <= waves.size)
      (0 until OptimizeEvery).foreach { _ => drain(w, timed = true); w += 1 }
    ctx.recordMemory()

    // ---- funnel reconciliation, untimed ----
    val corpusDf = spark.read.parquet(corpus)
    val n = corpusDf.count()
    ctx.check("corpus rows == sum of admissions", n == admittedTotal,
      s"corpus=$n admitted=$admittedTotal")
    ctx.check("corpus doc_ids unique", corpusDf.select("doc_id").distinct().count() == n)
    val delivered = spark.read.parquet(feed).select("doc_id")
    ctx.check("corpus doc_ids within the input",
      corpusDf.select("doc_id").join(delivered, Seq("doc_id"), "left_anti").isEmpty)
    val ledgerRows = spark.read.parquet(s"$para/trim_ledger").count()
    ctx.check("trim ledger: one row per non-empty batch",
      ledgerRows >= nonEmptyLo && ledgerRows <= nonEmptyHi,
      s"rows=$ledgerRows admitting_batches=$nonEmptyLo gated_batches=$nonEmptyHi")
    val timedAdmitted = admittedTotal - timedAdmitted0
    ctx.check("timed admissions > 0", timedAdmitted > 0, s"admitted=$timedAdmitted")
    val stateBytes = Seq(bloom, index, para, clusters, corpus).map(tree(_)._1).sum
    ctx.extra("state_bytes") = stateBytes.toDouble
    ctx.extra("input_text_bytes") = drainedText.toDouble
  }
}
