package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Locale

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-PHYSICAL-STAGE resource ledger for ANY SparkEntry query. When a
  * tier run reports residual spill, this names the stage it lives in
  * without rewriting the query as cumulative prefixes:
  * `SparkListenerStageCompleted` carries the stage's aggregated task
  * metrics plus the call-site name, so one run yields
  * (stage, wall, input, shuffle read/write, mem/disk spill) rows.
  *
  * ```
  * runMain graft.StageLedgerMain <queryName> <sfDir> <outJsonl>
  * ```
  *
  * Caveats (documented, not hidden): `peak_mem_sum` is the SUM of task
  * peaks (StageInfo aggregates accumulators), an upper bound on any one
  * task's footprint, not a max; stages from eager-materializing queries
  * (localCheckpoint jobs) are included — that is the point.
  */
object StageLedgerMain {

  private def jnum(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StageLedgerMain <queryName> <sfDir> <outJsonl>")
    val spark = GraftSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, args(0), args(1), args(2))
  }

  /** The ledger body, session-injected so the spec can drive it. */
  def run(spark: org.apache.spark.sql.SparkSession,
      qname: String, dir: String, outPath: String): Unit = {
    val fn = SparkEntry.queries.getOrElse(qname,
      sys.error(s"unknown query: $qname"))

    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null) {
          // first line of the call-site details = the user-code frame;
          // minimal JSON-string escape (backslash, quote, control chars) so
          // an odd call-site name can't produce an unparseable JSONL row
          val name = si.name.take(120).flatMap {
            case '\\' => "\\\\"
            case '"' => "'"
            case c if c < ' ' => " "
            case c => c.toString
          }
          rows.add(
            s"""{"stage":${si.stageId},"attempt":${si.attemptNumber},""" +
              s""""name":"$name","tasks":${si.numTasks},""" +
              s""""run_sec":${jnum(m.executorRunTime / 1000.0)},""" +
              s""""input_mb":${jnum(m.inputMetrics.bytesRead / 1048576.0)},""" +
              s""""sh_read_mb":${jnum(m.shuffleReadMetrics.totalBytesRead / 1048576.0)},""" +
              s""""sh_write_mb":${jnum(m.shuffleWriteMetrics.bytesWritten / 1048576.0)},""" +
              s""""spill_mem_mb":${jnum(m.memoryBytesSpilled / 1048576.0)},""" +
              s""""spill_disk_mb":${jnum(m.diskBytesSpilled / 1048576.0)},""" +
              s""""peak_mem_sum_mb":${jnum(m.peakExecutionMemory / 1048576.0)}}""")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val t0 = System.nanoTime()
    val wall =
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } finally {
        org.apache.spark.graft.ListenerBridge.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
      }

    import scala.jdk.CollectionConverters._
    val lines = rows.asScala.toSeq.sortBy { l =>
      val id = "\"stage\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt).getOrElse(-1)
      id
    }
    val all = lines :+
      s"""{"query":"$qname","sf_dir":"$dir","wall_sec":${jnum(wall)},"n_stages":${lines.size}}"""
    Files.write(Paths.get(outPath),
      all.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // console summary: the spilling stages, biggest first
    val spillers = lines.filter(_.contains("\"spill_disk_mb\":") )
      .map { l =>
        val d = "\"spill_disk_mb\":([0-9.]+)".r.findFirstMatchIn(l).map(_.group(1).toDouble).getOrElse(0.0)
        (d, l)
      }.filter(_._1 > 0.0).sortBy(-_._1)
    println(s"wrote $outPath (${lines.size} stages, wall ${jnum(wall)} s)")
    spillers.take(5).foreach { case (_, l) => println("SPILL " + l) }
    if (spillers.isEmpty) println("no stage spilled to disk")
  }
}
