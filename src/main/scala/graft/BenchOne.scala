package graft
import org.apache.spark.sql.SparkSession

/** Single-query bench: warmup at sf0.001, then min-of-3 noop writes at
  * the given SF dir — the inner loop for per-query plan iteration
  * without paying the full Bench sweep.
  *
  * Beside wall-clock, each pass reports LISTENER metrics that are
  * robust to ambient container noise (the r15 lesson: wall-clock A/B
  * on a shared host swings ±40%, while these move only when the PLAN
  * moves): job/stage counts, shuffle read+write bytes, and summed
  * executor CPU time — the primary local optimization signals.
  * Run: `sbt "runMain graft.BenchOne <query> [sfDir]"`. */
object BenchOne {

  private final class Metrics extends org.apache.spark.scheduler.SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = new java.util.concurrent.atomic.AtomicLong(0)
    val tasks = new java.util.concurrent.atomic.AtomicLong(0)
    val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    val runMs = new java.util.concurrent.atomic.AtomicLong(0)
    val shufR = new java.util.concurrent.atomic.AtomicLong(0)
    val shufW = new java.util.concurrent.atomic.AtomicLong(0)
    override def onJobStart(
        e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    // per-stage rollup for the BENCHONE_STAGES=1 breakdown: stageId ->
    // (tasks, cpuNs, shufR bytes, name)
    val byStage = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, Long, Long, String)]()
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        runMs.addAndGet(m.executorRunTime)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        byStage.merge(e.stageId,
          (1L, m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead, ""),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3, a._4))
      }
    }
    override def onStageSubmitted(
        e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
      byStage.merge(e.stageInfo.stageId,
        (0L, 0L, 0L, e.stageInfo.name.take(80)),
        (a, b) => (a._1, a._2, a._3, if (a._4.isEmpty) b._4 else a._4))
    def reset(): Unit = {
      Seq(jobs, stages, tasks, cpuNs, runMs, shufR, shufW).foreach(_.set(0))
      byStage.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: BenchOne <query-name> [sfDir]  (one query per run)")
      sys.exit(2)
    }
    // parallelism from the env (default 28 preserves prior numbers):
    // hardcoded core counts bake machine-specific tuning into source
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "28")
    val builder = SparkSession.builder().withExtensions(new GraftExtensions)
      .master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    builder.config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = new Metrics
    spark.sparkContext.addSparkListener(metrics)
    val name = args(0); val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val fn = SparkEntry.queries(name)
    fn(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    graft.ops.Release.sweep(spark)
    for (i <- 1 to 3) {
      // settle listener events from the previous pass before resetting
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      metrics.reset()
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark.sparkContext)
      println(f"pass$i $wall%.2f s  jobs=${metrics.jobs.get}%d" +
        f" stages=${metrics.stages.get}%d tasks=${metrics.tasks.get}%d" +
        f" cpu=${metrics.cpuNs.get / 1e9}%.2f s run=${metrics.runMs.get / 1e3}%.2f s" +
        f" shufR=${metrics.shufR.get / 1048576.0}%.1f MB" +
        f" shufW=${metrics.shufW.get / 1048576.0}%.1f MB")
      if (i == 3 && sys.env.get("BENCHONE_STAGES").contains("1")) {
        import scala.jdk.CollectionConverters._
        metrics.byStage.asScala.toSeq
          .sortBy { case (_, (_, cpu, _, _)) => -cpu }.take(12)
          .foreach { case (sid, (t, cpu, sr, nm)) =>
            println(f"stage $sid%5d tasks=$t%4d cpu=${cpu / 1e9}%6.2f s " +
              f"shufR=${sr / 1048576.0}%7.1f MB  $nm")
          }
      }
      graft.ops.Release.sweep(spark)
    }
    spark.stop()
  }
}
