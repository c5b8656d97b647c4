package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM: set-up three times (the median is
  * `setup_s`), then whole passes until `--seconds` have gone by (at
  * least one), then the independent checks on the latest pass's
  * outputs. The first pass runs in a fresh JVM: the budget of a run
  * leaves no room for a warm-up pass, which would cost as much as a
  * pass. With `--trace 1` the listeners are registered before set-up
  * and every call is a span; the same end-to-end numbers, measured
  * traced, come back as `traced.*` so the tracing overhead is the
  * difference to an untraced run of the same seed. Writes
  * `result.json` (and the spans, when traced) under `--dir`;
  * `perfbench/run.py` turns it into the result line.
  *
  * Usage: perfbench.Main --workload corpus|ingest --seed N
  *   --seconds S --trace 0|1 --dir RUN_DIR --cores C [--spans FILE] */
object Main {
  val SetupReps = 3

  def session(cores: Int, dir: Path): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "corpus" => new CorpusWorkload(spark, seed, nBase = 3000)
    case "ingest" => new IngestWorkload(spark, seed, nLake = 1000, nStream = 300, rate = 3000.0)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (corpus, ingest)")
  }

  /** Whole passes until `seconds` have gone by (at least one), each
    * writing under a fresh directory that replaces the previous one.
    * The cache sweep between passes — and after the last one when
    * traced, for `caches.sweep_s` — is timed apart, outside the pass. */
  def passes(wl: Workload, t: Tracer, spark: SparkSession, in: Path, runDir: Path,
      seconds: Double): (Seq[PassOut], Path) = {
    val start = System.nanoTime()
    val out = mutable.ArrayBuffer[PassOut]()
    var dir = runDir
    def more = out.isEmpty || (System.nanoTime() - start) / 1e9 < seconds
    while (more) {
      if (out.nonEmpty) Workload.rm(dir)
      dir = runDir.resolve(s"pass${out.size}")
      Files.createDirectories(dir)
      out += wl.pass(t, in, dir)
      if (more || t.ledger.nonEmpty) t.span("sweep")(graft.ops.Release.sweep(spark))
    }
    (out.toSeq, dir)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val runDir = Paths.get(a("dir"))
    val cores = a("cores").toInt
    import Workload.{median, rm}

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, runDir)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val t = new Tracer(if (a("trace") == "1") Some(new Ledger(spark.sparkContext)) else None)
    t.ledger.foreach { l => spark.sparkContext.addSparkListener(l); spark.listenerManager.register(l) }
    val wl = workload(a("workload"), spark, seed)

    val setups = (0 until SetupReps).map { r =>
      if (r > 0) rm(runDir.resolve(s"data${r - 1}"))
      t.span("setup")(wl.setup(runDir.resolve(s"data$r")))._2
    }
    val data = runDir.resolve(s"data${SetupReps - 1}")
    val (ps, lastOut) = passes(wl, t, spark, data, runDir, seconds)
    ps.flatMap(_.calls).foreach { case (n, s) => println(f"perfbench: $n%-24s $s%8.3f s") }

    val e2e = mutable.LinkedHashMap(
      "setup_s" -> median(setups),
      "pass_s" -> median(ps.map(_.wallS)),
      "latency_p50_s" -> median(ps.flatMap(_.latencies)))
    val layer = mutable.LinkedHashMap[String, Double]("proc.session_start_s" -> sessionS)
    layer ++= Layers.perPass(ps)
    if (t.ledger.nonEmpty) {
      layer ++= Layers(wl, t, ps, cores)
      layer ++= e2e.map { case (k, v) => s"traced.$k" -> v }
      a.get("spans").foreach(p => t.write(Paths.get(p)))
    }
    layer("proc.peak_heap_mb") = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
    }

    val errors = try wl.check(data, lastOut) catch {
      case e: Exception => Seq(s"check raised ${e.getClass.getName}: ${e.getMessage}")
    }
    spark.stop()

    def obj(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val json =
      s"""{"attempted": ${ps.map(_.attempted).sum}, "failed": ${ps.map(_.failed).sum}, """ +
        s""""passes": ${ps.size}, "errors": ${errors.map(Json.str).mkString("[", ", ", "]")}, """ +
        s""""data_dir": ${Json.str(data.toString)}, "check_dir": ${Json.str(lastOut.toString)}, """ +
        s""""end_to_end": ${obj(e2e)}, "per_layer": ${obj(layer)}}"""
    Files.writeString(runDir.resolve("result.json"), json)
  }
}

/** Per-layer numbers from the traced passes' spans. Counts are per pass
  * (summed over the traced passes, divided by their number); times of
  * single calls are medians over the passes. */
object Layers {
  import Workload.median

  def perPass(ps: Seq[PassOut]): Map[String, Double] =
    ps.flatMap(_.layer.keys).distinct.map(k => k -> median(ps.flatMap(_.layer.get(k)))).toMap

  def apply(wl: Workload, t: Tracer, ps: Seq[PassOut], cores: Int): Map[String, Double] = {
    val n = ps.size.toDouble
    val passSpans = t.spans.filter(_.name == "pass")
    def sum(spans: Seq[Span], c: String): Double = spans.map(_.counters(C(c)).toDouble).sum
    def per(c: String): Double = sum(passSpans.toSeq, c) / n
    val wallMs = passSpans.map(s => s.endMs - s.startMs).sum.toDouble
    val byName = t.spans.toSeq.groupBy(_.name)
    def spansOf(name: String): Seq[Span] = byName.getOrElse(name, Nil)
    val out = mutable.LinkedHashMap[String, Double](
      "exec.jobs" -> per("jobs"),
      "exec.stages" -> per("stages"),
      "exec.tasks" -> per("tasks"),
      "exec.single_task_stages" -> per("single_task_stages"),
      "exec.cpu_s" -> per("cpu_ns") / 1e9,
      "exec.run_s" -> per("run_ms") / 1e3,
      "exec.gc_s" -> per("gc_ms") / 1e3,
      "exec.shuffle_read_bytes" -> per("shuffle_read_bytes"),
      "exec.shuffle_write_bytes" -> per("shuffle_write_bytes"),
      "exec.spill_memory_bytes" -> per("spill_memory_bytes"),
      "exec.spill_disk_bytes" -> per("spill_disk_bytes"),
      "exec.peak_exec_memory_bytes" -> t.ledger.get.peakExecMemory.toDouble,
      "exec.core_busy" -> sum(passSpans.toSeq, "run_ms") / (wallMs * cores),
      "exec.result_bytes" -> per("result_bytes"),
      "driver.no_task_s" -> passSpans.map(_.noTaskMs).sum / 1e3 / n,
      "planning.analysis_s" -> per("analysis_ms") / 1e3,
      "planning.optimization_s" -> per("optimization_ms") / 1e3,
      "planning.planning_s" -> per("planning_ms") / 1e3,
      "planning.codegen_compile_s" -> per("codegen_compile_ms") / 1e3,
      "planning.codegen_classes" -> per("codegen_classes"),
      "planning.query_executions" -> per("query_executions"),
      "sources.read_bytes" -> per("read_bytes"),
      "sources.read_records" -> per("read_records"),
      "sources.write_bytes" -> per("write_bytes"),
      "sources.write_records" -> per("write_records"),
      "sources.write_s" -> spansOf("write_shards").map(_.durNs / 1e9).sum / n,
      "caches.sweep_s" -> spansOf("sweep").map(_.durNs / 1e9).sum / n,
      "caches.persisted_frames" -> t.spans.map(_.heldFrames.toDouble).maxOption.getOrElse(0.0),
      "caches.storage_held_mb" -> t.spans.map(_.heldBytes / 1048576.0).maxOption.getOrElse(0.0))
    wl.callNames.foreach { c =>
      val ss = spansOf(c)
      out(s"queries.${c}_s") = median(ss.map(_.durNs / 1e9))
    }
    wl match {
      case c: CorpusWorkload =>
        out("mr.combine_ratio") = sum(spansOf("mr_wordcount"), "shuffle_write_records") / n / c.wordsEmitted
      case _ =>
    }
    out ++= perPass(ps)
    out.toMap
  }
}
