package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Counters a layer's spans are charged with. */
object C {
  val names: Vector[String] = Vector(
    "jobs", "stages", "tasks", "single_task_stages", "cpu_ns", "run_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "shuffle_write_records",
    "spill_memory_bytes", "spill_disk_bytes", "result_bytes",
    "read_bytes", "read_records", "write_bytes", "write_records",
    "query_executions", "analysis_ms", "optimization_ms", "planning_ms",
    "codegen_classes", "codegen_compile_ms")
  private val idx = names.zipWithIndex.toMap
  def apply(n: String): Int = idx(n)
}

/** Spark listener + query-execution listener feeding [[C]] counters,
  * the peak execution memory of any task, and every task's run
  * interval (for "no task running" time). Registered only in traced
  * runs. */
final class Ledger(sc: SparkContext) extends SparkListener with QueryExecutionListener {
  private val c = new Array[Long](C.names.size)
  private var peakExec = 0L
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  private def add(n: String, v: Long): Unit = c(C(n)) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("jobs", 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
    if (e.stageInfo.numTasks == 1) add("single_task_stages", 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("cpu_ns", m.executorCpuTime)
      add("run_ms", m.executorRunTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
      add("spill_memory_bytes", m.memoryBytesSpilled)
      add("spill_disk_bytes", m.diskBytesSpilled)
      add("result_bytes", m.resultSize)
      add("read_bytes", m.inputMetrics.bytesRead)
      add("read_records", m.inputMetrics.recordsRead)
      add("write_bytes", m.outputMetrics.bytesWritten)
      add("write_records", m.outputMetrics.recordsWritten)
      peakExec = math.max(peakExec, m.peakExecutionMemory)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
  private def phases(qe: QueryExecution): Unit = synchronized {
    add("query_executions", 1)
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      p.get(ph).foreach(s => add(s"${ph}_ms", s.durationMs))
    }
  }

  /** Counter values now, after the bus has delivered everything. */
  def snapshot(): Array[Long] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      val out = c.clone()
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      out(C("codegen_classes")) = h.getCount
      out(C("codegen_compile_ms")) =
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000
      out
    }
  }
  def peakExecMemory: Long = synchronized(peakExec)

  /** Frames persisted right now and the storage they hold (memory + disk). */
  def held(): (Int, Long) = {
    val (n, mem, disk) = graft.ops.Release.held(org.apache.spark.sql.SparkSession.active)
    (n, mem + disk)
  }

  /** Wall milliseconds of [from, to] during which no task ran. */
  def noTaskMs(from: Long, to: Long): Long = synchronized {
    val ivs = intervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (to - from) - covered
  }
}

/** One span: a call into a layer, timed from outside, with the counters
  * the listeners charged to it. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
    durNs: Long, counters: Array[Long], noTaskMs: Long, heldFrames: Int, heldBytes: Long)

/** Span recorder. When `ledger` is None (untraced runs) a span only
  * times its body: no listener is registered and nothing is kept. */
final class Tracer(val ledger: Option[Ledger]) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): (T, Double) = {
    val id = nextId
    nextId += 1
    val parent = stack.head
    val before = ledger.map(_.snapshot())
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    stack = id :: stack
    val out = try body finally stack = stack.tail
    val dur = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    ledger.foreach { l =>
      val after = l.snapshot()
      val (frames, bytes) = l.held()
      spans += Span(id, parent, name, startMs, endMs, dur,
        after.zip(before.get).map { case (a, b) => a - b }, l.noTaskMs(startMs, endMs), frames, bytes)
    }
    (out, dur / 1e9)
  }

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_s":${s.durNs / 1e9},""" +
        s""""no_task_s":${s.noTaskMs / 1e3},"held_frames":${s.heldFrames},"held_bytes":${s.heldBytes},""")
      sb.append(C.names.zip(s.counters).map { case (n, v) => s""""$n":$v""" }.mkString(","))
      sb.append("}\n")
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
