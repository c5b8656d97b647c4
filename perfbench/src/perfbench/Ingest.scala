package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** Streaming: an open-loop generator feeds the stream at a fixed rate,
  * stamping each doc with the time it was due; a doc's latency runs
  * from then to the return of the consumer that receives its
  * micro-batch's result. One pass feeds the whole stream through
  * `Streams.ingestStreamAppend` (lake read beside lake append) — its
  * doc latencies are the pass's — then again through the keyed-state
  * `Streams.nearDupStream`, whose median latency is a per-layer number. */
final class IngestWorkload(spark: SparkSession, seed: Long, nLake: Int, nStream: Int, rate: Double)
    extends Workload {
  import Workload._
  import spark.implicits._
  private var in: Gen.Ingest = _
  val callNames: Seq[String] = Seq("ingest_stream_append", "near_dup_stream")

  // outputs of the latest pass, for the checks
  private var survivors = Seq.empty[Long]
  private var hits = Seq.empty[(Long, Long)]
  private var lakeIds = Seq.empty[Long]

  private def write(i: Gen.Ingest, dir: Path): Unit = {
    graft.sources.Sinks.appendSignatures(i.lake.toDF(), dir.resolve("lake").toString)
    i.eval.toDF().coalesce(1).write.parquet(dir.resolve("eval").toString)
  }

  def setup(dir: Path): Unit = { in = Gen.ingest(seed, nLake, nStream); write(in, dir) }


  /** Offsets of MemoryStream count addData calls; `fed` maps each call's
    * offset to the (due time, doc index range) it carried. */
  private final case class Fed(offset: Long, from: Int, to: Int)
  private val TickNs = 100000000L

  private final class Feed(val docs: Vector[Doc]) {
    val mem: MemoryStream[Doc] = { implicit val sq = spark.sqlContext; MemoryStream[Doc] }
    val fed = mutable.ArrayBuffer[Fed]()
    val addedAt = new Array[Long](docs.size)
    var dueAt: Array[Long] = Array.empty
    var maxLagNs = 0L

    /** The stream as graft receives it: MemoryStream makes one input
      * partition per addData call, so its many small blocks are
      * coalesced to one per core, as a source of small blocks would be. */
    def frame: DataFrame = mem.toDF().coalesce(spark.sparkContext.defaultParallelism)

    /** Open loop: doc i is due at t0 + i / rate whatever the stream is
      * doing. The generator wakes at the end of every `TickNs` interval
      * and sends the docs that fell due during it in one addData. */
    def run(): Unit = {
      val t0 = System.nanoTime()
      dueAt = Array.tabulate(docs.size)(i => t0 + (i * 1e9 / rate).toLong)
      var i = 0
      while (i < docs.size) {
        val wake = t0 + ((dueAt(i) - t0) / TickNs + 1) * TickNs
        val wait = wake - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val now = System.nanoTime()
        var j = i + 1
        while (j < docs.size && dueAt(j) <= now) j += 1
        val off = mem.addData(docs.slice(i, j))
        val at = System.nanoTime()
        (i until j).foreach(k => addedAt(k) = at)
        maxLagNs = math.max(maxLagNs, at - dueAt(i))
        fed += Fed(off.json().trim.toLong, i, j)
        i = j
      }
    }
  }

  /** Per-doc latencies and stream ledger numbers from the query's
    * progress reports and the consumer's return times. */
  private def account(q: StreamingQuery, f: Feed, returned: Map[Long, Long], prefix: String,
      layer: mutable.Map[String, Double]): Seq[Double] = {
    val progress = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
    def off(s: String): Long = if (s == null) -1L else s.trim.toLong
    val lat = mutable.ArrayBuffer[Double]()
    var backlogMax = 0L
    var done = 0L
    progress.foreach { p =>
      val (a, b) = (off(p.sources(0).startOffset), off(p.sources(0).endOffset))
      val ret = returned.getOrElse(p.batchId, throw new IllegalStateException(s"no consumer return for batch ${p.batchId}"))
      f.fed.filter(x => x.offset > a && x.offset <= b).foreach { x =>
        (x.from until x.to).foreach(k => lat += (ret - f.dueAt(k)) / 1e9)
        done += x.to - x.from
      }
      backlogMax = math.max(backlogMax, f.addedAt.count(t => t != 0 && t <= ret) - done)
    }
    require(lat.size == f.docs.size, s"$prefix: ${lat.size} of ${f.docs.size} docs accounted to batches")
    def mean(key: String): Double =
      progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum / 1e3 / progress.size
    layer ++= Seq(
      s"stream.$prefix.batches" -> progress.size.toDouble,
      s"stream.$prefix.docs_per_batch" -> f.docs.size.toDouble / progress.size,
      s"stream.$prefix.trigger_s" -> mean("triggerExecution"),
      s"stream.$prefix.add_batch_s" -> mean("addBatch"),
      s"stream.$prefix.query_planning_s" -> mean("queryPlanning"),
      s"stream.$prefix.get_batch_s" -> mean("getBatch"),
      s"stream.$prefix.latest_offset_s" -> mean("latestOffset"),
      s"stream.$prefix.wal_commit_s" -> mean("walCommit"),
      s"stream.$prefix.backlog_docs_max" -> backlogMax.toDouble,
      s"stream.$prefix.generator_lag_s" -> f.maxLagNs / 1e9)
    progress.lastOption.flatMap(_.stateOperators.headOption).foreach { s =>
      layer ++= Seq(s"stream.$prefix.state_rows" -> s.numRowsTotal.toDouble,
        s"stream.$prefix.state_bytes" -> s.memoryUsedBytes.toDouble)
    }
    lat.toSeq
  }

  def pass(t: Tracer, dir: Path, work: Path): PassOut = {
    Files.createDirectories(work)
    val lake = work.resolve("lake")
    copyTree(dir.resolve("lake"), lake)
    val evalDf = spark.read.parquet(dir.resolve("eval").toString)
    val layer = mutable.Map[String, Double]()
    val calls = mutable.ArrayBuffer[(String, Double)]()
    val lats = mutable.ArrayBuffer[Double]()
    var failed = 0
    val (_, wall) = t.span("pass") {
      // ingest with lake append
      val f1 = new Feed(in.stream)
      val surv = mutable.ArrayBuffer[Long]()
      val ret1 = mutable.HashMap[Long, Long]()
      failed += attempt(t, "ingest_stream_append", calls) {
        val q = graft.streaming.Streams.ingestStreamAppend(f1.frame, lake.toString, evalDf) { s =>
          val ids = s.select("doc_id").collect().map(_.getLong(0))
          val b = s.sparkSession.sparkContext.getLocalProperty("streaming.sql.batchId").toLong
          ret1.synchronized { surv ++= ids; ret1(b) = System.nanoTime() }
        }
        try { f1.run(); q.processAllAvailable() } finally q.stop()
        lats ++= account(q, f1, ret1.synchronized(ret1.toMap), "append", layer)
      }
      survivors = surv.toSeq
      // keyed-state near-dup detection
      val f2 = new Feed(in.stream)
      val hit = mutable.ArrayBuffer[(Long, Long)]()
      val ret2 = mutable.HashMap[Long, Long]()
      failed += attempt(t, "near_dup_stream", calls) {
        val q = graft.streaming.Streams.nearDupStream(f2.frame).writeStream
          .option("checkpointLocation", work.resolve("ck-neardup").toString)
          .foreachBatch { (ds: Dataset[graft.streaming.NearDupHit], b: Long) =>
            val h = ds.select("doc_id", "matched_id").as[(Long, Long)].collect()
            ret2.synchronized { hit ++= h; ret2(b) = System.nanoTime() }
            ()
          }.start()
        try { f2.run(); q.processAllAvailable() } finally q.stop()
        layer("stream.neardup.latency_p50_s") =
          Workload.median(account(q, f2, ret2.synchronized(ret2.toMap), "neardup", layer))
      }
      hits = hit.distinct.toSeq
    }
    val lakeDf = graft.sources.Sinks.readSignatures(spark, lake.toString)
    lakeIds = lakeDf.select("doc_id").as[Long].collect().toSeq
    val files = Files.walk(lake)
    val lakeBytes = try files.filter(_.toString.endsWith(".parquet")).mapToLong(Files.size(_)).sum()
      finally files.close()
    layer("sources.lake_bytes_per_doc") = lakeBytes.toDouble / math.max(1, lakeIds.size)
    PassOut(wall, lats.toSeq, calls.toSeq, callNames.size, failed, layer.toMap)
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
    finally s.close()
  }

  def input: Gen.Ingest = in
  def outputs: IngestChecks = IngestChecks(survivors, lakeIds, hits)
  def check(dir: Path, out: Path): Seq[String] = outputs.run(in)
}

final case class IngestChecks(survivors: Seq[Long], lakeIds: Seq[Long], hits: Seq[(Long, Long)]) {
  def run(in: Gen.Ingest): Seq[String] = Checks.ingest(survivors, lakeIds, in) ++ Checks.nearDup(hits, in)
}
