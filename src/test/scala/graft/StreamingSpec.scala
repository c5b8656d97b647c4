package graft

import java.sql.Timestamp

import graft.streaming.{EventRow, HeavyHitterOut, OverlapEstimate, SessionOut, Streams, WeightedSampleOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

object StreamingSpec {
  /** Top-level so spark.implicits can derive its Encoder. */
  final case class Doc(doc_id: Long, text: String)

  /** One drift-monitor snapshot row (G16's spec). */
  final case class Snap(x: Double, cat: String)

  /** One URL-gate arrival (G18's spec). */
  final case class Url(doc_id: Long, url: String)
}

/** G2–G4: Structured Streaming operators driven from a MemoryStream and
  * observed through a memory sink — incremental results must match the
  * batch semantics on the same data. */
class StreamingSpec extends SparkSpec {

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val sample = Seq(
    EventRow(1L, ts(5), 1L, "click", 1.0),
    EventRow(2L, ts(10), 1L, "purchase", 10.0),
    EventRow(3L, ts(65), 2L, "click", 2.0),
    EventRow(4L, ts(70), 1L, "click", 3.0),
    EventRow(5L, ts(130), 2L, "purchase", 20.0))

  test("windowCounts (streaming) matches the batch aggregation") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val query = Streams.windowCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc_stream")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(sample: _*)
      query.processAllAvailable()
      val got = spark.table("wc_stream")
        .select("window_start", "event_type", "n", "total")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val want = Streams.windowCounts(sample.toDF())
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want)
      assert(want.contains((ts(0), "click", 1L, 1.0)))
    } finally query.stop()
  }

  test("transitionsStream: emissions across batches equal batch transitions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val query = Streams.transitionsStream(mem.toDS())
      .writeStream.format("memory").queryName("trans_stream")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1 delivered OUT of ts order within the batch (the sort
      // repairs it); batch 2 chains user 1 across the batch boundary
      mem.addData(sample(1), sample(0), sample(2))
      query.processAllAvailable()
      mem.addData(sample(3), sample(4))
      query.processAllAvailable()
      val got = spark.table("trans_stream")
        .groupBy("src", "dst").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val want = graft.queries.Funnels.transitions(
          sample.toDF().withColumnRenamed("event_type", "event_type"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got == want, s"stream $got vs batch $want")
      // the cross-batch adjacency (u1 purchase@10 -> click@70) is present
      assert(got(("purchase", "click")) == 1L)
    } finally query.stop()
  }

  test("retentionStream: summed deltas equal batch retention under full disorder") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def at(day: String) = java.sql.Timestamp.valueOf(s"$day 12:00:00")
    val ev = Seq(
      // user 1: weeks 0, 1, 5 of their cohort — but the EARLIEST event
      // is delivered LAST (retroactive first event two batches later:
      // shifts the cohort AND every offset, forcing retractions)
      EventRow(1L, at("2024-03-20"), 1L, "view", 0.0),
      EventRow(2L, at("2024-03-27"), 1L, "click", 0.0),
      EventRow(3L, at("2024-04-24"), 1L, "view", 0.0),
      EventRow(4L, at("2024-03-11"), 1L, "view", 0.0),  // the true first
      // user 2: single week, two events same day across batches
      EventRow(5L, at("2024-03-14"), 2L, "purchase", 0.0),
      EventRow(6L, at("2024-03-14"), 2L, "view", 0.0),
      // user 3: pre-epoch first event (floor-division edge)
      EventRow(7L, at("1969-12-25"), 3L, "view", 0.0),
      EventRow(8L, at("1970-01-02"), 3L, "view", 0.0))
    val mem = MemoryStream[EventRow]
    val query = Streams.retentionStream(mem.toDS())
      .writeStream.format("memory").queryName("ret_stream")
      .outputMode(OutputMode.Update).start()
    try {
      // adversarial delivery: disorder within AND across batches
      mem.addData(ev(1), ev(0), ev(7))
      query.processAllAvailable()
      mem.addData(ev(2), ev(5))
      query.processAllAvailable()
      mem.addData(ev(3), ev(4), ev(6))   // user 1's retroactive first
      query.processAllAvailable()
      val emitted = spark.table("ret_stream")
      // the retroactive first event must have RETRACTED stale cells
      assert(emitted.filter(col("delta") === -1L).count() > 0,
        "expected retractions from the retroactive first event")
      val got = emitted.groupBy("cohort_wk", "offset_wk")
        .agg(org.apache.spark.sql.functions.sum(col("delta")).as("n_users"))
        .filter(col("n_users") =!= 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = graft.queries.Funnels.retention(ev.toDF())
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got == want, s"stream $got vs batch $want")
      // cohort math sanity: user 1's cohort is the week of 2024-03-11
      val d0 = at("2024-03-11").toLocalDateTime.toLocalDate.toEpochDay
      assert(got.contains((Math.floorDiv(d0, 7L), 0L)))
    } finally query.stop()
  }

  test("driftStream: per-batch PSI equals batch psi on the same frame") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import StreamingSpec.Snap
    val ref = (1 to 100).map(i => (i.toDouble, if (i % 2 == 0) "a" else "b"))
      .toDF("x", "cat")
    val batches = Seq(
      (1 to 50).map(i => Snap(i.toDouble, "a")),
      (1 to 50).map(i => Snap(150.0 + i, "b")))  // drifted batch
    val mem = MemoryStream[Snap]
    val got = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val query = Streams.driftStream(mem.toDF(), ref, Seq("x"), Seq("cat")) { f =>
      got += f.collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    }
    try {
      batches.foreach { b => mem.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    val want = batches.map { b =>
      graft.queries.Profile.psi(ref,
          b.map(s => (s.x, s.cat)).toDF("x", "cat"), Seq("x"), Seq("cat"))
        .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    }
    assert(got.toSeq == want, s"stream $got vs batch $want")
    // the drifted batch (out-of-range numeric mass, one-sided cats)
    // must alarm while the aligned batch stays under the act band
    assert(got(1)("x") > 0.25 && got(0)("x") < got(1)("x"), got.toString)
  }

  test("funnelStream: per-step emission counts equal the batch funnel") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ev = Seq(
      EventRow(1L, ts(1), 1L, "view", 0.0),
      EventRow(2L, ts(2), 1L, "click", 0.0),
      EventRow(3L, ts(90), 1L, "purchase", 0.0),   // batch 2, cross-batch chain
      EventRow(4L, ts(1), 2L, "click", 0.0),       // click BEFORE first view
      EventRow(5L, ts(2), 2L, "view", 0.0),
      EventRow(6L, ts(3), 5L, "view", 0.0),
      EventRow(7L, ts(3), 5L, "click", 0.0))       // same instant: strict >, no
    val mem = MemoryStream[EventRow]
    val query = Streams.funnelStream(mem.toDS())
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode(OutputMode.Update).start()
    try {
      // batch 1 delivered out of ts order; the per-batch sort repairs it
      mem.addData(ev(1), ev(0), ev(3), ev(4), ev(6), ev(5))
      query.processAllAvailable()
      mem.addData(ev(2))
      query.processAllAvailable()
      val got = spark.table("funnel_stream")
        .groupBy("step_idx", "step").count()
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = graft.queries.Funnels.funnel(ev.toDF())
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .filter(_._2 > 0L).toMap
      assert(got == want, s"stream $got vs batch $want")
      assert(got((1L, "view")) == 3L && got((3L, "purchase")) == 1L)
    } finally query.stop()
  }

  test("scrubPii runs unchanged on a stream (stateless map stage)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = graft.Graft.scrubPii(mem.toDF())
      .writeStream.format("memory").queryName("scrub_stream")
      .outputMode(OutputMode.Append).start()
    try {
      val docs = Seq(
        StreamingSpec.Doc(1L, "reach me at a@b.io or 10.0.0.1"),
        StreamingSpec.Doc(2L, "clean text"))
      mem.addData(docs: _*)
      query.processAllAvailable()
      val got = spark.table("scrub_stream")
        .select("doc_id", "text", "n_emails", "n_ipv4")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == Set(
        (1L, "reach me at <EMAIL> or <IP>", 1L, 1L),
        (2L, "clean text", 0L, 0L)))
    } finally query.stop()
  }

  test("curateStream: quality gate + first-arrival exact dedup match batch semantics") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val good = "the cat sat on the mat and the dog sat too in a fine house"
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.curateStream(mem.toDF())
      .writeStream.format("memory").queryName("curate_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(StreamingSpec.Doc(1L, good), StreamingSpec.Doc(2L, "zzzz qqqq xxxx"))
      query.processAllAvailable()
      mem.addData(StreamingSpec.Doc(3L, good), // exact dup of 1 -> dropped
        StreamingSpec.Doc(4L, good + " extra words here of the same kind"))
      query.processAllAvailable()
      val got = spark.table("curate_stream").select("doc_id")
        .collect().map(_.getLong(0)).toSet
      // batch curate on the same corpus (arrival order == id order, so
      // first-arrival == min-id survivor)
      val batch = Seq((1L, good), (2L, "zzzz qqqq xxxx"), (3L, good),
        (4L, good + " extra words here of the same kind")).toDF("doc_id", "text")
      val want = Graft.curate(batch, dropNearDups = false)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == want && got == Set(1L, 4L))
      // the streaming gate uses the SAME score as the batch operator
      val colScore = batch.select(col("doc_id"),
        graft.queries.TextAnalysis.qualityScoreCol(col("text")).as("s"))
      val opScore = Graft.qualityScores(batch).select(col("doc_id"),
        col("quality_score").as("s"))
      assert(colScore.exceptAll(opScore).count() == 0)
    } finally query.stop()
  }

  test("curateStream content set equals batch curate across random batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(7)
    // seeded corpus: some junk, some dup groups, letter-only tokens
    val vocab = Vector("the", "cat", "sat", "mat", "dog", "house", "fine", "tree")
    val docs = (1 to 40).map { i =>
      val text =
        if (i % 5 == 0) "zzz qqq" // junk: fails the quality gate
        else Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      StreamingSpec.Doc(i.toLong, text)
    }
    val dupped = docs ++ docs.take(10).map(d => d.copy(doc_id = d.doc_id + 100))
    val shuffled = rnd.shuffle(dupped)
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.curateStream(mem.toDF())
      .writeStream.format("memory").queryName("curate_fuzz")
      .outputMode(OutputMode.Append).start()
    try {
      // deliver in random-size micro-batches
      var rest = shuffled
      while (rest.nonEmpty) {
        val (batch, tail) = rest.splitAt(1 + rnd.nextInt(7))
        mem.addData(batch: _*)
        query.processAllAvailable()
        rest = tail
      }
      // the kept CONTENT set must equal batch curate's (kept row ids
      // may differ when duplicates co-arrive — documented contract)
      val got = spark.table("curate_fuzz").select("text")
        .collect().map(_.getString(0)).toSet
      val want = Graft.curate(dupped.toDF("doc_id", "text"), dropNearDups = false)
        .select("text").collect().map(_.getString(0)).toSet
      assert(got == want)
    } finally query.stop()
  }

  test("stateful query resumes from its checkpoint across a restart") {
    import spark.implicits._
    // file source (replayable, unlike MemoryStream) + checkpointed state:
    // stop the query, deliver more data, restart — the rebuilt query must
    // CONTINUE the per-user counters from the state store, not reset them
    val root = java.nio.file.Files.createTempDirectory("graft-recov")
    val src = root.resolve("in"); java.nio.file.Files.createDirectories(src)
    val ck = root.resolve("ck").toString
    def writeBatch(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(src.resolve(name),
        String.join("\n", lines: _*).getBytes("UTF-8"))
    def event(id: Long, user: Long, typ: String): String =
      s"""{"event_id":$id,"ts":"2024-01-01 00:0$id:00","user_id":$user,"event_type":"$typ","value":1.5}"""
    val schema = org.apache.spark.sql.Encoders.product[EventRow].schema
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    // memory sink can't recover from a checkpoint; foreachBatch can
    def start() = Streams.runningUserStats(
        spark.readStream.schema(schema).json(src.toString).as[EventRow])
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.UserUpdate], _: Long) =>
        emitted.synchronized {
          emitted ++= b.collect().map(u => (u.user_id, u.n_events, u.n_purchases))
        }; ()
      }
      .start()

    writeBatch("b1.jsonl", Seq(
      event(1, 7, "view"), event(2, 7, "purchase"), event(3, 8, "view")))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(emitted.sorted.toSeq == Seq((7L, 2L, 1L), (8L, 1L, 0L)))

    emitted.clear()
    writeBatch("b2.jsonl", Seq(event(4, 7, "view")))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the restarted query processes ONLY batch 2 (offsets recovered),
      // and user 7's counters CONTINUE from the state store: 2 + 1
      // events, 1 prior purchase — not a reset to (1, 0)
      assert(emitted.toSeq == Seq((7L, 3L, 1L)))
    } finally q2.stop()
  }

  test("decontamStream keeps exactly the batch decontamGate survivors") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val k = graft.queries.Contamination.NgramK
    def toks(n: Int, tag: String): String =
      (0 until n).map(i => s"$tag${('a' + i).toChar}").mkString(" ")
    val leaked = toks(k, "leak")
    val evalDocs = Seq(StreamingSpec.Doc(1000L, s"${toks(2, "p")} $leaked"))
      .toDF("doc_id", "text")
    val docs = (1 to 30).map { i =>
      val text =
        if (i % 7 == 0) s"${toks(4, "x")} $leaked" // contaminated
        else toks(k + 4, s"c${('a' + i % 5).toChar}")
      StreamingSpec.Doc(i.toLong, text)
    }
    val got = scala.collection.mutable.Set.empty[Long]
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.decontamStream(mem.toDF(), evalDocs) { clean =>
      got ++= clean.select("doc_id").collect().map(_.getLong(0))
    }
    try {
      val rnd = new scala.util.Random(11)
      var rest = rnd.shuffle(docs)
      while (rest.nonEmpty) {
        val (batch, tail) = rest.splitAt(1 + rnd.nextInt(6))
        mem.addData(batch: _*)
        query.processAllAvailable()
        rest = tail
      }
      val want = graft.queries.Contamination
        .decontamGate(docs.toDF("doc_id", "text"), evalDocs)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got.toSet == want)
      assert((1 to 30).filter(_ % 7 == 0).map(_.toLong).forall(id => !want.contains(id)))
    } finally query.stop()
  }

  test("dedup drops re-delivered event ids within the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val query = Streams.dedup(mem.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(sample: _*)
      query.processAllAvailable()
      mem.addData(sample.head, sample(1), EventRow(6L, ts(135), 3L, "view", 5.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_stream").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L))
    } finally query.stop()
  }

  test("file-source stream: JSONL dir -> windowCounts -> memory sink") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "b1.json"),
      """{"event_id":1,"ts":"2024-01-01T00:05:00Z","user_id":1,"event_type":"click","value":1.0,"props":"{}"}
        |{"event_id":2,"ts":"2024-01-01T00:10:00Z","user_id":1,"event_type":"click","value":2.0,"props":"{}"}
        |""".stripMargin)
    val stream = graft.sources.Sources.jsonlEventStream(spark, dir)
    val query = Streams.windowCounts(stream)
      .writeStream.format("memory").queryName("file_stream")
      .outputMode(OutputMode.Update).start()
    try {
      query.processAllAvailable()
      val rows = spark.table("file_stream")
        .select("event_type", "n", "total").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq(("click", 2L, 3.0)))
    } finally query.stop()
  }

  test("sessionizeStream closes sessions on gap and on watermark timeout") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val query = Streams.sessionizeStream(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // user 1: two events 10 min apart (one session), then 40 min gap
      // -> a second session; a later user-2 event advances the watermark
      mem.addData(
        EventRow(1L, ts(0), 1L, "click", 1.0),
        EventRow(2L, ts(10), 1L, "click", 2.0),
        EventRow(3L, ts(50), 1L, "click", 4.0))
      query.processAllAvailable()
      // nothing may be emitted yet: the watermark has not passed either
      // session's end + gap, so a legally-late event could still merge
      assert(spark.table("sess_stream").isEmpty)
      // push the watermark far past 50min+30min gap -> both sessions close
      mem.addData(EventRow(9L, ts(300), 2L, "click", 0.5))
      query.processAllAvailable()
      mem.addData(EventRow(10L, ts(310), 2L, "click", 0.5))
      query.processAllAvailable()
      val all = spark.table("sess_stream").as[SessionOut].collect()
        .filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      assert(all.map(s => (s.n_events, s.total_value)).toSeq ==
        Seq((2L, 3.0), (1L, 4.0)), all.mkString(","))
      assert(all.head.duration_us == 10L * 60 * 1000000)
    } finally query.stop()
  }

  test("sessionizeStream: a very-late event session stays open for later late merges") {
    // review regression: the single-session state emitted a far-earlier
    // late event immediately as a closed singleton, so a SECOND late
    // event that belonged to the same session produced a split — the
    // multi-session state must hold both live until the watermark rules
    // a merge out
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val query = Streams.sessionizeStream(mem.toDS(), gapMinutes = 30, watermark = "6 hours")
      .writeStream.format("memory").queryName("split_sess_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(EventRow(1L, ts(180), 1L, "click", 1.0)) // live [180]
      query.processAllAvailable()
      mem.addData(EventRow(2L, ts(10), 1L, "click", 2.0)) // late, > gap before 180
      query.processAllAvailable()
      mem.addData(EventRow(3L, ts(25), 1L, "click", 4.0)) // merges with the 10
      query.processAllAvailable()
      // advance watermark far enough to close everything
      mem.addData(EventRow(8L, ts(700), 2L, "click", 0.0))
      query.processAllAvailable()
      mem.addData(EventRow(9L, ts(710), 2L, "click", 0.0))
      query.processAllAvailable()
      val u1 = spark.table("split_sess_stream").as[SessionOut].collect()
        .filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      assert(u1.map(s => (s.n_events, s.total_value)).toSeq ==
        Seq((2L, 6.0), (1L, 1.0)), u1.mkString(","))
      assert(u1.head.session_start == ts(10))
      assert(u1.head.duration_us == 15L * 60 * 1000000)
    } finally query.stop()
  }

  test("sessionizeStream merges legally-late out-of-order events by min/max bounds") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val query = Streams.sessionizeStream(mem.toDS(), gapMinutes = 30, watermark = "3 hours")
      .writeStream.format("memory").queryName("late_sess_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: user 1 live session [20, 30]
      mem.addData(
        EventRow(1L, ts(20), 1L, "click", 1.0),
        EventRow(2L, ts(30), 1L, "click", 2.0))
      query.processAllAvailable()
      // batch 2: within-watermark late events — one INSIDE the live span,
      // one BEFORE the session start but within the gap. Neither may
      // rewind lastTs or lose the earlier true start.
      mem.addData(
        EventRow(3L, ts(25), 1L, "click", 4.0), // inside [20, 30]
        EventRow(4L, ts(5), 1L, "click", 8.0)) // extends start back to 5
      query.processAllAvailable()
      // close user 1's session via watermark advance from another user
      mem.addData(EventRow(8L, ts(400), 2L, "click", 0.0))
      query.processAllAvailable()
      mem.addData(EventRow(9L, ts(410), 2L, "click", 0.0))
      query.processAllAvailable()
      val u1 = spark.table("late_sess_stream").as[SessionOut].collect()
        .filter(_.user_id == 1L)
      assert(u1.length == 1, u1.mkString(","))
      assert(u1.head.n_events == 4L)
      assert(u1.head.total_value == 15.0)
      assert(u1.head.session_start == ts(5))
      assert(u1.head.duration_us == 25L * 60 * 1000000) // [5, 30]
    } finally query.stop()
  }

  test("nearDupStream flags exactly the batch minhash pairs, across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.NearDupHit
    import StreamingSpec.Doc
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[Doc].collect().toSeq
    val batchPairs = graft.queries.Dedup.minhashPairs(Tables.documents(spark, sfDir))
      .select("id_a", "id_b", "est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(batchPairs.nonEmpty) // corpus plants near-dups; a vacuous pass hides bugs
    val mem = MemoryStream[Doc]
    val query = Streams.nearDupStream(mem.toDF())
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode(OutputMode.Append).start()
    try {
      // split mid-corpus: pairs within a batch AND across the boundary
      val (first, second) = docs.partition(_.doc_id % 2 == 0)
      mem.addData(first: _*)
      query.processAllAvailable()
      mem.addData(second: _*)
      query.processAllAvailable()
      val got = spark.table("neardup_stream").as[NearDupHit].collect()
        .map(h => (math.min(h.doc_id, h.matched_id),
          math.max(h.doc_id, h.matched_id), h.est_jaccard)).toSet
      assert(got == batchPairs, s"stream ${got.size} vs batch ${batchPairs.size}")
    } finally query.stop()
  }

  test("q_stream_neardup_batch oracle row == the stream fed in doc_id order, oriented") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.NearDupHit
    import StreamingSpec.Doc
    // the twin's contract includes ORIENTATION (later arrival flagged
    // against earlier): under doc_id-ordered arrival the stream's hits,
    // deduped across bands, must equal the oracle row exactly
    val twin = graft.queries.Dedup.qStreamNeardupBatch.run(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(twin.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"text").as[Doc].collect().toSeq.sortBy(_.doc_id)
    val mem = MemoryStream[Doc]
    val query = Streams.nearDupStream(mem.toDF())
      .writeStream.format("memory").queryName("neardup_twin")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(docs: _*)
      query.processAllAvailable()
      val got = spark.table("neardup_twin").as[NearDupHit].collect()
        .map(h => (h.doc_id, h.matched_id, h.est_jaccard)).toSet
      assert(got == twin, s"stream ${got.size} oriented hits vs twin ${twin.size}")
    } finally query.stop()
  }

  test("clickToPurchase emits exactly the batch attribution pairs on real events") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val W = graft.queries.Attribution.WindowMin
    val events = Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventRow].collect().toSeq
    // batch truth: the q_attribution join condition, in pair form
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("cid"), $"ts".as("cts"))
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("pid"), $"ts".as("pts"))
    val batchPairs = c.join(p,
      $"user_id" === $"pu" && $"cts" <= $"pts" &&
        $"pts" <= $"cts" + org.apache.spark.sql.functions.expr(s"INTERVAL $W MINUTES"))
      .select("cid", "pid").as[(Long, Long)].collect().toSet
    assert(batchPairs.nonEmpty)

    val clicks = MemoryStream[EventRow]
    val purchases = MemoryStream[EventRow]
    val query = Streams.clickToPurchase(
      clicks.toDF(), purchases.toDF(), withinMinutes = W)
      .select($"click_id", $"purchase_id")
      .writeStream.format("memory").queryName("attrib_pairs")
      .outputMode(OutputMode.Append).start()
    try {
      // split by event TIME (streams arrive roughly in order — an
      // id-based split would feed months-late rows past the watermark,
      // which the join rightly drops)
      val cs = events.filter(_.event_type == "click").sortBy(_.ts.getTime)
      val ps = events.filter(_.event_type == "purchase").sortBy(_.ts.getTime)
      val cut = events.map(_.ts.getTime).sorted.apply(events.size / 2)
      clicks.addData(cs.filter(_.ts.getTime <= cut): _*)
      purchases.addData(ps.filter(_.ts.getTime <= cut): _*)
      query.processAllAvailable()
      clicks.addData(cs.filter(_.ts.getTime > cut): _*)
      purchases.addData(ps.filter(_.ts.getTime > cut): _*)
      query.processAllAvailable()
      val got = spark.table("attrib_pairs").as[(Long, Long)].collect().toSet
      assert(got == batchPairs, s"stream ${got.size} vs batch ${batchPairs.size}")
    } finally query.stop()
  }

  test("kvStore: put replaces, append concatenates, in ts order") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.{KvOp, KvState}
    val mem = MemoryStream[KvOp]
    val query = Streams.kvStore(mem.toDS())
      .writeStream.format("memory").queryName("kv_stream")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(
        KvOp(ts(2), "a", "append", "-x"), // arrives first, applies second
        KvOp(ts(1), "a", "put", "v1"),
        KvOp(ts(1), "b", "put", "w"))
      query.processAllAvailable()
      mem.addData(KvOp(ts(3), "a", "append", "-y"), KvOp(ts(4), "b", "put", "w2"))
      query.processAllAvailable()
      val last = spark.table("kv_stream").as[KvState].collect()
        .groupBy(_.key).map { case (k, rows) => k -> rows.last }
      assert(last("a").value == "v1-x-y")
      assert(last("a").n_ops == 3L)
      assert(last("b").value == "w2")
    } finally query.stop()
  }

  test("stream-stream join: purchases attribute to clicks within the window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clicks = MemoryStream[EventRow]
    val purchases = MemoryStream[EventRow]
    val joined = Streams.clickToPurchase(
      clicks.toDF(), purchases.toDF(), withinMinutes = 60)
    val query = joined.writeStream.format("memory").queryName("attrib_stream")
      .outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        EventRow(1L, ts(0), 1L, "click", 0.0),
        EventRow(2L, ts(10), 2L, "click", 0.0))
      // user 1 buys 30 min after the click (inside the window), then
      // again 2 h later (outside); user 2 never buys
      purchases.addData(
        EventRow(5L, ts(30), 1L, "purchase", 9.99),
        EventRow(6L, ts(130), 1L, "purchase", 5.0))
      query.processAllAvailable()
      val got = spark.table("attrib_stream")
        .select("user_id", "click_id", "purchase_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == Set((1L, 1L, 9.99)))
    } finally query.stop()
  }

  test("runningUserStats accumulates state across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[EventRow]
    val query = Streams.runningUserStats(mem.toDS())
      .writeStream.format("memory").queryName("state_stream")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(sample.take(3): _*)
      query.processAllAvailable()
      mem.addData(sample.drop(3): _*)
      query.processAllAvailable()
      // last update per user reflects ALL their events
      val last = spark.table("state_stream")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
        .groupBy(_._1).map { case (u, rows) => u -> rows.last._2 }
      assert(last(1L) == ((3L, 1L, 14.0)))
      assert(last(2L) == ((2L, 1L, 22.0)))
    } finally query.stop()
  }

  test("runningUserStats final emissions equal the batch userStats twin " +
      "under out-of-order delivery and rounding-trap values") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 2.675 and 1.005 are the classic double-repr rounding traps
    // (2.675*100 = 267.49999... as a double): the differential fails if
    // the stream's valueCents and the batch row's round(value*100) ever
    // disagree. Delivery is out of order within AND across batches —
    // the order-independence the cents state claims.
    val rows = Seq(
      EventRow(10L, ts(50), 1L, "purchase", 2.675),
      EventRow(11L, ts(10), 1L, "click", 1.005),
      EventRow(12L, ts(90), 2L, "purchase", 19.99),
      EventRow(13L, ts(30), 1L, "purchase", 0.01),
      EventRow(14L, ts(70), 2L, "click", 100.555),
      EventRow(15L, ts(20), 3L, "click", 33.333))
    val mem = MemoryStream[EventRow]
    val query = Streams.runningUserStats(mem.toDS())
      .writeStream.format("memory").queryName("userstats_diff_stream")
      .outputMode(OutputMode.Update).start()
    try {
      mem.addData(rows(0), rows(4), rows(5)) // later events first
      query.processAllAvailable()
      mem.addData(rows(1), rows(2), rows(3))
      query.processAllAvailable()
      val streamed = spark.table("userstats_diff_stream")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
        .groupBy(_._1).map { case (u, rs) => u -> rs.last._2 }
      val batch = graft.queries.Sessions.userStats(rows.toDF())
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(streamed == batch)
      // and the traps really exercised both rounding directions:
      // 2.675*100 is EXACTLY 267.5 in double (shortest repr) -> HALF_UP
      // -> 268, while 1.005*100 is 100.49999999999999 -> 100 — the
      // double's value decides, not the decimal spelling
      assert(batch(1L)._3 == (268L + 100L + 1L) / 100.0)
    } finally query.stop()
  }

  test("extractStream output equals batch extractText row-for-row across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Seq(
      StreamingSpec.Doc(1L, "<html><head><style>p{x}</style></head>" +
        "<body><h1>Top</h1><p>a &amp; b</p></body></html>"),
      StreamingSpec.Doc(2L, "plain text, no markup at all"),
      StreamingSpec.Doc(3L, "<ul><li>one</li><li>one</li></ul><!-- nav -->"),
      StreamingSpec.Doc(4L, "<div>left<br>right</div><p>1 < 2 stays</p>"))
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.extractStream(mem.toDF())
      .writeStream.format("memory").queryName("extract_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(docs.take(2): _*)
      query.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("extract_stream").collect()
        .map(r => r.toSeq.toList).toSet
      val want = Graft.extractText(
        docs.toDF().select(col("doc_id"), col("text")))
        .collect().map(r => r.toSeq.toList).toSet
      assert(got == want, s"stream $got vs batch $want")
      // the planted markup actually discriminates
      val clean = spark.table("extract_stream").collect()
        .map(r => r.getLong(0) -> r.getString(4)).toMap
      assert(clean(1L) == "Top\n\na & b", clean)
      assert(clean(3L) == "one\none", clean)
      assert(clean(4L) == "left\nright\n\n1 < 2 stays", clean)
    } finally query.stop()
  }

  test("overlapStream: final estimate equals batch corpusOverlap under any delivery order") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val k = 8
    // lake: 50 docs; stream: 50 docs, 25 overlapping — k=8 < union
    // (75), so the estimate is genuine, not degenerate-exact. The
    // varying leading number keeps polyHash spread (sequential
    // same-prefix ids hash order-preservingly and would starve the
    // bottom-k of intersection members — the estimator's documented
    // hash-uniformity assumption)
    def txt(i: Int): String = s"doc ${(i * 48271) % 99991} payload $i"
    val lakeDocs = (0 until 50).map(i => StreamingSpec.Doc(i.toLong, txt(i)))
    val streamDocs = (25 until 75).map(i => StreamingSpec.Doc(i.toLong, txt(i)))
    val lake = lakeDocs.toDF()
    val ref = graft.queries.Sketches.kmvSketch(lake, k)
    val want = graft.queries.Sketches
      .corpusOverlap(streamDocs.toDF(), lake, k)
      .select("k_eff", "sketch_inter", "est_jaccard")
      .collect()(0)

    def finalEstimate(batches: Seq[Seq[StreamingSpec.Doc]]): OverlapEstimate = {
      val mem = MemoryStream[StreamingSpec.Doc]
      val name = s"overlap_stream_${System.nanoTime()}"
      val query = Streams.overlapStream(mem.toDF(), ref, k)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { mem.addData(b: _*); query.processAllAvailable() }
        }
        spark.table(name).as[OverlapEstimate].collect()
          .maxBy(_.n_seen)
      } finally query.stop()
    }

    val inOrder = finalEstimate(streamDocs.grouped(15).toSeq)
    assert(inOrder.k_eff == want.getLong(0) &&
      inOrder.sketch_inter == want.getLong(1) &&
      inOrder.est_jaccard == want.getDouble(2),
      s"stream $inOrder vs batch $want")
    assert(inOrder.n_seen == 50L)
    // reversed batches + a full duplicate redelivery of batch 1:
    // the sketch is a set function — same final numbers
    val shuffled = finalEstimate(
      streamDocs.grouped(15).toSeq.reverse :+ streamDocs.take(15))
    assert(shuffled.k_eff == inOrder.k_eff &&
      shuffled.sketch_inter == inOrder.sketch_inter &&
      shuffled.est_jaccard == inOrder.est_jaccard,
      s"order-dependent estimate: $shuffled vs $inOrder")
    // estimate is honest: exact jaccard is 25/75; the k=8 sketch reads
    // something in (0, 1), not the degenerate 0 or 1
    assert(inOrder.est_jaccard > 0.0 && inOrder.est_jaccard < 1.0)
  }

  test("heavyHittersStream: collision-free twin == batch I10; redelivery and order independent; tiny width stays a superset") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 40 docs over a small word vocabulary => repeated 2-grams with a
    // genuine head; minCount=6 separates head from tail
    def txt(i: Int): String = {
      val w = Vector("alpha", "beta", "gamma", "delta", "eps")
      (0 until 8).map(j => w((i * 7 + j * j) % w.size)).mkString(" ")
    }
    val docs = (0 until 40).map(i => StreamingSpec.Doc(i.toLong, txt(i)))
    val minCount = 6L
    val want = graft.queries.Sketches.heavyHitters(docs.toDF(), minCount)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(want.nonEmpty && want.size < 40, s"degenerate corpus: $want")

    def finalSnapshot(batches: Seq[Seq[StreamingSpec.Doc]],
        width: Int): Set[(String, Long)] = {
      val mem = MemoryStream[StreamingSpec.Doc]
      val name = s"hh_stream_${System.nanoTime()}"
      val query = Streams.heavyHittersStream(mem.toDF(), minCount,
          width = width)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { mem.addData(b: _*); query.processAllAvailable() }
        }
        val rows = spark.table(name).as[HeavyHitterOut].collect()
        val last = rows.map(_.n_seen).max
        rows.filter(_.n_seen == last).map(r => (r.gram, r.est)).toSet
      } finally query.stop()
    }

    // collision-free width: estimates are exact, so the emitted set IS
    // the batch heavy set with exact counts (the spec twin)
    val inOrder = finalSnapshot(docs.grouped(12).toSeq, width = 1 << 12)
    assert(inOrder == want, s"stream $inOrder vs batch $want")
    // adversarial redelivery (full batch replayed) + reversed order
    val adversarial = finalSnapshot(
      docs.grouped(12).toSeq.reverse :+ docs.take(12), width = 1 << 12)
    assert(adversarial == want, s"redelivery changed the set: $adversarial")
    // tiny width (everything collides): still a SUPERSET with upper-
    // bound estimates — noisier triage, never a false dismissal
    val collided = finalSnapshot(docs.grouped(12).toSeq, width = 16)
    val collidedMap = collided.toMap
    assert(want.forall { case (g, n) =>
      collidedMap.get(g).exists(_ >= n) },
      s"collided run lost a true heavy hitter: $collided vs $want")
  }

  test("weightedSampleStream: final sample equals batch weightedSample under any order and redelivery") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 60 docs with varying token counts (weight = word count); k=10 so
    // the draw is a genuine subset
    def txt(i: Int): String = Seq.fill(1 + (i * 13) % 9)("w" + i).mkString(" ")
    val docs = (0 until 60).map(i => StreamingSpec.Doc(i.toLong, txt(i)))
    val k = 10
    val seed = 42L
    val want = graft.queries.Shards.weightedSample(docs.toDF(), k, seed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    def finalSample(batches: Seq[Seq[StreamingSpec.Doc]]): Seq[(Long, Long, Double)] = {
      val mem = MemoryStream[StreamingSpec.Doc]
      val name = s"ws_stream_${System.nanoTime()}"
      val query = Streams.weightedSampleStream(mem.toDF(), k, seed)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { mem.addData(b: _*); query.processAllAvailable() }
        }
        val rows = spark.table(name).as[WeightedSampleOut].collect()
        val last = rows.map(_.n_seen).max
        rows.filter(_.n_seen == last)
          .sortBy(r => (-r.es_key, r.doc_id))
          .map(r => (r.doc_id, r.weight, r.es_key)).toSeq
      } finally query.stop()
    }

    val inOrder = finalSample(docs.grouped(17).toSeq)
    assert(inOrder == want, s"stream $inOrder vs batch $want")
    // reversed batches + a full redelivery: the sample is a set
    // function of the delivered docs — identical final snapshot
    val adversarial = finalSample(
      docs.grouped(17).toSeq.reverse :+ docs.take(17))
    assert(adversarial == want, s"redelivery changed the sample: $adversarial")
  }

  test("urlFilterStream output equals batch urlFilter row-for-row across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val urls = Seq(
      StreamingSpec.Url(1L, "https://www.example.com/fine"),
      StreamingSpec.Url(2L, "ftp://files.example.com/x"),
      StreamingSpec.Url(3L, "https://sub.badsite.com/y"),
      StreamingSpec.Url(4L, "https://10.1.2.3/casino"),
      StreamingSpec.Url(5L, "https://ok.org/" + "a" * 200))
    val blocked = Seq("badsite.com")
    val words = Seq("casino")
    val mem = MemoryStream[StreamingSpec.Url]
    val query = Streams.urlFilterStream(mem.toDF(), blocked, words,
      maxLen = 100)
      .writeStream.format("memory").queryName("url_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(urls.take(2): _*)
      query.processAllAvailable()
      mem.addData(urls.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("url_stream").collect()
        .map(r => r.toSeq.toList).toSet
      val want = Graft.urlFilter(urls.toDF(), blocked, words, maxLen = 100)
        .collect().map(r => r.toSeq.toList).toSet
      assert(got == want, s"stream $got vs batch $want")
      // every planted flag class discriminates
      val kept = spark.table("url_stream").collect()
        .map(r => r.getLong(0) -> r.getAs[Long]("kept")).toMap
      assert(kept == Map(1L -> 1L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L))
    } finally query.stop()
  }

  test("gopherStream output equals batch gopherRules row-for-row across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Seq(
      StreamingSpec.Doc(1L, "the cat and the dog have been with all of that " +
        "good crew for many long years and they would sing songs all day"),
      StreamingSpec.Doc(2L, "zzzz qqqq xxxx"), // short, no stopwords
      StreamingSpec.Doc(3L, Seq.fill(12)("- the bullet of that line with be").mkString("\n")),
      StreamingSpec.Doc(4L, "the numbers of that set with be " + (1 to 40).mkString(" ")))
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.gopherStream(mem.toDF(), minWords = 10L)
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(docs.take(2): _*)
      query.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("gopher_stream").collect()
        .map(r => r.toSeq.toList).toSet
      val want = graft.Graft.gopherRules(
        docs.toDF().select(col("doc_id"), col("text")), minWords = 10L)
        .collect().map(r => r.toSeq.toList).toSet
      assert(got == want, s"stream $got vs batch $want")
      // the planted violations actually discriminate
      val kept = spark.table("gopher_stream")
        .collect().map(r => r.getLong(0) -> r.getLong(r.length - 1)).toMap
      assert(kept(1L) == 1L && kept(2L) == 0L && kept(3L) == 0L && kept(4L) == 0L, kept)
    } finally query.stop()
  }

  test("ingestStream survivors equal the per-batch ingest pipeline across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    // 35-word docs, all tokens distinct, a tag token every 5 positions
    // (same construction as PipelineSpec: passes both gates, and docs
    // with different tags share no shingles beyond the template slots)
    def good(t: String) = Seq(
      s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
      s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
      s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
      s"is wolf ${t}gg fresh plum").mkString(" ")
    val known = Seq((100L, good("lke"))).toDF("doc_id", "text")
    val eval = Seq((200L, good("evl"))).toDF("doc_id", "text")
    val batch1 = Seq(
      StreamingSpec.Doc(1L, good("one")),   // survives
      StreamingSpec.Doc(2L, good("lke")),   // near-dup of the lake doc
      StreamingSpec.Doc(3L, "tiny doc"))    // fails the gates
    val batch2 = Seq(
      StreamingSpec.Doc(4L, good("two")),   // survives
      StreamingSpec.Doc(5L, good("two")),   // within-batch dup of 4
      StreamingSpec.Doc(6L, good("evl")))   // quotes the eval doc
    val mem = MemoryStream[StreamingSpec.Doc]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val query = Streams.ingestStream(mem.toDF(), known, eval,
      minWords = 10L, stops = stops) { surv =>
      got ++= surv.select("doc_id").collect().map(_.getLong(0))
    }
    try {
      mem.addData(batch1: _*)
      query.processAllAvailable()
      mem.addData(batch2: _*)
      query.processAllAvailable()
      assert(got.sorted == Seq(1L, 4L), got)
      // differential: stream == the batch pipeline applied per batch
      val want = Seq(batch1, batch2).flatMap { b =>
        Streams.ingestBatch(
          b.toDF().select(col("doc_id"), col("text")), known, eval,
          10L, stops).select("doc_id").collect().map(_.getLong(0))
      }
      assert(got.sorted == want.sorted, s"stream $got vs batch $want")
    } finally query.stop()
  }

  test("ingestStreamAppend: batch N+1 sees batch N's survivors through the lake store") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    def good(t: String) = Seq(
      s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
      s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
      s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
      s"is wolf ${t}gg fresh plum").mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("graft-lake")
    val lakeDir = root.resolve("sigs").toString
    val seed = Seq((100L, good("lke"))).toDF("doc_id", "text")
    graft.sources.Sinks.appendSignatures(seed, lakeDir)
    val eval = Seq((200L, good("evl"))).toDF("doc_id", "text")
    val batch1 = Seq(
      StreamingSpec.Doc(1L, good("one")),          // survives
      StreamingSpec.Doc(2L, good("lke")),          // near-dup of the SEED lake doc
      StreamingSpec.Doc(3L, "tiny doc"))           // fails the gates
    val batch2 = Seq(
      StreamingSpec.Doc(4L, good("one") + " coda"), // near-dup of batch-1 SURVIVOR 1
      StreamingSpec.Doc(5L, good("two")),           // survives
      StreamingSpec.Doc(6L, good("evl")))           // quotes the eval doc
    val mem = MemoryStream[StreamingSpec.Doc]
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val query = Streams.ingestStreamAppend(mem.toDF(), lakeDir, eval,
      minWords = 10L, stops = stops) { surv =>
      perBatch += surv.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    }
    try {
      mem.addData(batch1: _*)
      query.processAllAvailable()
      mem.addData(batch2: _*)
      query.processAllAvailable()
      // the cross-batch catch: doc 4 is a near-dup of doc 1 (a BATCH-1
      // survivor, not in the seed lake) — under the fixed-known
      // ingestStream it could only be flagged in-batch; the lake-append
      // flow drops it as near-known
      assert(perBatch.toSeq == Seq(Seq(1L), Seq(5L)), perBatch)
      // differential: the stream equals an independent sequential batch
      // replay accumulating the signature store in memory
      var known = graft.sources.Sinks.signatureFrame(seed)
      val replay = Seq(batch1, batch2).map { b =>
        val surv = Streams.ingestBatch(
          b.toDF().select(col("doc_id"), col("text")), known, eval, 10L, stops)
        // materialized per step: the union would otherwise nest every
        // earlier batch's whole dedup plan inside the next one's
        known = known.unionByName(graft.sources.Sinks.signatureFrame(surv))
          .localCheckpoint()
        surv.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      }
      assert(perBatch.toSeq == replay, s"stream $perBatch vs replay $replay")
      // and doc 4's flag really is is_near_known (cross-batch), not in-batch
      val flags = graft.queries.Dedup.dedupIncrementalMinhash(
        batch2.toDF().select(col("doc_id"), col("text")),
        graft.sources.Sinks.readSignatures(spark, lakeDir)
          .join(batch2.toDF().select(col("doc_id")), Seq("doc_id"), "left_anti"))
        .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
      assert(flags(4L) == ((true, false)), flags)
      // replay-after-append self-heals: re-running batch 2 against the
      // post-append store (own ids excluded, as the stream wrapper does)
      // yields the same survivors — the exactly-once story
      val rerun = Streams.ingestBatch(
        batch2.toDF().select(col("doc_id"), col("text")),
        graft.sources.Sinks.readSignatures(spark, lakeDir)
          .join(batch2.toDF().select(col("doc_id")), Seq("doc_id"), "left_anti"),
        eval, 10L, stops).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      assert(rerun == Seq(5L), rerun)
    } finally query.stop()
  }

  test("ingestStreamAppend: `each` reads the materialized decision, released after the batch") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    def good(t: String) = Seq(
      s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
      s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
      s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
      s"is wolf ${t}gg fresh plum").mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("graft-lake-once")
    val lakeDir = root.resolve("sigs").toString
    graft.sources.Sinks.appendSignatures(
      Seq((100L, good("lke"))).toDF("doc_id", "text"), lakeDir)
    val eval = Seq((200L, good("evl"))).toDF("doc_id", "text")
    val sc = spark.sparkContext
    // jobs started while `each` runs carry this thread-local property
    val probe = "graft.test.eachProbe"
    val eachJobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(probe) != null))
          eachJobs.incrementAndGet()
    }
    val ckIds = scala.collection.mutable.ArrayBuffer.empty[Int]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.ingestStreamAppend(mem.toDF(), lakeDir, eval,
      minWords = 10L, stops = stops) { surv =>
      ckIds ++= org.apache.spark.sql.graftbridge.Bridge.checkpointedRdd(surv).map(_.id)
      sc.setLocalProperty(probe, "each")
      try got ++= surv.select("doc_id").collect().map(_.getLong(0))
      finally sc.setLocalProperty(probe, null)
    }
    sc.addSparkListener(listener)
    try {
      mem.addData(
        StreamingSpec.Doc(1L, good("one")),   // survives
        StreamingSpec.Doc(2L, good("lke")),   // near-dup of the lake doc
        StreamingSpec.Doc(3L, "tiny doc"))    // fails the gates
      query.processAllAvailable()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      assert(got.toSeq == Seq(1L), got)
      // one job: a scan of the materialized survivors, not a rerun of
      // gate -> dedup -> decontamination after the append
      assert(eachJobs.get == 1, s"${eachJobs.get} jobs inside each")
      assert(ckIds.size == 1, "each should receive the checkpointed decision")
      val persisted = sc.getPersistentRDDs
      assert(ckIds.forall(id => !persisted.contains(id)),
        s"decision checkpoint still persisted: $ckIds")
    } finally {
      query.stop()
      sc.removeSparkListener(listener)
    }
  }

  /** A 35-word doc that passes both gates at minWords = 10, all tokens
    * distinct, with the letter tag `t` every 5 positions: docs with
    * different tags share no shingles beyond the template slots. */
  private def tagged(t: String) = Seq(
    s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
    s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
    s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
    s"is wolf ${t}gg fresh plum").mkString(" ")
  private val tagStops = Seq("the", "a", "of", "and", "to", "in", "is")

  /** A signature lake holding one doc (id 100, tag "lke") under a fresh
    * temp directory. */
  private def oneDocLake(): String = {
    import spark.implicits._
    val lakeDir = java.nio.file.Files.createTempDirectory("graft-lake-batch")
      .resolve("sigs").toString
    graft.sources.Sinks.appendSignatures(
      Seq((100L, tagged("lke"))).toDF("doc_id", "text"), lakeDir)
    lakeDir
  }

  test("ingestStreamAppend: a batch leaves nothing persisted") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val lakeDir = oneDocLake()
    val eval = Seq((200L, tagged("evl"))).toDF("doc_id", "text")
    val sc = spark.sparkContext
    graft.ops.Release.sweep(spark)
    val mem = MemoryStream[StreamingSpec.Doc]
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val query = Streams.ingestStreamAppend(mem.toDF(), lakeDir, eval,
      minWords = 10L, stops = tagStops) { surv =>
      got ++= surv.select("doc_id").collect().map(_.getLong(0))
    }
    try {
      val (rddsBefore, memosBefore) = (sc.getPersistentRDDs.keySet, graft.ops.PlanCache.held)
      mem.addData(
        StreamingSpec.Doc(1L, tagged("one")),   // survives
        StreamingSpec.Doc(2L, tagged("lke")),   // near-dup of the lake doc
        StreamingSpec.Doc(3L, "tiny doc"))      // fails the gates
      query.processAllAvailable()
      assert(got.toSeq == Seq(1L), got)
      assert(sc.getPersistentRDDs.keySet == rddsBefore,
        s"persisted RDDs ${sc.getPersistentRDDs.keySet.diff(rddsBefore)} outlive the batch")
      assert(graft.ops.PlanCache.held == memosBefore,
        s"${graft.ops.PlanCache.held - memosBefore} plan memos outlive the batch")
    } finally query.stop()
  }

  test("ingestStreamAppend: a batch of many small arrivals runs at the session's parallelism") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    implicit val sq = spark.sqlContext
    val lakeDir = oneDocLake()
    val eval = Seq((200L, tagged("evl"))).toDF("doc_id", "text")
    val sc = spark.sparkContext
    // 40 addData calls before the query starts: one batch of 40
    // one-doc input partitions
    def tag(i: Int) = s"${('a' + i % 26).toChar}${('a' + i / 26).toChar}q"
    val docs = (1 to 40).map(i => StreamingSpec.Doc(i.toLong, tagged(tag(i))))
    // the batch twin, against the lake as it is before the stream
    val want = Streams.ingestBatch(docs.toDF(),
        graft.sources.Sinks.readSignatures(spark, lakeDir), eval, 10L, tagStops)
      .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    graft.ops.Release.sweep(spark)
    val mem = MemoryStream[StreamingSpec.Doc]
    docs.foreach(d => mem.addData(d))
    val widths = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        widths.add(e.stageInfo.numTasks)
    }
    val got = scala.collection.mutable.ArrayBuffer.empty[Long]
    val query = Streams.ingestStreamAppend(mem.toDF(), lakeDir, eval,
      minWords = 10L, stops = tagStops) { surv =>
      got ++= surv.select("doc_id").collect().map(_.getLong(0))
    }
    sc.addSparkListener(listener)
    try {
      query.processAllAvailable()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      assert(got.sorted.toSeq == want && want.size > 30, s"stream $got vs batch $want")
      val ws = widths.toArray(Array.empty[Integer]).toSeq.map(_.intValue)
      assert(ws.nonEmpty && ws.max <= sc.defaultParallelism,
        s"stage widths $ws over ${sc.defaultParallelism} cores")
    } finally {
      query.stop()
      sc.removeSparkListener(listener)
    }
  }

  test("ingestStreamAppend: the batch's jobs carry per-phase descriptions, and `each` the batch's own") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    implicit val sq = spark.sqlContext
    val lakeDir = oneDocLake()
    val eval = Seq((200L, tagged("evl"))).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descs.add)
    }
    var eachDesc: String = null
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.ingestStreamAppend(mem.toDF(), lakeDir, eval,
      minWords = 10L, stops = tagStops) { _ =>
      eachDesc = sc.getLocalProperty("spark.job.description")
    }
    sc.addSparkListener(listener)
    try {
      mem.addData(StreamingSpec.Doc(1L, tagged("one")), StreamingSpec.Doc(2L, tagged("lke")))
      query.processAllAvailable()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      val phases = descs.toArray(Array.empty[String]).toSeq
        .filter(_.startsWith("ingestStreamAppend: "))
      info(phases.groupBy(identity).map { case (d, n) => s"$d: ${n.size} jobs" }
        .toSeq.sorted.mkString(", "))
      assert(phases.toSet == Set("features", "decision", "append")
        .map(p => s"ingestStreamAppend: $p"), phases)
      // restored: `each` runs under the streaming batch's description
      assert(eachDesc != null && eachDesc.contains(s"id = ${query.id}") &&
        eachDesc.contains("batch = 0"), eachDesc)
    } finally {
      query.stop()
      sc.removeSparkListener(listener)
    }
  }

  test("ingestStream: a batch id that is also a known id fails the disjointness guard") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val known = Seq((2L, tagged("lke"))).toDF("doc_id", "text")
    val eval = Seq((200L, tagged("evl"))).toDF("doc_id", "text")
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.ingestStream(mem.toDF(), known, eval,
      minWords = 10L, stops = tagStops) { surv => surv.collect(); () }
    try {
      // doc 2 passes the gates with new content under the lake's id
      mem.addData(StreamingSpec.Doc(1L, tagged("one")), StreamingSpec.Doc(2L, tagged("two")))
      val e = intercept[Exception](query.processAllAvailable())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("must be disjoint")), e)
    } finally query.stop()
    graft.ops.Release.sweep(spark)
  }

  test("stream -> staging lake -> compactShards equals batch produceShards end to end") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    def good(t: String) = Seq(
      s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
      s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
      s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
      s"is wolf ${t}gg fresh plum").mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("graft-compact")
    val (lakeDir, stagingDir) =
      (root.resolve("sigs").toString, root.resolve("staging").toString)
    val (dirA, dirB) =
      (root.resolve("shardsStream").toString, root.resolve("shardsBatch").toString)
    val eval = Seq((900L, good("evl"))).toDF("doc_id", "text")
    // planted EXACT duplicates only (in-batch 12 of 11, cross-batch 23
    // of 11): the stream's near-dup screen and the batch pipeline's
    // exact dedup then agree by construction, so the compacted
    // artifact must be bit-identical to the batch one. Doc 31 fails
    // the gates; doc 32 quotes the eval doc (decontamination).
    val batches = Seq(
      Seq(StreamingSpec.Doc(11L, good("one")), StreamingSpec.Doc(12L, good("one")),
        StreamingSpec.Doc(13L, good("two"))),
      Seq(StreamingSpec.Doc(21L, good("three")), StreamingSpec.Doc(23L, good("one"))),
      Seq(StreamingSpec.Doc(31L, "tiny doc"), StreamingSpec.Doc(32L, good("evl")),
        StreamingSpec.Doc(33L, good("four"))))
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.ingestStreamAppend(mem.toDF(), lakeDir, eval,
      minWords = 10L, stops = stops, stagingDir = Some(stagingDir)) { _ => () }
    try {
      batches.foreach { b => mem.addData(b: _*); query.processAllAvailable() }
    } finally query.stop()
    // scheduled compaction: staging lake -> epoch-shard artifact
    val manifestA = Graft.compactShards(spark, stagingDir, eval, dirA,
      minWords = 10L, stops = stops, budget = 64L, seed = 7L)
    // the batch twin on the concatenated input
    val manifestB = Graft.produceShards(batches.flatten.toDF(), eval, dirB,
      minWords = 10L, stops = stops, budget = 64L, seed = 7L)
    // loader integrity gate clean on the compacted artifact
    assert(graft.sources.Sinks.verifyShards(spark, dirA).isEmpty,
      "compacted artifact failed verifyShards")
    def rows(d: String) = graft.sources.Sinks.readShards(spark, d)
      .select("doc_id", "text", "n_tokens", "pos", "shard_id")
      .collect().map(_.toSeq).toSet
    val (a, b) = (rows(dirA), rows(dirB))
    assert(a == b, s"compacted artifact diverged from batch produceShards:\n" +
      s"stream-only: ${a.diff(b).take(3)}\nbatch-only: ${b.diff(a).take(3)}")
    // survivors are exactly the gate/dedup/decontam-clean set: first
    // copies 11, 13, 21, 33 (12/23 exact dups, 31 gated, 32 contaminated)
    assert(a.map(_.head) == Set(11L, 13L, 21L, 33L), a.map(_.head))
    assert(manifestA.collect().map(_.toSeq).toSet ==
      manifestB.collect().map(_.toSeq).toSet, "manifests diverged")
    // replay tolerance: double-append one batch's survivors to staging
    // (the failure-replay shape) — compaction output is unchanged
    batches(1).toDF().select(col("doc_id"), col("text"))
      .join(Seq(21L).toDF("doc_id"), Seq("doc_id"), "left_semi")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(stagingDir)
    val dirC = root.resolve("shardsReplay").toString
    Graft.compactShards(spark, stagingDir, eval, dirC,
      minWords = 10L, stops = stops, budget = 64L, seed = 7L)
    assert(rows(dirC) == b, "replayed staging rows changed the compacted artifact")
    // id reuse for NEW content must fail loudly (the ingestStreamKeyed
    // contract), never silently keep an arbitrary row: stage doc 21
    // again with DIFFERENT text and expect the compactor to throw
    Seq((21L, good("conflicting-rewrite"))).toDF("doc_id", "text")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(stagingDir)
    val dirD = root.resolve("shardsConflict").toString
    val e = intercept[Exception] {
      Graft.compactShards(spark, stagingDir, eval, dirD,
        minWords = 10L, stops = stops, budget = 64L, seed = 7L)
    }
    assert(e.getMessage.contains("conflicting texts"), e.getMessage)
    graft.ops.Release.sweep(spark)
  }

  test("ingestStreamKeyed decisions equal sequential D13b replays across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.IngestDecision
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    def good(t: String) = Seq(
      s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
      s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
      s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
      s"is wolf ${t}gg fresh plum").mkString(" ")
    val eval = Seq((200L, good("evl"))).toDF("doc_id", "text")
    val batches = Seq(
      Seq(StreamingSpec.Doc(1L, good("one")),         // kept
        StreamingSpec.Doc(2L, good("lke")),           // kept (first of its kind)
        StreamingSpec.Doc(3L, "tiny doc")),           // gated out -> no decision row
      Seq(StreamingSpec.Doc(4L, good("one") + " coda"), // CROSS-BATCH near-dup of 1
        StreamingSpec.Doc(5L, good("two")),            // kept
        StreamingSpec.Doc(6L, good("two") + " coda"),  // in-batch near-dup of 5
        StreamingSpec.Doc(7L, good("evl"))),           // contaminated
      Seq(StreamingSpec.Doc(8L, good("lke") + " coda"), // near-dup of batch-1 doc 2
        StreamingSpec.Doc(9L, good("nine"))))          // kept
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.ingestStreamKeyed(mem.toDF(), eval,
        minWords = 10L, stops = stops)
      .writeStream.format("memory").queryName("ingest_keyed")
      .outputMode(OutputMode.Append).start()
    try {
      batches.foreach { b =>
        mem.addData(b: _*)
        query.processAllAvailable()
      }
      val got = spark.table("ingest_keyed").as[IngestDecision].collect()
        .map(d => d.doc_id -> ((d.is_near_seen, d.contaminated, d.keep))).toMap
      // planted expectations: gated-out docs emit nothing; 4, 6, 8 are
      // near-seen (4 and 8 CROSS-batch — the keyed registry's whole
      // point); 7 contaminated
      assert(got.keySet == Set(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L), got)
      assert(got(4L) == ((true, false, false)) && got(8L) == ((true, false, false)), got)
      assert(got(6L) == ((true, false, false)) && got(7L) == ((false, true, false)), got)
      assert(Seq(1L, 2L, 5L, 9L).forall(id => got(id) == ((false, false, true))), got)
      // differential: sequential D13b replays — batch i's gated docs
      // against known = all EARLIER batches' gated docs; near =
      // near_known OR near_in_batch; contamination via batch D9
      def gate(b: Seq[StreamingSpec.Doc]) = {
        val df = b.toDF().select(col("doc_id"), col("text"))
        df.join(graft.queries.TextAnalysis
            .gopherFlags(df, 10L, 100000L, stops)
            .filter(col("kept") === 1L).select("doc_id"), Seq("doc_id"), "left_semi")
          .join(graft.queries.TextAnalysis.gopherRepFlags(df)
            .filter(col("kept") === 1L).select("doc_id"), Seq("doc_id"), "left_semi")
      }
      var known = gate(batches.head).limit(0)
      val want = scala.collection.mutable.Map.empty[Long, (Boolean, Boolean, Boolean)]
      batches.foreach { b =>
        val g = gate(b)
        val near = graft.queries.Dedup.dedupIncrementalMinhash(g, known)
          .collect().map(r => r.getLong(0) ->
            (r.getBoolean(1) || r.getBoolean(2))).toMap
        val contam = graft.queries.Contamination.decontaminate(g, eval)
          .collect().map(r => r.getLong(0) -> (r.getLong(4) == 1L)).toMap
        near.keys.foreach { id =>
          want(id) = (near(id), contam(id), !near(id) && !contam(id))
        }
        known = known.unionByName(g)
      }
      assert(got == want.toMap, s"stream $got vs replay $want")
    } finally query.stop()
  }

  test("ingestStreamKeyed: a cross-batch re-delivered doc_id gets an explicit duplicate decision") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.streaming.IngestDecision
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    def good(t: String) = Seq(
      s"the cat ${t}aa big house", s"and dog ${t}bb warm garden",
      s"of bird ${t}cc tall market", s"to fish ${t}dd wide basket",
      s"a goat ${t}ee ripe apple", s"in lamb ${t}ff sweet pear",
      s"is wolf ${t}gg fresh plum").mkString(" ")
    val eval = Seq((200L, good("evl"))).toDF("doc_id", "text")
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.ingestStreamKeyed(mem.toDF(), eval,
        minWords = 10L, stops = stops)
      .writeStream.format("memory").queryName("ingest_keyed_redeliver")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(StreamingSpec.Doc(1L, good("one")))
      query.processAllAvailable()
      // at-least-once replay: the SAME doc arrives again in a later
      // batch — it must surface as an explicit keep=false duplicate,
      // not silently produce no decision at all
      mem.addData(StreamingSpec.Doc(1L, good("one")),
        StreamingSpec.Doc(2L, good("two")))
      query.processAllAvailable()
      val rows = spark.table("ingest_keyed_redeliver").as[IngestDecision]
        .collect().toSeq
      val byDoc = rows.groupBy(_.doc_id)
      assert(byDoc(1L).map(d => (d.is_near_seen, d.keep)).sorted ==
        Seq((false, true), (true, false)),
        s"doc 1 decisions: ${byDoc(1L)}")
      assert(byDoc(2L).map(d => (d.is_near_seen, d.keep)) == Seq((false, true)))
    } finally query.stop()
  }

  test("gopherRepStream output equals batch gopherRepetition row-for-row across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Seq(
      StreamingSpec.Doc(1L, (1 to 14).map { i =>
        val u = ('a' + i).toChar // every token unique: no dominant gram
        s"aa$u bb$u cc$u dd$u ee$u"
      }.mkString("\n")),
      StreamingSpec.Doc(2L, Seq.fill(9)("the same line repeats").mkString("\n")),
      StreamingSpec.Doc(3L, "badger badger badger badger badger mushroom"),
      StreamingSpec.Doc(4L, Seq.fill(3)("para one body\n\npara one body").mkString("\n\n")))
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.gopherRepStream(mem.toDF())
      .writeStream.format("memory").queryName("gopher_rep_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(docs.take(2): _*)
      query.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("gopher_rep_stream").collect()
        .map(r => r.toSeq.toList).toSet
      val want = graft.Graft.gopherRepetition(
        docs.toDF().select(col("doc_id"), col("text")))
        .collect().map(r => r.toSeq.toList).toSet
      assert(got == want, s"stream $got vs batch $want")
      val kept = spark.table("gopher_rep_stream")
        .collect().map(r => r.getLong(0) -> r.getLong(r.length - 1)).toMap
      assert(kept(1L) == 1L && kept(2L) == 0L && kept(3L) == 0L && kept(4L) == 0L, kept)
    } finally query.stop()
  }

  test("c4Stream output equals batch c4Filters row-for-row across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val clean = (1 to 6).map(i => s"Sentence number $i is perfectly fine.")
      .mkString("\n")
    val docs = Seq(
      StreamingSpec.Doc(1L, clean),                        // kept intact
      StreamingSpec.Doc(2L, clean + "\nSome Lorem Ipsum filler."), // page phrase
      StreamingSpec.Doc(3L, "one good line only here.\nno punct\nshort."), // < 5 kept
      StreamingSpec.Doc(4L, clean.replaceFirst("number 3",
        "with javascript inside number 3")))               // drops one line
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.c4Stream(mem.toDF())
      .writeStream.format("memory").queryName("c4_stream")
      .outputMode(OutputMode.Append).start()
    try {
      mem.addData(docs.take(2): _*)
      query.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      query.processAllAvailable()
      val got = spark.table("c4_stream").collect()
        .map(r => r.toSeq.toList).toSet
      val want = graft.Graft.c4Filters(
        docs.toDF().select(col("doc_id"), col("text")))
        .collect().map(r => r.toSeq.toList).toSet
      assert(got == want, s"stream $got vs batch $want")
      val kept = spark.table("c4_stream")
        .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
      assert(kept(1L) == 1L && kept(2L) == 0L && kept(3L) == 0L && kept(4L) == 1L, kept)
      val nKept = spark.table("c4_stream")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(nKept(4L) == 5L, s"javascript line dropped: $nKept")
    } finally query.stop()
  }

  test("spanIngestStream: per-batch rewrites equal full exciseSpans over the lake so far") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // 5-gram phrases: X planted in batches 1 AND 3 (cross-batch catch
    // through the store), Y repeated WITHIN batch 2
    val X = "alpha beta gamma delta epsilon"
    val Y = "one two three four five"
    val batches = Seq(
      Seq(StreamingSpec.Doc(1L, s"head pad $X tail marker words"),
        StreamingSpec.Doc(2L, "nothing shared in this one at all")),
      Seq(StreamingSpec.Doc(3L, s"lead in $Y mid section $Y done"),
        StreamingSpec.Doc(4L, "another fully unique document body here")),
      Seq(StreamingSpec.Doc(5L, s"late copy $X arrives days after")))
    val dir = java.nio.file.Files.createTempDirectory("graft-spanstream")
      .resolve("grams").toString
    val mem = MemoryStream[StreamingSpec.Doc]
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]
    val query = Streams.spanIngestStream(mem.toDF(), dir) { cleaned =>
      perBatch += cleaned.orderBy("doc_id").collect().map(_.toSeq.toList).toSeq
    }
    try {
      batches.foreach { b =>
        mem.addData(b: _*)
        query.processAllAvailable()
      }
      // doc 5's X span must be excised CROSS-BATCH (its keeper lives in
      // batch 1, reachable only through the gram-key store)
      val late = perBatch(2).head
      assert(late(2) == 5L, s"doc 5 must lose its 5 X tokens: $late")
      // and doc 3's in-batch repeat lost its second Y occurrence
      val d3 = perBatch(1).head
      assert(d3(2) == 5L, s"doc 3 must lose the repeated Y run: $d3")
      // the chain differential: each batch equals full D16 over
      // EVERYTHING ingested so far, restricted to the batch (the D27
      // oracle argument, replayed across the stream)
      val expect = batches.indices.map { i =>
        val soFar = batches.take(i + 1).flatten.toDF()
          .select(col("doc_id"), col("text"))
        val ids = batches(i).map(_.doc_id).toSet
        graft.queries.Dedup.exciseSpans(soFar)
          .filter(col("doc_id").isin(ids.toSeq: _*))
          .orderBy("doc_id").collect().map(_.toSeq.toList).toSeq
      }
      assert(perBatch.toSeq == expect,
        s"stream ${perBatch.toSeq} vs full-lake replay $expect")
    } finally query.stop()
  }

  test("corpusMapStream: accumulated stream rows equal the I12 census under the frozen fit") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    // freeze the model on the full corpus (what the census fits), then
    // stream the SAME docs through the stateless assignment in batches
    val model = graft.queries.CorpusMap.fitModel(docs)
    val rows = docs.as[StreamingSpec.Doc].collect().toSeq
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.corpusMapStream(mem.toDF(), model)
      .writeStream.format("memory").queryName("corpus_map_stream")
      .outputMode(OutputMode.Append).start()
    try {
      val (b1, b2) = rows.splitAt(rows.size / 2)
      mem.addData(b1: _*)
      query.processAllAvailable()
      mem.addData(b2: _*)
      query.processAllAvailable()
      val got = spark.table("corpus_map_stream")
        .groupBy("cell", "decile")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_docs"),
          org.apache.spark.sql.functions.sum(col("n_tokens")).as("n_tokens"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      val census = graft.queries.CorpusMap.corpusMap(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      assert(got == census,
        s"streamed census drifted from the hash-green I12 census")
    } finally query.stop()
  }

  test("cellMixStream: accumulated survivors equal the batch mixer, any delivery order") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    // freeze BOTH halves of the state on the full corpus (what the
    // batch mixer fits), then stream the same docs through the
    // stateless keep/drop — in REVERSED batch order, so order
    // independence is exercised, not assumed
    val model = graft.queries.CorpusMap.fitModel(docs)
    val rates = graft.queries.CellMix.fitRates(docs)
    val rows = docs.as[StreamingSpec.Doc].collect().toSeq
    val mem = MemoryStream[StreamingSpec.Doc]
    val query = Streams.cellMixStream(mem.toDF(), model, rates)
      .writeStream.format("memory").queryName("cell_mix_stream")
      .outputMode(OutputMode.Append).start()
    try {
      val (b1, b2) = rows.splitAt(rows.size / 3)
      mem.addData(b2: _*) // later docs first
      query.processAllAvailable()
      mem.addData(b1: _*)
      query.processAllAvailable()
      val got = spark.table("cell_mix_stream")
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
            r.getBoolean(5))))
        .toMap
      val batch = graft.queries.CellMix.cellMix(docs)
        .collect().map(r => (r.getLong(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
            r.getBoolean(5))))
        .toMap
      assert(got == batch,
        "streamed keep/drop diverged from the batch mixer under the frozen state")
    } finally query.stop()
  }
}
