package graft

import java.nio.file.{Files, Paths}

import graft.mr.{KeyValue, MapReduce}
import graft.sources.{Sinks, Sources}
import org.apache.spark.sql.functions._

/** Sources/sinks: the reference input shape (text corpus → MR job),
  * schema'd JSONL/CSV ingest with corrupt-record handling, and the
  * partitioned parquet sink with pruning. */
class SourcesSpec extends SparkSpec {

  private def tmpDir(name: String): String = {
    val d = Files.createTempDirectory(name)
    d.toFile.deleteOnExit()
    d.toString
  }

  test("textCorpus + runJob = the reference wc pipeline end to end") {
    val dir = tmpDir("corpus")
    Files.writeString(Paths.get(dir, "pg-a.txt"), "So we beat on boats against the current")
    Files.writeString(Paths.get(dir, "pg-b.txt"), "the current was strong so we beat on")
    import spark.implicits._
    val out = MapReduce.runJob(
      Sources.textCorpus(spark, s"$dir/*.txt"),
      (_, contents) => contents.toLowerCase.split("[^a-z]+").toSeq
        .filter(_.nonEmpty).map(w => KeyValue(w, "1")),
      (_, values) => values.size.toString)
      .collect().map(kv => kv.key -> kv.value).toMap
    assert(out("the") == "2")
    assert(out("so") == "2")
    assert(out("boats") == "1")
  }

  test("textCorpus yields one record per file with its basename") {
    val dir = tmpDir("corpus2")
    Files.writeString(Paths.get(dir, "x.txt"), "line1\nline2")
    Files.writeString(Paths.get(dir, "y.txt"), "z")
    val rows = Sources.textCorpus(spark, s"$dir/*.txt").collect().toMap
    assert(rows.keySet == Set("x.txt", "y.txt"))
    assert(rows("x.txt") == "line1\nline2")
  }

  test("jsonlEvents: schema'd read, corrupt lines quarantined not fatal") {
    val dir = tmpDir("jsonl")
    Files.writeString(Paths.get(dir, "e.json"),
      """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":7,"event_type":"click","value":1.5,"props":"{}"}
        |not json at all
        |{"event_id":2,"ts":"2024-01-01T01:00:00Z","user_id":8,"event_type":"view","value":2.0,"props":null}
        |""".stripMargin)
    // Spark disallows queries touching only _corrupt_record on the raw
    // scan; cache the parsed result first (its own documented advice)
    val df = Sources.jsonlEvents(spark, dir).cache()
    assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    assert(df.filter("event_id = 1").select("user_id").head.getLong(0) == 7L)
  }

  test("partitioned parquet sink prunes partitions on read-back") {
    val dir = tmpDir("sink")
    val df = Tables.orders(spark, sfDir)
      .withColumn("status", col("o_orderstatus"))
    Sinks.parquet(df, s"$dir/orders", partitionBy = Seq("status"))
    val back = spark.read.parquet(s"$dir/orders").filter(col("status") === "O")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(status"), plan.take(400))
    assert(back.count() == df.filter("o_orderstatus = 'O'").count())
  }

  test("compactParquet collapses a small-file explosion, rows intact") {
    val dir = tmpDir("compact")
    val docs = Tables.documents(spark, sfDir)
    docs.repartition(50).write.parquet(s"$dir/src")
    assert(spark.read.parquet(s"$dir/src").inputFiles.length == 50)
    sources.Sinks.compactParquet(spark, s"$dir/src", s"$dir/dst", targetFileMB = 256)
    val out = spark.read.parquet(s"$dir/dst")
    assert(out.inputFiles.length == 1) // 500 tiny docs fit one 256MB target
    assert(out.count() == docs.count())
  }

  test("csv sink/source round trip") {
    val dir = tmpDir("csv")
    val df = Tables.region(spark, sfDir)
    Sinks.csv(df, s"$dir/region")
    val back = Sources.csv(spark, s"$dir/region", df.schema)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      df.orderBy("r_regionkey").collect().toSeq)
  }

  test("orc sink/source round trip with predicate pushdown") {
    val dir = tmpDir("orc")
    val df = Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    Sinks.orc(df, s"$dir/orders")
    val back = Sources.orc(spark, s"$dir/orders", df.schema)
    assert(back.count() == df.count())
    assert(back.orderBy("o_orderkey").collect().toSeq ==
      df.orderBy("o_orderkey").collect().toSeq)
    // ORC scans must push filters like parquet scans do
    val plan = back.filter(col("o_totalprice") > 1000.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice)"), plan.take(500))
  }

  test("appendBatchSignatures writes signatureFrame's rows in one job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "harbor cranes lift steel containers onto waiting vessels"),
      (3L, "tiny doc")) // no 3-shingle: keys only, null signature
      .toDF("doc_id", "text").localCheckpoint()
    val dir = s"${tmpDir("batch-sigs")}/sigs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      Sinks.appendBatchSignatures(docs, dir)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${jobs.get} jobs for one batch append")
    val want = Sinks.signatureFrame(docs)
    val got = spark.read.parquet(dir)
    assert(got.columns.toSeq == want.columns.toSeq)
    val rows = got.orderBy("doc_id").collect().toSeq
    assert(rows == want.orderBy("doc_id").collect().toSeq, rows)
    assert(rows.size == 3 && rows(2).isNullAt(3) && !rows(2).isNullAt(1), rows)
  }
}
