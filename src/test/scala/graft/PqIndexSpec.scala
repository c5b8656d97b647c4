package graft

import org.apache.spark.sql.functions._

/** The build-once / search-many contract of
  * [[graft.queries.Similarity.buildPqIndex]] /
  * [[graft.queries.Similarity.searchPqIndex]]: the stored index frame
  * plus the driver-side model state must be SUFFICIENT to reproduce
  * searches after a parquet round trip (the production layout: index
  * on the lake, codebooks with the job), and the index must stay
  * narrow — codes, never embeddings. */
class PqIndexSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  private lazy val queriesDf = emb.filter(col("vec_id") % 100 === 0)

  private def results(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.select("q_id", "rank", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted

  test("stored index round-trips through parquet and searches identically") {
    val idx = queries.Similarity.buildPqIndex(emb, cells = 4, m = 4, ksub = 8)
    val direct = results(queries.Similarity.searchPqIndex(idx, emb, queriesDf))

    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    idx.index.write.mode("overwrite").parquet(s"$dir/index")
    idx.cents.write.mode("overwrite").parquet(s"$dir/cents")
    val reloaded = idx.copy(
      cents = spark.read.parquet(s"$dir/cents"),
      index = spark.read.parquet(s"$dir/index"))
    val replayed = results(queries.Similarity.searchPqIndex(reloaded, emb, queriesDf))
    assert(direct == replayed,
      "reloaded index diverged from the in-session index")
    assert(direct.nonEmpty)
  }

  test("one index serves different probe/rescore settings without refit") {
    val idx = queries.Similarity.buildPqIndex(emb, cells = 4, m = 4, ksub = 8)
    val narrow = results(queries.Similarity.searchPqIndex(idx, emb, queriesDf,
      probes = 1, rescore = 10))
    val wide = results(queries.Similarity.searchPqIndex(idx, emb, queriesDf,
      probes = 4, rescore = Int.MaxValue))
    // exhaustive settings == brute-force top-k (the E7 oracle identity)
    val brute = results(queries.Similarity.annBruteforce(emb))
    assert(wide == brute, "exhaustive PQ search != brute force")
    // narrow settings stay well-formed even where recall drops
    assert(narrow.forall { case (_, rank, _) => rank >= 1 && rank <= 5 })
  }

  test("searches read the memo-persisted index, not a fresh full-corpus encode") {
    val idx = queries.Similarity.buildPqIndex(emb, cells = 4, m = 4, ksub = 8)
    val plan = queries.Similarity.searchPqIndex(idx, emb, queriesDf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      "PqIndex.index lost its persist — every search would re-encode the corpus")
  }

  test("pqIndexOnDisk: builds once, reloads across calls, searches like a fresh build") {
    // unique cacheKey per run so the first call exercises the build+write path
    val cacheKey = s"$sfDir#spec-${System.nanoTime()}"
    try {
      val fromDisk = queries.Similarity.pqIndexOnDisk(emb, cacheKey,
        cells = 4, m = 4, ksub = 8)
      val fresh = queries.Similarity.buildPqIndex(emb, cells = 4, m = 4, ksub = 8)
      // codebooks round-trip bit-exactly through the text sidecar
      assert(fromDisk.codebooks.map(_.toSeq.map(_.toSeq)) ==
        fresh.codebooks.map(_.toSeq.map(_.toSeq)),
        "codebooks diverged through the Double.toString round trip")
      val a = results(queries.Similarity.searchPqIndex(fromDisk, emb, queriesDf))
      val b = results(queries.Similarity.searchPqIndex(fresh, emb, queriesDf))
      assert(a == b, "disk-backed index searches differently from a fresh build")
      // second load must NOT rebuild: the artifact is complete on disk, so
      // a reload round-trips purely through the files and matches again
      val reload = queries.Similarity.pqIndexOnDisk(emb, cacheKey,
        cells = 4, m = 4, ksub = 8)
      assert(results(queries.Similarity.searchPqIndex(reload, emb, queriesDf)) == a)
    } finally {
      // the nanoTime key means no later run can ever reuse this
      // artifact — delete it or every test run leaks a dir in /tmp
      queries.Similarity.deleteRecursively(queries.Similarity.pqIndexDiskBase(
        cacheKey, cells = 4, m = 4, ksub = 8, dims = 64,
        seed = 0xC0FFEEL, maxIter = 20))
    }
  }

  test("the stored index is narrow: cell + m small codes, no embeddings") {
    val idx = queries.Similarity.buildPqIndex(emb, cells = 4, m = 4, ksub = 8)
    assert(idx.index.columns.toSeq == Seq("vec_id", "cell", "code"))
    val row = idx.index.select(col("code")).head()
    val codes = row.getSeq[Int](0)
    assert(codes.length == 4, s"expected m=4 codes, got ${codes.length}")
    assert(codes.forall(c => c >= 0 && c < 8), s"code out of ksub range: $codes")
  }

  test("the fused fit equals kmeans alone on the unit vector and on each subspace") {
    val (cells, m, ksub, maxIter) = (4, 4, 8, 8)
    val idx = queries.Similarity.buildPqIndex(emb, cells = cells, m = m,
      ksub = ksub, maxIter = maxIter)
    // the unit vectors buildPqIndex fits on, by the same arithmetic
    val n2 = coalesce(graft.functions.VectorFunctions.norm2(col("embedding")), lit(0.0))
    val u = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double") / sqrt(n2)).as("u"))
    def alone(vec: org.apache.spark.sql.Column, k: Int): Seq[Seq[Double]] =
      queries.KMeansLloyd.kmeans(u.select(col("vec_id"), vec.as("embedding")),
          k = k, iters = maxIter)
        .collect().toSeq.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_.getLong(1)).map(_.getDouble(3)))
    val coarse = idx.cents.orderBy("c_id").collect().toSeq
      .map(_.getSeq[Double](1).toSeq)
    assert(coarse == alone(col("u"), cells), "coarse centroids")
    val dsub = 64 / m
    (0 until m).foreach { j =>
      assert(idx.codebooks(j).toSeq.map(_.toSeq) ==
        alone(slice(col("u"), j * dsub + 1, dsub), ksub), s"codebook $j")
    }
    idx.release()
  }

  test("a PQ build's fit runs one init job plus one job per iteration, whatever m") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // the fit describes its jobs "kmeans fit: ..."; the description is
    // a job property, so jobs AQE submits from its own threads carry it
    val fitJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .exists(_.startsWith("kmeans fit")))
          fitJobs.incrementAndGet()
    }
    def jobsFor(m: Int): Int = {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      fitJobs.set(0)
      val idx = queries.Similarity.buildPqIndex(emb, cells = 10, m = m,
        ksub = 16, maxIter = 4)
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      idx.release()
      fitJobs.get
    }
    sc.addSparkListener(listener)
    try {
      val (m2, m8) = (jobsFor(2), jobsFor(8))
      info(s"fit jobs: m = 2 -> $m2, m = 8 -> $m8")
      assert(m2 >= 2, s"the listener saw no fit jobs: $m2")
      assert(m2 <= 1 + 4, s"m = 2 fit ran $m2 jobs")
      assert(m8 == m2, s"m = 8 fit ran $m8 jobs, m = 2 ran $m2")
    } finally sc.removeSparkListener(listener)
  }
}
