package graft

import graft.queries.Similarity
import org.apache.spark.sql.functions._

/** E15 OPQ — the rotation fit's contracts (orthogonality, determinism,
  * non-triviality), the search path's exhaustive ≡ brute-force
  * equivalence at the API level, and the recall comparison vs E7 at
  * equal bytes (the README-pinned uplift measurement runs at sf0.1;
  * this spec pins the same comparison machinery at sf0.001). */
class OpqSpec extends SparkSpec {

  // SPARK_GRAFT_OPQ_SF overrides the corpus for the recall comparison
  // (the README pin runs it at sf0.1; CI stays at sf0.001)
  private val opqSf =
    sys.env.getOrElse("SPARK_GRAFT_OPQ_SF", "/root/testdata/sf0.001")

  private def emb = Tables.embeddings(spark, opqSf)

  private def recallAt5(approx: org.apache.spark.sql.DataFrame): Double = {
    val exact = Similarity.annBruteforce(emb)
      .select(col("q_id"), col("neighbor_id"))
    val hit = approx.select(col("q_id"), col("neighbor_id"))
      .join(exact, Seq("q_id", "neighbor_id")).count()
    hit.toDouble / exact.count()
  }

  test("the learned rotation is orthogonal and not the identity") {
    val idx = Graft.buildOpqIndex(emb, cells = 4, m = 4, ksub = 8)
    val r = idx.rotation
    val dims = r.length
    // R^T R == I within numerical tolerance
    for (i <- 0 until dims; j <- 0 until dims) {
      val dotIj = (0 until dims).map(k => r(k)(i) * r(k)(j)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dotIj - expect) < 1e-9,
        s"R^T R [$i][$j] = $dotIj, expected $expect")
    }
    // the Procrustes update moved R off the identity (a trivial fit
    // would make E15 a renamed E7)
    val offDiag = (0 until dims).flatMap(i => (0 until dims)
      .collect { case j if i != j => math.abs(r(i)(j)) }).max
    assert(offDiag > 1e-6, s"rotation is (numerically) the identity")
  }

  test("the fit is bit-reproducible (fixed-point A sums, seeded fits)") {
    val r1 = Graft.buildOpqIndex(emb, cells = 4, m = 4, ksub = 8).rotation
    graft.ops.Release.sweep(spark)
    val r2 = Graft.buildOpqIndex(emb, cells = 4, m = 4, ksub = 8).rotation
    assert(r1.flatten.toSeq == r2.flatten.toSeq)
  }

  test("exhaustive-config search equals brute-force top-k exactly") {
    val idx = Graft.buildOpqIndex(emb, cells = 4, m = 4, ksub = 8)
    val out = Graft.searchOpqIndex(idx, emb,
      emb.filter(col("vec_id") % 100 === 0),
      probes = 4, rescore = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.annBruteforce(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == exact)
  }

  test("OPQ beats plain PQ on anisotropic embeddings (the regime it exists for)") {
    import spark.implicits._
    // energy concentrated in a few directions that are NOT axis-aligned
    // with the subspace split: strong per-dim variance decay, then a
    // fixed orthogonal mixing rotation (seeded Gram-Schmidt) smears the
    // energy across subspace boundaries. Plain PQ quantizes each
    // subspace independently and wastes its codebook on mixed
    // coordinates; OPQ's Procrustes rotation recovers the decorrelated
    // axes. Deterministic: one seeded RNG drives data and mixer.
    val dims = 16; val n = 2000
    val rnd = new scala.util.Random(42)
    def gaussian(): Double = rnd.nextGaussian()
    // mixing rotation via Gram-Schmidt of a random matrix
    val raw = Array.fill(dims, dims)(gaussian())
    val mix = Array.ofDim[Double](dims, dims)
    for (i <- 0 until dims) {
      var v = raw(i).clone()
      for (j <- 0 until i) {
        val d = (0 until dims).map(k => v(k) * mix(j)(k)).sum
        for (k <- 0 until dims) v(k) -= d * mix(j)(k)
      }
      val nrm = math.sqrt(v.map(x => x * x).sum)
      mix(i) = v.map(_ / nrm)
    }
    val sigma = Array.tabulate(dims)(d => math.pow(0.55, d))
    val rows = (0 until n).map { v =>
      val g = Array.tabulate(dims)(d => gaussian() * sigma(d))
      val x = Array.tabulate(dims)(i =>
        (0 until dims).map(k => mix(i)(k) * g(k)).sum.toFloat)
      (v.toLong, x.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") % 100 === 0)
    val exact = Similarity.annBruteforce(df)
      .select(col("q_id"), col("neighbor_id"))
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      approx.select(col("q_id"), col("neighbor_id"))
        .join(exact, Seq("q_id", "neighbor_id")).count().toDouble /
        exact.count()
    val pqIdx = Graft.buildPqIndex(df, cells = 8, m = 4, ksub = 8, dims = dims)
    val pqR = recall(Similarity.searchPqIndex(pqIdx, df, queries,
      probes = 8, rescore = 20))
    val opqIdx = Graft.buildOpqIndex(df, cells = 8, m = 4, ksub = 8,
      dims = dims, opqRounds = 8)
    val opqR = recall(Graft.searchOpqIndex(opqIdx, df, queries,
      probes = 8, rescore = 20))
    info(f"anisotropic recall@5: PQ $pqR%.3f vs OPQ $opqR%.3f")
    assert(opqR > pqR,
      f"OPQ ($opqR%.3f) must beat PQ ($pqR%.3f) on anisotropic data")
  }

  test("approximate-mode recall vs PQ at equal bytes (the E15 claim)") {
    // equal code budget: same cells/m/ksub; production-ish probes
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val pqIdx = Graft.buildPqIndex(emb, cells = 10, m = 8, ksub = 16)
    val pqR = recallAt5(Similarity.searchPqIndex(pqIdx, emb, queries,
      probes = 3, rescore = 50))
    val opqIdx = Graft.buildOpqIndex(emb, cells = 10, m = 8, ksub = 16)
    val opqR = recallAt5(Graft.searchOpqIndex(opqIdx, emb, queries,
      probes = 3, rescore = 50))
    info(f"recall@5 at equal bytes: PQ $pqR%.3f vs OPQ $opqR%.3f")
    // floors, not a strict ">": on the synthetic near-isotropic
    // corpus the rotation has little variance to exploit, so the
    // honest claim is "OPQ search is healthy and within noise of PQ";
    // the uplift regime (correlated dims) is documented in README
    assert(opqR >= 0.3, s"OPQ recall collapsed: $opqR")
    assert(opqR >= pqR - 0.15, s"OPQ recall $opqR far below PQ $pqR")
  }

  test("an OPQ build checks embedding widths with one scan, on its input") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // requireDims describes its jobs "requireDims: <caller>"
    val checks = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.startsWith("requireDims"))
          .foreach(checks.add)
    }
    def checkJobs(build: => Unit): Seq[String] = {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      checks.clear()
      build
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
      graft.ops.Release.sweep(spark)
      checks.toArray(Array.empty[String]).toSeq
    }
    sc.addSparkListener(listener)
    try {
      // the jobs of one scan: a direct PQ build checks its input once
      val one = checkJobs(Similarity.buildPqIndex(emb, cells = 4, m = 4,
        ksub = 8, maxIter = 2).release())
      assert(one.nonEmpty && one.forall(_ == "requireDims: buildPqIndex"), one)
      val opq = checkJobs(Similarity.buildOpqIndex(emb, cells = 4, m = 4,
        ksub = 8, maxIter = 2, opqRounds = 1).pq.release())
      assert(opq == one.map(_ => "requireDims: buildOpqIndex"),
        s"OPQ build's width checks $opq, one scan is ${one.size} jobs")
    } finally sc.removeSparkListener(listener)
  }
}
