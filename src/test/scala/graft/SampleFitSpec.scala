package graft

import graft.queries.{KMeansLloyd, Shards, Similarity}
import org.apache.spark.sql.functions._

/** The seeded sample-fit path ([[Similarity.fitFrame]] /
  * `fitFraction`) — the 100 TB fit contract:
  *
  *   - the draw is a PURE ID FUNCTION: fitting at `fitFraction = f`
  *     equals fitting at 1.0 on the pre-filtered frame (the model
  *     state is identical, not just similar), and is partitioning-
  *     invariant — `DataFrame.sample` passes neither;
  *   - the ENCODE/assignment side still covers every vector;
  *   - an underfed draw fails loudly instead of returning degenerate
  *     duplicate centroids;
  *   - production-shape recall at a sampled fit stays near the full
  *     fit's (the quality argument for cutting fit scans 100×), on a
  *     draw of at least cells × ~1k points — the size [[Similarity.fitFrame]]
  *     documents fit quality saturating at. The committed 500-vector
  *     table cannot resolve that gate: its 5 queries give 25 neighbor
  *     pairs, so recall moves in 0.04 steps, and a 0.5 draw leaves ~25
  *     points per cell, where fit quality is not promised.
  */
class SampleFitSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  // the draw is seeded by the FIT's seed (folded into the LCG domain):
  // kmeans passes 0, the Similarity builders their 0xC0FFEE default
  private def keep(f: Double, seed: Long = 0L) =
    Shards.fitKeep(col("vec_id"), f, seed % 1000000006L)

  test("kmeans sample-fit == full fit on the pre-filtered frame, and is partitioning-invariant") {
    val sampled = KMeansLloyd.kmeans(emb, k = 4, iters = 2, fitFraction = 0.5)
      .collect().toSeq
    val prefiltered =
      KMeansLloyd.kmeans(emb.filter(keep(0.5)), k = 4, iters = 2)
        .collect().toSeq
    assert(sampled == prefiltered)
    val repartitioned =
      KMeansLloyd.kmeans(emb.repartition(7), k = 4, iters = 2, fitFraction = 0.5)
        .collect().toSeq
    assert(sampled == repartitioned)
  }

  test("buildPqIndex sample-fit: model state == pre-filtered fit's; index still covers the full corpus") {
    val s = Similarity.buildPqIndex(emb, cells = 4, m = 4, ksub = 4,
      fitFraction = 0.5)
    val p = Similarity.buildPqIndex(emb.filter(keep(0.5, 0xC0FFEEL)),
      cells = 4, m = 4, ksub = 4)
    assert(s.codebooks.map(_.map(_.toSeq).toSeq) ==
      p.codebooks.map(_.map(_.toSeq).toSeq))
    assert(s.cents.orderBy("c_id").collect().toSeq ==
      p.cents.orderBy("c_id").collect().toSeq)
    // the encode pass is NOT sampled: every vector gets a code row
    assert(s.index.count() == emb.count())
    s.release(); p.release()
  }

  test("buildOpqIndex sample-fit: the learned rotation == the pre-filtered fit's") {
    val s = Similarity.buildOpqIndex(emb, cells = 4, m = 4, ksub = 4,
      opqRounds = 2, fitFraction = 0.5)
    val p = Similarity.buildOpqIndex(emb.filter(keep(0.5, 0xC0FFEEL)),
      cells = 4, m = 4, ksub = 4, opqRounds = 2)
    assert(s.rotation.map(_.toSeq).toSeq == p.rotation.map(_.toSeq).toSeq)
    assert(s.pq.index.count() == emb.count())
    s.pq.release(); p.pq.release()
  }

  test("semanticDedupTrained sample-fit still classifies every vector") {
    val out = Similarity.semanticDedupTrained(emb, cells = 4,
      minCosine = 0.4, fitFraction = 0.5)
    assert(out.count() == emb.count())
  }

  test("exhaustive probes erase the sample fit: annIvfTrained(fitFraction=0.5, probes=cells) == brute force") {
    val exact = Similarity.annBruteforce(emb).collect().toSeq
    val sampled = Similarity
      .annIvfTrained(emb, cells = 10, probes = 10, fitFraction = 0.5)
      .collect().toSeq
    assert(sampled == exact)
  }

  /** A seeded corpus shaped like the committed `embeddings` table —
    * 64-dim unit float32 vectors under 10 random labels whose centres
    * sit ~0.13 from the origin, with ~unit spread around them — but
    * large enough that a 0.5 draw feeds every one of 10 cells ~1k
    * points. Built on the driver from a fixed seed, so its rows do not
    * depend on partitioning. */
  private lazy val probeCorpus = {
    import spark.implicits._
    val (n, dims, labels) = (21000, 64, 10)
    val rnd = new scala.util.Random(42)
    val centres = Array.fill(labels, dims)(rnd.nextGaussian() * 0.13 / 8)
    val rows = (0 until n).map { i =>
      val label = rnd.nextInt(labels)
      val v = Array.tabulate(dims)(d => centres(label)(d) + rnd.nextGaussian() / 8)
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    rows.toDF("vec_id", "embedding", "label")
  }

  test("production probes: sample-fit recall@5 stays within eps of the full fit") {
    // premise: 210 queries (1,050 neighbor pairs), and a 0.5 draw that
    // feeds each of the 10 cells ~1k points
    assert(probeCorpus.filter(keep(0.5, 0xC0FFEEL)).count() >= 10 * 1000L)
    val exact = Similarity.annBruteforce(probeCorpus)
    def recall(f: Double): Double = Similarity
      .recallAtK(Similarity.annIvfTrained(probeCorpus, cells = 10, probes = 3,
        fitFraction = f), exact)
      .agg(avg("recall")).head().getDouble(0)
    val full = recall(1.0)
    val half = recall(0.5)
    info(s"recall@5: full fit $full, half-fit $half")
    // deterministic corpus + seeded draw => both numbers are pinned;
    // the gate is the DELTA (sample-fit quality), not the absolute
    assert(full - half <= 0.05,
      s"sample-fit recall $half fell more than 0.05 below full-fit $full")
  }

  test("an underfed draw fails loudly, never degenerates") {
    val tiny = emb.limit(10)
    val e = intercept[IllegalArgumentException] {
      KMeansLloyd.kmeans(tiny, k = 8, iters = 1, fitFraction = 0.05)
    }
    assert(e.getMessage.contains("fitFraction"))
  }

  test("fitFraction domain is validated") {
    intercept[IllegalArgumentException] {
      KMeansLloyd.kmeans(emb, k = 2, iters = 1, fitFraction = 0.0)
    }
    intercept[IllegalArgumentException] {
      KMeansLloyd.kmeans(emb, k = 2, iters = 1, fitFraction = 1.5)
    }
  }
}
