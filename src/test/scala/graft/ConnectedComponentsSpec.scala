package graft

import graft.ops.ConnectedComponents
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {

  /** Local union-find oracle (path compression + union by rank). */
  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // canonical label = min member id; with min-root unions the root IS the min
    touched.map(v => v -> find(v.toInt).toLong).toMap
  }

  /** localFinishEdges = 0 exercises the distributed star iteration;
    * the default exercises the driver-side local finish. */
  private def ccMap(edges: Seq[(Long, Long)], localFinish: Long = 1000000L): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.connectedComponents(edges.toDF("src", "dst"),
      localFinishEdges = localFinish)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graphs match a local union-find (both execution paths)") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 200 + trial * 100
      val edges = Seq.fill(n / 2)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val want = unionFind(n, edges)
      assert(ccMap(edges) == want, s"trial $trial (local finish)")
      assert(ccMap(edges, localFinish = 0L) == want, s"trial $trial (iterative)")
    }
  }

  test("worst-case chain collapses to one component (log-round regime)") {
    import spark.implicits._
    val n = 500L
    val chain = (0L until n).sliding(2).map(s => (s(0), s(1))).toSeq
    // iterative path: the chain is the round-budget stressor — naive
    // min-label flooding needs n rounds, large/small star O(log n)
    val (labels, rounds) = ConnectedComponents.connectedComponentsInstrumented(
      chain.toDF("src", "dst"), localFinishEdges = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 500 && got.values.forall(_ == 0L))
    val budget = 2 * (64 - java.lang.Long.numberOfLeadingZeros(n)) + 6
    assert(rounds >= 1 && rounds <= budget,
      s"$rounds star rounds on a $n-node chain (budget $budget): not the log regime")
    assert(ccMap(chain) == got, "local finish must agree on the chain")
  }

  test("self loops, duplicates, reversed edges, and isolated pairs") {
    val edges = Seq((5L, 5L), (3L, 1L), (1L, 3L), (3L, 1L), (9L, 8L))
    val got = ccMap(edges)
    assert(got == Map(5L -> 5L, 3L -> 1L, 1L -> 1L, 9L -> 8L, 8L -> 8L))
  }

  test("empty edge set yields empty labels") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(ConnectedComponents.connectedComponents(empty).count() == 0)
  }

  test("null endpoints are dropped, the live endpoint still labeled") {
    import spark.implicits._
    val edges = Seq((Some(1L), Some(2L)), (Some(7L), None), (None, Some(9L)))
      .toDF("src", "dst")
    val got = ConnectedComponents.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 9L -> 9L))
  }

  test("dedupClusters: chains collapse to one survivor per cluster") {
    import spark.implicits._
    // a chain of near-dup pairs plus an exact dup — all must land in ONE
    // cluster with the min id as survivor (text crafted so adjacent docs
    // share most 3-shingles)
    // letter-only tokens: the tokenizer treats digits as separators
    val base = ('a' to 'l').map(c => s"tok$c$c").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base + " extraA"),
      (3L, base + " extraA extraB"),
      (10L, "completely different words here entirely novel content stream"),
      (11L, base) // exact dup of 1
    ).toDF("doc_id", "text")
    val got = queries.Clusters.dedupClusters(docs)
      .select("doc_id", "component", "cluster_size", "is_survivor")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == Set(
      (1L, 1L, 4L, true),
      (2L, 1L, 4L, false),
      (3L, 1L, 4L, false),
      (10L, 10L, 1L, true),
      (11L, 1L, 4L, false)))
  }
}
