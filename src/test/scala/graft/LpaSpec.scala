package graft

import graft.queries.GraphRank

/** D24 [[GraphRank.communities]] / [[graft.ops.LabelPropagation]]:
  * planted cliques converge to their minimum member in one round,
  * bridges do not merge communities, the self-vote keeps bipartite
  * structures stable under synchronous updates, and ties elect the
  * smallest label. */
class LpaSpec extends SparkSpec {
  import spark.implicits._

  private def run(rows: Seq[(Long, Long)], iters: Int = 5) =
    GraphRank.communities(rows.toDF("l_orderkey", "l_partkey"), iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("two planted cliques each converge to their min member; a bridge does not merge them") {
    // order 100 = K4 over parts 1..4, order 200 = K4 over parts 11..14,
    // order 300 = the bridge edge (4, 11)
    val rows = (1L to 4L).map((100L, _)) ++ (11L to 14L).map((200L, _)) ++
      Seq((300L, 4L), (300L, 11L))
    val out = run(rows)
    assert((1L to 4L).forall(out(_)._1 == 1L), s"clique A: $out")
    assert((11L to 14L).forall(out(_)._1 == 11L), s"clique B: $out")
    assert(out(1L)._2 == 4L && out(11L)._2 == 4L, s"sizes: $out")
  }

  test("a single edge is stable under the self-vote (no synchronous oscillation)") {
    // without the self-vote, synchronous LPA on one edge swaps labels
    // every round; with it, votes tie and both endpoints elect the min
    for (iters <- Seq(1, 2, 5)) {
      val out = run(Seq((1L, 7L), (1L, 9L)), iters)
      assert(out == Map(7L -> ((7L, 2L)), 9L -> ((7L, 2L))),
        s"iters=$iters: $out")
    }
  }

  test("ties elect the smallest label (path of three)") {
    // path 5-6-7 (orders {5,6}, {6,7}): the middle node sees votes
    // {5, 6, 7} all once -> picks 5; ends see two votes each, tie ->
    // min neighbor/self
    val out = run(Seq((1L, 5L), (1L, 6L), (2L, 6L), (2L, 7L)), iters = 1)
    assert(out(5L)._1 == 5L && out(6L)._1 == 5L && out(7L)._1 == 6L, out)
  }

  test("policy contrast: CC merges a bridged pair graph where LPA keeps the groups apart") {
    import org.apache.spark.sql.functions.col
    // two dense 5-node duplicate groups joined by ONE edge — the
    // banding-false-positive shape D25 exists for
    def cliqueEdges(ns: Seq[Long]) =
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val e = (cliqueEdges(0L to 4L) ++ cliqueEdges(10L to 14L) ++ Seq((4L, 10L)))
      .toDF("src", "dst")
    val cc = graft.ops.ConnectedComponents.connectedComponents(e)
      .collect().map(_.getLong(1)).toSet
    assert(cc == Set(0L), s"CC must merge everything through the bridge: $cc")
    val both = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val lpa = graft.ops.LabelPropagation.propagate(both)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 4L).forall(lpa(_) == 0L) && (10L to 14L).forall(lpa(_) == 10L),
      s"LPA must keep the dense groups separate: $lpa")
  }

  test("the past-broadcast-bound join fallback labels identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // broadcastLabelsBelow = 0 forces the labels⋈edges shuffle-join
    // path every round — the plan a >1M-node graph runs; this
    // differential pins that both paths compute the same fixed point on
    // a structure with real dynamics: two bridged cliques plus a tie path
    def cliqueEdges(ns: Seq[Long]) =
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val e = (cliqueEdges(0L to 4L) ++ cliqueEdges(10L to 14L) ++
      Seq((4L, 10L), (20L, 21L), (21L, 22L))).toDF("src", "dst")
    val both = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    def labelsOf(bound: Long) = graft.ops.LabelPropagation
      .propagate(both, broadcastLabelsBelow = bound, broadcastEdgesBelow = bound)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsOf(0L) == labelsOf(1000000L))
  }

  test("disjoint cliques converge in ONE round; empty input yields no rows") {
    val rows = (1L to 5L).map((1L, _)) ++ (21L to 25L).map((2L, _))
    val out = run(rows, iters = 1)
    assert((1L to 5L).forall(out(_) == ((1L, 5L))), out)
    assert((21L to 25L).forall(out(_) == ((21L, 5L))), out)
    assert(run(Seq.empty[(Long, Long)]).isEmpty)
    // a single-part order has no co-purchase edge -> no graph presence
    assert(run(Seq((1L, 42L))).isEmpty)
  }
}
