package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over an edge list — the stage that
  * turns pairwise near-dup PAIRS (MinHash / SimHash / embedding-LSH
  * output) into dedup CLUSTERS with one survivor each. Without it a
  * pairwise "drop the larger id" pass leaves chains half-collapsed
  * (a–b and b–c dropped b and c, but a–c was never a pair).
  *
  * Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
  * Mirrokni, Rastogi & Vassilvitskii, "Connected Components in MapReduce
  * and Beyond", SoCC'14) — converges in O(log² n) rounds on ANY graph
  * (O(log n) in practice), where naive min-label flooding needs
  * O(diameter) rounds and dies on 100 TB–scale chain-shaped graphs.
  *
  * Scale shape: every round is groupBy(min) + equi-join + distinct on
  * (long, long) edges — no per-node adjacency lists are ever collected,
  * so a celebrity node with 10⁸ neighbors is just 10⁸ rows through a
  * hash shuffle, never one unbounded in-memory buffer. Each round ends
  * in a `localCheckpoint` to truncate the iterative lineage (swap for
  * `checkpoint` + a reliable checkpoint dir on a real cluster).
  */
object ConnectedComponents {

  /** Label every node of the undirected graph `edges` with the MINIMUM
    * node id reachable from it (the component's canonical id).
    *
    * @param edges frame with two integral columns `src`, `dst`; self
    *              loops and duplicate / reversed edges are fine, null
    *              endpoints are dropped
    * @return (node: long, component: long), one row per distinct
    *         endpoint node
    */
  def connectedComponents(
      edges: DataFrame,
      src: String = "src",
      dst: String = "dst",
      maxRounds: Int = 64,
      localFinishEdges: Long = 200000L): DataFrame =
    connectedComponentsInstrumented(edges, src, dst, maxRounds,
      localFinishEdges)._1

  /** [[connectedComponents]] plus the number of large-star/small-star
    * rounds it took (ConnectedComponentsSpec asserts the O(log n)
    * round budget on a worst-case chain, passing `localFinishEdges = 0`
    * to exercise the iteration).
    *
    * Returns round = -1 when the graph resolved through the driver-side
    * local finish (edge count ≤ `localFinishEdges`), so a caller using
    * rounds as a convergence signal can tell "collapsed locally" apart
    * from a genuine zero-round (empty) or N-round distributed run.
    *
    * @param localFinishEdges canonical-edge-count threshold below which
    *        the fixpoint finishes as one driver-side union-find (see the
    *        local-finish note in the body); 0 forces the fully
    *        distributed iteration. The default (200k edges ≈ a few MB
    *        of primitive pairs) is sized so the collect is trivially
    *        safe on any driver; raise it only with driver heap to
    *        spare. */
  def connectedComponentsInstrumented(
      edges: DataFrame,
      src: String = "src",
      dst: String = "dst",
      maxRounds: Int = 64,
      localFinishEdges: Long = 200000L): (DataFrame, Int) = {

    // tracked checkpoints: see graft.ops.Checkpoints for why each
    // round's blocks must be released explicitly
    import Checkpoints.{tracked => checkpointTracked, release}

    // checkpoint the RAW edge list once: the node set (needed for the
    // final labeling) and the canonical edge set both derive from it —
    // without this, building `nodes` re-evaluates the caller's whole
    // pair-generation pipeline a second time
    val (raw, rawRdd) = checkpointTracked(edges
      .select(col(src).cast("long").as("s"), col(dst).cast("long").as("d")))
    val nodes = raw.select(col("s").as("n"))
      .union(raw.select(col("d").as("n")))
      .filter(col("n").isNotNull)
      .distinct()

    // canonical parent pointers: child > parent, no self loops
    var (e, eRdd) = checkpointTracked(raw
      .filter(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(greatest(col("s"), col("d")).as("c"),
        least(col("s"), col("d")).as("p"))
      .distinct())

    // cheap per-round fixpoint probe: (edge count, order-independent
    // multiset hash). A probe match is CONFIRMED with an exact set
    // compare before declaring convergence, so a hash collision can
    // only cost one extra comparison, never a wrong result.
    // decimal sum: a long sum of 64-bit hashes overflows under ANSI mode
    def signature(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("c"), col("p")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), r.getDecimal(1).stripTrailingZeros)
    }

    // local finish: near-dup pair sets are usually orders of magnitude
    // smaller than the corpus that produced them. When the canonical
    // edge set fits comfortably on the driver, a union-find there IS
    // the last O(log n) rounds collapsed into one job — the standard
    // "finish locally once the frontier fits" move (GraphX does the
    // same). Above the threshold the star iteration below runs
    // unchanged, so a 1e9-edge graph never touches driver memory.
    // The edge count rides the signature job the iterative path needs
    // anyway, so the check costs nothing extra.
    val sig0 = signature(e)
    if (sig0._1 > 0 && sig0._1 <= localFinishEdges) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val spark = edges.sparkSession
      import spark.implicits._
      // primitive-pair collect (no GenericRow per edge)
      e.as[(Long, Long)].collect().foreach { case (cNode, pNode) =>
        val (a, b) = (find(cNode), find(pNode))
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
      }
      val labelled = parent.keys.toSeq.map(n => (n, find(n))).toDF("node", "lbl")
      val labels = nodes
        .join(broadcast(labelled), nodes("n") === labelled("node"), "left")
        .select(nodes("n").as("node"),
          coalesce(col("lbl"), nodes("n")).as("component"))
        .localCheckpoint() // eager, same contract as the iterative path
      release(rawRdd)
      release(eRdd)
      return (labels, -1) // sentinel: resolved via local finish, not rounds
    }

    var sig = sig0
    var converged = sig._1 == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      // large-star: every neighbor LARGER than u hooks onto u's minimum
      // neighborhood label — long chains fold toward the root in halves
      val sym = e.select(col("c").as("u"), col("p").as("v"))
        .union(e.select(col("p").as("u"), col("c").as("v")))
      val nbrMin = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      // m = min(Γ(u) ∪ {u}) ≤ u < v, so child > parent is preserved.
      // No distinct here: small-star's min-aggregate is duplicate-
      // insensitive and its final distinct canonicalizes — skipping it
      // drops one exchange per round
      val ls = sym.filter(col("v") > col("u"))
        .join(nbrMin, "u")
        .select(col("v").as("c"), col("m").as("p"))
      // small-star: every parent of c (all ≤ c) hooks onto the smallest
      // one, and c itself re-points there — stars flatten
      val minp = ls.groupBy("c").agg(min(col("p")).as("m"))
      // lazy checkpoint: the signature probe is the materializing action
      val (ss, ssRdd) = checkpointTracked(ls.join(minp, "c")
        .filter(col("p") =!= col("m"))
        .select(col("p").as("c"), col("m").as("p"))
        .union(minp.select(col("c"), col("m").as("p")))
        .distinct())
      val nsig = signature(ss)
      if (nsig == sig && ss.exceptAll(e).isEmpty) converged = true
      // the previous round's blocks are dead once ss is materialized
      // (ss no longer recomputes from them — it IS a checkpoint)
      release(eRdd)
      e = ss
      eRdd = ssRdd
      sig = nsig
    }
    require(converged,
      s"connectedComponents did not converge within $maxRounds rounds " +
        "(bound is ~2·log2(n) for the star algorithm — raise maxRounds)")

    // at the fixpoint e is a star forest: (node → component min) for
    // every non-root; roots and isolated nodes label themselves.
    // The labels are checkpointed EAGERLY so every edge-set copy (raw
    // + final round) can be released here — only the node-sized label
    // frame stays persisted for the life of the returned DataFrame.
    val labels = nodes.join(e, nodes("n") === e("c"), "left")
      .select(col("n").as("node"), coalesce(col("p"), col("n")).as("component"))
      .localCheckpoint() // eager
    release(rawRdd)
    release(eRdd)
    (labels, round)
  }
}
