package graft.queries

import graft.{Q, Tables}
import graft.ops.Jobs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** E14 — Lloyd's k-means with every iteration ORACLE-EXACT: the house
  * trained-pipeline story so far replays fitted STATE (D15c/E13 inject
  * the fit as literals) or erases the fit's influence (E3b/E7 probe
  * exhaustively); this operator makes the TRAINING LOOP itself
  * reproducible and SQL-replayable, iteration by iteration.
  *
  * Three determinism choices buy that:
  *  - init = the k smallest-vec_id vectors (the D15 deterministic-
  *    centroid convention), not a random sample;
  *  - assignment = nearest centroid by L2 over a fixed-shape IEEE
  *    chain (float→double casts, strict left fold), argmin by
  *    `(round(d2·2^30), c_id)` — quantized-distance ties to the
  *    smaller c_id, mirrored by the oracle's ORDER BY;
  *  - update = the E5 fixed-point mean: components quantize to 1/4096
  *    integers, INTEGER-sum per (cell, dim) (exact, commutative,
  *    partition-order-free — a float sum would be partition-order-
  *    dependent and unreproducible), and the new centroid is one
  *    double division on the driver. Empty clusters keep their
  *    previous centroid.
  *
  * Every k-means fit in the tree runs this one Lloyd step ([[lloyd]]):
  * an iteration is one `mapPartitions` pass that assigns each vector
  * and adds its quantized components into long arrays, then one
  * element-wise reduce — no per-vector rows, no shuffle, and no plan
  * per iteration (centroids travel in a broadcast). One pass advances
  * several SLICES of the vector at once ([[fitSlices]]: a PQ build's
  * coarse cells and m codebooks). Centroids are driver-side model
  * state, metadata-scale by nature; no vector data is collected.
  *
  * At 100 TB: iterations cost one corpus pass each (the Lloyd floor);
  * fit on a sample and serve assignments via [[Similarity]]'s IVF/PQ
  * machinery when the full-corpus fit is not the point.
  */
object KMeansLloyd {

  /** Fixed-point scale for centroid components (the E5 constant): ×2^12
    * is an exponent shift — exact — and round-half-away matches across
    * engines. */
  private val CQ = 4096.0

  /** Distance-quantization scale for the packed argmin: 2^30 leaves
    * room for d2 up to ~2^12 before the ·2^21 cell pack nears 2^63;
    * assignment ties within 2^-30 go to the smaller c_id (mirrored in
    * the oracle). */
  private val DQ = (1L << 30).toDouble

  /** Bound on d2·2^30: the ·2^21 cell pack stays below 2^62. */
  private val DomainBound = (1L << 41).toDouble

  private val DomainMessage =
    "kmeans: squared distance exceeds the 2^41 packing domain " +
      "— normalize or rescale the embeddings"

  /** Run `iters` Lloyd iterations with k centroids over
    * (vec_id, embedding) and return the fitted model in long format:
    * (c_id, dim, n_vecs, centroid) — n_vecs from the assignment that
    * produced the final centroids.
    *
    * `fitFraction` < 1 runs the WHOLE fit (init, every iteration,
    * the final counts) on the seeded deterministic vec_id draw
    * ([[Similarity.fitFrame]]) — the 100 TB path: each Lloyd
    * iteration is a full pass over its input, so a 1% draw cuts the
    * fit 100× and the returned centroids serve full-corpus
    * assignment via [[Similarity]]'s IVF/PQ machinery. n_vecs then
    * counts SAMPLE members per cell (the fit's own assignment — scale
    * by 1/fitFraction for a population estimate). The q_kmeans oracle
    * row runs the default full fit; sample-vs-prefiltered-frame
    * equality is pinned in SampleFitSpec. */
  def kmeans(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 3,
      fitFraction: Double = 1.0): DataFrame = {
    require(k > 0 && k < (1 << 21) - 1, s"k must be in [1, 2^21), got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val v = Similarity.fitFrame(
      embeddings.select(col("vec_id"), col("embedding")),
      fitFraction, 0L, k, "kmeans")
    val fit = fitLoop(v, k, iters)
    Similarity.releaseFitFrame(v, fitFraction)
    fit.cents.toSeq.zipWithIndex.flatMap { case (emb, cId) =>
      emb.zipWithIndex.map { case (c, d) =>
        (cId.toLong, d.toLong, fit.counts(cId), c)
      }
    }.toDF("c_id", "dim", "n_vecs", "centroid")
      .orderBy("c_id", "dim")
  }

  /** Per-vector cell assignment of the fitted model — `(vec_id, cell)`
    * from the LAST iteration's assignment (the one that produced the
    * final centroids and the model's n_vecs — the same convention the
    * oracle's asg$iters CTE replays). The corpus-map census (I12)
    * consumes this; [[kmeans]] itself returns the model.
    *
    * `fitFraction` < 1 is the 100 TB path the corpus-map doc promises:
    * the WHOLE Lloyd fit (init + every iteration) runs on the seeded
    * deterministic draw ([[Similarity.fitFrame]] — same guards, same
    * reproducibility argument), then EVERY vector is assigned once
    * under the FINAL centroids (one broadcast-argmin pass — the only
    * stage that must see the full corpus). At the default 1.0 the
    * returned frame is bit-identical to the oracle's asg$iters CTE;
    * under a sample fit the full-corpus assignment uses cents$iters
    * (the fitted model), the standard fit-on-sample/assign-everything
    * convention — SampleFitSpec pins sample==prefiltered-frame
    * equality of the model itself. */
  def assignments(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 3,
      fitFraction: Double = 1.0): DataFrame = {
    // the kmeans() guards, mirrored: a k past the 2^21 packed-argmin
    // domain silently corrupts cell ids via pmod collisions, and
    // iters = 0 would return the initial centroids' assignment
    // (advisor r13)
    require(k > 0 && k < (1 << 21) - 1, s"k must be in [1, 2^21), got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val v = embeddings.select(col("vec_id"), col("embedding"))
    if (fitFraction >= 1.0) assignStep(v, withIds(fitLoop(v, k, iters).assignedUnder))
    else {
      val s = Similarity.fitFrame(v, fitFraction, 0L, k, "kmeansAssign")
      val fit = fitLoop(s, k, iters)
      Similarity.releaseFitFrame(s, fitFraction)
      assignStep(v, withIds(fit.cents))
    }
  }

  /** One component range `[offset, offset + len)` of the fitted
    * vectors and the number of cells `k` fit over it. */
  private[queries] final case class Slice(offset: Int, len: Int, k: Int)

  /** A slice's centroids in c_id order (fewer than k when fewer vectors
    * were fit), the centroids its last assignment used, and that
    * assignment's members per cell. */
  private[queries] final case class SliceFit(
      cents: Array[Array[Double]],
      assignedUnder: Array[Array[Double]],
      counts: Array[Long])

  private def withIds(cents: Array[Array[Double]]): Seq[(Long, Array[Double])] =
    cents.toSeq.zipWithIndex.map { case (c, i) => (i.toLong, c) }

  /** The whole-vector fit. Accepts float OR double embedding arrays
    * (both widen to double — the corpus-map path feeds exact-integer-
    * derived unit DOUBLE vectors, the E14 row the parquet floats). */
  private def fitLoop(v: DataFrame, k: Int, iters: Int): SliceFit = {
    val init = initRows(v, k)
    lloyd(v, init, Seq(Slice(0, init.head._2.length, k)), iters).head
  }

  /** Centroid-only fit over any `(vec_id, embedding)` frame — the
    * IVF coarse-cell and semantic-cell entry: [[fitLoop]]'s
    * centroids, dense ids 0..k-1 in id order. */
  private[queries] def fitCentroids(
      v: DataFrame, k: Int, iters: Int): Seq[(Long, Array[Double])] =
    withIds(fitLoop(v, k, iters).cents)

  /** Lloyd fits over several slices of one `(vec_id, embedding)` frame
    * with one init collect and one job per iteration, however many
    * slices. Each slice's result is bit-identical to a [[kmeans]] fit
    * of that slice alone with its k and `iters` (its init is a prefix
    * of the shared one; sums, carry and early stop are per slice). The
    * loop ends when every slice has converged or after `iters` passes. */
  private[queries] def fitSlices(
      v: DataFrame, slices: Seq[Slice], iters: Int): Seq[SliceFit] =
    lloyd(v, initRows(v, slices.map(_.k).max), slices, iters)

  /** The k smallest-vec_id vectors of `v` in id order, as exact
    * doubles (re-keyed dense, correct on any id space — the D15 rank
    * lesson). */
  private def initRows(v: DataFrame, k: Int): Array[(Long, Array[Double])] = {
    val rows = Jobs.described(v, "kmeans fit: init") {
      v.select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id")).limit(k).collect()
    }.sortBy(_.getLong(0))
    require(rows.nonEmpty, "kmeans: empty input")
    rows.map { r =>
      val id = r.getLong(0)
      if (r.isNullAt(1)) throw badVector(id, "has a null embedding")
      val comps = r.getSeq[Number](1).zipWithIndex.map { case (x, i) =>
        if (x == null) throw badVector(id, s"has a null element at index $i")
        x.doubleValue()
      }.toArray
      id -> comps
    }
  }

  /** The one Lloyd loop. Per iteration: broadcast the unconverged
    * slices' centroids, run [[accumulate]] over every partition,
    * reduce the per-partition long arrays element-wise, and divide once
    * per (slice, cell, dim) on the driver. */
  private def lloyd(
      v: DataFrame, init: Array[(Long, Array[Double])], slices: Seq[Slice],
      iters: Int): Seq[SliceFit] = {
    val width = slices.map(s => s.offset + s.len).max
    init.foreach { case (id, e) => requireWidth(id, e.length, width) }
    val isFloat =
      v.schema("embedding").dataType.asInstanceOf[ArrayType].elementType == FloatType
    // compiled once: every iteration reruns this RDD, never a new plan
    // (an upstream shuffle runs here, once, and later passes reuse it)
    val rows = Jobs.described(v, "kmeans fit: init") {
      v.select(col("vec_id").cast("long"), col("embedding")).queryExecution.toRdd
    }
    val fits = slices.map { s =>
      val c = init.take(s.k).map(_._2.slice(s.offset, s.offset + s.len))
      SliceFit(c, c, new Array[Long](c.length))
    }.toArray
    val active = Array.fill(fits.length)(true)
    var it = 0
    while (it < iters && active.contains(true)) {
      val live = fits.indices.filter(active).toArray
      val bc = v.sparkSession.sparkContext.broadcast(live.map(fits(_).cents))
      val offsets = live.map(slices(_).offset)
      val sums =
        try Jobs.described(v, s"kmeans fit: pass ${it + 1}") {
          rows.mapPartitions(part =>
              Iterator.single(accumulate(part, bc.value, offsets, width, isFloat)))
            .reduce { (a, b) => a.indices.foreach(i => a(i) += b(i)); a }
        } catch {
          // bad input found inside a task: rethrow its named error
          case e: org.apache.spark.SparkException
              if e.getCause.isInstanceOf[IllegalArgumentException] =>
            throw e.getCause
        } finally bc.destroy()
      var base = 0
      live.foreach { s =>
        val prev = fits(s).cents
        val (k, len) = (prev.length, slices(s).len)
        val cnt = sums.slice(base, base + k)
        val next = Array.tabulate(k) { c =>
          if (cnt(c) == 0L) prev(c) // empty cluster keeps its centroid
          else Array.tabulate(len)(d =>
            (sums(base + k + c * len + d).toDouble / cnt(c).toDouble) / CQ)
        }
        base += k * (1 + len)
        // exact early stop (remove work outright): a
        // bit-identical update is a fixed point — assignment depends
        // only on the centroids, so every further pass would recompute
        // the same sums. The fixed-iteration oracle CTEs replay the
        // identical state through their extra iterations.
        active(s) = !next.indices.forall(c => java.util.Arrays.equals(next(c), prev(c)))
        fits(s) = SliceFit(next, prev, cnt)
      }
      it += 1
    }
    fits.toSeq
  }

  /** One partition of a Lloyd pass: each vector joins, per slice, the
    * cell of [[quantizedD2]]'s `(round(d2·2^30), c_id)` minimum — the
    * packed `min` of [[packedDistCol]] — and adds its components,
    * quantized to `round(x·4096)`, as longs. Result layout, per slice
    * in order: k counts, then k·len sums (cell-major). */
  private def accumulate(
      part: Iterator[InternalRow], cents: Array[Array[Array[Double]]],
      offsets: Array[Int], width: Int, isFloat: Boolean): Array[Long] = {
    val bases = cents.scanLeft(0)((b, c) => b + c.length * (1 + c.head.length))
    val acc = new Array[Long](bases.last)
    val x = new Array[Double](width)
    part.foreach { r =>
      val id = r.getLong(0)
      if (r.isNullAt(1)) throw badVector(id, "has a null embedding")
      val e = r.getArray(1)
      requireWidth(id, e.numElements(), width)
      for (i <- 0 until width) {
        if (e.isNullAt(i)) throw badVector(id, s"has a null element at index $i")
        x(i) = if (isFloat) e.getFloat(i).toDouble else e.getDouble(i)
      }
      for (s <- cents.indices) {
        val (cs, off) = (cents(s), offsets(s))
        var best = 0
        var bestQ = quantizedD2(x, off, cs(0))
        for (c <- 1 until cs.length) {
          val q = quantizedD2(x, off, cs(c))
          if (q < bestQ) { best = c; bestQ = q }
        }
        val len = cs(0).length
        acc(bases(s) + best) += 1L
        val at = bases(s) + cs.length + best * len
        for (j <- 0 until len) acc(at + j) += roundHalfUp(x(off + j) * CQ)
      }
    }
    acc
  }

  /** `round(d2·2^30)` of `x[off, off + len)` against one centroid, d2
    * the strict left fold of [[graft.functions.NativeExpressions.L2Sq]]
    * (float→double, then `acc += t·t`), under the 2^41 domain guard. */
  private def quantizedD2(x: Array[Double], off: Int, cent: Array[Double]): Long = {
    var d2 = 0.0
    var j = 0
    while (j < cent.length) {
      val t = x(off + j) - cent(j)
      d2 += t * t
      j += 1
    }
    if (!(d2 * DQ < DomainBound)) throw new IllegalArgumentException(DomainMessage)
    roundHalfUp(d2 * DQ)
  }

  private def requireWidth(id: Long, n: Int, width: Int): Unit =
    if (n != width) throw badVector(id, s"has $n components, the fit expects $width")

  private def badVector(id: Long, what: String) =
    new IllegalArgumentException(s"kmeans: vec_id $id $what")

  /** `round(x)` as Spark's `round` computes it on a double, cast to
    * long: half away from zero (`Math.round` rounds -2.5 to -2, Spark
    * to -3). `a - floor(a)` is exact, so no tie is misread. */
  private[graft] def roundHalfUp(x: Double): Long = {
    val a = math.abs(x)
    val f = math.floor(a)
    val r = if (a - f >= 0.5) f + 1.0 else f
    (if (x < 0) -r else r).toLong
  }

  /** The packed quantized-distance key for ONE (embedding, centroid)
    * pair — the fixed-shape IEEE d2 chain (strict left fold, the
    * oracle's exact mirror) packed as `round(d2·2^30)·2^21 + c_id`
    * with the 2^41 domain guard folded in. `cEmb` as a Column lets the
    * batch path pass the joined `c_emb` column and the frozen path
    * pass a literal array — ONE arithmetic definition, so fitted and
    * frozen assignment cannot drift ([[packedMin]]). */
  private[queries] def packedDistCol(
      emb: org.apache.spark.sql.Column,
      cEmb: org.apache.spark.sql.Column,
      cId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // native codegen kernel (r16, guide §4): bit-identical left fold
    // to the aggregate(zip_with((x−c)·(x−c)))) chain it replaces —
    // the HOF pair ran interpreted with per-element boxing, dominant
    // CPU in the literal-argmin assignment at dims = 64
    val d2 = graft.functions.NativeExpressions.l2sq(emb, cEmb)
    val domain = coalesce(
      assert_true(d2 * lit(DQ) < lit(DomainBound), lit(DomainMessage))
        .cast("long"),
      lit(0L))
    (round(d2 * lit(DQ)).cast("long") * (1L << 21)) + cId + domain
  }

  /** Stateless nearest-cell column under FROZEN centroid literals:
    * `least` over the k packed keys — the same min the batch
    * assignment's groupBy computes, as a pure per-row expression a
    * STREAMING plan can host (no join, no agg — the G22 argument). */
  private[queries] def packedMin(
      emb: org.apache.spark.sql.Column,
      cents: Seq[(Long, Array[Double])]): org.apache.spark.sql.Column = {
    require(cents.nonEmpty, "packedMin: no centroids")
    val packs = cents.map { case (cId, c) =>
      packedDistCol(emb, lit(c), lit(cId)) }
    pmod(if (packs.size == 1) packs.head else least(packs: _*),
      lit(1L << 21))
  }

  /** Centroid sets small enough to enter the plan as LITERALS (k×dims
    * expression nodes): below this, assignment is [[packedMin]] — a
    * pure per-row `least` over the k packed keys, NO join and NO
    * aggregation exchange. Past it (cells ≈ √N territory) literal
    * centroids would blow up analysis/codegen (the annIvfTrained
    * lesson) and the broadcast-join argmin is the path. */
  private val LitAssignMaxCoeffs = 4096

  private[queries] def litAssignable(cents: Seq[(Long, Array[Double])]): Boolean =
    cents.size.toLong * cents.head._2.length <= LitAssignMaxCoeffs

  /** One assignment pass: nearest centroid by the fixed-shape IEEE d2
    * chain, argmin as the packed-long `min` (quantized-distance ties to
    * the smaller c_id — the oracle's ORDER BY, verbatim). Small
    * centroid sets take the [[packedMin]] literal path — `least` over
    * the k packed keys per row, the SAME min over the SAME
    * [[packedDistCol]] values the groupBy computes, with zero exchanges
    * (guide §2.4; the frozen-path/fitted-path equality CorpusMapSpec
    * pins). Large sets keep the broadcast nested-loop whose packed
    * argmin collapses map-side. Shared by both [[assignments]] paths
    * and the IVF-trained assignment; the fit's own argmin
    * ([[accumulate]]) computes the same `(round(d2·2^30), c_id)`
    * minimum, which CorpusMapSpec's frozen-vs-fitted equality and the
    * q_kmeans/q_corpus_map oracles pin. */
  private[queries] def assignStep(
      v: DataFrame, cents: Seq[(Long, Array[Double])]): DataFrame = {
    if (litAssignable(cents))
      return v.select(col("vec_id"),
        packedMin(col("embedding"), cents).as("cell"))
    val spark = v.sparkSession
    import spark.implicits._
    val centsDf = cents.toDF("c_id", "c_emb")
    val packed = packedDistCol(col("embedding"), col("c_emb"), col("c_id"))
    v.join(broadcast(centsDf), lit(true))
      .groupBy("vec_id")
      .agg(min(packed).as("p"))
      .select(col("vec_id"), pmod(col("p"), lit(1L << 21)).as("cell"))
  }

  /** The centroids the model's LAST assignment uses (cents_{iters-1} —
    * the state [[assignments]]' default path assigns under), as frozen
    * literals: the bounded model state a stateless stream-side
    * assignment carries ([[CorpusMap.assignFrozen]], G22). Fits on the
    * seeded draw when `fitFraction` < 1. */
  private[graft] def assignCentroids(
      embeddings: DataFrame,
      k: Int = 8,
      iters: Int = 3,
      fitFraction: Double = 1.0): Seq[(Long, Array[Double])] = {
    require(k > 0 && k < (1 << 21) - 1, s"k must be in [1, 2^21), got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val v = embeddings.select(col("vec_id"), col("embedding"))
    val s = Similarity.fitFrame(v, fitFraction, 0L, k, "kmeansCentroids")
    val cents = withIds(fitLoop(s, k, iters - 1).cents)
    Similarity.releaseFitFrame(s, fitFraction)
    cents
  }

  /** The fit replayed in SQL: chained CTEs per iteration — assignment
    * (quantized-argmin ORDER BY, the packed-min's exact mirror),
    * fixed-point sums, centroid update with empty-cluster carry —
    * ending in the long-format model. MATERIALIZED (the D24 lesson:
    * default inlining re-expands the chain exponentially). */
  private def sqlKmeans(k: Int, iters: Int): String =
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
      ${sqlKmeansCtes(k, iters)},
      counts AS (SELECT cell, count(*) AS n_vecs FROM asg$iters GROUP BY 1)
      SELECT c.c_id, CAST(d.i - 1 AS BIGINT) AS dim,
        CAST(coalesce(n.n_vecs, 0) AS BIGINT) AS n_vecs,
        c.c_emb[d.i] AS centroid
      FROM cents$iters c
      CROSS JOIN (SELECT unnest(range(1, (SELECT len(c_emb) FROM cents$iters LIMIT 1) + 1)) AS i) d
      LEFT JOIN counts n ON c.c_id = n.cell
      ORDER BY c_id, dim"""

  /** The fit replayed as CTE fragments over an upstream CTE
    * `v (vec_id, embedding)` — cents0..cents$iters and asg1..asg$iters
    * (asg$iters = the final assignment [[assignments]] returns).
    * Shared by the E14 row and the I12 corpus-map composition (the
    * D17 technique: one fragment, consumers cannot drift). */
  private[queries] def sqlKmeansCtes(k: Int, iters: Int): String = {
    val d2 = """list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(range(1, len(v.embedding) + 1),
          i -> (v.embedding[i]::DOUBLE - c.c_emb[i])
             * (v.embedding[i]::DOUBLE - c.c_emb[i]))),
        (acc, x) -> acc + x)"""
    val its = (1 to iters).map { t =>
      s"""asg$t AS MATERIALIZED (SELECT vec_id, c_id AS cell FROM (
          SELECT v.vec_id, c.c_id,
            row_number() OVER (PARTITION BY v.vec_id ORDER BY
              round($d2 * 1073741824.0::DOUBLE) ASC, c.c_id ASC) AS rn
          FROM v CROSS JOIN cents${t - 1} c) z WHERE rn = 1),
        sums$t AS MATERIALIZED (
          SELECT cell, dim, count(*) AS n, CAST(sum(q) AS BIGINT) AS qsum
          FROM (
            SELECT a.cell,
              CAST(generate_subscripts(v.embedding, 1) - 1 AS BIGINT) AS dim,
              CAST(round(unnest(v.embedding)::DOUBLE * 4096.0::DOUBLE)
                AS BIGINT) AS q
            FROM v JOIN asg$t a ON v.vec_id = a.vec_id) z
          GROUP BY 1, 2),
        cents$t AS MATERIALIZED (
          SELECT p.c_id,
            list_transform(range(1, len(p.c_emb) + 1),
              i -> coalesce(m.by_dim[i], p.c_emb[i])) AS c_emb
          FROM cents${t - 1} p LEFT JOIN (
            SELECT cell,
              list((CAST(qsum AS DOUBLE) / CAST(n AS DOUBLE)) / 4096.0::DOUBLE
                ORDER BY dim) AS by_dim
            FROM sums$t GROUP BY cell) m ON p.c_id = m.cell)"""
    }.mkString(",\n      ")
    s"""cents0 AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c_id,
          list_transform(embedding, x -> x::DOUBLE) AS c_emb
        FROM (SELECT vec_id, embedding FROM v ORDER BY vec_id LIMIT $k) s),
      $its"""
  }

  val qKmeans: Q = Q(
    "q_kmeans",
    (s, d) => kmeans(Tables.embeddings(s, d), k = 8, iters = 3),
    Some(sqlKmeans(8, 3)))

  val all: Seq[Q] = Seq(qKmeans)
}
