package graft.queries

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-accelerated EXACT analytics (SURVEY.md §2 I10/I11) — the two
  * frequency/cardinality workhorses a 100 TB pipeline runs constantly,
  * each with the house losslessness discipline (a sketch narrows the
  * candidates or bounds the work; the answer stays exact or the
  * estimator itself is replayed bit-for-bit):
  *
  *   - I10 heavy hitters: "which n-grams dominate the corpus?" — the
  *     boilerplate detector feeding the C17/C20 screens, the stop-list
  *     builder, the mix-design vocabulary report. Naive form shuffles
  *     the WHOLE gram vocabulary (billions of distinct keys at 100 TB)
  *     to answer a question about the few thousand hot ones. Here a
  *     Count-Min sketch (Cormode & Muthukrishnan '05) built in one
  *     map-side-combinable pass prefilters occurrences BEFORE the
  *     shuffle: CMS counts only ever over-estimate, so `est(g) >=
  *     minCount` can never discard a true heavy hitter — no false
  *     negatives, the exact rescore on the (tiny) surviving vocabulary
  *     deletes the false positives, and the output is bit-identical to
  *     the naive aggregation. The driver oracle IS the naive SQL, so
  *     hash-green doubles as the losslessness proof (the D4b/D9d
  *     pattern, applied to frequencies).
  *
  *   - I11 corpus overlap: "how much of this crawl is already in the
  *     lake?" — the ingest-triage estimate run BEFORE committing to a
  *     full D13 incremental dedup pass. A KMV/bottom-k sketch
  *     (Bar-Yossef '02; Beyer '07 for the Jaccard form) reduces each
  *     snapshot's content-fingerprint SET to its k smallest hashes —
  *     k·8 bytes per side however big the corpus — and estimates
  *     Jaccard as |U ∩ A ∩ B| / |U| with U the k smallest of the
  *     union. Bottom-k under a shared deterministic hash is fully
  *     SQL-expressible (ORDER BY h LIMIT k over distinct hashes), so
  *     the ESTIMATOR replays bit-for-bit in DuckDB — the estimate is
  *     hash-checked, not just sanity-checked — and the same row
  *     carries the exact Jaccard for the judge the estimate answers to.
  */
object Sketches {

  // ----------------------------------------------------------------
  // I10 — CMS-prefiltered exact heavy hitters
  // ----------------------------------------------------------------

  /** Oracle-row parameters, shared between the Spark call and the
    * naive SQL so neither side can drift. n=2 word-grams give the
    * synthetic corpus a 16k–27k key vocabulary with a genuine Zipf
    * head (~1% clears minCount=5 at sf0.001); the 31-word unigram
    * vocabulary would make every key heavy and verify nothing. */
  private[queries] val HhMinCount = 5L
  val HhGramN = 2

  /** Operator defaults, referenced by BOTH the method signatures here
    * and the `Graft` facade so the public API cannot silently drift
    * from the operator when one is retuned. */
  val DefaultDepth = 3
  val DefaultWidth = 1 << 13

  /** The word-`n`-gram array of the `text` column — THE gram
    * definition, one copy for the batch row and the streaming form
    * ([[graft.streaming.Streams.heavyHittersStream]]); a tokenization
    * change that missed one site would silently break the
    * stream-vs-batch twin. */
  private[graft] def gramArray(n: Int): Column =
    shingles(words(col("text")), n)

  /** One row per word-`n`-gram occurrence, aliased `gram`. widenScan
    * first: the tokenize+shingle explode is the expensive map of both
    * CMS passes and otherwise runs at the scan's one-task parallelism
    * (guide §2.5). */
  private[graft] def gramsOf(docs: DataFrame, n: Int): DataFrame =
    graft.ops.ScaleOps.widenScan(docs, "doc_id")
      .select(explode(gramArray(n)).as("gram"))

  /** Build the Count-Min sketch over `docs`' n-gram occurrences and
    * return the estimator column constructor [[heavyHitters]] probes
    * with. */
  private[graft] def cmsEstimator(docs: DataFrame, n: Int,
      depth: Int, width: Int): Column => Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(width >= 16 && (width & (width - 1)) == 0,
      s"width must be a power of two >= 16, got $width")
    def bucket(g: Column, row: Int): Column =
      pmod(xxhash64(g, lit(row)), lit(width.toLong)).cast("int") +
        lit(row * width)
    val counters = new Array[Long](depth * width)
    gramsOf(docs, n)
      .select(explode(array((0 until depth).map(i =>
        bucket(col("gram"), i)): _*)).as("idx"))
      .groupBy("idx").agg(count(lit(1)).as("c"))
      .collect()
      .foreach(r => counters(r.getInt(0)) = r.getLong(1))
    val lut = lit(counters)
    g => (0 until depth).map(i => element_at(lut, bucket(g, i) + 1))
      .reduce(least(_, _))
  }

  /** Exact heavy hitters: every word `n`-gram occurring at least
    * `minCount` times in the corpus, with its EXACT count — via a
    * Count-Min prefilter.
    *
    * Two passes over the scan (recompute beats persisting a
    * corpus-sized token frame — the house lesson from the backed-out
    * edge memo):
    *
    *   1. build: each occurrence contributes to `depth` counters at
    *      `xxhash64(gram, row) % width`; the aggregation key space is
    *      depth×width however big the corpus, map-side combinable, and
    *      only the finished depth×width longs land on the driver (the
    *      D9d bounded-model-state contract). The counters ship back as
    *      a plan LITERAL so the probe stays pure codegen — same ~2^24
    *      size guidance as the Bloom bits.
    *   2. probe + rescore: est(g) = min over rows of its counters —
    *      an upper bound on the true count by construction (counters
    *      only add) — so `est < minCount` discards an occurrence
    *      map-side with NO risk of losing a true heavy hitter; the
    *      shuffle then carries only the surviving vocabulary's
    *      occurrences (map-side partial counts of the few thousand hot
    *      keys, not billions of tail keys), and the exact
    *      count-and-filter deletes the sketch's false positives.
    *
    * Exactness is unconditional in `width`/`depth`: an undersized
    * sketch only inflates estimates, which only GROWS the rescore's
    * input, never changes the output (SketchSpec pins width=16 where
    * everything collides). Sizing: est error ≤ total_occurrences/width
    * per row with prob 1/2^depth; pick width ≳ occurrences/minCount
    * for a discriminating prefilter. The CMS hash is engine-internal
    * (xxhash64) — build and probe only need to agree with each other;
    * the oracle is the naive SQL, which never sees the sketch. */
  def heavyHitters(docs: DataFrame, minCount: Long, n: Int = HhGramN,
      depth: Int = DefaultDepth, width: Int = DefaultWidth): DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val est = cmsEstimator(docs, n, depth, width)
    gramsOf(docs, n)
      .filter(est(col("gram")) >= minCount)
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .orderBy("gram")
  }

  /** I10's oracle row. The oracle is the NAIVE exact aggregation —
    * hash-green proves the CMS prefilter lossless at production
    * depth/width (the D4b pattern). */
  val qHeavyHitters: Q = Q(
    "q_heavy_hitters",
    (s, d) => heavyHitters(Tables.documents(s, d), minCount = HhMinCount),
    Some(s"""WITH toks AS (
        SELECT list_filter(${sqlWords("text")}, t -> t <> '') AS w
        FROM documents),
      g AS (SELECT unnest(${sqlShingles("w", HhGramN)}) AS gram FROM toks)
      SELECT gram, count(*) AS n FROM g
      GROUP BY gram HAVING count(*) >= $HhMinCount ORDER BY gram"""))

  // ----------------------------------------------------------------
  // I11 — KMV bottom-k corpus overlap (estimate + exact in one row)
  // ----------------------------------------------------------------

  /** Sketch size shared by the API default and the oracle SQL. At
    * k=256 the sf0.001 row is a GENUINE estimate (union ~516 distinct
    * contents > k) — the estimator is exercised, not degenerate. */
  val KmvK = 256

  /** Normalized content of a possibly-null text column — THE
    * fingerprint input, one definition for every sketch site
    * ([[corpusOverlap]], [[kmvSketch]],
    * [[graft.streaming.Streams.overlapStream]]): a normalization or
    * null-policy change that missed one copy would silently break the
    * stream-vs-batch and stored-sketch-vs-arrivals hash equivalences.
    * Null coalesces to the empty content BEFORE normalization (a null
    * key would occupy a bottom-k slot yet match no join, and the
    * engines sort nulls on opposite ends). */
  private[graft] def contentNorm(textCol: Column): Column =
    normText(coalesce(textCol, lit("")))

  /** The shared poly hash of [[contentNorm]] — the KMV sketch key. */
  private[graft] def contentHash(textCol: Column): Column =
    polyHash(contentNorm(textCol))

  /** Corpus overlap between two document snapshots, as SET semantics
    * over content fingerprints (duplicate texts within a snapshot
    * collapse — this measures distinct-content overlap, the
    * ingest-triage question): ONE row with
    *
    *   - the KMV estimate: `k_eff` (|U|, the union sketch size —
    *     min(k, distinct union)), `sketch_inter` (members of U found
    *     in both bottom-k sketches) and `est_jaccard` = sketch_inter /
    *     k_eff. Membership via the per-side sketches is EXACT: x ∈ U
    *     (k smallest of A∪B) and x ∈ A implies fewer than k elements
    *     of A precede x, so x ∈ bottomK(A) — the per-side sketches
    *     answer for the full sets.
    *   - the exact answer: n_a / n_b / n_inter / n_union /
    *     exact_jaccard over (md5, polyhash) fingerprint pairs (the D1
    *     width — 128+30 bits, collision-implausible).
    *
    * Scale shape: each bottom-k is a TakeOrdered over the distinct
    * 8-byte hash set (per-partition top-k, never a global sort; driver
    * state = k longs). The sketch path's only corpus-sized work is the
    * distinct — at 100 TB run it once per snapshot and STORE the k
    * longs beside the lake (the D13 precomputed-signature note): a new
    * crawl then triages against every stored sketch in k·8 bytes each
    * without touching lake text. The exact side (one fingerprint join)
    * is what the estimate lets you SKIP when est_jaccard says "mostly
    * new" — it rides this row so hash-green certifies the estimator
    * against its own ground truth at all three SFs. Hash ties cannot
    * break the bottom-k: it ranks DISTINCT hash values. polyHash
    * collisions merge contents identically on both engines (shared
    * hash — reproduced, not approximated).
    *
    * Estimator assumption (honest caveat): KMV's accuracy rests on
    * the hash spreading contents uniformly. polyHash is
    * ORDER-PRESERVING on fixed-width same-prefix strings (sequential
    * synthetic ids like "doc 00417"), which can starve the bottom-k
    * of intersection members and bias the estimate toward 0 — real
    * normalized text varies in length and content, where the
    * polynomial mixes fine. The EXACT columns in the same row are the
    * cross-check that catches a biased estimate. */
  /** Memo for the per-snapshot fingerprint sets (see
    * [[graft.ops.PlanCache]]; released by [[graft.ops.Release]]):
    * each set is consumed by THREE branches (its bottom-k sketch, its
    * cardinality, the intersection join) — without the memo each
    * branch re-runs the normalize+hash corpus scan. The persisted
    * frame is distinct-fingerprint sized (~40 bytes/doc), never the
    * corpus text. */
  private[this] val fpCache = new graft.ops.PlanCache(capacity = 4)

  def corpusOverlap(a: DataFrame, b: DataFrame, k: Int = KmvK): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val fp: Column = contentNorm(col("text"))
    def fs(df: DataFrame): DataFrame = fpCache.memo(
      df.select(md5(fp).as("m"), polyHash(fp).as("h")).distinct())
    // the sketch's hash set derives from the fingerprint set (distinct
    // h of distinct (m,h) — one normalize+hash pass per snapshot, not
    // two; a poly collision across different md5s still collapses)
    def hs(df: DataFrame): DataFrame = df.select("h").distinct()
    val fa = fs(a)
    val fb = fs(b)
    val ka = hs(fa).orderBy("h").limit(k)
    val kb = hs(fb).orderBy("h").limit(k)
    val u = ka.union(kb).distinct().orderBy("h").limit(k)
    val sketch = u
      .join(ka, Seq("h"), "left_semi").join(kb, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("sketch_inter"))
    val kEff = u.agg(count(lit(1)).as("k_eff"))
    val na = fa.agg(count(lit(1)).as("n_a"))
    val nb = fb.agg(count(lit(1)).as("n_b"))
    val ni = fa.join(fb, Seq("m", "h")).agg(count(lit(1)).as("n_inter"))
    na.crossJoin(nb).crossJoin(ni).crossJoin(kEff).crossJoin(sketch)
      .select(
        col("k_eff"), col("sketch_inter"),
        (col("sketch_inter").cast("double") / col("k_eff"))
          .as("est_jaccard"),
        col("n_a"), col("n_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter"))).as("exact_jaccard"))
  }

  /** Bottom-k content sketch of a (text) frame, collected — the
    * stored per-lake artifact ([[corpusOverlap]]'s per-side
    * reduction): k·8 bytes however big the corpus, computed as a
    * TakeOrdered over the distinct hash set. Store it beside the lake
    * and triage any new crawl against it without touching lake text
    * ([[graft.streaming.Streams.overlapStream]] consumes it as the
    * fixed reference). */
  def kmvSketch(df: DataFrame, k: Int = KmvK): Array[Long] = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(contentHash(col("text")).as("h"))
      .distinct().orderBy("h").limit(k)
      .collect().map(_.getLong(0))
  }

  /** The KMV Jaccard arithmetic over two bottom-k sketch arrays —
    * (k_eff, sketch_inter, est_jaccard), the same three numbers
    * [[corpusOverlap]] computes relationally. ONE definition shared
    * with the streaming form so stream and batch cannot drift
    * (SketchSpec pins the cross-implementation equality). */
  private[graft] def kmvEstimate(
      a: Array[Long], b: Array[Long], k: Int): (Long, Long, Double) = {
    val u = (a ++ b).distinct.sorted.take(k)
    val as = a.toSet
    val bs = b.toSet
    val inter = u.count(x => as(x) && bs(x)).toLong
    val kEff = u.length.toLong
    (kEff, inter, if (kEff == 0L) 0.0 else inter.toDouble / kEff)
  }

  /** I11's oracle row: the H7 snapshot derivation (A drops every 7th
    * doc; B drops every 5th and rewrites every 11th) — the estimator
    * and its exact judge over the same delta the snapshot-diff row
    * classifies. Real estimate at every SF (union > k everywhere). */
  val qCorpusOverlap: Q = Q(
    "q_corpus_overlap",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" updated")))
            .otherwise(col("text")))
      corpusOverlap(oldSnap, newSnap)
    },
    Some {
      val nt = sqlNormText("coalesce(text, '')")
      s"""WITH sa AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        sb AS (SELECT doc_id,
          CASE WHEN doc_id % 11 = 0 THEN text || ' updated' ELSE text END AS text
          FROM documents WHERE doc_id % 5 <> 0),
        ha AS (SELECT DISTINCT ${sqlPolyHash(nt)} AS h FROM sa),
        hb AS (SELECT DISTINCT ${sqlPolyHash(nt)} AS h FROM sb),
        ka AS (SELECT h FROM ha ORDER BY h LIMIT $KmvK),
        kb AS (SELECT h FROM hb ORDER BY h LIMIT $KmvK),
        u AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
          ORDER BY h LIMIT $KmvK),
        sk AS (SELECT count(*) AS sketch_inter FROM u
          WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
        ke AS (SELECT count(*) AS k_eff FROM u),
        fa AS (SELECT DISTINCT md5($nt) AS m, ${sqlPolyHash(nt)} AS h FROM sa),
        fb AS (SELECT DISTINCT md5($nt) AS m, ${sqlPolyHash(nt)} AS h FROM sb),
        ex AS (SELECT
          (SELECT count(*) FROM fa) AS n_a,
          (SELECT count(*) FROM fb) AS n_b,
          (SELECT count(*) FROM fa JOIN fb USING (m, h)) AS n_inter)
      SELECT k_eff, sketch_inter,
        CAST(sketch_inter AS DOUBLE) / k_eff AS est_jaccard,
        n_a, n_b, n_inter,
        n_a + n_b - n_inter AS n_union,
        CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS exact_jaccard
      FROM ke, sk, ex"""
    })

  val all: Seq[Q] = Seq(qHeavyHitters, qCorpusOverlap)
}
