package graft.queries

import graft.{Q, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Benchmark decontamination (SURVEY.md §2 D9) — the training-data
  * hygiene pass every serious LLM corpus runs before training: flag
  * every training document that shares a word n-gram with a held-out
  * evaluation/benchmark set, so eval answers can't leak into the
  * training mix (the GPT-3 appendix-C / PaLM "13-gram overlap"
  * procedure, here parameterized at [[NgramK]] because the synthetic
  * docs are short).
  *
  * Matching is on the EXACT shingle string, not a hash of it. The
  * first cut joined 1e9+7-space poly hashes: at 505k docs (27M train
  * shingles × 53k eval shingles) the
  * birthday bound already manufactures ~1.4k phantom matches — ~1.4×
  * the real contamination — and at corpus scale a 30-bit key flags
  * everything. A contamination FLAG must not have hash false
  * positives: it deletes training data. Exact strings are free here
  * because the eval side broadcasts (below); if a benchmark set ever
  * outgrows broadcast, swap the join key for md5(shingle) — 128 bits
  * keeps the collision expectation at zero for any physical corpus —
  * never a narrow hash. BloomDecontamSpec plants two distinct 8-grams
  * with equal poly hashes and asserts neither flags.
  *
  * Scale shape: both sides reduce to DISTINCT per-doc shingle sets
  * (one native-tokenizer pass per doc). The eval set is
  * benchmark-sized — orders of magnitude smaller than the corpus — so
  * its distinct-shingle frame broadcasts (AQE does this automatically
  * from size stats) and the "join" against 100 TB of training
  * shingles is a map-side hash probe; per-doc hit counts are a
  * map-side-combinable count. Nothing in the plan shuffles the corpus
  * on anything but doc_id-local keys.
  */
object Contamination {

  /** n-gram width for overlap (13 in the GPT-3 procedure; 8 here so the
    * ~50-token synthetic docs still carry a meaningful shingle set). */
  val NgramK = 8

  /** Every doc_id ≡ 0 (mod [[EvalMod]]) plays the held-out benchmark
    * set — deterministic, so the oracle reproduces the split. */
  val EvalMod = 23

  /** Distinct word-[[NgramK]]-gram strings per doc. */
  private def shingleSet(docs: DataFrame): DataFrame = docs.select(
    col("doc_id"),
    array_distinct(shingles(words(col("text")), NgramK)).as("sh"))

  /** Per-training-doc contamination stats against an eval frame:
    * (doc_id, n_shingles, n_hit, hit_ratio, contaminated), one row per
    * training doc (docs too short to have any [[NgramK]]-gram report
    * n_shingles = 0, clean). */
  def decontaminate(train: DataFrame, eval: DataFrame): DataFrame = {
    val evalSet = shingleSet(eval)
      .select(explode(col("sh")).as("s")).distinct()
      .withColumn("hit", lit(1L))
    // ONE evaluation of the shingle expression per train doc:
    // explode_outer (keeps shingle-less docs as a null row, and — unlike
    // explode — doesn't push a size()>0 filter that would re-evaluate
    // the whole shingle expression per predicate), broadcast hash probe
    // against the eval set, and a single map-side-combinable agg that
    // yields n_shingles and n_hit together. The previous form computed
    // the shingle array on two separate scans (stats + hits) and the
    // generator pushdown re-evaluated it up to 4x per row.
    shingleSet(graft.ops.ScaleOps.widenScan(train, "doc_id"))
      .select(col("doc_id"), explode_outer(col("sh")).as("s"))
      .join(broadcast(evalSet), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(col("s")).as("n_shingles"), count(col("hit")).as("n_hit"))
      .select(
        col("doc_id"),
        col("n_shingles"),
        col("n_hit"),
        when(col("n_shingles") > 0,
          col("n_hit").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("hit_ratio"),
        when(col("n_hit") > 0, 1L).otherwise(0L).as("contaminated"))
      .orderBy("doc_id")
  }

  /** The gate form: `train` with every contaminated doc removed (the
    * rows a pipeline would actually feed to training). Anti-join on the
    * flagged ids — the stats frame stays doc_id-keyed, so the join
    * shuffles ids only, never text. */
  def decontamGate(train: DataFrame, eval: DataFrame): DataFrame =
    train.join(
      decontaminate(train, eval)
        .filter(col("contaminated") === 1).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** The audit form (D9b): WHICH eval doc each flagged training doc
    * leaks, with the shared-shingle count — what a contamination
    * review actually reads ([[decontaminate]] only says "something
    * matched"). One row per overlapping (train, eval) pair.
    *
    * Same scale shape as the flag: the eval side explodes to
    * benchmark-sized (eval_doc_id, shingle) rows and broadcasts; the
    * corpus side is the same one-pass explode_outer (null shingles
    * simply never match the inner join) and a map-side-combinable
    * pair count. A train doc quoting k eval docs emits k rows —
    * output is overlap-sized, not corpus-sized. */
  def decontaminatePairs(train: DataFrame, eval: DataFrame): DataFrame = {
    val evalEx = shingleSet(eval)
      .select(col("doc_id").as("eval_doc_id"), explode(col("sh")).as("s"))
    shingleSet(graft.ops.ScaleOps.widenScan(train, "doc_id"))
      .select(col("doc_id").as("train_doc_id"), explode_outer(col("sh")).as("s"))
      .join(broadcast(evalEx), Seq("s"))
      .groupBy("train_doc_id", "eval_doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("train_doc_id", "eval_doc_id")
  }

  /** Built Bloom bit arrays, keyed by (CANONICALIZED eval plan, bits,
    * probes) — a repeat caller (or the bench's second pass) reuses the
    * finished filter instead of re-running the build job. Keying on
    * the canonicalized plan by EQUALITY (the PlanCache rule — never a
    * narrow hash: a 32-bit plan digest colliding across two reference
    * sets would silently drop true hits) means a different eval frame
    * builds fresh; like PlanCache, an in-place rewrite of the files
    * behind the SAME path within one session would serve the
    * pre-rewrite filter — call [[clearBloomCache]] after such a
    * rewrite. LRU-bounded to [[BloomCacheCap]] entries so a long-lived
    * session sweeping many reference sets cannot accumulate driver
    * heap; the build itself runs OUTSIDE the lock (it is a Spark job —
    * holding a map bin through it would serialize unrelated callers). */
  private val BloomCacheCap = 4
  private type BloomKey =
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int, Int)
  private val bloomCache =
    scala.collection.mutable.LinkedHashMap.empty[BloomKey, Array[Long]]

  /** Broadcast handles for [[decontaminateBloomBroadcast]]'s bit
    * arrays, keyed like [[bloomCache]] — a repeat caller reuses the
    * already-shipped broadcast instead of re-broadcasting an identical
    * array per call (which accumulates executor-side broadcast blocks
    * until the GC-driven ContextCleaner catches up). Evicted handles
    * are `unpersist`ed (frees the executor copies immediately; the
    * driver value survives so a still-lazy frame built against an
    * evicted filter re-ships on demand rather than crashing — why this
    * is unpersist, not destroy). [[clearBloomCache]] destroys them:
    * the caller is declaring the underlying reference data changed, so
    * any frame still holding the old handle is already wrong. */
  private val broadcastCache = scala.collection.mutable.LinkedHashMap
    .empty[BloomKey, org.apache.spark.broadcast.Broadcast[Array[Long]]]

  /** Drop every built Bloom filter (e.g. after rewriting a reference
    * set in place under the same path). */
  def clearBloomCache(): Unit = {
    bloomCache.synchronized(bloomCache.clear())
    broadcastCache.synchronized {
      broadcastCache.valuesIterator.foreach(b =>
        scala.util.Try(b.destroy()))
      broadcastCache.clear()
    }
  }

  private def broadcastCached(key: BloomKey,
      sc: org.apache.spark.SparkContext)(build: => Array[Long])
      : org.apache.spark.broadcast.Broadcast[Array[Long]] = {
    val hit = broadcastCache.synchronized {
      broadcastCache.remove(key).map { v => broadcastCache.put(key, v); v }
    }
    hit.getOrElse {
      val arr = build // outside the lock: may run a Spark job
      broadcastCache.synchronized {
        broadcastCache.get(key) match {
          case Some(v) => v // lost race keeps first
          case None =>
            val bc = sc.broadcast(arr)
            while (broadcastCache.size >= BloomCacheCap) {
              val (k0, old) = broadcastCache.head
              broadcastCache.remove(k0)
              scala.util.Try(old.unpersist(blocking = false))
            }
            broadcastCache.put(key, bc)
            bc
        }
      }
    }
  }

  private def bloomCached(key: BloomKey)(build: => Array[Long]): Array[Long] = {
    val hit = bloomCache.synchronized {
      bloomCache.remove(key).map { v => bloomCache.put(key, v); v } // LRU re-insert
    }
    hit.getOrElse {
      val built = build // outside the lock: this is a Spark job
      bloomCache.synchronized {
        while (bloomCache.size >= BloomCacheCap)
          bloomCache.remove(bloomCache.head._1)
        bloomCache.getOrElseUpdate(key, built) // lost race keeps first
      }
    }
  }

  /** Bloom-prefiltered decontamination (D9d) — the scale path for when
    * the reference side outgrows an exact-string broadcast: a full
    * eval-suite union or a blocklist corpus can reach 10^8+ distinct
    * shingles (gigabytes of strings — undeliverable to every executor),
    * but 2^27 Bloom BITS are 16 MB and broadcast anywhere. The probe is
    * a pure codegen map (k xxhash64 probes + bit tests against a
    * literal long array — no UDF, no join) that discards ~all of the
    * corpus's shingles map-side; only the surviving fraction (true
    * hits + the fpp sliver) reaches the EXACT join that removes false
    * positives. Output is therefore bit-identical to [[decontaminate]]
    * — the driver oracle doubles as the losslessness proof (the D4b
    * pattern: optimized plan, naive contract).
    *
    * The filter builds distributedly (probe positions -> (word, mask)
    * -> map-side-combinable `bit_or`) and only the finished bit array
    * materializes on the driver — `bits/64` longs, a bounded driver
    * state like C13's capped dict, NOT a corpus-sized collect. Sizing:
    * fpp ≈ (1 - e^(-k·n/m))^k; the 2^20-bit default holds ~10^5 eval
    * shingles at k=5 under 1%. The bits ship as a plan LITERAL (keeps
    * the probe pure codegen), which is the right trade up to ~2^24
    * bits (2 MB — task binaries and plan canonicalization stay cheap);
    * for a 10^8-shingle reference needing ~2^30 bits, lift the same
    * array into a `SparkContext.broadcast` probed by a UDF instead —
    * a literal that size would bloat every task binary and make the
    * memo's plan comparisons element-wise over 16M longs.
    *
    * Exactness is unconditional: an undersized filter only grows the
    * rescore's input, never the output (asserted by the spec at
    * bits=64, where nearly everything survives the prefilter). */
  def decontaminateBloom(train: DataFrame, eval: DataFrame,
      bits: Int = 1 << 20, probes: Int = 5): DataFrame = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 64, got $bits")
    require(probes >= 1 && probes <= 16, s"probes must be in [1,16], got $probes")
    val evalSet = shingleSet(eval)
      .select(explode(col("sh")).as("s")).distinct()
    def positions(s: Column): Seq[Column] =
      (0 until probes).map(i => pmod(xxhash64(s, lit(i)), lit(bits.toLong)))
    val cacheKey =
      (eval.queryExecution.analyzed.canonicalized, bits, probes)
    val lutArr = bloomCached(cacheKey) {
      val words = evalSet
        .select(explode(array(positions(col("s")).map(p =>
          struct((p / 64).cast("int").as("w"),
            call_function("shiftleft", lit(1L), (p % 64).cast("int")).as("m"))): _*))
          .as("b"))
        .groupBy(col("b.w")).agg(expr("bit_or(b.m)").as("m"))
        .collect()
      val arr = new Array[Long](bits / 64)
      words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
      arr
    }
    val lut = lit(lutArr)
    def mightContain(s: Column): Column =
      positions(s).map { p =>
        call_function("shiftright",
          element_at(lut, (p / 64).cast("int") + 1),
          (p % 64).cast("int")).bitwiseAND(lit(1L)) === lit(1L)
      }.reduce(_ && _)
    // ONE corpus scan: per-doc shingle count AND the Bloom survivors in
    // a single map-side-combinable aggregation (collect_list skips the
    // nulls the failed probes and explode_outer's empty-doc row leave),
    // so the doc_id shuffle carries counts + survivors ONLY — at 100 TB
    // nothing corpus-sized moves, and the exact rescore join sees just
    // the survivor explode however big the reference side is.
    // explode_outer, not explode: generator pushdown injects size()>0
    // filters that re-evaluate the whole shingle expression per
    // predicate (the q_decontaminate 6.1s->2.2s lesson); memo-persisted
    // because both the output and the rescore branch read it.
    val perDoc = bloomFrameCache.memo(
      shingleSet(graft.ops.ScaleOps.widenScan(train, "doc_id"))
        .select(col("doc_id"), explode_outer(col("sh")).as("s"))
        .groupBy("doc_id")
        .agg(count(col("s")).as("n_shingles"),
          collect_list(when(mightContain(col("s")), col("s"))).as("cand")))
    val nHit = perDoc
      .select(col("doc_id"), explode(col("cand")).as("s"))
      .join(evalSet, Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    perDoc.select(col("doc_id"), col("n_shingles"))
      .join(nHit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_shingles") > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("hit_ratio"),
        when(coalesce(col("n_hit"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("contaminated"))
      .orderBy("doc_id")
  }

  /** Memo of [[decontaminateBloom]]'s per-doc (count, survivors) frame
    * — doc-count-sized rows with survivor-sized lists, read by both
    * the output and the rescore branch ([[graft.ops.PlanCache]];
    * released by [[graft.ops.Release]]). */
  private[this] val bloomFrameCache = new graft.ops.PlanCache(capacity = 2)

  /** [[decontaminateBloom]]'s LARGE-REFERENCE form: identical output
    * (exactness still comes from the rescore join), but the bit array
    * rides a `SparkContext.broadcast` probed by a Scala UDF instead of
    * a plan literal — the right trade beyond ~2^24 bits, where a
    * literal would bloat every task binary and make plan comparisons
    * element-wise over millions of longs. The broadcast ships once per
    * executor over the torrent protocol however many stages read it.
    *
    * Build and probe share one pure-Scala FNV-1a-style 64-bit hash
    * seeded per probe index (they only need to agree with EACH OTHER —
    * a Bloom prefilter's hash family is internal, and any false
    * positive dies in the rescore). Prefer [[decontaminateBloom]]
    * (codegen probe, no UDF boundary) until reference size forces this
    * form. */
  def decontaminateBloomBroadcast(train: DataFrame, eval: DataFrame,
      bits: Int = 1 << 20, probes: Int = 5): DataFrame = {
    require(bits >= 64 && (bits & (bits - 1)) == 0,
      s"bits must be a power of two >= 64, got $bits")
    require(probes >= 1 && probes <= 16, s"probes must be in [1,16], got $probes")
    val evalSet = shingleSet(eval)
      .select(explode(col("sh")).as("s")).distinct()
    def fnv(s: String, seed: Int): Long = {
      var h = 0xcbf29ce484222325L ^ (seed * 0x9E3779B97F4A7C15L)
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
      h
    }
    val nProbes = probes
    val mask = bits - 1
    val posUdf = udf { s: String =>
      (0 until nProbes).map(i => (fnv(s, i) & mask.toLong).toInt).toArray
    }
    // -bits namespaces this FNV-hash family's filters away from the
    // literal form's xxhash64 filters — same eval frame, same sizing,
    // but the bit patterns are incompatible
    val cacheKey =
      (eval.queryExecution.analyzed.canonicalized, -bits, probes)
    // The HANDLE is cached, not just the array: re-broadcasting an
    // identical bit array per call leaked executor broadcast blocks in
    // long-lived sessions (cleaned only when the driver GC'd the
    // handle) — a repeat caller now reuses the already-shipped blocks.
    val bc = broadcastCached(cacheKey, train.sparkSession.sparkContext) {
      bloomCached(cacheKey) {
        val words = evalSet
          .select(explode(posUdf(col("s"))).as("p"))
          .select((col("p") / 64).cast("int").as("w"),
            call_function("shiftleft", lit(1L), pmod(col("p"), lit(64)).cast("int")).as("m"))
          .groupBy(col("w")).agg(expr("bit_or(m)").as("m"))
          .collect()
        val arr = new Array[Long](bits / 64)
        words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
        arr
      }
    }
    val probeUdf = udf { s: String =>
      if (s == null) false
      else {
        val lut = bc.value
        var i = 0
        var ok = true
        while (ok && i < nProbes) {
          val p = (fnv(s, i) & mask.toLong).toInt
          ok = ((lut(p >>> 6) >>> (p & 63)) & 1L) == 1L
          i += 1
        }
        ok
      }
    }
    val perDoc = bloomFrameCache.memo(
      shingleSet(graft.ops.ScaleOps.widenScan(train, "doc_id"))
        .select(col("doc_id"), explode_outer(col("sh")).as("s"))
        .groupBy("doc_id")
        .agg(count(col("s")).as("n_shingles"),
          collect_list(when(probeUdf(col("s")), col("s"))).as("cand")))
    val nHit = perDoc
      .select(col("doc_id"), explode(col("cand")).as("s"))
      .join(evalSet, Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    perDoc.select(col("doc_id"), col("n_shingles"))
      .join(nHit, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_shingles") > 0,
          coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("hit_ratio"),
        when(coalesce(col("n_hit"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("contaminated"))
      .orderBy("doc_id")
  }

  /** The span form (D9c): WHERE in each training doc the benchmark
    * leak sits — maximal token intervals covered by [[NgramK]]-grams
    * present anywhere in the eval set, the GPT-3 appendix-C procedure's
    * actual removal unit (it excises a window around each collision,
    * not the whole doc). [[decontaminate]] says "this doc leaks",
    * [[decontaminatePairs]] says which benchmark doc; this says which
    * tokens — the input a surgical redaction pass (or D16's excision
    * machinery pointed at eval grams) consumes.
    *
    * Output: (doc_id, span_start, span_end, n_hit_grams), 1-based
    * token positions, spans disjoint per doc (the D14 interval-union
    * merge — a gram at `p` covers `[p, p + k - 1]`, and a new span
    * opens only when the next hit start leaves an uncovered gap).
    * Train docs with no hits emit nothing.
    *
    * Scale shape: eval reduces to a distinct benchmark-sized shingle
    * frame and BROADCASTS (the D9 shape — exact strings, no hash false
    * positives, because a contamination decision deletes training
    * data); the corpus side is one positional shingle explode probed
    * map-side; the interval merge is a per-doc window over (doc_id,
    * int) rows only — hit-sized, not corpus-sized. */
  def decontamSpans(train: DataFrame, eval: DataFrame): DataFrame = {
    val evalSet = shingleSet(eval)
      .select(explode(col("sh")).as("s")).distinct()
    val pos = graft.ops.ScaleOps.widenScan(train, "doc_id").select(col("doc_id"),
        posexplode(shingles(words(col("text")), NgramK)).as(Seq("p0", "s")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("p"), col("s"))
    Dedup.mergeGramSpans(
        pos.join(broadcast(evalSet), Seq("s")).select(col("doc_id"), col("p")),
        NgramK)
      .withColumnRenamed("n_grams", "n_hit_grams")
      .orderBy("doc_id", "span_start")
  }

  val qDecontamSpans: Q = Q(
    "q_decontam_spans",
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontamSpans(
        docs.filter(col("doc_id") % EvalMod =!= 0),
        docs.filter(col("doc_id") % EvalMod === 0))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, list_filter(${sqlWords("text")}, t -> t <> '') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, (${sqlShingles("w", NgramK)}) AS sh FROM toks),
      eval_s AS (
        SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % $EvalMod = 0),
      g AS (
        SELECT doc_id, CAST(generate_subscripts(sh, 1) AS BIGINT) AS p,
          unnest(sh) AS s
        FROM sh WHERE doc_id % $EvalMod <> 0),
      hits AS (SELECT doc_id, p FROM g JOIN eval_s USING (s)),
      i AS (SELECT doc_id, p,
          CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
               > $NgramK THEN 1 ELSE 0 END AS newspan
        FROM hits),
      j AS (SELECT doc_id, p,
          sum(newspan) OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM i)
      SELECT doc_id, min(p) AS span_start,
        max(p) + ${NgramK - 1} AS span_end,
        count(*) AS n_hit_grams
      FROM j GROUP BY doc_id, grp
      ORDER BY doc_id, span_start"""))

  /** Shared by D9 and D9d — the Bloom-prefiltered plan must reproduce
    * the exact flag bit-for-bit, so one oracle serves both (hash
    * equality on D9d = the prefilter's losslessness proof). */
  private val decontamOracle: String = s"""WITH toks AS (
        SELECT doc_id, list_filter(${sqlWords("text")}, t -> t <> '') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(${sqlShingles("w", NgramK)}) AS sh
        FROM toks),
      eval_s AS (
        SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % $EvalMod = 0),
      ex AS (
        SELECT doc_id, unnest(sh) AS s FROM sh WHERE doc_id % $EvalMod <> 0),
      hits AS (
        SELECT doc_id, count(*) AS n_hit FROM ex JOIN eval_s USING (s) GROUP BY 1)
      SELECT t.doc_id,
        CAST(len(t.sh) AS BIGINT) AS n_shingles,
        CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
        CASE WHEN len(t.sh) > 0
          THEN CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / len(t.sh)
          ELSE 0.0::DOUBLE END AS hit_ratio,
        CAST(CASE WHEN COALESCE(h.n_hit, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
      FROM sh t LEFT JOIN hits h USING (doc_id)
      WHERE t.doc_id % $EvalMod <> 0
      ORDER BY t.doc_id"""

  val qDecontaminate: Q = Q(
    "q_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminate(
        docs.filter(col("doc_id") % EvalMod =!= 0),
        docs.filter(col("doc_id") % EvalMod === 0))
    },
    Some(decontamOracle))

  val qDecontaminateBloom: Q = Q(
    "q_decontaminate_bloom",
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminateBloom(
        docs.filter(col("doc_id") % EvalMod =!= 0),
        docs.filter(col("doc_id") % EvalMod === 0))
    },
    Some(decontamOracle))

  val qDecontaminatePairs: Q = Q(
    "q_decontaminate_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d)
      decontaminatePairs(
        docs.filter(col("doc_id") % EvalMod =!= 0),
        docs.filter(col("doc_id") % EvalMod === 0))
    },
    Some(s"""WITH toks AS (
        SELECT doc_id, list_filter(${sqlWords("text")}, t -> t <> '') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct(${sqlShingles("w", NgramK)}) AS sh
        FROM toks),
      eval_ex AS (
        SELECT doc_id AS eval_doc_id, unnest(sh) AS s FROM sh
        WHERE doc_id % $EvalMod = 0),
      ex AS (
        SELECT doc_id AS train_doc_id, unnest(sh) AS s FROM sh
        WHERE doc_id % $EvalMod <> 0)
      SELECT train_doc_id, eval_doc_id, count(*) AS n_shared
      FROM ex JOIN eval_ex USING (s)
      GROUP BY 1, 2
      ORDER BY 1, 2"""))

  val all: Seq[Q] =
    Seq(qDecontaminate, qDecontaminateBloom, qDecontaminatePairs,
      qDecontamSpans)
}
