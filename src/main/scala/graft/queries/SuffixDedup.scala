package graft.queries

import graft.Q
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** D21 — ExactSubstr duplicate spans by SUFFIX-ARRAY RANK DOUBLING
  * (Lee et al. ACL'22's actual formulation, re-expressed relationally).
  *
  * [[Dedup.dupSpansChar]] (D14b) decides "this char-`k`-gram occurs
  * >= 2x" by grouping on the gram's md5 — collision-free *in practice*
  * (128-bit keys), but still a probabilistic decision key, and each
  * shuffled row carries 16 hash bytes. This operator reaches the
  * IDENTICAL output with no hashing anywhere: it builds the corpus's
  * suffix ranks by prefix doubling — the Manber–Myers construction,
  * each round expressed as two windows — and reads "duplicated" off
  * the final rank groups by exact symbol comparison. Exact by
  * construction at any corpus size; the oracle row reuses D14b's
  * DuckDB SQL verbatim, so the hash-green result doubles as a
  * differential proof that the two algorithms agree gram-for-gram
  * (the D4b losslessness pattern, applied across algorithms).
  *
  * Rank construction (per round, prefix length `h` -> `h + shift`):
  *   1. `r2 = lead(r, shift) over (partition by doc_id order by p)` —
  *      suffixes never cross document boundaries (the separator in the
  *      concatenated-corpus formulation), so the pair lookup is a
  *      per-doc window, null past the doc end -> sentinel -1.
  *   2. `r' = min(gid) over (partition by r, r2)` where
  *      `gid = doc_id * 2^20 + p` is the position's unique global id.
  * Min-gid ranks are INJECTIVE per group (disjoint groups of unique
  * gids have distinct minima), so rank equality <=> same group <=>
  * the prefixes compare equal symbol-by-symbol, inductively down to
  * the base-pack ranks — never "probably equal". Dense re-ranking
  * (the textbook presentation) would need a global running number;
  * min-gid needs only a map-side-combinable `min` and keeps every
  * round a plain 16-byte-key window. The last round uses
  * `shift = k - h` (overlapping windows — equality of `[p, p+h-1]`
  * and `[p+k-h, p+k-1]` covers all `k` chars once `h >= k/2`, the
  * sparse-table LCP trick), and computes `count(*)` over the same
  * partition instead of a new rank: a position starts a duplicated
  * `k`-gram iff its final group has >= 2 members. Span merging is the
  * shared [[Dedup.mergeGramSpans]], so output shape and semantics are
  * exactly D14b's: disjoint maximal `[span_start, span_end]` char
  * intervals, 1-based inclusive, `n_dup_grams` merged starts.
  *
  * Sentinel safety: real ranks are >= 1 (printable-ASCII base, gid >= 1
  * minima), so -1 never aliases one; a suffix shorter than its window
  * hits a sentinel at some doubling level (positions past the doc end
  * do not exist), which puts short suffixes in their own groups — the
  * final `p <= len - k + 1` filter then drops them from output.
  *
  * Scale shape vs D14b: doubling starts from the TWO-WORD 14-char
  * base pack (rank_14 computed in the base map — 7 ASCII chars per
  * base-128 long, a PAIR of longs per position, injective on content
  * with no window; a composite rank is free because group operations
  * are multi-column window partitions), so k = 20 is ONE round
  * (14 → 20) and k = 50 two (14 → 28 → 50), each round two shuffles
  * of narrow integer rows — vs the hash form's single 16 B/char
  * shuffle; k <= 14 needs no doubling at all (one count window on
  * the pair). At 100 TB each round is a
  * Terasort-shaped integer sort, the best-understood distributed
  * primitive; nothing is persisted across rounds, and the base pack's
  * groups hash-spread fine because the per-group aggregate is a
  * combinable min/count, not a sort-rank.
  * Stopping at prefix length `k` matches D14b's fixed-threshold
  * semantics; the full Lee '22 suffix array doubles to max doc length
  * (log L rounds) to expose maximal duplicates at EVERY length — the
  * same loop, more rounds. The md5 form (one shuffle) remains the
  * cheap path; this is the exact one, and the cross-check that the
  * cheap path's "collision-free in practice" holds on this corpus.
  */
object SuffixDedup {

  /** Packing domain for `gid = doc_id * 2^20 + p`: doc ids below
    * 2^43, docs below 2^20 chars (1 MiB). Enforced in-plan. */
  private val PosBits = 20

  /** Base-rank width PER PACKED WORD: `BaseChars` chars pack into one
    * long (ASCII < 128, so base 128: 128^7 = 2^49). The SEED rank is a
    * PAIR of packed words — chars [p, p+6] and [p+7, p+13] — computed
    * directly in the base map (both substr reads of the same row, no
    * window), so doubling starts at h = 14, not 7: rank equality on the
    * pair ⟺ 14-char prefix equality, each word injective on its half's
    * content. A composite rank costs nothing extra here because every
    * group operation is a window PARTITION BY, which takes multiple
    * columns as readily as one; only the min-gid rounds need a single
    * long (their output becomes the next round's one-column rank).
    * Seeding at 14 cuts k = 20 to ONE doubling round (14 → 20, was
    * 7 → 14 → 20 — an entire lead+min window pair of Terasort-shaped
    * exchanges over the per-char frame removed, guide §2.4) and k = 50
    * to two (14 → 28 → 50, was three). Past-end chars pack as 0
    * (`ascii('')`), below every real ASCII value, so short-suffix
    * packs can never alias a full window's. */
  private val BaseChars = 7

  /** The number of rank-doubling rounds [[dupSpansSuffix]] runs for
    * gram length `k` — the assertable cost model (each round = two
    * Terasort-shaped shuffles): the two-word base-128 pack seeds
    * h = min(14, k), then h doubles (final shift capped at k − h)
    * until h >= k. k <= 14 ⇒ 0 rounds (the pair IS rank_k), k = 20 ⇒ 1
    * (14 → 20), k = 50 ⇒ 2 (14 → 28 → 50). Mirrors the construction
    * loop's schedule exactly; SuffixDedupSpec ("doubling schedule:
    * round count matches the plan's lead-windows") pins both this
    * number and the plan's lead-window count to it. */
  def doublingRounds(k: Int): Int = {
    require(k >= 2, s"char-gram length must be >= 2, got $k")
    var h = math.min(2 * BaseChars, k)
    var n = 0
    while (h < k) { h += math.min(h, k - h); n += 1 }
    n
  }

  def dupSpansSuffix(docs: DataFrame, k: Int = 50): DataFrame = {
    require(k >= 2, s"char-gram length must be >= 2, got $k")
    val txt = coalesce(col("text"), lit(""))
    val lenC = length(txt).cast("long")
    // the base-128 pack is injective only for ASCII text (ascii() of a
    // non-ASCII char is its codepoint >= 128, so distinct windows can
    // alias one long) — enforce it rather than corrupt silently:
    // byte length == char length iff every char is single-byte ASCII
    val domainOk =
      col("doc_id").between(0L, (1L << (63 - PosBits)) - 1) &&
        col("len") < (1L << PosBits) &&
        octet_length(col("text")).cast("long") === col("len")
    // big-endian base-128 pack of `len` chars starting at p + off
    def packAt(off: Int, len: Int): Column = (0 until len)
      .map(j => ascii(col("text").substr(col("p") + (off + j), lit(1)))
        .cast("long") * math.pow(128, len - 1 - j).toLong)
      .reduce(_ + _)
    val base = math.min(BaseChars, k)
    val seedWidth = math.min(2 * BaseChars, k)
    // one row per character; the in-plan guard rides the base rank so
    // column pruning cannot drop it (every later column derives from r).
    // `keep` replaces carrying `len` through the rounds: the final
    // output filter only needs the 1-byte "full k-gram starts here"
    // flag, not the 8-byte length (guide §2.3 — narrower shuffle rows).
    val seedCols =
      Seq((packAt(0, base) + coalesce(assert_true(domainOk,
        lit(s"dupSpansSuffix: doc_id >= 2^${63 - PosBits}, doc longer " +
          s"than 2^$PosBits chars, or non-ASCII text — gid/base-128 " +
          "packing would overflow or alias (use the md5 form for " +
          "non-ASCII corpora)"))
        .cast("long"), lit(0L))).as("r")) ++
      (if (seedWidth > BaseChars)
        Seq(packAt(BaseChars, seedWidth - BaseChars).as("rb")) else Nil)
    // widenScan: the per-char explode + two-word pack is the expensive
    // map and otherwise runs at the scan's parallelism (guide §2.5)
    val chars = graft.ops.ScaleOps.widenScan(docs, "doc_id")
      .select(col("doc_id"), txt.as("text"), lenC.as("len"))
      .select(col("doc_id"), col("text"), col("len"),
        explode_outer(when(col("len") >= 1L, sequence(lit(1L), col("len")))
          .otherwise(array())).as("p"))
      .filter(col("p").isNotNull)
      .select(Seq(col("doc_id"), col("p"),
        (col("p") <= col("len") - (k - 1)).as("keep")) ++ seedCols: _*)

    val gid = col("doc_id") * (1L << PosBits) + col("p")
    var cur = chars
    var rankCols: Seq[String] =
      if (seedWidth > BaseChars) Seq("r", "rb") else Seq("r")
    var h = seedWidth
    var dupPos: DataFrame =
      if (h >= k)
        // k <= 14: the seed pair IS rank_k — one count window, done
        cur.withColumn("c",
            count(lit(1)).over(Window.partitionBy(rankCols.map(col): _*)))
          .filter(col("c") >= 2 && col("keep"))
          .select(col("doc_id"), col("p"))
      else null
    while (h < k) {
      val shift = math.min(h, k - h)
      val wLead = Window.partitionBy("doc_id").orderBy("p")
      val leadCols = rankCols.zipWithIndex.map { case (rc, i) =>
        (s"r2$i", coalesce(lead(col(rc), shift).over(wLead), lit(-1L)))
      }
      val paired = leadCols.foldLeft(cur) { case (df, (n, c)) =>
        df.withColumn(n, c) }
      val wg = Window.partitionBy(
        (rankCols ++ leadCols.map(_._1)).map(col): _*)
      if (h + shift >= k) {
        dupPos = paired
          .withColumn("c", count(lit(1)).over(wg))
          .filter(col("c") >= 2 && col("keep"))
          .select(col("doc_id"), col("p"))
      } else {
        cur = paired
          .withColumn("nr", min(gid).over(wg))
          .select(col("doc_id"), col("p"), col("keep"), col("nr").as("r"))
        rankCols = Seq("r")
      }
      h += shift
    }
    Dedup.mergeGramSpans(dupPos, k)
      .withColumnRenamed("n_grams", "n_dup_grams")
      .orderBy("doc_id", "span_start")
  }

  /** Oracle = D14b's SQL verbatim (same k): hash-green means the
    * suffix-rank and md5-gram algorithms agree on every span. */
  val qDupSpansSuffix: Q = Q(
    "q_dup_spans_sa",
    (s, d) => dupSpansSuffix(Tables.documents(s, d), Dedup.DupSpanCharK),
    Dedup.qDupSpansChar.oracle)

  /** Memo of [[dupSpansMaximalLadder]]'s shared positions frame (see
    * [[graft.ops.PlanCache]]; released by [[graft.ops.Release]]). */
  private[this] val posCache = new graft.ops.PlanCache(capacity = 2)

  /** Default cap on reported maximal lengths ([[dupSpansMaximal]]):
    * exact up to 4 KiB of shared run, clamped above — and the bound on
    * per-survivor suffix payload. */
  val MaxDupCap = 4096

  /** D21b — the FULL Lee '22 ExactSubstr audit: not just "duplicated
    * at width k" but the MAXIMAL duplicated length of every span. Per
    * position p (1-based), m(p) = the longest L such that
    * text[p, p+L-1] occurs at another (doc, position) in the corpus;
    * spans merge exactly as D14b at width `k` and each span reports
    * `max_dup_len` = max m over its positions — the number dedup
    * policy actually prices (a 500-char verbatim quote and eleven
    * accidental 20-char matches merge to very different spans).
    *
    * Algorithm — prune, then exact LCP on survivors only:
    *  1. The D14b md5 pass finds D = positions whose k-gram is
    *     duplicated (m >= k iff p ∈ D). Everything expensive below
    *     runs on |D| rows, never the corpus — the B15 payload lesson.
    *  2. A position's maximal partner shares >= k chars, hence its
    *     k-gram, hence its gram GROUP: sort each group's (capped)
    *     suffixes and m = max of the two ADJACENT LCPs — any suffix
    *     ordered between two suffixes sharing a prefix shares it too,
    *     so within-group adjacency loses nothing (the classic
    *     suffix-array LCP property, localized per group).
    *  3. Adjacent LCP is ONE codegen'd byte loop
    *     ([[graft.functions.NativeExpressions.commonPrefixLen]]) —
    *     O(lcp) per pair, no doubling rounds, no rank tables.
    *
    * The in-plan `m >= k` guard doubles as a LOUD md5-collision
    * detector: a collision groups two different k-grams, their LCP
    * falls below k, and the job fails instead of under-reporting (the
    * D21 differential pins collision-freedom corpus-wide; this pins
    * it per run). ASCII enforced like [[dupSpansSuffix]] (byte-wise
    * LCP == char-wise only there).
    *
    * Scale shape: the corpus pays one md5 map stage + one h-window
    * (D14b's exact cost); survivors pay a text join-back, one
    * h-partitioned sort of capped suffixes (payload |D|·cap bounded),
    * and two window passes. `cap` clamps reported lengths (exact to
    * 4 KiB by default — far past any policy threshold) and bounds the
    * survivor payload. */
  def dupSpansMaximal(
      docs: DataFrame,
      k: Int = Dedup.DupSpanCharK,
      cap: Int = MaxDupCap): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("p")
    maximalDupPositions(docs, k, cap)
      .withColumn("newspan",
        when(col("p") - lag(col("p"), 1).over(w) > k, 1).otherwise(0))
      .withColumn("grp", sum(col("newspan")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + (k - 1)).as("span_end"),
        count(lit(1)).as("n_dup_grams"),
        max(col("m")).as("max_dup_len"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_dup_grams"), col("max_dup_len"))
      .orderBy("doc_id", "span_start")
  }

  /** (doc_id, p, m) for every position whose `k`-gram is duplicated:
    * m = exact maximal duplicated length from p, clamped at `cap`.
    * See [[dupSpansMaximal]]. */
  private[graft] def maximalDupPositions(
      docs: DataFrame, k: Int, cap: Int): DataFrame = {
    require(k >= 2, s"char-gram length must be >= 2, got $k")
    require(cap > k, s"cap=$cap must exceed k=$k")
    val txt = coalesce(col("text"), lit(""))
    // byte == char iff all-ASCII (the dupSpansSuffix guard): byte-wise
    // LCP and 1-based substr agree only there
    val asciiOk = octet_length(col("text")) === length(col("text"))
    val npos = (length(txt) - (k - 1)).cast("long")
    val grams = graft.ops.ScaleOps.widenScan(docs, "doc_id")
      .select(col("doc_id"), txt.as("text"))
      .select(col("doc_id"), col("text"),
        explode_outer(when(npos >= 1L, sequence(lit(1L), npos))
          .otherwise(array())).as("p"))
      .filter(col("p").isNotNull)
      .select(col("doc_id"),
        (col("p") + coalesce(assert_true(asciiOk,
          lit("dupSpansMaximal: non-ASCII text — byte-wise LCP would " +
            "miscount chars (use dupSpansChar for the flag-only audit)"))
          .cast("long"), lit(0L))).as("p"),
        unhex(md5(col("text").substr(col("p"), lit(k)))).as("h"))
    val dupPos = grams
      .withColumn("c", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("c") >= 2)
      .select(col("doc_id"), col("p"), col("h"))
    // suffixes materialize for SURVIVORS only, capped
    val withSfx = dupPos
      .join(docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("p"), col("h"),
        col("text").substr(col("p").cast("int"), lit(cap)).as("sfx"))
    val wByH = Window.partitionBy("h")
      .orderBy(col("sfx"), col("doc_id"), col("p"))
    val withLn = withSfx
      .withColumn("nsfx", lead(col("sfx"), 1).over(wByH))
      .withColumn("ln", coalesce(graft.functions.NativeExpressions
        .commonPrefixLen(col("sfx"), col("nsfx")), lit(0L)))
    val m = greatest(col("ln"), coalesce(lag(col("ln"), 1).over(wByH), lit(0L)))
    withLn
      .select(col("doc_id"), col("p"),
        (m + coalesce(assert_true(m >= k,
          lit("dupSpansMaximal: a gram group's max LCP fell below k — " +
            "md5 collision between different k-grams"))
          .cast("long"), lit(0L))).as("m"))
  }

  /** The LADDER projection the driver row hashes (the verdict-suggested
    * oracle shape): spans re-derived from the exact m at each rung
    * k' ∈ `rungs` — position p is duplicated at width k' iff
    * m(p) >= k', so each rung's spans must equal D14b run at that
    * width, and the DuckDB oracle IS D14b's SQL at every rung,
    * unioned. Hash-green = the exact maximal lengths are consistent
    * with independently computed duplication at every rung (lengths
    * between rungs are pinned by the brute-force differentials and the
    * 200-length planted-pair case in SuffixDedupSpec). */
  def dupSpansMaximalLadder(
      docs: DataFrame,
      rungs: Seq[Int] = MaxLadderRungs,
      cap: Int = MaxDupCap): DataFrame = {
    require(rungs.nonEmpty && rungs == rungs.sorted && rungs.distinct == rungs,
      s"rungs must be distinct ascending, got $rungs")
    // memo-persist: every rung branch reads the SAME positions frame —
    // without the memo each branch re-pays the corpus md5 pass and the
    // survivor LCP reconstruction
    val pos = posCache.memo(maximalDupPositions(docs, rungs.head, cap))
    rungs.map { r =>
      Dedup.mergeGramSpans(pos.filter(col("m") >= r).select("doc_id", "p"), r)
        .withColumnRenamed("n_grams", "n_dup_grams")
        .withColumn("k", lit(r.toLong))
    }.reduce(_.unionByName(_))
      .select(col("k"), col("doc_id"), col("span_start"), col("span_end"),
        col("n_dup_grams"))
      .orderBy("k", "doc_id", "span_start")
  }

  /** Driver-row rungs: real duplicate mass at every rung on the
    * synthetic corpus (measured 21k/13k/12k/10k/7k dup positions at
    * sf0.001). */
  val MaxLadderRungs: Seq[Int] = Seq(Dedup.DupSpanCharK, 28, 56, 112, 200)

  val qDupSpansMax: Q = Q(
    "q_dup_spans_max",
    (s, d) => dupSpansMaximalLadder(Tables.documents(s, d)),
    Some {
      val rungSelects = MaxLadderRungs.map { r =>
        s"SELECT $r::BIGINT AS k, * FROM (${Dedup.sqlDupSpansChar(r, s"_$r")})"
      }.mkString("\n      UNION ALL\n      ")
      s"""$rungSelects
      ORDER BY k, doc_id, span_start"""
    })

  val all: Seq[Q] = Seq(qDupSpansSuffix, qDupSpansMax)
}
