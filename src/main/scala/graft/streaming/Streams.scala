package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One event of the stream — mirrors the events table schema (ts already
  * converted to a microsecond timestamp, see [[graft.Tables.events]]). */
final case class EventRow(
    event_id: Long,
    ts: java.sql.Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Running per-user state for [[Streams.runningUserStats]]. The value
  * total is held in exact integer CENTS, not a double: a float
  * accumulator would make the emitted total depend on arrival order
  * (and never bit-match the batch twin); integer cents make the state a
  * pure function of the event multiset — the G15 order-independence
  * contract, and what lets `q_user_stats_batch` hash-check the same
  * numbers in DuckDB.
  *
  * MIGRATION NOTE: this field was `total_value: Double` before round
  * 12 — the state encoder schema changed, so a checkpoint written by
  * the old shape will NOT resume (Spark aborts with a state-schema
  * error); restart G4 queries fresh after upgrading. */
final case class UserCounters(n_events: Long, n_purchases: Long, total_cents: Long)

/** Emitted update: the user's counters after a batch of their events. */
final case class UserUpdate(
    user_id: Long, n_events: Long, n_purchases: Long, total_value: Double)

/** Timestamp → epoch microseconds, floor-correct for pre-epoch
  * instants (getTime/1000 truncates toward zero while getNanos is
  * always non-negative — the naive form mis-orders 1969 events). A
  * standalone serializable holder: a method on the Streams object
  * would drag the whole (non-serializable) object into the
  * flatMapGroupsWithState closures. */
private[streaming] object EventTime extends Serializable {
  def us(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  /** Timestamp → epoch day under UTC — the calendar rule `to_date(ts)`
    * applies under this repo's PINNED session timezone
    * (spark.sql.session.timeZone=UTC in build.sbt / Verify /
    * SparkSpec), so [[Streams.retentionStream]]'s day math matches the
    * batch retention row's bit-for-bit on ANY host. (toLocalDateTime
    * would use the JVM default zone and diverge off-UTC hosts.)
    * floorDiv, not /: pre-epoch instants must floor toward the earlier
    * day, the [[us]] lesson. */
  def epochDay(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 86400000L)
}

/** Per-user last-event state for [[Streams.transitionsStream]]. */
final case class TransitionState(lastUs: Long, lastId: Long, lastType: String)

/** One adjacency emitted by [[Streams.transitionsStream]]. */
final case class TransitionOut(user_id: Long, src: String, dst: String)

/** Per-user funnel progress for [[Streams.funnelStream]]. */
final case class FunnelState(step: Int, lastUs: Long)

/** One funnel advancement emitted by [[Streams.funnelStream]]. */
final case class FunnelStep(user_id: Long, step_idx: Long, step: String)

/** Per-user active-day state for [[Streams.retentionStream]]: `d0` =
  * epoch day of the earliest event seen, `bits` = set-bit bitmap of
  * active days RELATIVE to d0 (bit j = day d0+j active). Bounded by
  * the user's activity horizon: ceil(span-days / 64) longs — ~6 longs
  * per user per decade, the price of FULL out-of-order correctness
  * (a retroactive earlier first event shifts every offset, which a
  * (d0, emitted-offsets) state could not replay). */
final case class RetentionState(d0: Long, bits: Array[Long])

/** One retention-cell increment (delta = +1) or retraction (−1)
  * emitted by [[Streams.retentionStream]]: summing delta per
  * (cohort_wk, offset_wk) over all emissions reproduces the batch
  * [[graft.queries.Funnels.retention]] n_users exactly. */
final case class RetentionDelta(
    user_id: Long, cohort_wk: Long, offset_wk: Long, delta: Long)

/** Accumulated per-shard bottom-k state for [[Streams.overlapStream]]:
  * `nSeen` arrivals routed to the shard, `ks` the shard's k smallest
  * distinct content hashes. */
final case class KmvShardState(nSeen: Long, ks: Array[Long])

/** One shard's refreshed sketch, emitted into the merge stage of
  * [[Streams.overlapStream]]. */
final case class ShardSketch(shard: Long, n_seen: Long, ks: Seq[Long])

/** One per-micro-batch overlap estimate emitted by
  * [[Streams.overlapStream]]: `n_seen` total arrivals so far, and the
  * three I11 sketch numbers vs the fixed reference. */
final case class OverlapEstimate(
    n_seen: Long, k_eff: Long, sketch_inter: Long, est_jaccard: Double)

/** Accumulated per-shard CMS state for
  * [[Streams.heavyHittersStream]]: `nSeen` gram occurrences routed to
  * the shard, `counters` the shard's depth×width Count-Min array, and
  * `cand` the shard's candidate grams with their latest CMS estimate
  * (a gram enters when an arrival pushes its estimate to `minCount`;
  * estimates only grow, so the map never shrinks). */
final case class HhShardState(
    nSeen: Long, counters: Array[Long], cand: Map[String, Long])

/** One shard's refreshed candidate snapshot, emitted into the merge
  * stage of [[Streams.heavyHittersStream]]. */
final case class HhShardOut(shard: Long, n_seen: Long, cand: Map[String, Long])

/** One candidate heavy hitter emitted by
  * [[Streams.heavyHittersStream]]: the batch's full candidate union is
  * re-emitted under the new global `n_seen` (take the rows of the
  * largest n_seen for the current snapshot). `est` is the gram's CMS
  * estimate — an upper bound on its true arrival count. */
final case class HeavyHitterOut(n_seen: Long, gram: String, est: Long)

/** One A-ES draw entry (doc id, weight, the u^(1/w) order key) held in
  * [[Streams.weightedSampleStream]]'s state and emitted in its
  * per-batch sample snapshots. */
final case class EsEntry(doc_id: Long, weight: Long, es_key: Double)

/** Accumulated per-shard A-ES state for
  * [[Streams.weightedSampleStream]]: arrivals routed to the shard and
  * its current top-k entries by (es_key DESC, doc_id). */
final case class EsShardState(nSeen: Long, top: Seq[EsEntry])

/** One shard's refreshed top-k, emitted into the merge stage of
  * [[Streams.weightedSampleStream]]. */
final case class EsShardOut(shard: Long, n_seen: Long, top: Seq[EsEntry])

/** One sampled doc emitted by [[Streams.weightedSampleStream]]: the
  * current k-row sample re-emits under the new global `n_seen` (take
  * the rows of the largest n_seen for the current snapshot). */
final case class WeightedSampleOut(
    n_seen: Long, doc_id: Long, weight: Long, es_key: Double)

/** One live session per user for [[Streams.sessionizeStream]]. */
final case class SessionState(
    sessionStart: Long, lastTs: Long, nEvents: Long, totalValue: Double)

/** A closed session emitted by [[Streams.sessionizeStream]]. */
final case class SessionOut(
    user_id: Long, session_start: java.sql.Timestamp,
    n_events: Long, duration_us: Long, total_value: Double)

/** One doc of a banded signature stream for
  * [[Streams.nearDupStream]]. */
final case class BandedDoc(doc_id: Long, band: Int, band_hash: Long, sig: Seq[Long])

/** A doc remembered in an LSH bucket's registry. */
final case class BucketEntry(doc_id: Long, sig: Seq[Long])

/** An incoming doc flagged against a previously-seen near-duplicate. */
final case class NearDupHit(doc_id: Long, matched_id: Long, est_jaccard: Double)

/** One gated, banded row of [[Streams.ingestStreamKeyed]]. */
final case class IngestBandRow(
    doc_id: Long, band: Int, band_hash: Long, sig: Seq[Long],
    contaminated: Boolean)

/** Per-(doc, band) verdict emitted by the registry stage. */
final case class IngestBandHit(doc_id: Long, matched: Boolean, contaminated: Boolean)

/** Final per-doc ingest decision of [[Streams.ingestStreamKeyed]]. */
final case class IngestDecision(
    doc_id: Long, is_near_seen: Boolean, contaminated: Boolean, keep: Boolean)

/** KV-store op (kvraft surface: Put / Append; Get is a lookup on the
  * emitted state). */
final case class KvOp(ts: java.sql.Timestamp, key: String, op: String, value: String)

/** Current value per key emitted by [[Streams.kvStore]]. */
final case class KvState(key: String, value: String, n_ops: Long)

/** Structured Streaming operators (SURVEY.md §2 G2–G4). Each takes the
  * event stream as a DataFrame/Dataset so tests can drive it from a
  * MemoryStream and production from `readStream` — the transform IS the
  * operator; source/sink wiring stays at the edge.
  *
  * Scale notes: every operator keys its state by a high-cardinality
  * column (user_id / event_id / window×type), so state shards across
  * executors; watermarks bound state size — without them a 100 TB/day
  * stream would grow state forever.
  */
object Streams {

  /** G2 (streaming form): tumbling 1 h × event_type counts. The 2 h
    * watermark lets late events up to 2 h old revise their window before
    * the window's state is finalized and dropped. */
  def windowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(38,10)")).as("total_dec"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), round(col("total_dec"), 2).cast("double").as("total"))

  /** G3: streaming exact dedup on event_id — watermarked state, so an id
    * is remembered only while a duplicate could still legally arrive. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-event value → exact integer cents, matching Spark's
    * `round(value * 100)` bit-for-bit (Spark's Round on DoubleType is
    * BigDecimal.valueOf — the double's shortest decimal repr — setScale
    * HALF_UP; DuckDB's round agrees for |x| < 2^52, the round-11
    * validated lesson). THE single cents definition shared by the G4
    * stream state and the `q_user_stats_batch` oracle row, so the
    * stream == batch differential pins real rounding, not a
    * coincidence (105 of sf0.001's 10k values have a non-exact
    * `value*100` double). */
  private[graft] def valueCents(v: Double): Long =
    java.math.BigDecimal.valueOf(v * 100.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** G4: custom state machine via flatMapGroupsWithState — running
    * per-user counters, emitting the updated state once per user per
    * micro-batch (Update mode). The final emission per user equals the
    * batch [[graft.queries.Sessions.userStats]] row (the oracle-checked
    * `q_user_stats_batch` twin) under ANY delivery order: counts and
    * integer-cents totals are commutative, so the state is a pure
    * function of the event multiset (the G15 contract). */
  def runningUserStats(events: Dataset[EventRow]): Dataset[UserUpdate] = {
    import events.sparkSession.implicits._
    def update(
        userId: Long,
        rows: Iterator[EventRow],
        state: GroupState[UserCounters]): Iterator[UserUpdate] = {
      var st = state.getOption.getOrElse(UserCounters(0L, 0L, 0L))
      rows.foreach { e =>
        st = UserCounters(
          st.n_events + 1,
          st.n_purchases + (if (e.event_type == "purchase") 1 else 0),
          st.total_cents + valueCents(e.value))
      }
      state.update(st)
      Iterator.single(UserUpdate(
        userId, st.n_events, st.n_purchases, st.total_cents / 100.0))
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** G1 (streaming form): gap sessionization, batch-equivalent under ANY
    * within-watermark disorder.
    *
    * State is the LIST of live sessions for the user, not just the most
    * recent one: each batch gap-chains (state ∪ batch) as [start, last]
    * intervals sorted by start, so a legally-late event merges by
    * extending bounds (min start / max last) — even into an older
    * session that a newer one has already leapfrogged. A session is
    * emitted ONLY once the watermark passes its last event + gap (the
    * point where no legal event can still merge into it); emitting any
    * earlier could split one batch-semantics session into two. State per
    * user is bounded by the watermark: at most ~(watermark / gap) + 1
    * sessions can be simultaneously live. */
  def sessionizeStream(
      events: Dataset[EventRow],
      gapMinutes: Long = 30,
      watermark: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    def update(
        userId: Long,
        rows: Iterator[EventRow],
        state: GroupState[Seq[SessionState]]): Iterator[SessionOut] = {
      def us(t: java.sql.Timestamp): Long = t.getTime * 1000L
      def emit(st: SessionState): SessionOut = SessionOut(
        userId, new java.sql.Timestamp(st.sessionStart / 1000L),
        st.nEvents, st.lastTs - st.sessionStart, st.totalValue)
      val wmUs = state.getCurrentWatermarkMs() * 1000L
      val pts = rows.toSeq
        .map(e => SessionState(us(e.ts), us(e.ts), 1L, e.value))
      val items = (state.getOption.getOrElse(Seq.empty) ++ pts)
        .sortBy(s => (s.sessionStart, s.lastTs))
      val merged = scala.collection.mutable.ListBuffer.empty[SessionState]
      items.foreach { it =>
        if (merged.nonEmpty && it.sessionStart <= merged.last.lastTs + gapUs) {
          val c = merged.last
          merged(merged.size - 1) = SessionState(c.sessionStart,
            math.max(c.lastTs, it.lastTs),
            c.nEvents + it.nEvents, c.totalValue + it.totalValue)
        } else merged += it
      }
      val (closed, live) = merged.partition(_.lastTs + gapUs <= wmUs)
      if (live.isEmpty) {
        state.remove()
      } else {
        state.update(live.toSeq)
        // wake when the earliest live session becomes closable (timeout
        // timestamps must sit strictly past the current watermark)
        val nextEnd = live.map(_.lastTs).min / 1000L + gapMinutes * 60000L
        state.setTimeoutTimestamp(math.max(nextEnd, state.getCurrentWatermarkMs() + 1))
      }
      closed.iterator.map(emit)
    }
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }

  /** Watermarked stream–stream inner join: each click pairs with the
    * same user's purchases that happen within `withinMinutes` AFTER it
    * (attribution-window semantics). Both sides carry watermarks and
    * the join condition bounds event-time distance, so Spark can drop
    * buffered state once the watermark passes a row's join horizon —
    * without the time bound, stream–stream state grows forever. */
  def clickToPurchase(
      clicks: DataFrame,
      purchases: DataFrame,
      withinMinutes: Long = 60,
      watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** Streaming MinHash near-dup detection — the ingest-time form of the
    * batch [[graft.queries.Dedup.minhashPairs]]: each arriving doc is
    * flagged against every PREVIOUSLY-seen near-duplicate, so a crawl
    * pipeline can drop repeats before they ever land in the corpus.
    *
    * Same signatures, same banding as batch (the shared
    * [[graft.queries.Dedup.shingleHashCol]]/[[graft.queries.Dedup.minhashSigCol]]/
    * [[graft.queries.Dedup.bandHashCol]] columns), so the pairs it
    * flags are exactly the batch pairs, just oriented
    * (later arrival → earlier match). State is keyed by the (band,
    * band_hash) bucket — high-cardinality, shards across executors —
    * and each bucket's registry is FIFO-capped at `maxPerBucket` docs:
    * a bucket that big means the band key has degenerated (the batch
    * operator has the same pathology as a hot-key join) and dropping
    * the oldest entries bounds state where the alternative is
    * unbounded growth. The same pair surfacing from several bands
    * yields duplicate hits; `dropDuplicates("doc_id", "matched_id")`
    * downstream if exact-once hits matter. */
  def nearDupStream(
      docs: DataFrame,
      minEstJaccard: Double = 0.5,
      maxPerBucket: Int = 1024): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    import graft.queries.Dedup
    val banded = docs
      .withColumn("hs", Dedup.shingleHashCol(col("text")))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", Dedup.minhashSigCol(col("hs")))
      .select(col("doc_id"),
        posexplode(Dedup.bandHashCol(col("sig"))).as(Seq("band", "band_hash")),
        col("sig"))
      .as[BandedDoc]
    def update(
        key: (Int, Long),
        rows: Iterator[BandedDoc],
        state: GroupState[Seq[BucketEntry]]): Iterator[NearDupHit] = {
      var seen = state.getOption.getOrElse(Seq.empty)
      val out = Seq.newBuilder[NearDupHit]
      // within a batch, docs enter the registry in doc_id order so the
      // emitted direction is deterministic under batch-internal disorder
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        if (!seen.exists(_.doc_id == r.doc_id)) {
          seen.foreach { s =>
            val agree = r.sig.iterator.zip(s.sig.iterator)
              .count { case (a, b) => a == b }
            val est = agree.toDouble / Dedup.MinhashK
            if (est >= minEstJaccard) out += NearDupHit(r.doc_id, s.doc_id, est)
          }
          seen = seen :+ BucketEntry(r.doc_id, r.sig)
          if (seen.size > maxPerBucket) seen = seen.takeRight(maxPerBucket)
        }
      }
      state.update(seen)
      out.result().iterator
    }
    banded
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(update)
  }

  /** G6: streaming curation — the ingest-time form of the batch
    * [[graft.queries.Curation.curate]] pipeline: quality gate (same
    * score column, [[graft.queries.TextAnalysis.qualityScoreCol]])
    * followed by exact content dedup on the same (md5, poly) key pair
    * as batch D1, keeping each content's FIRST arrival. Compose with
    * [[nearDupStream]] downstream to also flag near-duplicates at
    * ingest.
    *
    * Survivor identity: across micro-batches the first arrival wins
    * (deterministic). WITHIN one micro-batch, duplicates keep an
    * arbitrary member — `dropDuplicates` state sees rows in partition
    * order, and streaming plans cannot sort — so the kept ROW may
    * differ from batch [[graft.queries.Curation.curate]]'s min-doc_id
    * survivor when duplicates co-arrive; the kept CONTENT set is
    * always identical.
    *
    * State: the dedup registry holds one (k1, k2) pair per distinct
    * surviving content, forever — content dedup has no natural
    * watermark (a repeat can arrive any time). At 100 TB-of-corpus
    * scale that registry is ~50 B × distinct docs spread across the
    * state store; if re-crawl windows make time-bounded dedup
    * acceptable, watermark the input and swap in
    * `dropDuplicatesWithinWatermark`. */
  def curateStream(docs: DataFrame, minQuality: Double = 0.3): DataFrame = {
    val (k1, k2) = graft.queries.Dedup.contentKeyCols(col("text"))
    docs
      .withColumn("quality_score",
        graft.queries.TextAnalysis.qualityScoreCol(col("text")))
      .filter(col("quality_score") >= minQuality)
      .withColumn("__k1", k1)
      .withColumn("__k2", k2)
      .dropDuplicates("__k1", "__k2")
      .drop("__k1", "__k2")
  }

  /** G9: streaming Gopher rule gate at ingest — the batch C16
    * [[graft.queries.TextAnalysis.gopherRules]] applied per arrival.
    * The rule computation is a pure stateless map stage (per-doc
    * integer counts + cross-multiplied comparisons, no aggregation,
    * no state), so the batch core applies UNCHANGED to a streaming
    * frame and stream output == batch output row-for-row by
    * construction — the strongest stream/batch equivalence in the
    * G-family (no survivor-identity caveats, no watermark). Filter
    * `kept = 1` downstream, or keep the per-rule flags for audit
    * sinks. */
  def gopherStream(
      docs: DataFrame,
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      stops: Seq[String] = graft.queries.TextAnalysis.GopherStops): DataFrame =
    graft.queries.TextAnalysis.gopherFlags(docs, minWords, maxWords, stops)

  /** G22: streaming corpus-map assignment — arriving docs placed on
    * the I12 (content cell × quality decile) grid under FROZEN state
    * ([[graft.queries.CorpusMap.CorpusMapModel]] — centroid + cut
    * literals fitted once, offline, by
    * [[graft.queries.CorpusMap.fitModel]]): the live corpus-map census
    * an ingest dashboard keeps while a crawl lands, with no refit and
    * no state. [[graft.queries.CorpusMap.assignFrozen]] is a pure
    * per-row map (column-side E9 fold, packedMin over literals, cut
    * comparisons — the G9/G12 stateless argument), so the batch core
    * applies UNCHANGED to a streaming frame and stream == batch
    * row-for-row by construction; under a same-corpus full fit the
    * accumulated rows equal the hash-green I12 census's own per-doc
    * frame (CorpusMapSpec + StreamingSpec pin the chain). Aggregate
    * downstream as the consumer wants (groupBy(cell, decile) in
    * complete mode, or foreachBatch into a counts store). */
  def corpusMapStream(
      docs: DataFrame,
      model: graft.queries.CorpusMap.CorpusMapModel): DataFrame =
    graft.queries.CorpusMap.assignFrozen(docs, model)

  /** G23: streaming per-cell mixing — arriving docs keep/drop under a
    * FULLY FROZEN mix design: the corpus-map model (centroid + cut
    * literals, [[graft.queries.CorpusMap.fitModel]]) AND the
    * (cell, decile, rate) table ([[graft.queries.CellMix.fitRates]]),
    * both fitted once, offline. [[graft.queries.CellMix.mixFrozen]] is
    * a pure per-row map (frozen assignment + rate-literal lookup + the
    * portable LCG draw — no aggregation, no state), so the batch core
    * applies UNCHANGED to a streaming frame (the G22 argument one step
    * further: the census the stream dashboard keeps is now also the
    * mixer the ingest path enforces). Under a same-corpus fit the
    * accumulated stream survivors equal batch [[graft.queries.CellMix.cellMix]]
    * on the concatenated input, any delivery order — each doc's keep
    * bit is a pure function of (doc_id, text) and the frozen state
    * (StreamingSpec pins the chain). */
  def cellMixStream(
      docs: DataFrame,
      model: graft.queries.CorpusMap.CorpusMapModel,
      rates: Seq[(Long, Long, Double)]): DataFrame =
    graft.queries.CellMix.mixFrozen(docs, model, rates)

  /** G10: streaming Gopher REPETITION gate at ingest — C17's
    * [[graft.queries.TextAnalysis.gopherRepetition]] applied per
    * arrival. Like G9, the computation is a pure stateless map (per-doc
    * integer counts — line/paragraph dup fractions and the native
    * dominant-gram kernels — plus cross-multiplied comparisons, no
    * aggregation, no state), so the batch core applies UNCHANGED to a
    * streaming frame and stream output == batch output row-for-row by
    * construction. Run both gates at ingest (`kept = 1` on each) for
    * the full MassiveWeb-style rule screen. */
  def gopherRepStream(docs: DataFrame): DataFrame =
    graft.queries.TextAnalysis.gopherRepFlags(docs)

  /** G12: streaming C4 line screen at ingest — C18's
    * [[graft.queries.LineFilters.c4Filters]] applied per arrival.
    * Like G9/G10 the computation is a pure stateless map (per-line
    * splits/filters + integer comparisons + the `text_clean` rejoin,
    * no aggregation, no state), so the batch core applies UNCHANGED to
    * a streaming frame and stream output == batch output row-for-row
    * by construction. The natural ingest order is C18 FIRST (it
    * rewrites text), then the G9/G10 gates on `text_clean`. */
  def c4Stream(
      docs: DataFrame,
      minWordsPerLine: Long = 3L,
      minKeptLines: Long = 5L,
      requireTerminal: Boolean = true,
      lineDropWords: Seq[String] = Seq("javascript"),
      pageDropPhrases: Seq[String] = Seq("lorem ipsum")): DataFrame =
    graft.queries.LineFilters.c4Flags(docs, minWordsPerLine, minKeptLines,
      requireTerminal, lineDropWords, pageDropPhrases)

  /** G17: streaming markup text extraction at ingest —
    * [[graft.queries.Extract.extractText]]'s chain applied per
    * arrival. The extraction is a pure stateless map (one
    * regexp/replace chain per row, no aggregation, no state), so the
    * batch core applies UNCHANGED to a streaming frame and stream
    * output == batch output row-for-row by construction (the G9/G12
    * argument); the C25 oracle row is its batch twin. Ingest order on
    * a raw crawl stream: THIS first (tags → line frame), then
    * [[c4Stream]] and the G9/G10 gates on `text_clean` — the
    * streaming form of `Graft.extractClean`'s documented order. */
  def extractStream(docs: DataFrame): DataFrame =
    graft.queries.Extract.extractTextFlags(docs)

  /** G18: streaming URL/domain gating at ingest —
    * [[graft.queries.UrlFilter.urlFilter]]'s flags applied per
    * arrival. Pure stateless map (anchored regexp extraction + list
    * membership per row, no aggregation, no state), so the batch core
    * applies UNCHANGED to a streaming frame and stream output == batch
    * output row-for-row by construction (the G9/G12/G17 argument); the
    * C26 oracle row is its batch twin. Ingest order on a raw crawl
    * stream: THIS first (drop junk URLs before paying for fetch or
    * extraction), then [[extractStream]] and the line gates — the
    * streaming form of the full documented crawl-ingest order. */
  def urlFilterStream(
      urls: DataFrame,
      blockedDomains: Seq[String],
      blockedWords: Seq[String] = Nil,
      allowedSchemes: Seq[String] = graft.queries.UrlFilter.DefaultAllowedSchemes,
      twoLevelTlds: Seq[String] = graft.queries.UrlFilter.DefaultTwoLevelTlds,
      maxLen: Int = 2048): DataFrame =
    graft.queries.UrlFilter.urlFlags(urls, blockedDomains, blockedWords,
      allowedSchemes, twoLevelTlds, maxLen)

  /** G19: streaming ingest-triage overlap — I11's KMV estimate
    * maintained incrementally over the arriving corpus against a
    * FIXED lake sketch ([[graft.queries.Sketches.kmvSketch]] — the
    * k·8-byte artifact stored beside the lake). After every
    * micro-batch, one [[OverlapEstimate]] row answers "how much of
    * what has arrived so far is already in the lake?" — the live form
    * of the `q_corpus_overlap` triage.
    *
    * Two chained stateful stages, both bounded however big the
    * corpus: stage 1 shards the hash stream by `h % 64` and keeps a
    * per-shard bottom-k (so no single task funnels a whole batch),
    * emitting each touched shard's refreshed sketch; stage 2 merges
    * the ≤ 64·k candidate values — the global bottom-k is a subset of
    * the union of per-shard bottom-k's, since a globally-smallest
    * value is also among its own shard's k smallest — and emits the
    * estimate via the SAME [[graft.queries.Sketches.kmvEstimate]]
    * arithmetic as the batch row (cross-implementation differential
    * in StreamingSpec).
    *
    * Contract (G15-strength): the accumulated sketch is a SET
    * function of the hashes seen, so the latest ESTIMATE FIELDS
    * (k_eff, sketch_inter, est_jaccard) are independent of delivery
    * order, batch boundaries, and duplicate redelivery — any arrival
    * history covering the same docs yields the same estimate.
    * `n_seen` is deliberately an ARRIVALS counter (it counts
    * redeliveries — the ops signal for replay volume), not part of
    * that invariant.
    *
    * `refSketch` must be built by [[graft.queries.Sketches.kmvSketch]]
    * at THIS `k` or larger: the membership test `x ∈ lake ⇒ x ∈
    * refSketch` (for x in the union's bottom-k) only holds when the
    * reference kept at least the lake's k smallest — a smaller-k
    * sketch silently biases the estimate toward 0 unless it covers
    * the lake's whole content set. */
  def overlapStream(
      docs: DataFrame,
      refSketch: Array[Long],
      k: Int = graft.queries.Sketches.KmvK): Dataset[OverlapEstimate] = {
    import docs.sparkSession.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    // a malformed reference must fail loudly, not skew triage: any
    // kmvSketch output is strictly increasing (distinct + ORDER BY h),
    // so a duplicated, unsorted, or hand-truncated-and-reshuffled
    // array is detectably NOT a kmvSketch artifact. Length < k is
    // only legitimate when the sketch covers the lake's whole content
    // set (kmvSketch returns fewer than k longs iff the lake has
    // fewer than k distinct contents) — that case is indistinguishable
    // from a smaller-k build here, so it is documented above rather
    // than rejected; the shape checks below catch every other
    // corruption mode.
    require(refSketch.zip(refSketch.drop(1)).forall { case (x, y) => x < y },
      "refSketch must be strictly increasing (a kmvSketch artifact is " +
        "distinct and sorted) — a reordered or duplicated reference " +
        "would silently bias est_jaccard toward 0")
    // the SAME fingerprint definition as kmvSketch/corpusOverlap — a
    // drifted copy would break sketch-vs-arrivals hash equality
    val hashes = docs.select(
      graft.queries.Sketches.contentHash(col("text")).as("h")).as[Long]
    def shardUpdate(shard: Long, rows: Iterator[Long],
        state: GroupState[KmvShardState]): Iterator[ShardSketch] = {
      val prev = state.getOption.getOrElse(KmvShardState(0L, Array.empty))
      val arr = rows.toArray
      val merged = (prev.ks ++ arr).distinct.sorted.take(k)
      val next = KmvShardState(prev.nSeen + arr.length, merged)
      state.update(next)
      Iterator.single(ShardSketch(shard, next.nSeen, merged.toSeq))
    }
    def mergeUpdate(key: Int, rows: Iterator[ShardSketch],
        state: GroupState[Seq[ShardSketch]]): Iterator[OverlapEstimate] = {
      val prev = state.getOption.getOrElse(Seq.empty)
      val fresh = rows.toSeq
      val freshShards = fresh.map(_.shard).toSet
      val next = prev.filterNot(s => freshShards(s.shard)) ++ fresh
      state.update(next)
      val merged = next.iterator.flatMap(_.ks).toArray.distinct.sorted.take(k)
      val nSeen = next.iterator.map(_.n_seen).sum
      val (kEff, inter, est) =
        graft.queries.Sketches.kmvEstimate(merged, refSketch, k)
      Iterator.single(OverlapEstimate(nSeen, kEff, inter, est))
    }
    // floorMod, not %: polyHash is non-negative by construction, but
    // the shard-count bound documented above must not silently double
    // if the hash ever widens to full-range longs
    hashes.groupByKey(h => java.lang.Math.floorMod(h, 64L))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(shardUpdate)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(mergeUpdate)
  }

  /** G20: streaming heavy hitters — I10's Count-Min discipline live at
    * ingest. After every micro-batch, the current CANDIDATE vocabulary
    * (every word-n-gram whose CMS estimate has reached `minCount`)
    * re-emits under the new global occurrence count — the boilerplate/
    * template alarm a crawl pipeline watches while the lake fills,
    * with the batch row ([[graft.queries.Sketches.heavyHitters]]) as
    * the exact rescore it hands off to.
    *
    * Three chained stateful stages, state bounded however big the
    * corpus' VOCABULARY is:
    *
    *   1. doc dedup — keyed on doc_id (one boolean per doc: the G3
    *      shape), so a redelivered doc contributes its grams exactly
    *      once. Grams derive COLUMN-SIDE from the batch row's own
    *      [[graft.queries.Sketches.gramArray]] before this stage —
    *      tokenization is shared, not reimplemented.
    *   2. per-shard CMS — grams shard by hash (64 ways, so no single
    *      task funnels a batch); each shard holds its grams' ENTIRE
    *      history, so its depth×width counters are a full CMS for its
    *      key slice (width is PER SHARD: the 64-shard default of 2^10
    *      gives 2^16 aggregate counters per row — 8× the batch row's
    *      2^13 — at ~1.5 MB total state). A gram whose post-update
    *      estimate reaches
    *      minCount enters the shard's candidate map; all candidates'
    *      estimates refresh each batch.
    *   3. merge — the ≤ 64 shard snapshots union into one emission
    *      (the G19 merge shape).
    *
    * Contract (the honest streaming-frequency story): a one-pass
    * stream cannot EXACT-count a key it never tracked — the exact
    * rescore is the batch row's second pass, which a stream does not
    * have. What IS guaranteed, under ANY delivery order, batching, and
    * doc-id redelivery:
    *
    *   - NO FALSE DISMISSAL: every gram whose true (deduped) count
    *     reaches `minCount` is in the emitted set — at its last
    *     arrival its estimate ≥ its true count ≥ minCount (counters
    *     only add; the same argument as the batch prefilter);
    *   - estimates are upper bounds: est(g) >= true count of g, with
    *     equality when no colliding gram shares all of g's buckets —
    *     so in the collision-free regime (width sized to the observed
    *     vocabulary, the StreamingSpec twin configuration) the emitted
    *     set IS the exact heavy set with exact counts;
    *   - emissions are a set function of the delivered doc set: order,
    *     batch boundaries, and redelivery cannot change the final
    *     snapshot in the collision-free regime (under collisions the
    *     candidate set can only GROW toward the same superset).
    *
    * Like the batch row, an undersized width only inflates estimates
    * and therefore the candidate set — triage gets noisier, never
    * blind. Docs sharing a doc_id with DIFFERENT text: first delivered
    * BATCH wins (the stream-dedup contract); within one micro-batch
    * the min-gram-hash row wins — a pure function of content, never
    * of shuffle order. */
  def heavyHittersStream(
      docs: DataFrame,
      minCount: Long,
      n: Int = graft.queries.Sketches.HhGramN,
      depth: Int = graft.queries.Sketches.DefaultDepth,
      width: Int = 1 << 10): Dataset[HeavyHitterOut] = {
    import docs.sparkSession.implicits._
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    require(n >= 1, s"n must be >= 1, got $n")
    require(depth >= 1 && depth <= 8, s"depth must be in [1,8], got $depth")
    require(width >= 16 && (width & (width - 1)) == 0,
      s"width must be a power of two >= 16, got $width")
    val shards = 64
    // JVM-side hashes (MurmurHash3 — deterministic across JVMs). The
    // CMS hash only needs to agree with ITSELF (build and probe are
    // this one function); nothing downstream replays it.
    def bucket(g: String, row: Int): Int =
      java.lang.Math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(g, row), width) + row * width
    def shardOf(g: String): Long =
      java.lang.Math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(g, 0x5eed), shards).toLong
    val perDoc = docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.queries.Sketches.gramArray(n).as("grams"))
      .as[(Long, Seq[String])]
    def dedupUpdate(docId: Long, rows: Iterator[(Long, Seq[String])],
        state: GroupState[Boolean]): Iterator[String] =
      if (state.exists) Iterator.empty
      else {
        state.update(true)
        // two same-id rows with DIFFERENT text in one micro-batch:
        // within-group iterator order under flatMapGroupsWithState is
        // shuffle-dependent, so "first in iterator order" would be
        // nondeterministic (advisor r13). Pick by min (ordered gram
        // hash, gram sequence) — the lexicographic second key breaks
        // residual HASH COLLISIONS on the content itself (advisor
        // r14: minBy on the hash alone fell back to iterator order
        // there), so the winner is a total function of content.
        val all = rows.toArray
        if (all.isEmpty) Iterator.empty
        else all.minBy(r =>
          (scala.util.hashing.MurmurHash3.orderedHash(r._2),
            r._2.mkString("\u0000")))._2.iterator
      }
    def shardUpdate(shard: Long, rows: Iterator[String],
        state: GroupState[HhShardState]): Iterator[HhShardOut] = {
      val prev = state.getOption.getOrElse(
        HhShardState(0L, new Array[Long](depth * width), Map.empty))
      val counters = prev.counters.clone()
      val arr = rows.toArray
      arr.foreach { g =>
        var r = 0
        while (r < depth) { counters(bucket(g, r)) += 1L; r += 1 }
      }
      def est(g: String): Long =
        (0 until depth).map(r => counters(bucket(g, r))).min
      val cand = (prev.cand.keysIterator ++
          arr.iterator.distinct.filter(g => est(g) >= minCount))
        .map(g => g -> est(g)).toMap
      val next = HhShardState(prev.nSeen + arr.length, counters, cand)
      state.update(next)
      Iterator.single(HhShardOut(shard, next.nSeen, cand))
    }
    def mergeUpdate(key: Int, rows: Iterator[HhShardOut],
        state: GroupState[Seq[HhShardOut]]): Iterator[HeavyHitterOut] = {
      val prev = state.getOption.getOrElse(Seq.empty)
      val fresh = rows.toSeq
      val freshShards = fresh.map(_.shard).toSet
      val next = prev.filterNot(s => freshShards(s.shard)) ++ fresh
      state.update(next)
      val nSeen = next.iterator.map(_.n_seen).sum
      next.iterator.flatMap(_.cand.iterator)
        .map { case (g, e) => HeavyHitterOut(nSeen, g, e) }
    }
    perDoc.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(dedupUpdate)
      .groupByKey(shardOf)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(shardUpdate)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(mergeUpdate)
  }

  /** G21: streaming weighted sampling WITHOUT replacement — H11's A-ES
    * draw (Efraimidis & Spirakis) maintained live over the arriving
    * corpus: after every micro-batch the current k-doc sample (token-
    * weighted inclusion, the same draw `q_weighted_sample` runs) is
    * re-emitted — the always-fresh eval/inspection subsample a lake
    * keeps while ingest runs, without ever re-scanning the lake.
    *
    * The A-ES key is a PURE FUNCTION of (doc_id, weight) — the seeded
    * LCG scramble, quantized ln, one division, computed COLUMN-SIDE by
    * the SAME [[graft.queries.Shards.esKeyed]] projection as the batch
    * row (one definition — drift would silently break the twin) — so
    * the accumulated top-k is a SET function of the delivered docs:
    * delivery order, batch boundaries, and redelivery cannot change
    * it (redelivered docs reproduce their exact entry and collapse in
    * the per-doc dedup; the G19 set-function argument, strengthened
    * from "same estimate" to "same exact sample"). The final snapshot
    * EQUALS batch `weightedSample` over the same docs — StreamingSpec
    * pins the equality. Zero-weight docs never enter (the batch rule).
    *
    * State is bounded: 64 shards × (k entries + one long) — a shard
    * holds its docs' top-k only, and the global top-k is a subset of
    * the union of shard top-k's (a globally-top entry is top-k in its
    * own shard). Docs sharing a doc_id with DIFFERENT text: entries
    * dedupe per doc_id keeping the larger key (deterministic), but the
    * stream-dedup immutable-content contract is the supported use. */
  def weightedSampleStream(
      docs: DataFrame,
      k: Int = 25,
      seed: Long = 0L): Dataset[WeightedSampleOut] = {
    import docs.sparkSession.implicits._
    require(k > 0, "k must be positive")
    val keyed = graft.queries.Shards
      .esKeyed(docs.select(col("doc_id"),
        size(graft.functions.TextFunctions.words(col("text")))
          .cast("long").as("weight")), seed)
      .as[(Long, Long, Double)]
    // (es_key DESC, doc_id ASC) — the batch row's exact order
    def topK(entries: Seq[EsEntry]): Seq[EsEntry] = entries
      .groupBy(_.doc_id)
      .map { case (_, es) => es.maxBy(e => (e.es_key, -e.weight)) }
      .toSeq
      .sortBy(e => (-e.es_key, e.doc_id))
      .take(k)
    def shardUpdate(shard: Long, rows: Iterator[(Long, Long, Double)],
        state: GroupState[EsShardState]): Iterator[EsShardOut] = {
      val prev = state.getOption.getOrElse(EsShardState(0L, Seq.empty))
      val arr = rows.map { case (id, w, key) => EsEntry(id, w, key) }.toSeq
      val next = EsShardState(prev.nSeen + arr.size, topK(prev.top ++ arr))
      state.update(next)
      Iterator.single(EsShardOut(shard, next.nSeen, next.top))
    }
    def mergeUpdate(key: Int, rows: Iterator[EsShardOut],
        state: GroupState[Seq[EsShardOut]]): Iterator[WeightedSampleOut] = {
      val prev = state.getOption.getOrElse(Seq.empty)
      val fresh = rows.toSeq
      val freshShards = fresh.map(_.shard).toSet
      val next = prev.filterNot(s => freshShards(s.shard)) ++ fresh
      state.update(next)
      val nSeen = next.iterator.map(_.n_seen).sum
      topK(next.flatMap(_.top)).iterator
        .map(e => WeightedSampleOut(nSeen, e.doc_id, e.weight, e.es_key))
    }
    keyed.groupByKey(r => java.lang.Math.floorMod(r._1, 64L))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(shardUpdate)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(mergeUpdate)
  }

  /** G13: streaming event-type transitions — B14's Markov adjacency
    * counts at ingest. Keyed state per user is O(1): the single most
    * recent event (µs ts, id, type); each micro-batch sorts the user's
    * arrivals by (ts, event_id) — the batch twin's exact order — chains
    * them from the stored last event, emits one (src, dst) row per
    * adjacency, and stores the new last event. Aggregate emissions
    * downstream for the matrix; stream Σ == batch [[graft.queries
    * .Funnels.transitions]] counts whenever arrivals respect per-user
    * ts order ACROSS batches (the same in-order-across-batches contract
    * as the other stateful twins; within a batch any disorder is
    * repaired by the sort). */
  def transitionsStream(events: Dataset[EventRow]): Dataset[TransitionOut] = {
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = EventTime.us(t)
    def update(
        userId: Long,
        rows: Iterator[EventRow],
        state: GroupState[TransitionState]): Iterator[TransitionOut] = {
      val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
      var prev = state.getOption
      val out = Seq.newBuilder[TransitionOut]
      sorted.foreach { e =>
        prev.foreach(p => out += TransitionOut(userId, p.lastType, e.event_type))
        prev = Some(TransitionState(us(e.ts), e.event_id, e.event_type))
      }
      prev.foreach(state.update)
      out.result().iterator
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** G14: streaming funnel — B12's strict-order first-touch funnel as
    * a per-user state machine: state is (highest step reached, its
    * completion µs) — O(1) per user; an arriving event advances the
    * user one step when its type is the NEXT step and (beyond entry)
    * it lands strictly after the previous step's first completion.
    * One FunnelStep row is emitted per advancement, so counting
    * emissions per step downstream reproduces the batch per-step
    * n_users exactly under the stateful twins' in-order-across-batches
    * contract (within-batch disorder repaired by the sort; the batch
    * twin's "min ts after prev" IS "first qualifying arrival" in
    * order). */
  def funnelStream(
      events: Dataset[EventRow],
      steps: Seq[String] = Seq("view", "click", "purchase")): Dataset[FunnelStep] = {
    require(steps.nonEmpty && steps.toSet.size == steps.size,
      "steps must be non-empty and distinct")
    import events.sparkSession.implicits._
    def us(t: java.sql.Timestamp): Long = EventTime.us(t)
    def update(
        userId: Long,
        rows: Iterator[EventRow],
        state: GroupState[FunnelState]): Iterator[FunnelStep] = {
      val sorted = rows.toSeq.sortBy(e => (us(e.ts), e.event_id))
      var st = state.getOption.getOrElse(FunnelState(0, 0L))
      val out = Seq.newBuilder[FunnelStep]
      sorted.foreach { e =>
        if (st.step < steps.length && e.event_type == steps(st.step) &&
            (st.step == 0 || us(e.ts) > st.lastUs)) {
          st = FunnelState(st.step + 1, us(e.ts))
          out += FunnelStep(userId, st.step.toLong, steps(st.step - 1))
        }
      }
      state.update(st)
      out.result().iterator
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** G15: streaming weekly-cohort retention — B13's
    * [[graft.queries.Funnels.retention]] at ingest, as per-user
    * RETRACTABLE increments. State per user is the active-day bitmap
    * ([[RetentionState]]); each micro-batch unions the arriving event
    * days in, recomputes the user's (cohort_wk, offset_wk) cell set
    * from the updated day set, and emits the DELTA against the
    * previous cell set: +1 rows for new cells, −1 retractions for
    * cells invalidated by a retroactive earlier first event (a new
    * minimum day shifts the cohort and every offset). Downstream,
    * `sum(delta)` grouped by (cohort_wk, offset_wk) equals the batch
    * n_users exactly.
    *
    * UNLIKE the G13/G14 twins (which require in-order delivery across
    * batches), the emissions here are a pure function of the user's
    * accumulated day SET, so stream Σ == batch under ANY delivery
    * order — within-batch disorder, cross-batch disorder, and
    * retroactive first events included (StreamingSpec's adversarial
    * differential). Date math mirrors the batch row bit-for-bit:
    * epoch days via the session-default zone (to_date's rule),
    * cohort_wk = floorDiv(d0, 7), offset_wk = floorDiv(d − d0, 7). */
  def retentionStream(events: Dataset[EventRow]): Dataset[RetentionDelta] = {
    import events.sparkSession.implicits._
    def decode(s: RetentionState): Set[Long] =
      (0 until s.bits.length * 64).collect {
        case j if (s.bits(j >> 6) & (1L << (j & 63))) != 0L => s.d0 + j
      }.toSet
    def encode(userId: Long, days: Set[Long]): RetentionState = {
      val d0 = days.min
      val span = days.max - d0
      // The bitmap is sized by the user's (max − min) day span: one
      // corrupt far-future or pre-epoch timestamp would allocate a huge
      // per-user array (and a span past 2^37 days overflows the .toInt
      // into a NegativeArraySizeException with no context). ~100k days
      // ≈ 274 years — beyond any real event horizon, so fail loudly
      // naming the user and span instead of letting bad input OOM the
      // state store (the repo's fail-loudly convention).
      require(span < 100000L,
        s"retentionStream: user $userId has an active-day span of $span " +
          s"days (days ${days.min}..${days.max} since epoch) — a corrupt " +
          "timestamp; filter the input rather than sizing state by it")
      val bits = new Array[Long]((span / 64 + 1).toInt)
      days.foreach { d =>
        val j = (d - d0).toInt; bits(j >> 6) |= 1L << (j & 63)
      }
      RetentionState(d0, bits)
    }
    def cells(days: Set[Long]): Set[(Long, Long)] =
      if (days.isEmpty) Set.empty
      else {
        val d0 = days.min
        val c = Math.floorDiv(d0, 7L)
        days.map(d => (c, Math.floorDiv(d - d0, 7L)))
      }
    def update(
        userId: Long,
        rows: Iterator[EventRow],
        state: GroupState[RetentionState]): Iterator[RetentionDelta] = {
      val arriving = rows.map(e => EventTime.epochDay(e.ts)).toSet
      if (arriving.isEmpty) Iterator.empty
      else {
        val oldDays = state.getOption.map(decode).getOrElse(Set.empty[Long])
        val newDays = oldDays ++ arriving
        val (oldC, newC) = (cells(oldDays), cells(newDays))
        state.update(encode(userId, newDays))
        ((newC diff oldC).toSeq.sorted.map { case (c, o) =>
          RetentionDelta(userId, c, o, 1L)
        } ++ (oldC diff newC).toSeq.sorted.map { case (c, o) =>
          RetentionDelta(userId, c, o, -1L)
        }).iterator
      }
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }

  /** G16: streaming drift monitor — I9's
    * [[graft.queries.Profile.psi]] per micro-batch: each arriving
    * batch is scored against the FIXED reference snapshot and the
    * per-column PSI frame goes to `each` (alert when any column
    * crosses 0.25 — the I9 bands). The micro-batch IS the comparison
    * window: set the stream trigger to the alert window production
    * wants (per-batch drift on tiny batches is legitimately noisy —
    * that is the statistic, not the plumbing). Per batch, output ==
    * batch `psi(ref, batch)` by construction (the G11 composition
    * contract; StreamingSpec pins the differential). The reference
    * bounds scan re-runs per batch — cache `ref` when the trigger is
    * tight. */
  def driftStream(
      cur: DataFrame,
      ref: DataFrame,
      numCols: Seq[String],
      catCols: Seq[String],
      buckets: Int = 10)(
      each: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    cur.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          each(graft.queries.Profile.psi(ref, batch, numCols, catCols, buckets))
      }
      .start()

  /** G11: the streaming INGEST pipeline — the D17 curation flow at
    * micro-batch granularity, composed from the same oracle-checked
    * stages: each arriving batch is (1) gate-screened (C16 ∧ C17 —
    * stateless maps, applied directly), (2) near-dup-flagged against
    * the FIXED known lake and within the batch (D13b's restricted
    * band join — the lake never self-pairs), and (3) decontaminated
    * against the eval set (D9's gate form). Survivors reach `each`.
    *
    * Cross-batch dedup state is the LAKE-APPEND flow: within one call
    * `known` is FIXED — exactly D13b's contract, which is what makes
    * each micro-batch's output equal the batch pipeline run on that
    * batch alone (StreamingSpec's differential). For the production
    * form where batch N+1 sees batch N's survivors through the lake's
    * signature store, use [[ingestStreamAppend]]. */
  def ingestStream(
      docs: DataFrame,
      known: DataFrame,
      evalDocs: DataFrame,
      minWords: Long = 50L,
      stops: Seq[String] = graft.queries.TextAnalysis.GopherStops)(
      each: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        each(ingestBatch(batch, known, evalDocs, minWords, stops))
      }
      .start()

  /** G11's production form — [[ingestStream]] with the CROSS-BATCH
    * dedup loop closed: the known lake is the signature store at
    * `lakeDir`, and each micro-batch's survivors are APPENDED to it
    * ([[graft.sources.Sinks.appendSignatures]]) before the batch
    * completes, so batch N+1's near-dup flags see batch N's survivors
    * as `is_near_known` — the real nightly-crawl shape, where a
    * re-crawled page arriving days after its original is still caught.
    *
    * Correctness of the ordering: Structured Streaming runs
    * foreachBatch micro-batches SEQUENTIALLY (batch N's function
    * returns before batch N+1 starts), so the append is always
    * visible to the next batch's [[graft.sources.Sinks.readSignatures]]
    * — no cross-batch race. Each batch therefore equals a sequential
    * batch replay: gates → D13b against (initial lake ∪ all prior
    * survivors) → decontamination (StreamingSpec's multi-batch
    * differential pins exactly that).
    *
    * One decision per batch: the survivors are materialized once
    * ([[graft.ops.Checkpoints.tracked]] + a count) BEFORE the append,
    * and both the append and `each` read that materialization. A
    * `persist()` cannot hold it: the append is a parquet insert into
    * `lakeDir`, whose `recacheByPath` clears every cached plan that
    * reads `lakeDir` — the survivors included, since they read the
    * lake through `known` — so `each` would rerun the whole gate →
    * dedup → decontamination plan. The checkpoint's blocks are freed
    * when the batch's function returns. A block lost before then
    * fails the batch, and the restarted query replays it, which the
    * exactly-once note below covers.
    *
    * Scale shape: the store holds ~150 bytes/doc (D1 keys + MinHash
    * signature — never text), appended as new parquet files per batch
    * and re-read per batch as a columnar scan of key columns only.
    * Per-batch cost is NOT yet proportional to the batch: every
    * reference to `known` in the decision's plan re-reads the whole
    * store, so per-batch cost grows with the lake.
    *
    * Exactly-once: on batch replay after a failure the append can
    * double-write a survivor's signature row — duplicate signature
    * ROWS only widen the candidate set (same flags — the rescore
    * dedups by partner id via max), they never change `keep`, so the
    * store is effectively idempotent for dedup purposes; compact it
    * periodically ([[graft.sources.Sinks.compactParquet]]). */
  def ingestStreamAppend(
      docs: DataFrame,
      lakeDir: String,
      evalDocs: DataFrame,
      minWords: Long = 50L,
      stops: Seq[String] = graft.queries.TextAnalysis.GopherStops,
      stagingDir: Option[String] = None)(
      each: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // anti-join out the batch's OWN ids: on replay-after-append the
        // store already holds this batch's survivors, which would (a)
        // trip D13b's id-disjointness guard and (b) flag every
        // survivor as a near-dup of itself. Excluding them makes the
        // replayed batch see exactly the pre-append store.
        val known = graft.sources.Sinks.readSignatures(spark, lakeDir)
          .join(batch.select("doc_id"), Seq("doc_id"), "left_anti")
        val (surv, ck) = graft.ops.Checkpoints.tracked(
          ingestBatch(batch, known, evalDocs, minWords, stops))
        try {
          surv.count() // the decision, computed once, before the append
          // append FIRST, then hand to the caller: if `each` throws,
          // the batch re-runs and the double-append is harmless (see
          // idempotence note above); the reverse order could emit
          // survivors whose signatures never landed.
          graft.sources.Sinks.appendBatchSignatures(surv, lakeDir)
          // staging lake for SCHEDULED COMPACTION
          // ([[graft.queries.Curation.compactShards]]): survivor DOC
          // rows (id + text, not just signatures) accumulate here; a
          // replayed batch double-appends identical rows, which the
          // compactor's dropDuplicates(doc_id) erases — same
          // idempotence contract as the signature store.
          stagingDir.foreach(d => surv
            .select(col("doc_id"), col("text"))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(d))
          each(surv)
        } finally graft.ops.Checkpoints.release(ck)
      }
      .start()

  /** D27's streaming form — ExactSubstr ingest: each arriving
    * micro-batch is REWRITTEN ([[graft.queries.SpanIncremental
    * .exciseSpansIncremental]]) against the accumulated gram-key lake
    * at `storeDir`, then the batch's OWN raw gram keys are appended
    * ([[graft.sources.Sinks.appendGramKeys]] — the lake remembers what
    * it has SEEN, not what survived, so a span deleted tonight stays
    * deleted when its third copy arrives next week), and the cleaned
    * frame (doc_id, n_tokens, n_excised, text_clean) reaches `each`.
    * foreachBatch micro-batches run sequentially, so each batch equals
    * a sequential [[graft.queries.SpanIncremental]] replay — which by
    * its oracle equals full D14/D16 over everything ingested so far,
    * restricted to the batch (StreamingSpec pins the chain).
    *
    * Exactly-once: a replayed batch re-appends its (h, keeper) rows
    * with IDENTICAL keepers (the keeper is a pure function of the
    * batch), readers min-merge the store, and a batch seeing its own
    * earlier append computes the same rewrite (its own keepers tie and
    * min-merge away) — the store is idempotent end to end. Compact it
    * periodically ([[graft.sources.Sinks.compactParquet]]). */
  def spanIngestStream(
      docs: DataFrame,
      storeDir: String,
      n: Int = graft.queries.Dedup.DupSpanN)(
      each: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col("doc_id"), col("text"))
        val store = graft.sources.Sinks.readGramKeys(spark, storeDir)
        val cleaned = graft.queries.SpanIncremental
          .exciseSpansIncremental(b, store, n)
          .persist()
        try {
          cleaned.count() // materialize BEFORE the append (determinism;
          // the append-visible race would be idempotent anyway — above)
          graft.sources.Sinks.appendGramKeys(b, storeDir, n)
          each(cleaned)
        } finally { cleaned.unpersist(); () }
      }
      .start()

  /** One micro-batch of [[ingestStream]] as a batch plan — shared by
    * the stream wrapper and the spec differential. */
  private[graft] def ingestBatch(
      batch: DataFrame,
      known: DataFrame,
      evalDocs: DataFrame,
      minWords: Long,
      stops: Seq[String]): DataFrame = {
    import graft.queries.{Contamination, Dedup}
    val gated = gopherGates(batch, minWords, stops)
    val keep = Dedup.dedupIncrementalMinhash(gated, known)
      .filter(col("keep") === 1L)
      .select("doc_id")
    Contamination.decontamGate(
      gated.join(keep, Seq("doc_id"), "left_semi"), evalDocs)
  }

  /** The C16 ∧ C17 ingest gates as ONE map stage: the retain forms
    * filtered in place, keeping `docs`' own columns — shared by
    * [[ingestBatch]] and [[ingestStreamKeyed]] so the two cannot
    * drift. Equal to semi-joining `docs` against both flag frames
    * whenever `doc_id` is unique within `docs` (the ingest identity
    * contract), without the three exchanges those joins cost. */
  private def gopherGates(
      docs: DataFrame, minWords: Long, stops: Seq[String]): DataFrame = {
    import graft.queries.TextAnalysis
    val own = docs.columns.toSeq.map(col)
    TextAnalysis.gopherRepFlagsRetain(
        TextAnalysis.gopherFlagsRetain(docs, minWords, 100000L, stops)
          .filter(col("kept") === 1L)
          .select(own: _*))
      .filter(col("kept") === 1L)
      .select(own: _*)
  }

  /** G11's KEYED-STATE form — the whole ingest decision as ONE
    * Structured Streaming plan, no foreachBatch: gates (stateless
    * maps, the retain forms of C16/C17 so the doc row flows through) →
    * G5's per-bucket near-dup REGISTRY (cross-batch keyed state: every
    * gated doc joins its band buckets; an arrival matching an earlier
    * — by batch or by doc_id within the batch — registered doc at
    * est-Jaccard >= `minEstJaccard` flags `is_near_seen`) → a per-doc
    * conjunction stage → decontamination as a stateless membership
    * probe against the benchmark-sized eval shingle set (a plan
    * literal — the D9 broadcast probe without the join, which a plan
    * already carrying two stateful stages cannot host; for reference
    * sets past literal scale, prefilter with the D9d Bloom literal and
    * rescore this way). `keep` = gated ∧ ¬near-seen ∧ ¬contaminated.
    *
    * vs [[ingestStreamAppend]]: the lake-append form externalizes
    * cross-batch state to a parquet store (restart-durable, lake-sized,
    * batch-granular); this form keeps it in the state store —
    * lower-latency, checkpoint-durable, and the right shape when the
    * dedup horizon is the STREAM itself rather than a pre-existing
    * lake. Two chained flatMapGroupsWithState stages, both Append mode
    * (the supported chaining).
    *
    * State bounds: the registry stage holds <= `maxPerBucket` entries
    * of (doc_id, 16-long signature) per ACTIVE (band, band_hash)
    * bucket — G5's FIFO cap, ~140 B/entry; buckets shard across
    * executors. The per-doc conjunction stage retains NOTHING across
    * batches: a doc's band rows all arrive in its own micro-batch, so
    * the state is removed within the batch that created it. */
  def ingestStreamKeyed(
      docs: DataFrame,
      evalDocs: DataFrame,
      minWords: Long = 50L,
      stops: Seq[String] = graft.queries.TextAnalysis.GopherStops,
      minEstJaccard: Double = 0.5,
      maxPerBucket: Int = 1024): Dataset[IngestDecision] = {
    import docs.sparkSession.implicits._
    import graft.queries.{Contamination, Dedup}
    import graft.functions.TextFunctions.{shingles, words}
    val gated =
      gopherGates(docs.select(col("doc_id"), col("text")), minWords, stops)
    // eval side is benchmark-sized by definition — its distinct shingle
    // set ships as a typed literal, making the contamination flag a
    // pure map stage (exact string membership, no hash FPs)
    val evalShingles: Array[String] = evalDocs
      .select(explode(array_distinct(
        shingles(words(col("text")), Contamination.NgramK))).as("s"))
      .distinct().as[String].collect()
    val contaminatedCol =
      if (evalShingles.isEmpty) lit(false)
      else coalesce(arrays_overlap(
        array_distinct(shingles(words(col("text")), Contamination.NgramK)),
        lit(evalShingles)), lit(false))
    val flagged = gated
      .withColumn("contaminated", contaminatedCol)
      .withColumn("hs", Dedup.shingleHashCol(col("text")))
    val banded = flagged.filter(size(col("hs")) > 0)
      .withColumn("sig", Dedup.minhashSigCol(col("hs")))
      .select(col("doc_id"),
        posexplode(Dedup.bandHashCol(col("sig"))).as(Seq("band", "band_hash")),
        col("sig"), col("contaminated"))
      .as[IngestBandRow]
    def registry(
        key: (Int, Long),
        rows: Iterator[IngestBandRow],
        state: GroupState[Seq[BucketEntry]]): Iterator[IngestBandHit] = {
      var seen = state.getOption.getOrElse(Seq.empty)
      val inBatch = scala.collection.mutable.Set.empty[Long]
      val out = Seq.newBuilder[IngestBandHit]
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        if (inBatch.contains(r.doc_id)) {
          // the same id twice WITHIN one micro-batch's delivery to this
          // bucket: the first copy already emitted this bucket's hit —
          // suppress the repeat so the doc still gets ONE decision
        } else if (seen.exists(_.doc_id == r.doc_id)) {
          // a CROSS-batch re-delivery (at-least-once source replay):
          // with the SAME signature it matches its own registered
          // entry, so emit the duplicate verdict — the doc must get an
          // explicit keep=false decision, not vanish from the output
          // stream (ingestStreamAppend handles the same case with an
          // anti-join). A re-delivery whose signature DIFFERS is an id
          // REUSED for new content — the batch analog
          // (dedupIncrementalMinhash) fails loudly on exactly this,
          // and silently swallowing the new content as "a duplicate of
          // itself" would lose a real document, so fail loudly here
          // too. Caveat: an id evicted by the maxPerBucket bound is
          // indistinguishable from a new doc.
          val stored = seen.find(_.doc_id == r.doc_id).get
          if (stored.sig != r.sig)
            throw new IllegalStateException(
              s"ingestStreamKeyed: doc_id ${r.doc_id} re-delivered with a " +
                "DIFFERENT signature — ids must not be reused for new " +
                "content (re-crawls must re-key)")
          out += IngestBandHit(r.doc_id, matched = true, r.contaminated)
          inBatch += r.doc_id
        } else {
          val matched = seen.exists { s =>
            val agree = r.sig.iterator.zip(s.sig.iterator)
              .count { case (a, b) => a == b }
            agree.toDouble / Dedup.MinhashK >= minEstJaccard
          }
          out += IngestBandHit(r.doc_id, matched, r.contaminated)
          seen = seen :+ BucketEntry(r.doc_id, r.sig)
          if (seen.size > maxPerBucket) seen = seen.takeRight(maxPerBucket)
          inBatch += r.doc_id
        }
      }
      state.update(seen)
      out.result().iterator
    }
    def decide(
        docId: Long,
        rows: Iterator[IngestBandHit],
        state: GroupState[Boolean]): Iterator[IngestDecision] = {
      // a doc's band rows all arrive in one micro-batch: decide now,
      // retain nothing (the state slot exists only within this call)
      val rs = rows.toSeq
      state.remove()
      val near = rs.exists(_.matched)
      val contam = rs.exists(_.contaminated)
      Iterator.single(IngestDecision(docId, near, contam, !near && !contam))
    }
    val decisions = banded
      .groupByKey(r => (r.band, r.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(registry)
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(decide)
    // docs too short to shingle never band: no near-dup surface, keep
    // unless contaminated (a pure stateless branch, unioned in)
    val bare = flagged
      .filter(coalesce(size(col("hs")), lit(-1)) <= 0)
      .select(col("doc_id"), col("contaminated"))
      .as[(Long, Boolean)]
      .map { case (id, c) => IngestDecision(id, false, c, !c) }
    decisions.union(bare)
  }

  /** G7: streaming decontamination at ingest — the gate form of the
    * batch [[graft.queries.Contamination.decontamGate]]: every arriving
    * doc whose distinct word-n-gram hashes overlap the held-out eval
    * set is dropped before it lands in the corpus.
    *
    * Shape: per-doc contamination is INTRA-batch (explode → probe the
    * static eval frame → per-doc hit count) and the eval set is fixed,
    * so there is no cross-batch state to keep — the right Structured
    * Streaming form is the batch operator applied per micro-batch via
    * `foreachBatch`, not a stateful re-derivation. Each micro-batch
    * gets the full batch plan (broadcast eval probe included), and
    * stream output == batch output on the same rows by construction.
    *
    * Returns the started query; `each` receives every micro-batch's
    * surviving docs (wire it to the corpus sink). */
  def decontamStream(
      docs: DataFrame,
      evalDocs: DataFrame)(each: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        each(graft.queries.Contamination.decontamGate(batch, evalDocs))
      }
      .start()

  /** kvraft's data surface as a stream (/root/reference/src/kvraft):
    * Put replaces, Append concatenates; state per key is emitted after
    * every batch (Get == read the sink). Ops within a batch apply in
    * (ts, then arrival) order — the linearization the reference's Raft
    * log provided, here per-key via the state store. */
  def kvStore(ops: Dataset[KvOp]): Dataset[KvState] = {
    import ops.sparkSession.implicits._
    def update(
        key: String,
        rows: Iterator[KvOp],
        state: GroupState[KvState]): Iterator[KvState] = {
      var st = state.getOption.getOrElse(KvState(key, "", 0L))
      rows.toSeq.sortBy(_.ts.getTime).foreach { o =>
        st = o.op match {
          case "put"    => KvState(key, o.value, st.n_ops + 1)
          case "append" => KvState(key, st.value + o.value, st.n_ops + 1)
          case _        => st // unknown ops are ignored, like a no-op Get
        }
      }
      state.update(st)
      Iterator.single(st)
    }
    ops
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
  }
}
