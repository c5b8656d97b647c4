package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md — the explain-audit artifact: formatted physical
  * plans for the flagship queries, so plan regressions (lost pushdown,
  * lost broadcast, surprise shuffle) show up in review diffs.
  * Run: `sbt "runMain graft.Plans"`.
  */
object Plans {

  private val flagships = Seq(
    "q1_agg" -> "single-scan grouped aggregation: filter pushed to scan, partial agg map-side",
    "q5_region_revenue" -> "6-way star join: every dimension broadcast, one fact-side shuffle",
    "q_dedup_minhash" -> "signature pipeline -> LSH band self-join (persisted signature frame)",
    "q_topk_per_key" -> "custom operator: partial heaps below the exchange, ranking final above",
    "q_skew_join" -> "salted fact-dim join: __salt refines partitioning, result equals plain join",
    "q_ann_lsh" -> "multi-table hyperplane LSH: bucket equi-join, native dot products",
    "q_dedup_simhash" -> "64-bit simhash, 3-of-8 block-combination band self-join (no all-pairs)",
    "q_media_neardup" -> "blockhash perceptual fingerprint in ONE codegen'd O(L) kernel pass (graft_block_hash64 — the 64×substr form disabled whole-stage codegen), then D3's banded Hamming join verbatim: posexplode to 56 combo keys, (combo, ckey) self-join, no all-pairs",
    "q_dedup_embedding_lsh" -> "narrow (id, table, bucket) candidate join + exact rescore via pair->vector joins",
    "q_ngram_jaccard_prefix" -> "PPJoin prefix filter: df-ordered prefixes joined, full-set exact rescore",
    "q_inverted_index" -> "two-phase posting list: spillable rank + capped collect, exact n_docs",
    "q_shard_replay" -> "metadata-scale config replay, as-of routing via broadcast sorted histories + binary-search kernel",
    "q_asof_prev_order" -> "big-states as-of join: union both sides, one key shuffle, sorted carry-forward window",
    "q_curate" -> "composed curation: quality gate + exact-dup window fused in one chain, near-dup anti-join",
    "q_tfidf" -> "tf one hash agg, df over tf result, top-k window rewritten to TopKPerKeyPartial/Final",
    "q_bm25" -> "per-doc tf/dl in one agg, corpus stats broadcast cross-joined, fixed-order float score",
    "q_pii_scrub" -> "pure map stage: regexp count + chained redaction inside one WholeStageCodegen span",
    "q_pack_shards" -> "distributed prefix sum: checkpointed per-partition accumulation + broadcast offsets, no global window",
    "q_decontaminate" -> "distinct shingle hashes both sides, eval set broadcast into the hit join, map-side-combinable hit counts",
    "q_domain_mix" -> "group token stats broadcast back onto a pure map-filter; no corpus-wide shuffle",
    "q_unigram_xent" -> "tf hash agg -> vocab model join -> per-doc ordered fold; no window, no float sum aggregate",
    "q_embed_centroids" -> "posexplode -> quantize -> one map-side-combinable integer agg on label x dim keys",
    "q_dedup_blocks" -> "block rewrite: unordered window min on md5(block) decides keeps, one groupBy reassembles docs",
    "q_pagerank" -> "per-iteration: broadcast edge join + one union/groupBy shuffle, stats ride the checkpoint job as literals",
    "q_profile" -> "every column metric in ONE map-side-combinable aggregation over a single scan, exploded to long form",
    "q_attribution" -> "user-keyed equi-join with the time window as residual predicate, map-side-combinable per-purchase agg",
    "q_collocations" -> "memo-persisted vocab-sized count aggs, 1-row broadcast totals, TakeOrderedAndProject top-N",
    "q_ann_ivfpq" -> "PQ index: narrow (vec_id, cell, codes) candidate join, ADC lookups, shortlist-sized exact rescore",
    "q_ngram_containment" -> "posting-list self-join on 8-byte shingle hashes, one count agg per surviving pair",
    "q_ngram_containment_prefix" -> "asymmetric prefix filter: smaller-side prefixes join the full ranked lists, shortlist-sized exact rescore",
    "q_ann_ivfpq_search" -> "search-only against the disk index: parquet (vec_id, cell, codes) scan + broadcast centroids + ADC lookups — NO KMeans fit or corpus encode in the plan",
    "q_stream_neardup_batch" -> "D2 candidate pairs -> per-doc min-flagger agg; the streaming twin's state transition as one batch plan",
    "q_histogram" -> "2-row extrema agg broadcast onto a map stage, map-side-combinable count on <= buckets keys",
    "q_dsir_weights" -> "feature explode -> two hash aggs, 4096-row ln-ratio model broadcast back, integer-sum weights, top-k via limits + broadcast semi-join (no global window)",
    "q_dedup_incremental" -> "known side collapses to distinct 24-byte key pairs; incoming pays one narrow window + one key join — text never shuffles",
    "q_quality_deciles" -> "bounded fixed-point histogram agg -> cumulative window over histogram ROWS only -> 1-row threshold broadcast -> shuffle-free comparison map over the memoized scored frame; no percentile_disc state, no corpus-sized single partition anywhere",
    "q_dup_spans" -> "memoized (doc, pos, md5) frame read by both branches; duplicated-key count agg + key-equi paint join (no text), per-doc window merges by interval-overlap gap rule — 128-bit keys because a narrow candidate hash birthday-manufactures phantom spans (ExciseSpansSpec plants such a collision)",
    "q_weighted_sample" -> "pure map stage (scramble, quantized ln, one divide) + TakeOrderedAndProject; no shuffle at all",
    "q_dedup_semantic" -> "SemDeDup: cell-keyed within-cluster candidate join (never all-pairs), centroid distances as a narrow broadcast, keep-rule window on fixed-width keys",
    "q_pack_sequences_bpe" -> "BPE-weighted packing: distinct-word encoder map (rank table broadcast) -> word-keyed fertility join + per-doc agg -> left join restores wordless docs -> H8 distributed prefix sum; corpus text never shuffles",
    "q_excise_spans" -> "ExactSubstr rewriting: shared memoized gram frame, packed-integer keeper min, span-sized excised-position explode, (doc_id, pos) integer anti-join; text shuffles ONLY in the per-doc reassembly groupBy",
    "q_decontam_spans" -> "contamination spans: distinct eval shingles broadcast into a positional probe, per-doc interval-union window over hit-sized (doc_id, int) rows only",
    "q_decontaminate_bloom" -> "Bloom-prefiltered decontamination: ONE corpus scan into a map-side-combinable (count, survivors) agg, survivors alone reach the exact rescore join; probe = codegen bit tests on a literal array",
    "q_dedup_incremental_minhash" -> "incremental near-dup ingest: incoming band keys probe the union frame restricted to known-or-earlier partners; lake never self-pairs, shortlist-sized signature rescore",
    "q_gopher_rep" -> "repetition gate: line/paragraph dup fractions + native TopGramCover kernels, one codegen map stage; presentation sort is the only exchange",
    "q_pipeline_audit" -> "composed MassiveWeb staging: two shuffle-free gate maps, dedup window on 24-byte keys of the gated subset, broadcast-eval contamination probe, doc_id-keyed flag joins",
    "q_c4_filters" -> "C4 line screen: split/filter/rejoin per row in ONE codegen map stage; presentation sort is the only exchange",
    "q_dup_census" -> "duplication census: grams leave the scan as md5 keys, (gram, doc) then (gram) map-side-combinable aggs, final agg on the tiny df domain — text never shuffles",
    "q_bpe_fertility" -> "fertility census: distinct-word encoder map (rank table broadcast), corpus explode + broadcast word join, agg on the source domain; one text scan",
    "q_embed_drift" -> "snapshot drift: two posexplode + integer hash aggs on label x dim keys, full outer join on that key space, label-domain final agg — vectors never shuffle",
    "q_ann_pq_append" -> "incremental PQ append: batch-sized encode, broadcast-centroid candidates collapsed by a packed-long min HashAggregate BEFORE any exchange, ids-only disjointness probe, union with the built index",
    "q_dedup_lines" -> "intra-doc line dedup: per-row HOF first-occurrence filter + rejoin in ONE codegen map stage; presentation sort is the only exchange",
    "q_doc_embed" -> "hashing-trick embedding: one tokenize+explode pass into a map-side-combinable (doc_id, dim) integer agg; text never shuffles",
    "q_pipeline_produce" -> "capstone, ONE plan: gates+exact-dedup+decontam+D16 excision feed ONE memo-persisted cleaned-text frame; downstream of it, exactly two distributed prefix sums (H10 epoch shuffle, H8b token packing) and the broadcast rank/fertility joins — no exchange beyond those documented",
    "q_dup_spans_char" -> "char-granularity ExactSubstr audit, SINGLE-pass: one explode+md5 map stage, one shuffle on the 128-bit key, count() OVER (PARTITION BY h) paints corpus counts in that same pass (sort-within-partition, spill-backed), dup positions flow to the per-doc interval-merge window — NOTHING persisted (the all-chars memo held ~30 B x corpus chars; word-level q_dup_spans is the production path)",
    "q_dup_spans_sa" -> "ExactSubstr by suffix-array rank doubling — NO hash in the plan: a TWO-WORD base-128 pack seeds rank_14 in the (widenScan-parallelized) base map, then the doubling rounds of (lead over doc window -> group-partition window) — k=20 is ONE round (14 -> 20), its count() riding the pair window; expect NO md5/xxhash expression anywhere and exactly one lead per round",
    "q_dup_spans_max" -> "prune-then-exact maximal lengths: ONE corpus md5 pass + h-window (D14b's cost) finds survivors; only they pay the text join-back, the gram-group-local capped-suffix sort, and the adjacent commonPrefixLen codegen kernel; the memoized positions frame feeds all five ladder rungs — expect ONE md5 map stage, not five",
    "q_dedup_semantic_text" -> "text-native SemDeDup: E9's one-scan hashed-embedding agg feeds D15's cell-keyed candidate join unchanged — text never shuffles, vectors exist only as the narrow (doc, dim, sum) frame until the within-cell pairing",
    "q_dedup_semantic_trained" -> "trained SemDeDup: Lloyd-fitted centers enter as a broadcast metadata frame, then the D15 core unchanged — packed-long HashAggregate argmax assignment (no exchange before the partial agg), cell-keyed pairing, keep-rule paint join; the fit is driver-side model state, never in the distributed plan",
    "q_tokenize_ids" -> "id-level tokenization: DISTINCT-word encoder map with the merge-rank table broadcast, word-keyed id join back onto the positional explode, per-doc sort-collect reassembly — the corpus pays one text scan and shuffles only (doc_id, pos, id) integers",
    "q_hybrid_search" -> "hybrid retrieval: memoized tf + sparse-embedding frames, posting-list and dim-keyed candidate joins (stats broadcast), every per-query ranking window rewritten to TopKPerKeyPartial/Final, one poolK-bounded full-outer fuse join",
    "q_hybrid_search_lsh" -> "bucketed hybrid retrieval: sign-projection bit sums aggregated in the sparse format (tables-x inflation, never dims-x), the (t, bucket) candidate equi-join, candidate-restricted integer-dot rescore, same shared BM25/fusion stages as the dense row",
    "q_kmeans" -> "per Lloyd iteration: for small models the assignment is a pure per-row least() over k literal packed-distance keys — NO join and NO corpus exchange at all — feeding posexplode + integer agg on the k x dims key space; centroids ride ONE k x dims collect per round (the broadcast nested-loop argmin remains past the k x dims literal bound) — vector data never reaches the driver",
    "q_excise_sentences" -> "sentence-granularity ExactSubstr, SINGLE pass: one split+shingle+md5 explode, keeper rule as a (count, min) window on the 128-bit key partition (no memo, no paint join — the D14b lesson applied to the D16 keeper form), shared interval merge, sentence-keyed anti-join rebuild",
    "q_lang_paras" -> "per-paragraph language split: pages group-concat, then ONE shuffle-free codegen map stage (paragraph votes, majority election, rewrite all as integer HOFs in place); presentation sort is the only exchange after the pages agg",
    "q_fuzzy_join" -> "FastSS fuzzy join: deletion-neighborhood keys generated inline by codegen'd array lambdas, explode + variant-key equi-join (never the cross product), distinct pair shuffle, Levenshtein verify on the shortlist only",
    "q_bigram_lm" -> "bigram LM: memoized (doc, bigram) hash agg read by model and scoring branches, model join on the bigram key (both sides pre-partitioned by their aggs), 1-row vocab broadcast, quantized-integer score sum, C15 bounded-histogram tercile pass — no corpus window, no float sum aggregate",
    "q_funnel" -> "strict-order funnel: per-step event_type filters PUSHED to the scan, per-user min aggs joined on user_id with AQE broadcasting the shrinking survivor side, 1-row entry-count broadcast for rates",
    "q_ref_integrity" -> "FK audit: per constraint ONE child-key hash agg (the production join's partitioning), ONE full-outer join with the distinct parent keys, ONE conditional-count aggregation — each side scanned once; output is 4 rows",
    "q_gram_matrix" -> "exact Gram: quantize once per row, two chained codegen posexplodes (N·d then N·d² FLAT rows — no per-row struct-array construction; the nested-lambda form cost 12.9 s at sf0.1, this is ~12×), map-side-combinable integer agg on the dims² key space, abs-split exact BIGINT->DOUBLE at output",
    "q_pca_project" -> "PCA projection: ONE shuffle-free map stage — the fitted PC1 enters as literal coefficients (driver model state), pc1 = fixed-order unrolled dot chain; presentation sort is the only exchange",
    "q_series_pairs" -> "time-series pairs, payload-free candidates: memoized per-user frame, SLIM (user, cell, 5 PAA segment sums) 3-cell equi-join + segment-sum lower-bound prune (arrays never shuffle through candidate generation), survivors alone join the arrays back for the exact integer zip_with rescore",
    "q_triangles" -> "degree-oriented triangles, wedge-free: edges orient low->high (degree, id), per-node oriented adjacency arrays (bounded by sqrt(2|E|)) BROADCAST below a 64MB input-size gate (shuffled, the second adjacency join re-ships every edge's neighbor array — 354MB at sf0.1), triangles = graft_sorted_intersect(adj+(a), adj+(b)) per edge — a primitive sort-merge kernel (array_intersect built a boxed hash set per edge); the wedge set is never materialized",
    "q_communities" -> "fixed-iteration synchronous LPA: per round one narrow label-edge join (labels broadcast below 1M nodes — the pinned edge blocks never move), a map-side-combinable (node, label) count, then ONE combinable packed-long max HashAggregate electing (max count, min label) when node ids fit 2^40 (exact modular unpack; in-plan count guard; the two-phase agg+join plan remains for wider id spaces), and a tracked localCheckpoint keeping lineage O(1)",
    "q_curriculum" -> "curriculum order: C15's memoized decile paint + scramble map into ONE packed DECIMAL order key, then the H10 distributed prefix sum (range partition + broadcast offsets) — decile-major positions with no corpus-wide window",
    "q_extract_text" -> "markup extraction: the whole regexp/replace chain (script/style/comment removal, block->break mapping, tag strip, entity decode, whitespace collapse) is ONE codegen map stage over the pages agg; presentation sort is the only exchange after it",
    "q_extract_clean" -> "composed crawl ingest: extraction + C21 language split + C20 line dedup + C18 line screen chained as FOUR stacked map stages in ONE pass (sort-free cores — no mid-pipeline exchange); presentation sort is the only exchange after the pages agg",
    "q_ann_opq" -> "OPQ search: the learned rotation enters as literal coefficients (driver model state) rotating queries in a map stage, then E7's plan unchanged — narrow code candidate join, ADC lookups, shortlist-sized exact rescore on ORIGINAL embeddings",
    "q_url_filter" -> "URL gate: the derived-URL build + parse + every flag is ONE shuffle-free codegen map stage (anchored regexp extraction, list membership as literal IN/contains); presentation sort is the only exchange",
    "q_heavy_hitters" -> "CMS-prefiltered heavy hitters: pass 1 aggregates onto the depth x width counter key space (map-side combinable, driver gets only the finished counters), pass 2 filters occurrences map-side against the literal counter array BEFORE the gram shuffle — expect the exchange fed by a Filter over the explode, and a tail-vocabulary-free partial agg above it",
    "q_corpus_overlap" -> "KMV overlap: each snapshot's fingerprint set memo-persisted and read by three branches (TakeOrderedAndProject bottom-k, count, intersection join); the union sketch is k-row arithmetic — nothing corpus-sized past the distincts",
    "q_soft_dedup" -> "soft dedup: D1's narrow (doc_id, md5, poly) window — ~40-byte keys through the one exchange, text never shuffles; the weight is one projection-stage division over group_size",
    "q_ann_sq8" -> "SQ8 search: lo/hi extrema enter as literal arrays (driver model state), codes + midpoint dequantization computed inside the scan projection, ADC via the native dot kernel, per-query shortlist window, exact rescore joins ORIGINAL embeddings on the shortlist only",
    "q_pack_bestfit" -> "harmonic-shelf packing: rank-in-class via the distributed prefix sum over a packed (size_class, doc_id) key — NO Window.partitionBy(size_class) anywhere (per-class windows inherit the corpus' size skew); class geometry is a parameter-bounded agg cumulated in a domain-sized window and BROADCAST back onto a pure map stage",
    "q_ann_ivf_sq8" -> "IVF-SQ8 search: broadcast first-k centroids probe, residual codes + reconstruction (+ its norm) computed inside the index-scan projection, cell equi-join bounds candidates to probed cells, norm-invariant ADC shortlist window, exact rescore joins ORIGINAL embeddings on the shortlist only",
    "q_tokenize_ids_uni" -> "unigram tokenize: Viterbi automaton once per DISTINCT word (typed map, piece table broadcast — vocabulary-sized), corpus side one posexplode + word-key join + per-doc reassembly agg; the one corpus-sized exchange is the reassembly groupBy (output width = text width, unavoidable)",
    "q_textrank" -> "TextRank keywords: doc-keyed co-partitioned positional self-join, word ids via the H10 distributed prefix sum over the distinct vocabulary (r13 fix — NO single-partition row_number window; the vocabulary grows with the corpus), then the integer PageRank rounds",
    "q_corpus_map" -> "corpus map census: the Lloyd fit + decile cuts freeze as literals (fit jobs: literal-argmin map + k x dims integer agg per iteration), then the WHOLE per-doc placement is the frozen pure per-row map (E9 fold, packedMin cell, cut-compare decile) -> <= k x 10-key cross-tab; no decile/token joins, text never shuffles",
    "q_cell_mix" -> "per-cell mixing: the census's own (frozen-map) docCells frame + a <= cells x 10-key stats agg, rate frame BROADCAST back onto a pure map-filter keep draw — the mixer adds NO corpus-wide shuffle beyond the census itself",
    "q_dup_spans_incremental" -> "incremental ExactSubstr audit: batch grams memo-persisted once, batch-side distinct keys semi-probe the lake key store (narrow 16-byte keys — lake text never scanned, lake never self-pairs), in-batch dup count map-side, per-doc span-merge window",
    "q_excise_spans_incremental" -> "incremental ExactSubstr rewrite: same memoized batch gram pass, batch-local (count, keeper) agg LEFT-joined with the stored lake keepers (gkeeper = least of the two), shared D16 rebuild tail over batch docs only — per-night cost scales with the batch",
    "q_tokenize_ids_bytes" -> "byte-fallback tokenize: merge automaton once per DISTINCT \\\\S+|\\\\s+ run (typed map, rank + 321-id tables broadcast; whitespace runs collapse to a handful of keys), corpus side one posexplode + run-key join + per-doc reassembly agg — the C13b encoder split, unchanged",
    "q_pack_sequences_bytes" -> "byte-token packing: the C28 distinct-run encoder feeds per-doc counts via one explode + run-key join + count agg, then the H8 distributed prefix sum — no corpus-wide window",
    "q_crawl_records" -> "crawl-record framing: synthesis is one per-file binary-concat agg (test corpus only); the PARSE is a pure typed flatMap over (file_id, payload) rows — per-file independent, zero shuffles before the presentation sort")

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by `graft.Plans`)\n\n")
    sb.append(s"Source: `$d`. What to look for: `PushedFilters`/`ReadSchema` on scans\n")
    sb.append("(pushdown + pruning), `BroadcastHashJoin` on dimension joins, exchanges\n")
    sb.append("only where the algorithm needs them, `TopKPerKeyPartial` below its\n")
    sb.append("exchange.\n")
    flagships.foreach { case (name, note) =>
      val plan = SparkEntry.queries(name)(spark, d)
        .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      // InMemoryRelation nodes re-print their whole cached subtree;
      // cap the artifact at the interesting prefix per plan
      val lines = plan.split("\n")
        .map(l => if (l.length > 300) l.take(300) + " …" else l)
      val capped = if (lines.length > 80)
        lines.take(80).mkString("\n") + s"\n… (${lines.length - 80} more lines elided)\n"
      else lines.mkString("\n") + "\n"
      sb.append(s"\n## $name\n\n$note\n\n```\n$capped```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${flagships.size} plans)")
    spark.stop()
  }
}
