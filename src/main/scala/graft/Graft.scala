package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}

/** The library facade — every graft operator family as DataFrame-level
  * functions, for users who bring their own frames instead of the test
  * tables. Column contracts (rename with `select(...as...)` to adapt):
  *
  *  - documents: `doc_id: long, text: string` (+ `lang`, `source`,
  *    `n_chars` where an operator reports on them)
  *  - embeddings: `vec_id: long, embedding: array<float>`
  *  - events: `event_id: long, ts: timestamp, user_id: long,
  *    event_type: string, value: double, props: string`
  *  - media: `doc_id: long, content: binary`
  *
  * Each function is a lazy plan; nothing executes until an action. All
  * are DuckDB-oracle-checked or spec-covered through the identically
  * named `q_*` entries in [[SparkEntry]].
  */
object Graft {

  /** Release ALL persisted/checkpointed blocks in the session — the
    * library's pins (iterative operators' result-backing checkpoints,
    * [[ops.PlanCache]] memos) AND any caller-owned `.persist()`
    * (Spark's block registry doesn't distinguish owners; caller
    * persists are recompute-safe but will silently re-scan their
    * source afterwards). Call between independent queries in a
    * long-lived session, AFTER fully consuming prior results
    * (checkpoint-backed frames are not re-usable past the sweep —
    * their lineage was truncated) and not while another thread's
    * query is mid-action.
    *
    * Input-mutation contract: [[ops.PlanCache]] memos key on the
    * analyzed plan, so rewriting the files BEHIND an already-queried
    * path in-session would keep serving the pre-rewrite corpus.
    * Inputs are assumed immutable for a session (the append-only /
    * immutable-lake norm); after an in-place rewrite, call THIS to
    * invalidate every memo before querying the path again. */
  def releaseCaches(spark: SparkSession): Unit = ops.Release.sweep(spark)

  // ---- MapReduce surface (reference parity) ----
  val mapReduce: graft.mr.MapReduce.type = graft.mr.MapReduce
  def wordCount(docs: DataFrame): DataFrame = queries.TextQueries.wordCount(docs)
  def invertedIndex(docs: DataFrame): DataFrame = queries.TextQueries.invertedIndex(docs)
  def grep(docs: DataFrame, pattern: String): DataFrame = queries.TextQueries.grep(docs, pattern)
  def docStatsPerSource(docs: DataFrame): DataFrame = queries.TextQueries.docStatsPerSource(docs)
  def kvReplay(opLog: DataFrame): DataFrame = queries.MrQueries.kvReplay(opLog)

  // ---- Text analysis ----
  def tokenStats(docs: DataFrame): DataFrame = queries.TextAnalysis.tokenStats(docs)
  def languageId(docs: DataFrame): DataFrame = queries.TextAnalysis.languageId(docs)
  def qualityScores(docs: DataFrame): DataFrame = queries.TextAnalysis.qualityScores(docs)
  def fingerprints(docs: DataFrame): DataFrame = queries.TextAnalysis.fingerprints(docs)
  def shingleStats(docs: DataFrame): DataFrame = queries.TextAnalysis.shingleStats(docs)
  def repetitionStats(docs: DataFrame): DataFrame = queries.TextAnalysis.repetitionStats(docs)
  /** Gopher/MassiveWeb rule-based quality gate with per-rule flags
    * ([[graft.queries.TextAnalysis.gopherRules]]). */
  def gopherRules(docs: DataFrame, minWords: Long = 50L,
      maxWords: Long = 100000L): DataFrame =
    queries.TextAnalysis.gopherRules(docs, minWords, maxWords)
  /** Gopher repetition-filter gate: duplicate line/paragraph fractions
    * and dominant 2–4-gram char coverage, with per-rule flags
    * ([[graft.queries.TextAnalysis.gopherRepetition]]). */
  def gopherRepetition(docs: DataFrame): DataFrame =
    queries.TextAnalysis.gopherRepetition(docs)
  /** Redact emails / IPv4s / phone numbers in `textCol`, appending
    * detection counts ([[graft.queries.Scrub.scrubPii]]). */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    queries.Scrub.scrubPii(docs, textCol)
  /** Per-doc top-k characteristic terms (tf DESC, df ASC — the integer
    * tf·idf order) ([[graft.queries.Ranking.topTerms]]). */
  def topTerms(docs: DataFrame, k: Int = 5): DataFrame = queries.Ranking.topTerms(docs, k)
  /** Real-valued tf·idf scores per (doc, term). */
  def tfidf(docs: DataFrame): DataFrame = queries.Ranking.tfidf(docs)
  /** Top bigram collocations by PMI — `lift` is the cross-engine-exact
    * ratio, `pmi = ln(lift)`
    * ([[graft.queries.TextAnalysis.collocations]]). */
  def collocations(docs: DataFrame, minCount: Long = 5L, topN: Int = 25): DataFrame =
    queries.TextAnalysis.collocations(docs, minCount, topN)
  /** Learn a BPE merge table from the corpus (Sennrich '16; bounded
    * top-`maxDictWords` dict — [[graft.queries.Tokenizer.bpeLearn]]). */
  def bpeLearn(docs: DataFrame, merges: Int, maxDictWords: Int = 50000): DataFrame =
    queries.Tokenizer.bpeLearn(docs, merges, maxDictWords)
  /** Learned merges as the driver-side table [[bpeStats]] consumes. */
  def bpeLearnMerges(docs: DataFrame, merges: Int,
      maxDictWords: Int = 50000): Seq[((String, String), String)] =
    queries.Tokenizer.bpeLearnMerges(docs, merges, maxDictWords)
  /** Per-doc tokenizer-fertility stats under a learned merge table
    * ([[graft.queries.Tokenizer.bpeStats]]). */
  def bpeStats(docs: DataFrame, merges: Seq[((String, String), String)]): DataFrame =
    queries.Tokenizer.bpeStats(docs, merges)
  /** Train a unigram-LM (sentencepiece-family) piece table by
    * deterministic hard-EM over the bounded dict; returns (piece,
    * quantized log-prob) in id order
    * ([[graft.queries.Unigram.learnPieces]]).
    * Eager: the dict aggregation runs before this call returns. */
  def unigramLearnPieces(docs: DataFrame, vocabSize: Int = 160,
      maxPieceLen: Int = queries.Unigram.DefaultMaxPieceLen,
      emIters: Int = 4, maxDictWords: Int = 50000): Seq[(String, Long)] =
    queries.Unigram.learnPieces(docs, vocabSize, maxPieceLen, emIters,
      maxDictWords)
  /** Tokenize to ids under a FROZEN unigram piece table — Viterbi per
    * distinct word, word-order reassembly
    * ([[graft.queries.Unigram.tokenizeDocsUnigram]]). */
  def tokenizeDocsUnigram(docs: DataFrame,
      pieces: Seq[(String, Long)] = queries.Unigram.FixedPieces): DataFrame =
    queries.Unigram.tokenizeDocsUnigram(docs, pieces)
  /** BPE vs unigram fertility per source, both at frozen production
    * tables ([[graft.queries.Unigram.tokenizerCompare]]). */
  def tokenizerCompare(docs: DataFrame): DataFrame =
    queries.Unigram.tokenizerCompare(docs)
  /** UNK-free byte-fallback tokenization (GPT-2 posture): bytes 0..255
    * own their ids, whitespace runs are first-class tokens, and
    * decode(encode(text)) == text byte-for-byte on ANY input
    * ([[graft.queries.ByteTokenizer.tokenizeDocsBytes]]). Default
    * table: the C30 byte-LEARNED merges (digits/punctuation/
    * whitespace compress; was the letter-trained FixedMerges before
    * round 15 — pass it explicitly for the old ids). */
  def tokenizeDocsBytes(docs: DataFrame,
      merges: Seq[((String, String), String)] =
        queries.ByteTokenizer.LearnedByteMerges): DataFrame =
    queries.ByteTokenizer.tokenizeDocsBytes(docs, merges)
  /** Decode byte-fallback ids back to the exact original text
    * ([[graft.queries.ByteTokenizer.decode]]); the merges table must
    * be the one the ids were encoded under. */
  def decodeTokensBytes(tokens: Seq[Int],
      merges: Seq[((String, String), String)] =
        queries.ByteTokenizer.LearnedByteMerges): String =
    queries.ByteTokenizer.decode(tokens, merges)
  /** Crawl-record framing: binary (file_id, payload) crawl files →
    * (file_id, rec_idx, url, n_bytes, html) rows via WARC-style
    * length-prefixed splitting — the byte-level front door before the
    * C26 → C25 ingest chain
    * ([[graft.queries.CrawlRecords.crawlRecords]]; the parser seam is
    * [[graft.media.CrawlCodec]]). */
  def crawlRecords(files: DataFrame): DataFrame =
    queries.CrawlRecords.crawlRecords(files)
  /** Bigram-LM perplexity scoring with CCNet head/middle/tail buckets
    * ([[graft.queries.BigramLm.bigramLm]]). */
  def bigramLm(docs: DataFrame): DataFrame = queries.BigramLm.bigramLm(docs)
  /** BM25 retrieval of a term disjunction ([[graft.queries.Ranking.searchBm25]]). */
  def searchBm25(docs: DataFrame, terms: Seq[String], k: Int = 15): DataFrame =
    queries.Ranking.searchBm25(docs, terms, k)
  /** The C4 three-sentence rule: corpus-wide excision of repeated
    * sentence n-grams, first occurrence kept
    * ([[graft.queries.Dedup.exciseSentenceSpans]]). */
  def exciseSentenceSpans(docs: DataFrame, n: Int = 3,
      splitRe: String = queries.Dedup.SentenceSplitRe): DataFrame =
    queries.Dedup.exciseSentenceSpans(docs, n, splitRe)
  /** Per-paragraph language split, CCNet-style: each paragraph votes,
    * the page keeps its majority language's paragraphs
    * ([[graft.queries.TextAnalysis.langSplitParas]]). */
  def langSplitParas(docs: DataFrame,
      stopsByLang: Seq[(String, Seq[String])] =
        queries.TextAnalysis.DefaultLangStops): DataFrame =
    queries.TextAnalysis.langSplitParas(docs, stopsByLang)
  /** Hybrid retrieval: per-query-doc BM25 + E9 embedding cosine fused
    * by Reciprocal Rank Fusion ([[graft.queries.Ranking.hybridSearch]]). */
  def hybridSearch(docs: DataFrame, qMod: Long = 250L, poolK: Int = 20,
      k: Int = 10): DataFrame =
    queries.Ranking.hybridSearch(docs, qMod, poolK, k)
  /** Hybrid retrieval with the BUCKETED vector-candidate path — the
    * past-broadcast-scale form: sign-random-projection LSH in the
    * sparse format generates the cosine-side pool, exact rescore on
    * survivors, fusion unchanged; bits = 0 is provably exhaustive
    * ([[graft.queries.Ranking.hybridSearchLsh]]). */
  def hybridSearchLsh(docs: DataFrame, qMod: Long = 250L, poolK: Int = 20,
      k: Int = 10, rrfK: Int = 60, dims: Int = 16, tables: Int = 8,
      bits: Int = 4): DataFrame =
    queries.Ranking.hybridSearchLsh(docs, qMod, poolK, k, rrfK, dims,
      tables, bits)

  // ---- Deduplication ----
  def exactDuplicates(docs: DataFrame): DataFrame = queries.Dedup.exactDuplicates(docs)
  /** Duplicate-aware training weights (1/dup_count, conservation per
    * group) — the reweighting policy beside D1's removal policy
    * ([[graft.queries.Dedup.softDedupWeights]]). */
  def softDedupWeights(docs: DataFrame): DataFrame =
    queries.Dedup.softDedupWeights(docs)
  def minhashPairs(docs: DataFrame): DataFrame = queries.Dedup.minhashPairs(docs)
  def simhashPairs(docs: DataFrame): DataFrame = queries.Dedup.simhashPairs(docs)
  def jaccardPairs(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    queries.Dedup.jaccardPairs(docs, minJaccard)
  def jaccardPairsPrefix(docs: DataFrame, minJaccard: Double = 0.5): DataFrame =
    queries.Dedup.jaccardPairsPrefix(docs, minJaccard)
  /** Partial-duplicate pairs by shingle containment / overlap
    * coefficient — catches a short doc quoted inside a long one, which
    * Jaccard structurally misses
    * ([[graft.queries.Dedup.containmentPairs]]). */
  def containmentPairs(docs: DataFrame, minContainment: Double = 0.5): DataFrame =
    queries.Dedup.containmentPairs(docs, minContainment)
  /** [[containmentPairs]] with the asymmetric prefix filter — identical
    * output, candidates pruned by the smaller side's prefix
    * ([[graft.queries.Dedup.containmentPairsPrefix]]). */
  def containmentPairsPrefix(docs: DataFrame, minContainment: Double = 0.5): DataFrame =
    queries.Dedup.containmentPairsPrefix(docs, minContainment)
  /** Exact-substring duplicate spans at word-n-gram granularity
    * (Lee '22 ExactSubstr audit form —
    * [[graft.queries.Dedup.dupSpans]]). */
  def dupSpans(docs: DataFrame, n: Int = 5): DataFrame =
    queries.Dedup.dupSpans(docs, n)
  /** Exact-substring duplicate spans at CHAR granularity — the paper's
    * byte-level fidelity on an ASCII corpus; catches runs word
    * tokenization segments differently
    * ([[graft.queries.Dedup.dupSpansChar]]). */
  def dupSpansChar(docs: DataFrame, k: Int = 50): DataFrame =
    queries.Dedup.dupSpansChar(docs, k)
  /** Same spans via suffix-array rank doubling — no hashing in the
    * decision path, exact at any corpus size on ASCII text (the
    * base-128 seed pack requires it and fails loudly otherwise; use
    * [[dupSpansChar]] for non-ASCII corpora)
    * ([[graft.queries.SuffixDedup.dupSpansSuffix]]). */
  def dupSpansSuffix(docs: DataFrame, k: Int = 50): DataFrame =
    queries.SuffixDedup.dupSpansSuffix(docs, k)
  /** The full Lee '22 audit: duplicate spans with their exact MAXIMAL
    * duplicated length per span (ASCII text; lengths exact to `cap`)
    * ([[graft.queries.SuffixDedup.dupSpansMaximal]]). */
  def dupSpansMaximal(docs: DataFrame, k: Int = queries.Dedup.DupSpanCharK,
      cap: Int = queries.SuffixDedup.MaxDupCap): DataFrame =
    queries.SuffixDedup.dupSpansMaximal(docs, k, cap)
  /** ExactSubstr corpus rewriting: non-first duplicated spans excised,
    * docs reassembled from surviving tokens
    * ([[graft.queries.Dedup.exciseSpans]]). */
  def exciseSpans(docs: DataFrame, n: Int = 5): DataFrame =
    queries.Dedup.exciseSpans(docs, n)
  /** Incremental near-dup ingest: incoming batch flagged against the
    * known lake (MinHash bands) and within-batch, lake never self-pairs
    * ([[graft.queries.Dedup.dedupIncrementalMinhash]]). */
  def dedupIncrementalMinhash(incoming: DataFrame, known: DataFrame): DataFrame =
    queries.Dedup.dedupIncrementalMinhash(incoming, known)
  /** Incremental ExactSubstr AUDIT: the batch's duplicate spans
    * against lake ∪ batch, lake state = its gram-key artifact, never
    * text ([[graft.queries.SpanIncremental.dupSpansIncremental]]).
    * `lake` = (doc_id, text) or a stored (h, keeper) key frame. */
  def dupSpansIncremental(incoming: DataFrame, lake: DataFrame,
      n: Int = 5): DataFrame =
    queries.SpanIncremental.dupSpansIncremental(incoming, lake, n)
  /** Incremental ExactSubstr REWRITE: the batch excised against
    * lake ∪ batch under exact union-global keeper semantics
    * ([[graft.queries.SpanIncremental.exciseSpansIncremental]]). */
  def exciseSpansIncremental(incoming: DataFrame, lake: DataFrame,
      n: Int = 5): DataFrame =
    queries.SpanIncremental.exciseSpansIncremental(incoming, lake, n)
  /** The span-dedup lake artifact one batch contributes: (gram md5,
    * first packed occurrence)
    * ([[graft.queries.SpanIncremental.gramKeyFrame]]; store via
    * [[graft.sources.Sinks.appendGramKeys]]). */
  def gramKeyFrame(docs: DataFrame, n: Int = 5): DataFrame =
    queries.SpanIncremental.gramKeyFrame(docs, n)
  def embeddingDupPairs(embeddings: DataFrame, minCosine: Double = 0.5): DataFrame =
    queries.Similarity.embeddingDupPairs(embeddings, minCosine)
  def embeddingDupPairsLsh(embeddings: DataFrame, minCosine: Double = 0.5): DataFrame =
    queries.Similarity.embeddingDupPairsLsh(embeddings, minCosine)
  /** The capstone producing pipeline: gates → exact dedup → decontam →
    * ExactSubstr excision → epoch shuffle → BPE-weighted packing
    * ([[graft.queries.Curation.pipelineProduce]]). */
  def pipelineProduce(docs: DataFrame, eval: DataFrame,
      minWords: Long = 50L,
      stops: Seq[String] = queries.TextAnalysis.GopherStops,
      merges: Seq[((String, String), String)] = queries.Tokenizer.FixedMerges,
      contextLen: Long = queries.Shards.DefaultContextLen,
      seed: Long = 0L): DataFrame =
    queries.Curation.pipelineProduce(docs, eval, minWords, stops, merges,
      contextLen, seed)
  /** The capstone's finale: the produced corpus written as shard FILES
    * in epoch order, with the fingerprint manifest
    * ([[graft.queries.Curation.produceShards]]). */
  def produceShards(docs: DataFrame, eval: DataFrame, dir: String,
      minWords: Long = 50L,
      stops: Seq[String] = queries.TextAnalysis.GopherStops,
      merges: Seq[((String, String), String)] = queries.Tokenizer.FixedMerges,
      budget: Long = 512L,
      seed: Long = 0L,
      tokenize: Boolean = false,
      byteTokens: Boolean = false): DataFrame =
    queries.Curation.produceShards(docs, eval, dir, minWords, stops, merges,
      budget, seed, tokenize, byteTokens)
  /** Scheduled compaction of a streaming-ingest staging lake into the
    * epoch-shard artifact ([[graft.queries.Curation.compactShards]]):
    * the close of the stream→artifact loop. */
  def compactShards(spark: org.apache.spark.sql.SparkSession,
      stagingDir: String, eval: DataFrame, dir: String,
      minWords: Long = 50L,
      stops: Seq[String] = queries.TextAnalysis.GopherStops,
      merges: Seq[((String, String), String)] = queries.Tokenizer.FixedMerges,
      budget: Long = 512L,
      seed: Long = 0L,
      tokenize: Boolean = false,
      byteTokens: Boolean = false): DataFrame =
    queries.Curation.compactShards(spark, stagingDir, eval, dir, minWords,
      stops, merges, budget, seed, tokenize, byteTokens)
  /** Corpus → per-doc trainer-consumable token ids:
    * (doc_id, tokens array<int>, n_tokens)
    * ([[graft.queries.Tokenizer.tokenizeDocs]]). */
  def tokenizeDocs(docs: DataFrame,
      merges: Seq[((String, String), String)] = queries.Tokenizer.FixedMerges): DataFrame =
    queries.Tokenizer.tokenizeDocs(docs, merges)
  /** Corpus → tokenized training shards on disk, budgeted in BPE
    * tokens, fingerprinted over the id arrays
    * ([[graft.sources.Sinks.writeTokenizedShards]]). */
  def writeTokenizedShards(docs: DataFrame, dir: String,
      merges: Seq[((String, String), String)] = queries.Tokenizer.FixedMerges,
      budget: Long = 512L): DataFrame =
    graft.sources.Sinks.writeTokenizedShards(docs, dir, merges, budget)
  /** C30: learn a BYTE-level BPE merge table from the corpus's own
    * runs — digits/punctuation/whitespace included
    * ([[graft.queries.ByteTokenizer.learnByteMerges]]). */
  def learnByteMerges(docs: DataFrame, merges: Int,
      maxDictRuns: Int = 50000): Seq[((String, String), String)] =
    queries.ByteTokenizer.learnByteMerges(docs, merges, maxDictRuns)
  /** Corpus → byte-token training shards on disk: UNK-free C28/C30
    * ids, budgets in byte-tokens (whitespace priced honestly),
    * fingerprints over the id arrays
    * ([[graft.sources.Sinks.writeTokenizedShardsBytes]]). */
  def writeTokenizedShardsBytes(docs: DataFrame, dir: String,
      merges: Seq[((String, String), String)] =
        queries.ByteTokenizer.LearnedByteMerges,
      budget: Long = 512L): DataFrame =
    graft.sources.Sinks.writeTokenizedShardsBytes(docs, dir, merges, budget)
  /** SemDeDup: within-cluster semantic dedup, keeping the pair member
    * less similar to its centroid; `cells <= 0` auto-sizes to
    * ceil(sqrt(N)) ([[graft.queries.Similarity.semanticDedup]]). */
  def semanticDedup(embeddings: DataFrame, cells: Int = 0,
      minCosine: Double = 0.9): DataFrame =
    queries.Similarity.semanticDedup(embeddings, cells, minCosine)
  /** D28: flag an incoming batch's near-semantic-duplicates against an
    * accumulated lake under FROZEN cells, batch-sided pairs only —
    * provably equal to full SemDeDup over the union restricted to the
    * batch ([[graft.queries.Similarity.semanticDedupIncremental]]). */
  def semanticDedupIncremental(incoming: DataFrame, lake: DataFrame,
      cells: Int = 10, minCosine: Double = 0.9,
      fitFraction: Double = 1.0): DataFrame =
    queries.Similarity.semanticDedupIncremental(incoming, lake, cells,
      minCosine, fitFraction = fitFraction)
  /** SemDeDup over Lloyd-fitted centroids instead of the first-k
    * vectors — same pipeline, trained cells
    * ([[graft.queries.Similarity.semanticDedupTrained]]).
    * Eager: this call runs the Lloyd fit jobs before returning; the
    * result is a plan over the fitted centroids. */
  def semanticDedupTrained(embeddings: DataFrame, cells: Int = 10,
      minCosine: Double = 0.9, seed: Long = 0xC0FFEEL,
      fitFraction: Double = 1.0): DataFrame =
    queries.Similarity.semanticDedupTrained(embeddings, cells, minCosine,
      seed, fitFraction)
  /** Pairwise near-dup output → transitive dedup clusters
    * ([[graft.ops.ConnectedComponents]], O(log n)-round star algorithm). */
  def dedupClusters(docs: DataFrame): DataFrame = queries.Clusters.dedupClusters(docs)
  /** FastSS deletion-neighborhood fuzzy entity matching: pairs within
    * Levenshtein `maxDist` (0–2), blocking provably lossless
    * ([[graft.queries.FuzzyJoin.fuzzyJoin]]). */
  def fuzzyJoin(dirty: DataFrame, dirtyCol: String,
      master: DataFrame, masterCol: String, maxDist: Int = 2): DataFrame =
    queries.FuzzyJoin.fuzzyJoin(dirty, dirtyCol, master, masterCol, maxDist)
  /** Connected components over any (src, dst) edge list — component id
    * is the minimum reachable node id. */
  def connectedComponents(edges: DataFrame, src: String = "src", dst: String = "dst"): DataFrame =
    graft.ops.ConnectedComponents.connectedComponents(edges, src, dst)
  /** Per-node triangle counts over the part co-purchase graph,
    * degree-oriented ([[graft.queries.GraphRank.triangles]]). */
  def triangles(lineitem: DataFrame): DataFrame =
    queries.GraphRank.triangles(lineitem)
  /** Label-propagation communities over the part co-purchase graph,
    * deterministic synchronous LPA
    * ([[graft.queries.GraphRank.communities]]). */
  def communities(lineitem: DataFrame, iterations: Int = 5): DataFrame =
    queries.GraphRank.communities(lineitem, iterations)
  /** Near-dup communities: the dedup pair graph labeled by LPA — the
    * density policy beside [[dedupClusters]]'s transitive one; rows
    * where the two disagree are the dedup-policy review queue
    * ([[graft.queries.Clusters.dedupCommunities]]). */
  def dedupCommunities(docs: DataFrame, iterations: Int = 3): DataFrame =
    queries.Clusters.dedupCommunities(docs, iterations)
  /** TextRank keywords: integer PageRank over the word co-occurrence
    * graph ([[graft.queries.TextRank.textRank]]). */
  def textRank(docs: DataFrame, window: Int = 2, iterations: Int = 5,
      k: Int = 50): DataFrame =
    queries.TextRank.textRank(docs, window, iterations, k)
  /** Fixed-iteration deterministic label propagation over any
    * (src, dst) edge list ([[graft.ops.LabelPropagation]]). */
  def labelPropagation(edges: DataFrame, src: String = "src",
      dst: String = "dst", iterations: Int = 5): DataFrame =
    graft.ops.LabelPropagation.propagate(edges, src, dst, iterations)
  /** Fixed-iteration integer-exact PageRank over any (src, dst) edge
    * list ([[graft.ops.PageRank]]). */
  def pageRank(edges: DataFrame, src: String = "src", dst: String = "dst",
      iterations: Int = 5): DataFrame =
    graft.ops.PageRank.pageRank(edges, src, dst, iterations)
  def shardOwnership(configOps: DataFrame): DataFrame =
    queries.ShardReplay.shardOwnership(configOps)
  def shardReplay(configOps: DataFrame, keyOps: DataFrame): DataFrame =
    queries.ShardReplay.shardReplay(configOps, keyOps)
  def routeKeyOps(keyOps: DataFrame, ownership: DataFrame): DataFrame =
    queries.ShardReplay.routeKeyOps(keyOps, ownership)

  /** Composed curation pipeline: quality gate (+ optional repetition
    * gate) → exact dedup → near-dup drop
    * ([[graft.queries.Curation.curate]]). */
  def curate(docs: DataFrame, minQuality: Double = 0.3,
      dropNearDups: Boolean = true, maxRepRatio: Double = 1.0): DataFrame =
    queries.Curation.curate(docs, minQuality, dropNearDups, maxRepRatio)

  /** [[curate]] with transitive-cluster survivor selection (one doc per
    * connected near-dup cluster) — see
    * [[graft.queries.Curation.curateClusters]]. */
  def curateClusters(docs: DataFrame, minQuality: Double = 0.3,
      maxRepRatio: Double = 1.0): DataFrame =
    queries.Curation.curateClusters(docs, minQuality, maxRepRatio)

  // ---- Similarity search ----
  def annBruteforce(embeddings: DataFrame): DataFrame = queries.Similarity.annBruteforce(embeddings)
  /** Corpus map: every doc in a content-cell (E14 k-means over the
    * corpus's own E9 embeddings) × quality-decile (C15) grid, with doc
    * and token mass per cell — the data-cartography census behind mix
    * design ([[graft.queries.CorpusMap.corpusMap]]).
    * Eager: the iters Lloyd passes run before this call returns.
    * `fitFraction` < 1 = sample-fit Lloyd + full-corpus assign (the
    * 100 TB path). */
  def corpusMap(docs: DataFrame,
      dims: Int = queries.CorpusMap.MapDims,
      cells: Int = queries.CorpusMap.MapCells,
      iters: Int = queries.CorpusMap.MapIters,
      fitFraction: Double = 1.0): DataFrame =
    queries.CorpusMap.corpusMap(docs, dims, cells, iters, fitFraction)
  /** Freeze the corpus-map state (centroid + decile-cut literals) for
    * stateless serving/streaming assignment
    * ([[graft.queries.CorpusMap.fitModel]]). Eager: fits at call time. */
  def corpusMapModel(docs: DataFrame,
      dims: Int = queries.CorpusMap.MapDims,
      cells: Int = queries.CorpusMap.MapCells,
      iters: Int = queries.CorpusMap.MapIters,
      fitFraction: Double = 1.0): queries.CorpusMap.CorpusMapModel =
    queries.CorpusMap.fitModel(docs, dims, cells, iters, fitFraction)
  /** Grid placement under a FROZEN corpus-map model — a pure per-row
    * map, streaming-safe ([[graft.queries.CorpusMap.assignFrozen]];
    * the stream wrapper is
    * [[graft.streaming.Streams.corpusMapStream]]). */
  def corpusMapAssign(docs: DataFrame,
      model: queries.CorpusMap.CorpusMapModel): DataFrame =
    queries.CorpusMap.assignFrozen(docs, model)
  /** Per-cell mixing — the corpus map's consumer: deterministically
    * downsample each (content cell × quality decile) group toward a
    * target token share (uniform by default; pass `targets`
    * (cell, decile, share) for designed mixes). Returns the per-doc
    * frame with rate + keep ([[graft.queries.CellMix.cellMix]]).
    * Eager: runs the census's Lloyd passes at call time. */
  def cellMix(docs: DataFrame,
      dims: Int = queries.CorpusMap.MapDims,
      cells: Int = queries.CorpusMap.MapCells,
      iters: Int = queries.CorpusMap.MapIters,
      fitFraction: Double = 1.0,
      targets: Option[DataFrame] = None): DataFrame =
    queries.CellMix.cellMix(docs, dims, cells, iters, fitFraction, targets)
  /** The ANN operating curve: recall@k of the IVF search per probe
    * count, one row per arm — the probes-vs-recall tuning artifact
    * ([[graft.queries.Similarity.annOperatingCurve]]). */
  def annOperatingCurve(embeddings: DataFrame,
      probesList: Seq[Int] = Seq(1, 2, 3, 10)): DataFrame =
    queries.Similarity.annOperatingCurve(embeddings, probesList)
  /** Hard-negative mining for contrastive training: per query, the
    * top-k most similar DIFFERENT-label vectors, candidates bounded by
    * IVF cell probing ([[graft.queries.Similarity.hardNegatives]]). */
  def hardNegatives(embeddings: DataFrame, k: Int = 5, cells: Int = 10,
      probes: Int = 3): DataFrame =
    queries.Similarity.hardNegatives(embeddings, k, cells, probes)
  /** recall@k of an approximate ANN result vs an exact one — the
    * post-rebuild index quality gate
    * ([[graft.queries.Similarity.recallAtK]]). */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame =
    queries.Similarity.recallAtK(approx, exact)
  /** Exact Gram matrix X^T X of the quantized embeddings, long format
    * ([[graft.queries.LinAlg.gramMatrix]]). */
  def gramMatrix(embeddings: DataFrame): DataFrame =
    queries.LinAlg.gramMatrix(embeddings)
  /** First-principal-component projection, power-iteration fit on the
    * exact Gram ([[graft.queries.LinAlg.pcaProject]]).
    * Eager: this call runs the Gram-collect job before returning; the
    * result is a plan over the fitted vector — fit once, reuse. */
  def pcaProject(embeddings: DataFrame, iters: Int = 30): DataFrame =
    queries.LinAlg.pcaProject(embeddings, iters)
  def annLsh(embeddings: DataFrame, dims: Int = 64): DataFrame = queries.Similarity.annLsh(embeddings, dims)
  def annIvf(embeddings: DataFrame): DataFrame = queries.Similarity.annIvf(embeddings)
  /** IVF ANN over trained (Lloyd-fitted) coarse centroids
    * ([[graft.queries.Similarity.annIvfTrained]]).
    * Eager: this call runs the Lloyd fit jobs before returning; the
    * result is a plan over the fitted centroids. */
  def annIvfTrained(embeddings: DataFrame, cells: Int = 10, probes: Int = 3,
      fitFraction: Double = 1.0): DataFrame =
    queries.Similarity.annIvfTrained(embeddings, cells, probes,
      fitFraction = fitFraction)
  /** IVF-PQ ANN, fit + exhaustive-pattern search in one call
    * ([[graft.queries.Similarity.annIvfPq]]). Eager: the 1+m KMeans
    * fits and the encode pass run before this call returns — for
    * fit-once/search-many use [[buildPqIndex]]/[[searchPqIndex]]. */
  def annIvfPq(
      embeddings: DataFrame, cells: Int = 10, probes: Int = 3,
      m: Int = 8, ksub: Int = 16, rescore: Int = 50, dims: Int = 64,
      fitFraction: Double = 1.0): DataFrame =
    queries.Similarity.annIvfPq(embeddings, cells, probes, m, ksub, rescore,
      dims, fitFraction = fitFraction)
  /** Fit the IVF-PQ index once ([[graft.queries.Similarity.buildPqIndex]]);
    * its narrow `(vec_id, cell, code[m])` frame is the persistable
    * artifact searches run against. Eager: this call runs the 1+m
    * KMeans fits and the encode pass before returning. */
  def buildPqIndex(
      embeddings: DataFrame, cells: Int = 10, m: Int = 8,
      ksub: Int = 16, dims: Int = 64,
      fitFraction: Double = 1.0): queries.Similarity.PqIndex =
    queries.Similarity.buildPqIndex(embeddings, cells, m, ksub, dims,
      fitFraction = fitFraction)
  /** ADC search of a fitted PQ index with exact rescore
    * ([[graft.queries.Similarity.searchPqIndex]]). Pass
    * `excludeSelf = false` when `queryVecs` id space is unrelated to
    * the indexed vectors. */
  def searchPqIndex(
      idx: queries.Similarity.PqIndex, vectors: DataFrame,
      queryVecs: DataFrame, probes: Int = 3, rescore: Int = 50,
      excludeSelf: Boolean = true): DataFrame =
    queries.Similarity.searchPqIndex(idx, vectors, queryVecs, probes, rescore, excludeSelf)
  /** OPQ: learned orthogonal rotation before PQ — higher recall at
    * the SAME code budget ([[graft.queries.Similarity.annOpq]];
    * build/search halves: [[buildOpqIndex]]/[[searchOpqIndex]]).
    * Eager: the OPQ fit (opqRounds × m KMeans fits + the PQ build)
    * runs before this call returns — fit once, search many. */
  def annOpq(
      embeddings: DataFrame, cells: Int = 10, probes: Int = 3,
      m: Int = 8, ksub: Int = 16, rescore: Int = 50, dims: Int = 64,
      fitFraction: Double = 1.0): DataFrame =
    queries.Similarity.annOpq(embeddings, cells, probes, m, ksub, rescore,
      dims, fitFraction = fitFraction)
  /** Fit the OPQ index: alternating codebook/Procrustes rotation
    * optimization, then the standard PQ build over rotated vectors
    * ([[graft.queries.Similarity.buildOpqIndex]]). Eager: the
    * opqRounds × m KMeans fits and the encode pass run before this
    * call returns. */
  def buildOpqIndex(
      embeddings: DataFrame, cells: Int = 10, m: Int = 8,
      ksub: Int = 16, dims: Int = 64,
      opqRounds: Int = queries.Similarity.OpqRoundsDefault,
      fitFraction: Double = 1.0): queries.Similarity.OpqIndex =
    queries.Similarity.buildOpqIndex(embeddings, cells, m, ksub, dims,
      opqRounds = opqRounds, fitFraction = fitFraction)
  /** ADC search of a fitted OPQ index — queries rotate into index
    * space, the shortlist rescores exactly on the original embeddings
    * ([[graft.queries.Similarity.searchOpqIndex]]). */
  def searchOpqIndex(
      idx: queries.Similarity.OpqIndex, vectors: DataFrame,
      queryVecs: DataFrame, probes: Int = 3, rescore: Int = 50,
      excludeSelf: Boolean = true): DataFrame =
    queries.Similarity.searchOpqIndex(idx, vectors, queryVecs, probes,
      rescore, excludeSelf)
  /** Incremental index growth: encode a batch of NEW vectors with the
    * existing centroids/codebooks (no refit) and append the narrow
    * code rows — the vector-side lake-append flow
    * ([[graft.queries.Similarity.appendToPqIndex]]). */
  def appendToPqIndex(idx: queries.Similarity.PqIndex,
      newVectors: DataFrame): queries.Similarity.PqIndex =
    queries.Similarity.appendToPqIndex(idx, newVectors)
  /** Disk-backed build-once PQ index: parquet index + centroids, text
    * codebooks, built on first call per (cacheKey, params)
    * ([[graft.queries.Similarity.pqIndexOnDisk]]). */
  def pqIndexOnDisk(embeddings: DataFrame, cacheKey: String, cells: Int = 10,
      m: Int = 8, ksub: Int = 16, dims: Int = 64): queries.Similarity.PqIndex =
    queries.Similarity.pqIndexOnDisk(embeddings, cacheKey, cells, m, ksub, dims)
  /** Leave-one-out kNN label classification over the IVF index — the
    * per-label embedding-quality eval
    * ([[graft.queries.Similarity.knnLabelIvf]]). */
  def knnLabelIvf(embeddings: DataFrame, k: Int = 5, nProbes: Int = 3): DataFrame =
    queries.Similarity.knnLabelIvf(embeddings, k, nProbes)

  // ---- Multimodal ----
  def binaryMeta(media: DataFrame): DataFrame = queries.Multimodal.binaryMeta(media)
  def mediaFeatures(media: DataFrame): DataFrame = queries.Multimodal.mediaFeatures(media)
  /** Perceptual-hash near-duplicate media pairs (blockhash fingerprint +
    * the D3 banded Hamming join — [[graft.queries.Multimodal.mediaNearDup]]). */
  def mediaNearDup(media: DataFrame): DataFrame = queries.Multimodal.mediaNearDup(media)

  // ---- Sessions / streams ----
  def sessionizeNative(events: DataFrame, gapMinutes: Long = 30): DataFrame =
    queries.Sessions.sessionizeNative(events, gapMinutes)
  def sessionize(events: DataFrame, gapMinutes: Long = 30): DataFrame =
    queries.Sessions.sessionize(events, gapMinutes)
  /** Per-purchase click attribution (touch count + last-touch click)
    * within a time window ([[graft.queries.Attribution.attribution]];
    * streaming twin: [[graft.streaming.Streams.clickToPurchase]]). */
  def attribution(events: DataFrame): DataFrame =
    queries.Attribution.attribution(events)
  def windowedCounts(events: DataFrame): DataFrame = queries.Sessions.windowedCounts(events)
  /** Final per-user counters (events, purchases, exact-cents value
    * total) — the batch twin of the G4 streaming state machine
    * ([[graft.queries.Sessions.userStats]]; streaming:
    * [[graft.streaming.Streams.runningUserStats]]). */
  def userStats(events: DataFrame): DataFrame = queries.Sessions.userStats(events)
  /** Strict-order funnel conversion per step
    * ([[graft.queries.Funnels.funnel]]). */
  def funnel(events: DataFrame,
      steps: Seq[String] = Seq("view", "click", "purchase")): DataFrame =
    queries.Funnels.funnel(events, steps)
  /** Weekly cohort retention counts over integer epoch-weeks
    * ([[graft.queries.Funnels.retention]]). */
  def retention(events: DataFrame): DataFrame = queries.Funnels.retention(events)
  /** Row-normalized event-type transition matrix
    * ([[graft.queries.Funnels.transitions]]). */
  def transitions(events: DataFrame): DataFrame = queries.Funnels.transitions(events)
  /** User pairs with near-identical daily activity series (exact
    * integer distances, lossless total-sum grid blocking)
    * ([[graft.queries.Series.seriesPairs]]). */
  def seriesPairs(events: DataFrame, eps: Long = 3200000000L): DataFrame =
    queries.Series.seriesPairs(events, eps)
  /** Typed JSON field extraction + per-type stats over `props`
    * ([[graft.queries.SemiStructured.propStats]]). */
  def propStats(events: DataFrame): DataFrame = queries.SemiStructured.propStats(events)
  val streams: graft.streaming.Streams.type = graft.streaming.Streams

  /** Pack docs into contiguous fixed-token-budget shards via the
    * scale-safe prefix sum ([[graft.queries.Shards.packShards]]). */
  def packShards(docs: DataFrame, budget: Long = 512): DataFrame =
    queries.Shards.packShards(docs, budget)
  /** Best-fit (harmonic-shelf) packing: every doc WHOLLY in one
    * contextLen bin — the no-cross-doc-attention loader layout; chop
    * comparison via [[packBestFitStats]]
    * ([[graft.queries.Shards.packBestFit]]). */
  def packBestFit(docs: DataFrame,
      contextLen: Long = queries.Shards.DefaultContextLen): DataFrame =
    queries.Shards.packBestFit(docs, contextLen)
  /** One-row audit of [[packBestFit]]: bins, packed/wasted tokens,
    * oversize/empty counts, and the chop baseline's split-doc count
    * ([[graft.queries.Shards.packBestFitStats]]). */
  def packBestFitStats(docs: DataFrame,
      contextLen: Long = queries.Shards.DefaultContextLen): DataFrame =
    queries.Shards.packBestFitStats(docs, contextLen)
  /** Token-level sequence packing: per-doc (seq_first, seq_offset,
    * n_seqs) at a fixed context length
    * ([[graft.queries.Shards.packSequences]]). */
  def packSequences(docs: DataFrame,
      contextLen: Long = queries.Shards.DefaultContextLen): DataFrame =
    queries.Shards.packSequences(docs, contextLen)
  /** Sequence packing weighted by BYTE-FALLBACK token counts — the
    * C28 loader's geometry, whitespace/punctuation tokens included
    * ([[graft.queries.Shards.packSequencesBytes]]). */
  def packSequencesBytes(docs: DataFrame,
      merges: Seq[((String, String), String)] = queries.Tokenizer.FixedMerges,
      contextLen: Long = queries.Shards.DefaultContextLen): DataFrame =
    queries.Shards.packSequencesBytes(docs, merges, contextLen)
  /** Deterministic per-stratum sample in portable scrambled-id order
    * ([[graft.queries.Shards.stratifiedSample]]). */
  def stratifiedSample(docs: DataFrame, strata: String = "source", n: Int = 10): DataFrame =
    queries.Shards.stratifiedSample(docs, strata, n)
  /** Domain-mix resampling toward uniform token share per group —
    * per-doc keep/rate columns ([[graft.queries.Shards.domainMix]]). */
  def domainMix(docs: DataFrame, group: String = "lang"): DataFrame =
    queries.Shards.domainMix(docs, group)
  /** Seeded deterministic global shuffle: each doc's 1-based position
    * in a reproducible pseudo-random epoch order
    * ([[graft.queries.Shards.shuffleOrder]]). */
  def shuffleOrder(docs: DataFrame, seed: Long = 0L): DataFrame =
    queries.Shards.shuffleOrder(docs, seed)
  /** Curriculum epoch order: quality-decile-major positions, seeded
    * shuffle within each decile
    * ([[graft.queries.Shards.curriculumOrder]]). */
  def curriculumOrder(docs: DataFrame, seed: Long = 0L): DataFrame =
    queries.Shards.curriculumOrder(docs, seed)
  /** Weighted sampling without replacement, Efraimidis–Spirakis A-ES
    * over the seeded portable draw
    * ([[graft.queries.Shards.weightedSample]]). */
  def weightedSample(docs: DataFrame, k: Int = 25, seed: Long = 0L): DataFrame =
    queries.Shards.weightedSample(docs, k, seed)
  /** Deterministic source-keyed train/val/test assignment —
    * `polyHash(source) mod 100` buckets, no RNG state
    * ([[graft.queries.Splits.splitAssign]]). */
  def splitAssign(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame =
    queries.Splits.splitAssign(docs, trainPct, valPct)
  /** Near-dup pairs that cross the split boundary — the leakage /
    * eval-contamination audit ([[graft.queries.Splits.splitLeakage]]). */
  def splitLeakage(docs: DataFrame, trainPct: Int = 90, valPct: Int = 5): DataFrame =
    queries.Splits.splitLeakage(docs, trainPct, valPct)
  /** Temperature-based domain mixing (target share ∝ tokens^alpha;
    * 0.5 = the standard multilingual compromise)
    * ([[graft.queries.Shards.domainMixTemperature]]). */
  def domainMixTemperature(
      docs: DataFrame, group: String = "lang", alpha: Double = 0.5): DataFrame =
    queries.Shards.domainMixTemperature(docs, group, alpha)
  /** Incremental exact dedup: flag incoming docs already in a known
    * corpus or duplicated within the batch
    * ([[graft.queries.Dedup.dedupIncremental]]). */
  def dedupIncremental(incoming: DataFrame, known: DataFrame): DataFrame =
    queries.Dedup.dedupIncremental(incoming, known)
  /** Quality-decile stratification via exact percentile thresholds
    * ([[graft.queries.TextAnalysis.qualityDeciles]]). */
  def qualityDeciles(docs: DataFrame): DataFrame =
    queries.TextAnalysis.qualityDeciles(docs)
  /** Token-window chunking: overlapping `window`-token chunks per doc
    * advancing by `stride`
    * ([[graft.queries.TextAnalysis.chunkTokens]]). */
  def chunkTokens(docs: DataFrame, window: Int = 128, stride: Int = 64): DataFrame =
    queries.TextAnalysis.chunkTokens(docs, window, stride)
  /** DSIR importance weights + top-k selection flag: score raw docs by
    * hashed-n-gram likelihood ratio against a target domain sample
    * ([[graft.queries.Selection.dsirWeights]]). */
  def dsirWeights(docs: DataFrame, isTarget: Column, keep: Int = 50): DataFrame =
    queries.Selection.dsirWeights(docs, isTarget, keep)
  /** The DSIR-selected subset itself
    * ([[graft.queries.Selection.dsirSample]]). */
  def dsirSample(docs: DataFrame, isTarget: Column, keep: Int = 50): DataFrame =
    queries.Selection.dsirSample(docs, isTarget, keep)
  /** Long-format column profile (col_name, metric, value) — Deequ-style
    * stats in one scan ([[graft.queries.Profile.profile]]). */
  def profile(df: DataFrame, numericCols: Seq[String],
      stringCols: Seq[String] = Nil, tsCols: Seq[String] = Nil,
      exactDistinct: Boolean = true): DataFrame =
    queries.Profile.profile(df, numericCols, stringCols, tsCols, exactDistinct)
  /** One foreign-key referential-integrity audit row — orphan child
    * rows/keys and unreferenced parents
    * ([[graft.queries.Integrity.fkAudit]]). */
  def fkAudit(child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, label: String): DataFrame =
    queries.Integrity.fkAudit(child, childKey, parent, parentKey, label)
  /** Equi-width histogram of a numeric column
    * ([[graft.queries.Profile.histogram]]). */
  def histogram(df: DataFrame, c: String, buckets: Int = 10): DataFrame =
    queries.Profile.histogram(df, c, buckets)
  /** One-pass Pearson correlation matrix over fixed-decimal numeric
    * columns ([[graft.queries.Profile.correlations]]). */
  def correlations(df: DataFrame, cols: Seq[String], scale: Double = 100.0): DataFrame =
    queries.Profile.correlations(df, cols, scale)
  /** Chi-square independence test of two categorical columns over the
    * full R×C grid ([[graft.queries.Profile.chisq]]). */
  def chisq(df: DataFrame, aCol: String, bCol: String): DataFrame =
    queries.Profile.chisq(df, aCol, bCol)
  /** Population Stability Index per column between two snapshots —
    * numeric columns bucket on the reference range, categorical by
    * value; alert bands 0.1/0.25 ([[graft.queries.Profile.psi]]). */
  def psi(ref: DataFrame, cur: DataFrame, numCols: Seq[String],
      catCols: Seq[String], buckets: Int = 10): DataFrame =
    queries.Profile.psi(ref, cur, numCols, catCols, buckets)
  /** Per-dimension int8 min/max quantization of an embedding column
    * ([[graft.queries.Quantize.quantizeInt8]]). */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    queries.Quantize.quantizeInt8(embeddings)
  /** ANN over the SQ8 int8 codes — ADC shortlist on the 4×-smaller
    * quantized index, exact rescore on originals
    * ([[graft.queries.Quantize.annSq8]]).
    * Eager: this call runs the per-dimension extrema job before
    * returning; the result is a plan over the 2×dims model. */
  def annSq8(embeddings: DataFrame, shortlist: Int = 50): DataFrame =
    queries.Quantize.annSq8(embeddings, shortlist)
  /** IVF cells over SQ8-coded RESIDUALS (the Faiss IVF,SQ8 layout):
    * the 4x code-size cut inside a probed search instead of a flat
    * scan ([[graft.queries.Quantize.annIvfSq8]]).
    * Eager: this call runs the assignment + residual-extrema jobs
    * before returning; the result is a plan over the 2xdims model. */
  def annIvfSq8(embeddings: DataFrame, cells: Int = 10, probes: Int = 3,
      shortlist: Int = 50): DataFrame =
    queries.Quantize.annIvfSq8(embeddings, cells, probes, shortlist)
  /** Classify every doc across two corpus snapshots as
    * added/removed/changed/same ([[graft.queries.SnapshotDiff]]). */
  def snapshotDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame =
    queries.SnapshotDiff.snapshotDiff(oldDocs, newDocs)
  /** Exact heavy hitters — every word n-gram with count >= minCount —
    * behind a Count-Min prefilter that discards the tail vocabulary
    * map-side ([[graft.queries.Sketches.heavyHitters]]).
    * Eager: this call runs the CMS-build job before returning; the
    * result is a plan over the finished counters — fit once, reuse. */
  def heavyHitters(docs: DataFrame, minCount: Long,
      n: Int = queries.Sketches.HhGramN,
      depth: Int = queries.Sketches.DefaultDepth,
      width: Int = queries.Sketches.DefaultWidth): DataFrame =
    queries.Sketches.heavyHitters(docs, minCount, n, depth, width)
  /** KMV bottom-k distinct-content Jaccard estimate between two
    * snapshots, beside the exact answer, in one row
    * ([[graft.queries.Sketches.corpusOverlap]]). */
  def corpusOverlap(a: DataFrame, b: DataFrame,
      k: Int = queries.Sketches.KmvK): DataFrame =
    queries.Sketches.corpusOverlap(a, b, k)
  /** The stored k·8-byte bottom-k content sketch of a corpus — feed it
    * to `streams.overlapStream` as the fixed lake reference
    * ([[graft.queries.Sketches.kmvSketch]]). */
  def kmvSketch(docs: DataFrame, k: Int = queries.Sketches.KmvK): Array[Long] =
    queries.Sketches.kmvSketch(docs, k)
  /** URL/domain gate over a (doc_id, url) frame — scheme / IP-host /
    * domain-blocklist / word / length flags + kept, the crawl stage
    * before extraction ([[graft.queries.UrlFilter.urlFilter]]). */
  def urlFilter(urls: DataFrame, blockedDomains: Seq[String],
      blockedWords: Seq[String] = Nil,
      allowedSchemes: Seq[String] = queries.UrlFilter.DefaultAllowedSchemes,
      twoLevelTlds: Seq[String] = queries.UrlFilter.DefaultTwoLevelTlds,
      maxLen: Int = 2048): DataFrame =
    queries.UrlFilter.urlFilter(urls, blockedDomains, blockedWords,
      allowedSchemes, twoLevelTlds, maxLen)
  /** Rewrite the corpus with every repeated word block excised from all
    * but its first occurrence ([[graft.queries.Blocks.blockDedup]]). */
  def blockDedup(docs: DataFrame): DataFrame =
    queries.Blocks.blockDedup(docs)
  /** fastText-style hashed-feature linear quality score per doc
    * ([[graft.queries.QualityModel.modelQuality]]). */
  def modelQuality(docs: DataFrame): DataFrame =
    queries.QualityModel.modelQuality(docs)
  /** Per-training-doc n-gram-overlap contamination stats against an
    * eval set ([[graft.queries.Contamination.decontaminate]]). */
  def decontaminate(train: DataFrame, eval: DataFrame): DataFrame =
    queries.Contamination.decontaminate(train, eval)
  /** `train` minus every doc flagged by [[decontaminate]]
    * ([[graft.queries.Contamination.decontamGate]]). */
  def decontamGate(train: DataFrame, eval: DataFrame): DataFrame =
    queries.Contamination.decontamGate(train, eval)
  /** Contamination audit: overlapping (train, eval) doc pairs with
    * shared-shingle counts
    * ([[graft.queries.Contamination.decontaminatePairs]]). */
  def decontaminatePairs(train: DataFrame, eval: DataFrame): DataFrame =
    queries.Contamination.decontaminatePairs(train, eval)
  /** Contamination spans: WHERE each training doc overlaps the eval
    * set, as disjoint maximal token intervals
    * ([[graft.queries.Contamination.decontamSpans]]). */
  def decontamSpans(train: DataFrame, eval: DataFrame): DataFrame =
    queries.Contamination.decontamSpans(train, eval)
  /** MassiveWeb-style staging audit: rule gates → repetition gates →
    * exact dedup → decontamination, per-doc stage flags in ONE plan
    * ([[graft.queries.Curation.pipelineAudit]]). */
  def pipelineAudit(docs: DataFrame, eval: DataFrame,
      minWords: Long = 50L,
      stops: Seq[String] = queries.TextAnalysis.GopherStops): DataFrame =
    queries.Curation.pipelineAudit(docs, eval, minWords, stops)
  /** [[decontaminate]] behind a broadcast Bloom prefilter + exact
    * rescore — bit-identical output, for reference sets too big to
    * broadcast as strings
    * ([[graft.queries.Contamination.decontaminateBloom]]).
    * Eager: this call runs the Bloom-build job over `eval` before
    * returning (memoized per eval/bits — repeat calls reuse it). */
  def decontaminateBloom(train: DataFrame, eval: DataFrame,
      bits: Int = 1 << 20, probes: Int = 5): DataFrame =
    queries.Contamination.decontaminateBloom(train, eval, bits, probes)
  /** [[decontaminateBloom]]'s large-reference twin: the bits ride a
    * SparkContext.broadcast probed by a UDF — for filters past the
    * plan-literal sweet spot (~2^24 bits)
    * ([[graft.queries.Contamination.decontaminateBloomBroadcast]]).
    * Eager: this call runs the Bloom-build job over `eval` before
    * returning (memoized per eval/bits — repeat calls reuse it). */
  def decontaminateBloomBroadcast(train: DataFrame, eval: DataFrame,
      bits: Int = 1 << 20, probes: Int = 5): DataFrame =
    queries.Contamination.decontaminateBloomBroadcast(train, eval, bits, probes)
  /** Unigram-LM cross-entropy quality score, ordered-fold determinism
    * ([[graft.queries.Ranking.unigramXent]]). */
  def unigramXent(docs: DataFrame, threshold: Double = 7.0): DataFrame =
    queries.Ranking.unigramXent(docs, threshold)
  /** Per-label embedding centroids, order-independent fixed-point sums
    * ([[graft.queries.Similarity.labelCentroids]]). */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    queries.Similarity.labelCentroids(embeddings)
  /** Lloyd k-means whose every iteration is reproducible and
    * SQL-replayable: deterministic init, packed-argmin assignment,
    * fixed-point integer centroid update
    * ([[graft.queries.KMeansLloyd.kmeans]]).
    * Eager: the iters Lloyd passes run before this call returns; the
    * result is a frame built from the fitted driver-side model. */
  def kmeansLloyd(embeddings: DataFrame, k: Int = 8, iters: Int = 3,
      fitFraction: Double = 1.0): DataFrame =
    queries.KMeansLloyd.kmeans(embeddings, k, iters, fitFraction)
  /** Train the quality-filter model on-cluster: full-batch perceptron
    * over E9 hashed features, labels from the C16 gate; returns the
    * integer training trajectory (iter, dim, w, n_mistakes)
    * ([[graft.queries.QualityTrain.trainQualityModel]]).
    * Eager: the iters full-batch passes run before this call returns. */
  def trainQualityModel(docs: DataFrame, dims: Int = 16, iters: Int = 5): DataFrame =
    queries.QualityTrain.trainQualityModel(docs, dims, iters)
  /** C4-style line/page cleaning ([[graft.queries.LineFilters.c4Filters]]). */
  def c4Filters(docs: DataFrame,
      minWordsPerLine: Long = 3L, minKeptLines: Long = 5L,
      requireTerminal: Boolean = true,
      lineDropWords: Seq[String] = Seq("javascript"),
      pageDropPhrases: Seq[String] = Seq("lorem ipsum")): DataFrame =
    queries.LineFilters.c4Filters(docs, minWordsPerLine, minKeptLines,
      requireTerminal, lineDropWords, pageDropPhrases)
  /** Intra-document line dedup ([[graft.queries.LineFilters.dedupLines]]). */
  def dedupLines(docs: DataFrame, minLineChars: Int = 5): DataFrame =
    queries.LineFilters.dedupLines(docs, minLineChars)
  /** Markup/boilerplate text extraction: HTML page → line/paragraph
    * frame (script/style/comment removal, block-element → newline
    * mapping, tag strip, core entity decode, whitespace normalization)
    * ([[graft.queries.Extract.extractText]]). Run FIRST on crawl
    * corpora — every line/paragraph gate assumes extracted text. */
  def extractText(docs: DataFrame): DataFrame =
    queries.Extract.extractText(docs)
  /** The composed crawl-ingest pipeline: extract → C21 paragraph
    * language split → C20 intra-page line dedup → C18 line screen +
    * page gate, one shuffle-free plan
    * ([[graft.queries.Extract.extractClean]]). */
  def extractClean(docs: DataFrame,
      stopsByLang: Seq[(String, Seq[String])] =
        queries.TextAnalysis.DefaultLangStops,
      minWordsPerLine: Long = 3L, minKeptLines: Long = 5L,
      requireTerminal: Boolean = true,
      lineDropWords: Seq[String] = Seq("javascript"),
      pageDropPhrases: Seq[String] = Seq("lorem ipsum")): DataFrame =
    queries.Extract.extractClean(docs, stopsByLang, minWordsPerLine,
      minKeptLines, requireTerminal, lineDropWords, pageDropPhrases)
  /** k-gram duplication census ([[graft.queries.DupCensus.dupCensus]]). */
  def dupCensus(docs: DataFrame, k: Int = queries.DupCensus.CensusK): DataFrame =
    queries.DupCensus.dupCensus(docs, k)
  /** Per-source BPE fertility census
    * ([[graft.queries.TokenizerStats.bpeFertility]]). */
  def bpeFertility(docs: DataFrame,
      merges: Seq[((String, String), String)] = queries.Tokenizer.FixedMerges): DataFrame =
    queries.TokenizerStats.bpeFertility(docs, merges)
  /** Feature-hashed document embeddings, sparse long-format
    * ([[graft.queries.DocEmbed.docEmbed]]). */
  def docEmbed(docs: DataFrame, dims: Int = queries.DocEmbed.DefaultDims): DataFrame =
    queries.DocEmbed.docEmbed(docs, dims)
  /** The dense (vec_id, embedding) form the E-family consumes
    * ([[graft.queries.DocEmbed.docEmbedVectors]]). */
  def docEmbedVectors(docs: DataFrame,
      dims: Int = queries.DocEmbed.DefaultDims): DataFrame =
    queries.DocEmbed.docEmbedVectors(docs, dims)
  /** Grouped approximate quantiles via GK sketches — the scale path
    * past exact order statistics; exact when accuracy >= group size
    * ([[graft.queries.Profile.approxQuantiles]]). */
  def approxQuantiles(df: DataFrame, valueCol: String, groupCol: String,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95),
      accuracy: Int = 1000): DataFrame =
    queries.Profile.approxQuantiles(df, valueCol, groupCol, probs, accuracy)
  /** Embedding snapshot drift ([[graft.queries.Profile.embedDrift]]). */
  def embedDrift(snapA: DataFrame, snapB: DataFrame): DataFrame =
    queries.Profile.embedDrift(snapA, snapB)

  // ---- Sources / sinks ----
  val sources: graft.sources.Sources.type = graft.sources.Sources
  val sinks: graft.sources.Sinks.type = graft.sources.Sinks

  // ---- Scale utilities (sketches, skew mitigation) ----
  val scale: graft.ops.ScaleOps.type = graft.ops.ScaleOps

  /** Broadcast as-of join (metadata-scale state histories, binary-search
    * kernel) — see [[graft.ops.AsOfJoin.asOfJoin]]; for big-states use
    * [[asOfJoinBig]]. */
  def asOfJoin(facts: DataFrame, states: DataFrame, keys: Seq[String],
      factTime: String, stateTime: String, payload: Seq[String]): DataFrame =
    graft.ops.AsOfJoin.asOfJoin(facts, states, keys, factTime, stateTime, payload)

  /** Shuffle as-of join for big fact AND state sides — see
    * [[graft.ops.AsOfJoin.asOfJoinBig]]. */
  def asOfJoinBig(facts: DataFrame, states: DataFrame, keys: Seq[String],
      factTime: String, stateTime: String, payload: Seq[String]): DataFrame =
    graft.ops.AsOfJoin.asOfJoinBig(facts, states, keys, factTime, stateTime, payload)

  /** Install graft's SQL functions on a live session (see
    * [[GraftExtensions]] for the config-based path). */
  def install(spark: SparkSession): Unit = GraftExtensions.register(spark)

  /** Top-k rows per key via the custom bounded-heap operator
    * ([[graft.plans.TopKPerKeyNode]]): shuffles at most k rows per key
    * per input partition instead of sorting and shuffling everything.
    * Appends a `rank` column (1..k in `orderBy` order). Sessions built
    * with [[GraftExtensions]] get this automatically for the
    * `row_number() <= k` window idiom. */
  def topKPerKey(
      df: DataFrame,
      keys: Seq[org.apache.spark.sql.Column],
      orderBy: Seq[org.apache.spark.sql.Column],
      k: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.graftbridge.Bridge
    val keyExprs = keys.map(Bridge.convertedExpression(df.sparkSession, _))
    val orderExprs = orderBy.map(Bridge.convertedExpression(df.sparkSession, _)).map {
      case so: SortOrder => so
      case e => SortOrder(e, Ascending)
    }
    Bridge.ofRows(df.sparkSession,
      graft.plans.TopKPerKeyNode(keyExprs, orderExprs, k,
        graft.plans.TopKPerKeyNode.rankAttribute(), Bridge.logicalPlan(df)))
  }
}
