package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input connectors (SURVEY.md §2 "sources"). The reference framework's
  * input surface is a directory of text files handed to Map as
  * (filename, contents) pairs (/root/reference/src/main/mrsequential.go);
  * `textCorpus` reproduces exactly that shape. The rest are the schema'd
  * loaders a pipeline needs around it.
  *
  * Scale notes: schemas are always EXPLICIT (inference is a full extra
  * pass over 100 TB); text files split per-file (wholetext) or per-line;
  * line-oriented reads are splittable and parallelize per HDFS block.
  */
object Sources {

  /** The reference contract: one (docName, contents) record per file.
    * Feed straight into [[graft.mr.MapReduce.runJob]]. */
  def textCorpus(spark: SparkSession, pathGlob: String): Dataset[(String, String)] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(pathGlob)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("doc"),
        col("value").as("contents"))
      .as[(String, String)]
  }

  /** Line-oriented text: one record per line, tagged with its file —
    * the splittable variant for corpora too big for wholetext. */
  def textLines(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.text(pathGlob)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("doc"),
        col("value").as("line"))

  /** The events schema, for line-delimited JSON ingest. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = true)))

  /** JSONL events (batch). Explicit schema; corrupt lines are kept in
    * `_corrupt_record` instead of failing the job (PERMISSIVE). */
  def jsonlEvents(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(eventsSchema.add("_corrupt_record", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** JSONL events as an unbounded stream (Structured Streaming source),
    * for the [[graft.streaming.Streams]] operators. */
  def jsonlEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventsSchema).json(dir)

  /** CSV with an explicit schema and a header row. */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** ORC — the other columnar lake format (Hive-ecosystem
    * interchange). Same splittable, predicate-pushdown-capable scan
    * path as parquet in Spark; schema explicit as everywhere else. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)
}

/** Output connectors (SURVEY.md §2 "sinks"). */
object Sinks {

  /** Partitioned parquet — THE at-scale sink: partition columns become
    * directories (partition pruning on read), files sized by upstream
    * partitioning. Exactly-once via Spark's task-commit protocol, the
    * same guarantee the reference got from its atomic output rename
    * (/root/reference/src/mr/worker.go temp-file + rename). */
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Line-delimited JSON, for interchange with non-columnar consumers. */
  def jsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** CSV with header. */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** ORC, optionally hive-partitioned (same layout contract as
    * [[parquet]]). */
  def orc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Compact a parquet dataset into files sized toward `targetFileMB`
    * (count derived from the current on-disk footprint via the Hadoop
    * FS API, so it works on HDFS/S3 paths too). The classic hygiene
    * pass after streaming micro-batches or over-parallel shuffles: at
    * 100 TB, millions of kilobyte files tax the namenode, the planner,
    * and every scan's task-scheduling overhead. Writes to `dst` —
    * compacting in place would read and clobber the same files.
    *
    * Hive-partitioned datasets MUST pass their partition columns in
    * `partitionBy`, or the rewrite flattens the dt=.../ directory
    * layout into plain data columns and every downstream partition-
    * pruned scan becomes a full scan. */
  def compactParquet(
      spark: SparkSession,
      src: String,
      dst: String,
      targetFileMB: Int = 256,
      partitionBy: Seq[String] = Nil): Unit = {
    val p = new org.apache.hadoop.fs.Path(src)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1L, (bytes + targetFileMB * 1024L * 1024L - 1) /
      (targetFileMB * 1024L * 1024L)).toInt
    val df = spark.read.parquet(src)
    val repart =
      if (partitionBy.isEmpty) df.repartition(nFiles)
      // cluster by partition columns so each output directory gets
      // coherent files instead of nFiles fragments per partition
      else df.repartition(nFiles, partitionBy.map(org.apache.spark.sql.functions.col): _*)
    val w = repart.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dst)
  }

  /** The lake SIGNATURE STORE's row layout: per doc, the D1 exact
    * content keys (k1 = md5, k2 = poly hash of normalized text) plus
    * the D13b MinHash signature (s0..s{k-1}; null for docs too short
    * to shingle). ~150 bytes/doc — the "store the keys precomputed,
    * never rescan text" artifact both incremental dedup flows read:
    * `dedupIncremental` takes the (k1, k2) columns, and
    * `dedupIncrementalMinhash` the (doc_id, s0..) columns, directly. */
  def signatureFrame(docs: DataFrame): DataFrame =
    withContentKeys(docs, graft.queries.Dedup.minhashSignatures(docs))

  private def withContentKeys(docs: DataFrame, sigs: DataFrame): DataFrame = {
    val (k1, k2) = graft.queries.Dedup.contentKeyCols(col("text"))
    docs.select(col("doc_id"), k1.as("k1"), k2.as("k2"))
      .join(sigs, Seq("doc_id"), "left")
  }

  /** Append one ingest batch's signature rows to the signature store
    * at `dir` — the LAKE-APPEND flow: call this on each batch's
    * SURVIVORS after incremental dedup, and the next batch's
    * [[readSignatures]] sees them as `known`
    * ([[graft.streaming.Streams.ingestStreamAppend]] wires this into
    * foreachBatch). Parquet append: each batch lands as new files, no
    * rewrite of prior state; run [[compactParquet]] periodically when
    * micro-batches leave many small files. */
  def appendSignatures(docs: DataFrame, dir: String): Unit =
    signatureFrame(docs).write.mode(SaveMode.Append).parquet(dir)

  /** [[appendSignatures]] for one micro-batch's checkpointed survivors:
    * their signatures skip [[graft.queries.Dedup]]'s memo (see
    * `Dedup.minhashSignaturesOnce`). */
  private[graft] def appendBatchSignatures(docs: DataFrame, dir: String): Unit =
    withContentKeys(docs, graft.queries.Dedup.minhashSignaturesOnce(docs))
      .write.mode(SaveMode.Append).parquet(dir)

  /** Append one batch's GRAM-KEY rows to the span-dedup key store at
    * `dir` — the D27 lake artifact: per distinct word-n-gram md5, the
    * batch-first occurrence as the packed D16 keeper key (~24 B/gram,
    * never text). Call on each ingested batch (its RAW text — the
    * lake must remember what it has seen, not what survived) and the
    * next batch's [[readGramKeys]] is sufficient state for exact
    * ExactSubstr audit/excision against the whole accumulated lake
    * ([[graft.queries.SpanIncremental]]). Append-only: a gram seen by
    * several batches carries one row per batch; readers re-merge by
    * min. At scale, bucket this store by `h` (bucketBy on write) so
    * batch probes co-locate, and [[compactParquet]] periodically. */
  def appendGramKeys(docs: DataFrame, dir: String,
      n: Int = graft.queries.Dedup.DupSpanN): Unit =
    graft.queries.SpanIncremental.gramKeyFrame(docs, n)
      .write.mode(SaveMode.Append).parquet(dir)

  /** The current gram-key store at `dir`, or an empty (h, keeper)
    * frame when nothing has been appended yet. */
  def readGramKeys(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("h", StringType, nullable = true),
      StructField("keeper", LongType, nullable = true)))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** D28's per-cell lake state: append a batch's assigned vectors
    * ((vec_id, embedding, n2, cell, c_cos) —
    * [[graft.queries.Similarity.semanticDedupIncrementalAssigned]]'s
    * input contract) under the FROZEN cell fit, partitioned by `cell`
    * so the next batch's probe prunes to the cells it actually hits —
    * the embedding-granularity mirror of [[appendGramKeys]]. The cell
    * fit itself is bounded driver state (k×dims doubles) the caller
    * persists beside the store (a codebook sidecar, the E7 disk-index
    * convention). Append-only; replayed batches re-append identical
    * rows and the reader's consumer treats vec_id as the identity
    * (the id-disjointness guard fails loudly on a clash). */
  def appendCellVectors(assigned: DataFrame, dir: String): Unit =
    assigned.select(col("cell"), col("vec_id"), col("embedding"),
        col("n2"), col("c_cos"))
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(dir)

  /** The current per-cell vector store at `dir`, or an empty frame of
    * the same schema when nothing has been appended yet. */
  def readCellVectors(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = true),
      StructField("n2", DoubleType, nullable = false),
      StructField("c_cos", DoubleType, nullable = true),
      StructField("cell", LongType, nullable = true)))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // a fresh lake may be a MISSING dir or an EXISTING-but-empty one
    // (a caller's mkdir-ed staging root): both mean "nothing appended"
    if (fs.exists(p) && fs.listStatus(p).nonEmpty)
      spark.read.parquet(dir).withColumn("cell", col("cell").cast("long"))
        .select("vec_id", "embedding", "n2", "c_cos", "cell")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** The current signature store at `dir`, or an empty frame of the
    * same schema when nothing has been appended yet (the first batch
    * of a fresh lake). */
  def readSignatures(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(
      Seq(StructField("doc_id", LongType, nullable = false),
        StructField("k1", StringType, nullable = true),
        StructField("k2", LongType, nullable = true)) ++
        (0 until graft.queries.Dedup.MinhashK).map(i =>
          StructField(s"s$i", LongType, nullable = true)))
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Materialize a corpus as TRAINING-SHARD artifacts — the loader-
    * facing tail of the H4 sharding (and of the D18 producing
    * pipeline, which ends at assignments): hive-partitioned parquet
    * with ONE coherent file per shard directory (`shard_id=N/`), plus
    * a single-file manifest the loader trusts:
    *
    *   manifest: (shard_id, n_docs, n_tokens, fingerprint)
    *
    * `fingerprint` = bit_xor of xxhash64(doc_id, text) over the
    * shard's docs — commutative, so it is partition-order independent
    * (deterministic run to run on a cluster) yet any lost, duplicated,
    * or altered doc flips it. [[verifyShards]] recomputes the same
    * aggregate from the written data and diffs it against the
    * manifest: the cheap narrow-scan integrity gate a loader runs
    * before feeding a trainer, and the detector for a half-written or
    * clobbered shard directory.
    *
    * Scale shape: the H4 distributed prefix sum assigns shards, one
    * `repartition(shard_id)` clusters each shard into exactly one
    * task (shards are token-budget-bounded, so file sizes are too),
    * and the manifest is a map-side-combinable agg on the shard-id
    * domain. Returns the manifest. */
  def writeShards(docs: DataFrame, dir: String, budget: Long = 512): DataFrame = {
    val assigned = graft.queries.Shards.packShards(docs, budget)
      .select(col("doc_id"), col("n_tokens"), col("shard_id"))
    writeShardRows(
      docs.select(col("doc_id"), col("text")).join(assigned, "doc_id"), dir)
  }

  /** [[writeShards]] carried to token IDS — "corpus in, trainable
    * token ids out": each doc's `tokens array<int>` (the C13 greedy
    * encoder under [[graft.queries.Tokenizer.vocab]]'s id table, per
    * DISTINCT word with the rank table broadcast) lands alongside its
    * text, `n_tokens` = len(tokens) is the BPE count (so shard budgets
    * are TOKENIZER-token budgets, what a trainer's context window
    * actually holds — the H8b correction applied to the artifact), and
    * the shard assignment is the same H4 distributed prefix sum over
    * those counts in doc_id order. The all-column fingerprint covers
    * the token arrays, so [[verifyShards]] certifies the ids a loader
    * will feed the trainer, not just the text they came from. */
  def writeTokenizedShards(docs: DataFrame, dir: String,
      merges: Seq[((String, String), String)] =
        graft.queries.Tokenizer.FixedMerges,
      budget: Long = 512L): DataFrame =
    writeTokenizedRows(docs,
      graft.queries.Tokenizer.tokenizeDocs(docs, merges), dir, budget)

  /** [[writeTokenizedShards]] in BYTE-FALLBACK mode — the C28/C30
    * loader posture carried to the artifact (the r14 verdict's named
    * gap: byte ids stopped at the query layer): each doc's tokens are
    * [[graft.queries.ByteTokenizer.tokenizeDocsBytes]] ids (UNK-free,
    * whitespace/punctuation priced as real tokens — H8c's honest
    * budget arithmetic, since n_tokens = len(tokens) under the same
    * encoder packSequencesBytes weighs with), shard budgets count
    * those byte-token lengths, and the all-column fingerprint
    * certifies the id arrays. decode() of any shard's tokens
    * reproduces its text byte-for-byte (ShardSinkSpec). */
  def writeTokenizedShardsBytes(docs: DataFrame, dir: String,
      merges: Seq[((String, String), String)] =
        graft.queries.ByteTokenizer.LearnedByteMerges,
      budget: Long = 512L): DataFrame =
    writeTokenizedRows(docs,
      graft.queries.ByteTokenizer.tokenizeDocsBytes(docs, merges), dir, budget)

  /** Shared tail of the two tokenized writers: H4 prefix-sum shard
    * assignment over `toks`' (doc_id, tokens, n_tokens) in doc_id
    * order, then [[writeShardRows]]. */
  private def writeTokenizedRows(
      docs: DataFrame, toks: DataFrame, dir: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val assigned = graft.ops.ScaleOps.prefixSum(
      toks.select(col("doc_id"), col("n_tokens")),
      "doc_id", "n_tokens", "cum_tokens")
      .select(col("doc_id"),
        expr(s"(cum_tokens - n_tokens) div $budget").as("shard_id"))
    writeShardRows(
      docs.select(col("doc_id"), col("text"))
        .join(toks, "doc_id").join(assigned, "doc_id"), dir)
  }

  /** The shard writer both [[writeShards]] (doc_id-order sharding) and
    * [[graft.queries.Curation.produceShards]] (epoch-order capstone
    * artifact) share: `rows` must carry (doc_id, text, n_tokens,
    * shard_id); any extra columns (e.g. the epoch `pos`) land in the
    * data files. Writes `dir/data` (hive-partitioned, one coherent
    * file per shard) + `dir/manifest`, returns the manifest.
    *
    * The manifest is computed from a RE-READ of the just-written
    * `dir/data` — the bytes the loader will actually consume — never
    * from a second evaluation of the input plan: a nondeterministic
    * upstream would otherwise certify a manifest that disagrees with
    * the written files, which is exactly the corruption verifyShards
    * exists to catch. */
  def writeShardRows(rows: DataFrame, dir: String): DataFrame = {
    val spark = rows.sparkSession
    rows.repartition(col("shard_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("shard_id")
      .parquet(s"$dir/data")
    shardSummary(readShards(spark, dir)).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/manifest")
    spark.read.parquet(s"$dir/manifest")
  }

  /** The per-shard integrity aggregate both [[writeShards]] and
    * [[verifyShards]] compute — one definition, so writer and verifier
    * cannot drift. The fingerprint hashes EVERY data column (in sorted
    * name order, so writer/reader column orders can't drift it), not
    * just (doc_id, text): a corrupted `pos` (the capstone's loader
    * sort key) or token array must flip it. */
  private def shardSummary(rows: DataFrame): DataFrame = {
    val dataCols = rows.columns.filterNot(_ == "shard_id").sorted
    rows.groupBy("shard_id").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("n_tokens"),
      expr(s"bit_xor(xxhash64(${dataCols.mkString(", ")}))").as("fingerprint"))
  }

  /** A written shard set, for a consumer: (doc_id, text, n_tokens,
    * shard_id), partition-pruned when filtered on shard_id. */
  def readShards(spark: SparkSession, dir: String): DataFrame =
    // partition-column inference types shard_id as int; pin long so
    // consumers and the manifest diff see one type
    spark.read.parquet(s"$dir/data")
      .withColumn("shard_id", col("shard_id").cast("long"))

  /** Diff the written shard data against a manifest frame: one row per
    * disagreeing shard (missing, extra, or content-changed). Empty =
    * the artifact is intact. */
  def diffManifest(data: DataFrame, manifest: DataFrame): DataFrame = {
    val a = shardSummary(data).withColumnRenamed("n_docs", "a_docs")
      .withColumnRenamed("n_tokens", "a_tokens")
      .withColumnRenamed("fingerprint", "a_fp")
    a.join(manifest, Seq("shard_id"), "full")
      .filter(col("a_docs").isNull || col("n_docs").isNull ||
        col("a_docs") =!= col("n_docs") ||
        col("a_tokens") =!= col("n_tokens") ||
        col("a_fp") =!= col("fingerprint"))
      .select("shard_id")
  }

  /** The loader's pre-training integrity gate over a [[writeShards]]
    * artifact: recompute the shard summaries from `dir/data` and diff
    * against `dir/manifest`. Returns the disagreeing shard_ids (empty
    * = intact). */
  def verifyShards(spark: SparkSession, dir: String): DataFrame =
    diffManifest(readShards(spark, dir),
      spark.read.parquet(s"$dir/manifest"))

  /** Bucketed external table: the data lands pre-shuffled (and
    * per-bucket sorted) on `bucketCols`, so every later equi-join or
    * aggregation on those keys plans WITHOUT an exchange — at 100 TB,
    * paying one shuffle at ingest instead of one per downstream query
    * is the difference between a co-located join and re-shuffling the
    * fact table daily. Both join sides must use the same bucket count.
    * (BucketedJoinSpec pins the no-exchange plan shape.) */
  def bucketedTable(
      df: DataFrame,
      name: String,
      path: String,
      buckets: Int,
      bucketCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path)
      .saveAsTable(name)
}
