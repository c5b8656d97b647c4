package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** What one timed pass produced: its wall time, the latency samples of
  * the results it delivered, the time of each call into graft, and the
  * operations it attempted and saw fail. `layer` carries per-pass
  * workload-specific per-layer numbers (streaming, mr ratios). */
final case class PassOut(
    wallS: Double,
    latencies: Seq[Double],
    calls: Seq[(String, Double)],
    attempted: Int,
    failed: Int,
    layer: Map[String, Double] = Map.empty)

trait Workload {
  /** Generate the inputs under `in` (fresh) and seed what graft reads. */
  def setup(in: Path): Unit
  /** One pass over the inputs in `in`, results written under `out`. */
  def pass(t: Tracer, in: Path, out: Path): PassOut
  /** Independent checks on the latest pass's outputs; empty = correct. */
  def check(in: Path, out: Path): Seq[String]
  /** Per-call span names, for the per-layer `queries.<name>_s` rows. */
  def callNames: Seq[String]
}

object Workload {
  def rm(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Calls `body`, counting a throw as a failed operation. */
  def attempt(t: Tracer, name: String, calls: mutable.ArrayBuffer[(String, Double)])(body: => Unit): Int =
    try { calls += name -> t.span(name)(body)._2; 0 }
    catch {
      case e: Exception =>
        System.err.println(s"perfbench: $name failed: ${e.getClass.getName}: ${e.getMessage}")
        1
    }
}

/** Data volume: the corpus passes through the reference's MapReduce
  * apps and graft's text, dedup and sink operators, parquet to shards. */
final class CorpusWorkload(spark: SparkSession, seed: Long, nBase: Int) extends Workload {
  import Workload._
  import spark.implicits._
  private var corpus: Corpus = _
  /** Tokens per training shard: ~10 shards for the corpus. */
  private val ShardTokens = nBase * 10L

  val callNames: Seq[String] = Seq("mr_wordcount", "mr_indexer", "word_count", "inverted_index",
    "minhash_pairs", "incremental_minhash", "block_dedup", "write_shards")

  private def write(c: Corpus, dir: Path): Unit =
    spark.createDataset(spark.sparkContext.parallelize(c.docs, spark.sparkContext.defaultParallelism))
      .write.parquet(dir.resolve("corpus").toString)

  def setup(in: Path): Unit = { corpus = Gen.corpus(seed, nBase); write(corpus, in) }

  private def docs(in: Path): DataFrame = spark.read.parquet(in.resolve("corpus").toString)
  private def files(in: Path) =
    docs(in).select(org.apache.spark.sql.functions.format_string("doc%08d", col("doc_id")), col("text"))
      .as[(String, String)]
  private def isKnown = col("doc_id") % 4 === 0 && col("doc_id") <= nBase
  private def save(df: DataFrame, out: Path, name: String): Unit = df.write.parquet(out.resolve(name).toString)
  private def load(out: Path, name: String): DataFrame = spark.read.parquet(out.resolve(name).toString)

  def pass(t: Tracer, in: Path, out: Path): PassOut = {
    val calls = mutable.ArrayBuffer[(String, Double)]()
    val (failed, wall) = t.span("pass") {
      def run(name: String)(body: => Unit): Int = attempt(t, name, calls)(body)
      Seq(
        run("mr_wordcount")(save(graft.mr.MapReduce.runJob(files(in), MrApps.wcMap, MrApps.wcReduce).toDF(),
          out, "mr_wordcount")),
        run("mr_indexer")(save(graft.mr.MapReduce.runJob(files(in), MrApps.idxMap, MrApps.idxReduce).toDF(),
          out, "mr_indexer")),
        run("word_count")(save(graft.Graft.wordCount(docs(in)), out, "word_count")),
        run("inverted_index")(save(graft.Graft.invertedIndex(docs(in)), out, "inverted_index")),
        run("minhash_pairs")(save(graft.Graft.minhashPairs(docs(in)), out, "minhash_pairs")),
        run("incremental_minhash")(save(
          graft.Graft.dedupIncrementalMinhash(docs(in).filter(!isKnown), docs(in).filter(isKnown)),
          out, "flags")),
        run("block_dedup")(save(graft.Graft.blockDedup(docs(in)), out, "block_dedup")),
        // the survivors: the known docs and the incoming docs dedup kept
        run("write_shards")(graft.sources.Sinks.writeShards(
          docs(in).filter(isKnown).unionByName(docs(in).filter(!isKnown)
            .join(load(out, "flags").filter(col("keep") === 1L).select("doc_id"), Seq("doc_id"), "left_semi")),
          out.resolve("shards").toString, ShardTokens))
      ).sum
    }
    PassOut(wall, calls.map(_._2).toSeq, calls.toSeq, callNames.size, failed)
  }

  def input: Corpus = corpus

  def check(in: Path, out: Path): Seq[String] = collect(out).run(corpus)

  /** The latest pass's outputs, read back from `out`. */
  def collect(out: Path): CorpusChecks = {
    def kv(name: String) = load(out, name).as[(String, String)].collect().toSeq
    CorpusChecks(
      kv("mr_wordcount"), kv("mr_indexer"),
      load(out, "word_count").as[(String, Long)].collect().toSeq,
      load(out, "inverted_index").select("word", "n_docs", "docs", "truncated")
        .as[(String, Long, String, Boolean)].collect().toSeq.map(r => r._1 -> ((r._2, r._3, r._4))),
      load(out, "minhash_pairs").as[(Long, Long, Double)].collect().toSeq,
      load(out, "flags").as[(Long, Boolean, Boolean, Long)].collect().toSeq.map(r => r._1 -> ((r._2, r._3, r._4))),
      load(out, "block_dedup").select("doc_id", "n_blocks", "n_kept")
        .as[(Long, Long, Long)].collect().toSeq.map(r => r._1 -> ((r._2, r._3))),
      graft.sources.Sinks.readShards(spark, out.resolve("shards").toString)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
    )
  }

  def wordsEmitted: Long = corpus.docs.map(d => Checks.words(d.text).length.toLong).sum
}

/** The collected corpus outputs, so the self-test can corrupt them. */
final case class CorpusChecks(
    wc: Seq[(String, String)],
    ix: Seq[(String, String)],
    wcount: Seq[(String, Long)],
    inv: Seq[(String, (Long, String, Boolean))],
    pairs: Seq[(Long, Long, Double)],
    flags: Seq[(Long, (Boolean, Boolean, Long))],
    blocks: Seq[(Long, (Long, Long))],
    shards: Seq[(Long, String)]) {
  def run(c: Corpus): Seq[String] =
    Checks.mrJob("mr_wordcount", wc, c.docs, MrApps.wcMap, MrApps.wcReduce) ++
      Checks.mrJob("mr_indexer", ix, c.docs, MrApps.idxMap, MrApps.idxReduce) ++
      Checks.wordCount(wcount, c.docs) ++
      Checks.invertedIndex(inv, c.docs) ++
      Checks.minhashPairs(pairs, c) ++
      Checks.incremental(flags, c) ++
      Checks.blockDedup(blocks, c) ++
      Checks.shards(shards, c)
}
