package perfbench

import java.nio.file.Paths
import scala.collection.mutable

/** Self-test of the benchmark's own checks. Runs each workload once on
  * a small input, confirms that every check passes on graft's real
  * outputs, then feeds the checks copies with one deliberate corruption
  * each (a planted pair dropped, a count off by one, a row changed) and
  * confirms that the check it targets fails.
  *
  * Usage: perfbench.SelfTest --dir DIR --cores C */
object SelfTest {
  private val failures = mutable.ArrayBuffer[String]()

  private def expect(what: String, errors: Seq[String], failing: Option[String]): Unit = {
    val ok = failing match {
      case None => errors.isEmpty
      case Some(tag) => errors.exists(_.startsWith(tag))
    }
    println(s"${if (ok) "PASS" else "FAIL"} $what" +
      (if (ok) "" else s" (errors: ${errors.take(3).mkString("; ")})"))
    if (!ok) failures += what
  }

  private def bump(s: String): String = (s.toLong + 1).toString

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val dir = Paths.get(a("dir"))
    val spark = Main.session(a("cores").toInt, dir)
    val t = new Tracer(None)

    val cw = new CorpusWorkload(spark, seed = 7, nBase = 400)
    cw.setup(dir.resolve("corpus-in"))
    cw.pass(t, dir.resolve("corpus-in"), dir.resolve("corpus-out"))
    val co = cw.collect(dir.resolve("corpus-out"))
    val c = cw.input
    expect("corpus: graft's outputs pass every check", co.run(c), None)
    val (w0, n0) = co.wc.head
    expect("mr_wordcount: one count off by one",
      co.copy(wc = co.wc.updated(0, (w0, bump(n0)))).run(c), Some("mr_wordcount"))
    val (k0, v0) = co.ix.head
    expect("mr_indexer: one row changed",
      co.copy(ix = co.ix.updated(0, (k0, v0 + ",doc99999999"))).run(c), Some("mr_indexer"))
    val (cw0, cn0) = co.wcount.head
    expect("word_count: one count off by one",
      co.copy(wcount = co.wcount.updated(0, (cw0, cn0 + 1))).run(c), Some("word_count"))
    val (iw0, (in0, id0, it0)) = co.inv.head
    expect("inverted_index: one n_docs off by one",
      co.copy(inv = co.inv.updated(0, (iw0, (in0 + 1, id0, it0)))).run(c), Some("inverted_index"))
    expect("minhash_pairs: one planted pair dropped",
      co.copy(pairs = co.pairs.tail).run(c), Some("minhash_pairs"))
    val twin = co.flags.indexWhere(_._2._3 == 0L)
    expect("incremental_minhash: one planted twin kept",
      co.copy(flags = co.flags.updated(twin, (co.flags(twin)._1, (false, false, 1L)))).run(c),
      Some("incremental_minhash"))
    val (b0, (bn0, bk0)) = co.blocks.head
    expect("block_dedup: one n_kept off by one",
      co.copy(blocks = co.blocks.updated(0, (b0, (bn0, bk0 - 1)))).run(c), Some("block_dedup"))
    expect("write_shards: one survivor missing from the shards",
      co.copy(shards = co.shards.tail).run(c), Some("write_shards"))

    val iw = new IngestWorkload(spark, seed = 7, nLake = 100, nStream = 80, rate = 3000.0)
    iw.setup(dir.resolve("ingest-in"))
    iw.pass(t, dir.resolve("ingest-in"), dir.resolve("ingest-out"))
    val io = iw.outputs
    val in = iw.input
    expect("ingest: graft's outputs pass every check", io.run(in), None)
    expect("ingest: one survivor dropped", io.copy(survivors = io.survivors.tail).run(in), Some("ingest"))
    expect("ingest: one planted twin kept",
      io.copy(survivors = io.survivors :+ in.twinOf.keys.min).run(in), Some("ingest"))
    expect("ingest: one lake row missing", io.copy(lakeIds = io.lakeIds.tail).run(in), Some("ingest"))
    expect("near_dup_stream: one planted twin not flagged",
      io.copy(hits = io.hits.tail).run(in), Some("near_dup_stream"))

    spark.stop()
    println(if (failures.isEmpty) "self-test passed" else s"self-test FAILED: ${failures.mkString(", ")}")
    sys.exit(if (failures.isEmpty) 0 else 1)
  }
}
