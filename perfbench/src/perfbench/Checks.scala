package perfbench

import graft.mr.KeyValue
import scala.collection.mutable

/** The reference's wc.go and indexer.go map/reduce closures, as the
  * benchmark hands them to `graft.mr.MapReduce.runJob`. */
object MrApps {
  private def fields(text: String): Seq[String] = text.split("[^a-zA-Z]+").toSeq.filter(_.nonEmpty)
  val wcMap: (String, String) => Seq[KeyValue] = (_, text) => fields(text).map(KeyValue(_, "1"))
  val wcReduce: (String, Seq[String]) => String = (_, vs) => vs.size.toString
  val idxMap: (String, String) => Seq[KeyValue] =
    (doc, text) => fields(text).distinct.map(KeyValue(_, doc))
  val idxReduce: (String, Seq[String]) => String =
    (_, vs) => s"${vs.size} ${vs.sorted.mkString(",")}"
  def docName(id: Long): String = f"doc$id%08d"
}

/** Checks of graft's outputs against computations made apart from
  * graft: a single-threaded map/reduce executor, plain-Scala
  * tokenising and block splitting, and the populations the generators
  * planted. Each returns the list of discrepancies (empty = correct);
  * they are pure functions of collected outputs so the self-test can
  * feed them corrupted copies. */
object Checks {
  private def diff[K, V](what: String, got: Map[K, V], want: Map[K, V]): Seq[String] = {
    val missing = want.keySet.diff(got.keySet)
    val extra = got.keySet.diff(want.keySet)
    val wrong = want.keySet.intersect(got.keySet).filter(k => got(k) != want(k))
    val out = Seq(
      missing.headOption.map(k => s"$what: ${missing.size} keys missing, e.g. $k -> ${want(k)}"),
      extra.headOption.map(k => s"$what: ${extra.size} unexpected keys, e.g. $k -> ${got(k)}"),
      wrong.headOption.map(k => s"$what: ${wrong.size} wrong values, e.g. $k: got ${got(k)} want ${want(k)}"))
    out.flatten
  }

  /** mrsequential: map every input, sort the intermediate pairs by key,
    * reduce each key's values in one thread. */
  def sequentialMr(docs: Seq[Doc], map: (String, String) => Seq[KeyValue],
      reduce: (String, Seq[String]) => String): Map[String, String] = {
    val inter = docs.flatMap(d => map(MrApps.docName(d.doc_id), d.text)).sortBy(_.key)
    val out = mutable.HashMap[String, String]()
    var i = 0
    while (i < inter.size) {
      var j = i
      while (j < inter.size && inter(j).key == inter(i).key) j += 1
      out(inter(i).key) = reduce(inter(i).key, inter.slice(i, j).map(_.value))
      i = j
    }
    out.toMap
  }

  def words(text: String): Array[String] = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)

  def mrJob(what: String, got: Seq[(String, String)], docs: Seq[Doc],
      map: (String, String) => Seq[KeyValue], reduce: (String, Seq[String]) => String): Seq[String] =
    dupKeys(what, got.map(_._1)) ++ diff(what, got.toMap, sequentialMr(docs, map, reduce))

  private def dupKeys[K](what: String, keys: Seq[K]): Seq[String] =
    if (keys.distinct.size != keys.size) Seq(s"$what: ${keys.size - keys.distinct.size} repeated keys")
    else Nil

  def wordCount(got: Seq[(String, Long)], docs: Seq[Doc]): Seq[String] = {
    val want = mutable.HashMap[String, Long]().withDefaultValue(0L)
    docs.foreach(d => words(d.text).foreach(w => want(w) += 1))
    dupKeys("word_count", got.map(_._1)) ++ diff("word_count", got.toMap, want.toMap)
  }

  /** (word -> (n_docs, comma-joined d%06d ids, truncated)) */
  def invertedIndex(got: Seq[(String, (Long, String, Boolean))], docs: Seq[Doc]): Seq[String] = {
    val post = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    docs.sortBy(_.doc_id).foreach { d =>
      words(d.text).distinct.foreach(w => post.getOrElseUpdate(w, mutable.ArrayBuffer()) += d.doc_id)
    }
    val want = post.map { case (w, ids) =>
      w -> ((ids.size.toLong, ids.map(i => f"d$i%06d").mkString(","), false))
    }.toMap
    dupKeys("inverted_index", got.map(_._1)) ++ diff("inverted_index", got.toMap, want)
  }

  /** Near-duplicate pairs: exactly the pairs inside planted families. */
  def familyPairs(c: Corpus): Set[(Long, Long)] =
    c.family.toSeq.groupBy(_._2).values.flatMap { members =>
      val ids = members.map(_._1).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

  def minhashPairs(got: Seq[(Long, Long, Double)], c: Corpus): Seq[String] = {
    val want = familyPairs(c)
    val g = got.map(p => (p._1, p._2)).toSet
    val low = got.filter(_._3 < 0.5)
    Seq(
      (want -- g).headOption.map(p => s"minhash_pairs: ${(want -- g).size} planted pairs not found, e.g. $p"),
      (g -- want).headOption.map(p => s"minhash_pairs: ${(g -- want).size} unplanted pairs reported, e.g. $p"),
      low.headOption.map(p => s"minhash_pairs: est_jaccard < 0.5 reported: $p"),
      if (g.size != got.size) Some("minhash_pairs: repeated pairs") else None).flatten
  }

  /** Incremental near-dup flags for the incoming side: a planted doc is
    * near-known when its family has a known member, near-in-batch when
    * it has an incoming member with a smaller id; keep = neither. */
  def incrementalFlags(c: Corpus): Map[Long, (Boolean, Boolean, Long)] = {
    val members = c.family.toSeq.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    c.docs.map(_.doc_id).filterNot(c.known).map { id =>
      val fam = c.family.get(id).map(members).getOrElse(Nil).filter(_ != id)
      val nk = fam.exists(c.known)
      val nb = fam.exists(o => !c.known(o) && o < id)
      id -> ((nk, nb, if (nk || nb) 0L else 1L))
    }.toMap
  }

  def incremental(got: Seq[(Long, (Boolean, Boolean, Long))], c: Corpus): Seq[String] =
    dupKeys("incremental_minhash", got.map(_._1)) ++
      diff("incremental_minhash", got.toMap, incrementalFlags(c))

  /** Per doc (n_blocks, n_kept) of 8-word blocks, first occurrence in
    * (doc_id, block index) order kept. */
  def blocks(docs: Seq[Doc]): Map[Long, (Long, Long)] = {
    val seen = mutable.HashSet[String]()
    docs.sortBy(_.doc_id).flatMap { d =>
      val w = words(d.text)
      if (w.isEmpty) None
      else {
        val bs = w.grouped(8).map(_.mkString(" ")).toSeq
        Some(d.doc_id -> ((bs.size.toLong, bs.count(seen.add).toLong)))
      }
    }.toMap
  }

  /** Excised blocks must lie between what the generator planted for
    * certain (every whole base block of an exact copy or twin, every
    * repeat of a boilerplate header) and that plus one block per planted
    * twin and per 2000 docs of chance repeats. */
  def blockDedup(got: Seq[(Long, (Long, Long))], c: Corpus): Seq[String] = {
    val want = blocks(c.docs)
    val excised = got.map { case (_, (n, k)) => n - k }.sum
    val planted = c.docs.filter(_.doc_id > c.nBase)
    val lo = planted.map { d =>
      val root = c.docs(c.family(d.doc_id).toInt - 1)
      words(root.text).length / 8
    }.sum.toLong
    val hi = lo + c.boilerplated + planted.size + c.docs.size / 2000
    val bound =
      if (excised < lo || excised > hi) Seq(s"block_dedup: $excised blocks excised, outside generator bounds [$lo, $hi]")
      else Nil
    dupKeys("block_dedup", got.map(_._1)) ++ diff("block_dedup", got.toMap, want) ++ bound
  }

  /** The shards read back hold exactly the survivors: the known docs
    * plus the incoming docs the planted populations say to keep. */
  def shards(got: Seq[(Long, String)], c: Corpus): Seq[String] = {
    val keep = incrementalFlags(c)
    val want = c.docs.filter(d => c.known(d.doc_id) || keep(d.doc_id)._3 == 1L)
      .map(d => d.doc_id -> d.text).toMap
    dupKeys("write_shards", got.map(_._1)) ++ diff("write_shards", got.toMap, want)
  }

  /** Ingest properties: every planted twin (of a lake doc or of an
    * earlier stream doc) and every planted gate failure is dropped,
    * every other doc kept; the lake ends as seed rows plus survivors;
    * the keyed-state stream reports exactly the twin -> original pairs
    * among streamed docs. */
  def ingestKept(in: Gen.Ingest): Set[Long] =
    in.stream.map(_.doc_id).filterNot(id => in.gateFail(id) || in.twinOf.contains(id)).toSet

  def ingest(survivors: Seq[Long], lakeIds: Seq[Long], in: Gen.Ingest): Seq[String] = {
    val want = ingestKept(in)
    val got = survivors.toSet
    val lakeWant = in.lake.map(_.doc_id).toSet ++ want
    Seq(
      (want -- got).headOption.map(i => s"ingest: ${(want -- got).size} docs to keep were dropped, e.g. $i"),
      (got -- want).headOption.map(i => s"ingest: ${(got -- want).size} planted drops were kept, e.g. $i"),
      if (got.size != survivors.size) Some("ingest: a survivor was delivered twice") else None,
      if (lakeIds.toSet != lakeWant || lakeIds.size != lakeWant.size)
        Some(s"ingest: lake holds ${lakeIds.size} rows (${lakeIds.toSet.size} ids), want ${lakeWant.size}")
      else None).flatten
  }

  def nearDup(hits: Seq[(Long, Long)], in: Gen.Ingest): Seq[String] = {
    val streamed = in.stream.map(_.doc_id).toSet
    val want = in.twinOf.filter { case (_, o) => streamed(o) }.toSet
    val got = hits.toSet
    Seq(
      (want -- got).headOption.map(p => s"near_dup_stream: ${(want -- got).size} planted twins not flagged, e.g. $p"),
      (got -- want).headOption.map(p => s"near_dup_stream: ${(got -- want).size} unplanted hits, e.g. $p")).flatten
  }
}
