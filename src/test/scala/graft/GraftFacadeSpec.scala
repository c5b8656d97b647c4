package graft

import org.apache.spark.sql.functions._

/** The facade must work on USER frames (built in-memory here), not just
  * the test tables — this is the "switch from the reference" contract. */
class GraftFacadeSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the cat sat on the mat", "en", "web", 22L),
      (1L, "the cat sat on the mat", "en", "web", 22L), // exact dup of 0
      (2L, "the cat sat on the red mat", "en", "web", 26L), // near dup
      (3L, "completely different words entirely here now", "en", "book", 45L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("wordCount / fingerprints / exactDuplicates on a user frame") {
    val wc = Graft.wordCount(docs).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wc("the") == 6) // docs 0,1,2 contain 'the' twice each
    val dups = Graft.exactDuplicates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(dups.toSet == Set((0L, 0L, false), (1L, 0L, true), (2L, 2L, false), (3L, 3L, false)))
    val fp = Graft.fingerprints(docs).collect()
    assert(fp(0).getString(1) == fp(1).getString(1)) // same md5
    assert(fp(0).getLong(2) == fp(1).getLong(2)) // same poly
    assert(fp(0).getLong(2) != fp(3).getLong(2))
  }

  test("near-dup detectors find the planted pair on a user frame") {
    val jac = Graft.jaccardPairs(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(jac.contains((0L, 1L))) // identical docs, jaccard 1.0
    val mh = Graft.minhashPairs(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.contains((0L, 1L)))
    val sh = Graft.simhashPairs(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(sh.contains((0L, 1L)))
    val ct = Graft.containmentPairs(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ct.contains((0L, 1L)))
  }

  test("curate drops junk, exact dups, and near dups; keeps the clean survivors") {
    import spark.implicits._
    val base = "the cat sat on the mat and the dog lay in the sun " +
      "of a warm morning while the birds sang in the garden"
    val other = "the ship sailed to the port and the crew worked in " +
      "the hold of a great vessel while the waves broke on the bow"
    val corpus = Seq(
      (0L, base, "en", "web", base.length.toLong),
      (1L, base, "en", "web", base.length.toLong), // exact dup of 0
      (2L, base + " today", "en", "web", base.length + 6L), // strong near dup
      (3L, other, "en", "book", other.length.toLong), // distinct, high quality
      (9L, "!!!! ???? ;;;; >>>> <<<<", "en", "web", 24L)) // zero words -> junk
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = Graft.curate(corpus, minQuality = 0.3).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // 0 survives its exact dup (1) and its near dup (2); 3 is unique;
    // 9 fails the quality gate
    assert(kept == Set(0L, 3L), s"kept $kept")
    val keptNoNear = Graft.curate(corpus, minQuality = 0.3, dropNearDups = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNoNear == Set(0L, 2L, 3L), s"kept $keptNoNear")
    // survivors keep their full row + score
    val row = Graft.curate(corpus).filter($"doc_id" === 3L).head
    assert(row.getAs[String]("text").startsWith("the ship"))
    assert(row.getAs[Double]("quality_score") >= 0.3)
    // repetition gate: a spam doc passes the stopword-based quality gate
    // ("the" repeats!) but its dominant 2-gram gives it away
    val spam = corpus.unionByName(Seq(
        (8L, Array.fill(40)("the spam").mkString(" "), "en", "web", 360L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val gated = Graft.curate(spam, minQuality = 0.3, maxRepRatio = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gated == Set(0L, 3L), s"gated $gated")
    val ungated = Graft.curate(spam, minQuality = 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ungated.contains(8L), s"ungated $ungated")
  }

  test("sessionize on a user event frame honours a custom gap") {
    import spark.implicits._
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(min: Int) = new java.sql.Timestamp(ts0.getTime + min * 60000L)
    val ev = Seq(
      (1L, t(0), 5L, "click", 1.0),
      (2L, t(4), 5L, "click", 1.0), // same session at gap=5
      (3L, t(12), 5L, "click", 1.0)) // new session at gap=5
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(Graft.sessionize(ev, gapMinutes = 5).count() == 2)
    assert(Graft.sessionize(ev, gapMinutes = 30).count() == 1)
  }

  test("grep with a custom pattern") {
    val hits = Graft.grep(docs, "cat|mat").collect()
    assert(hits.map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    assert(hits.head.getLong(1) == 2L) // doc 0: 'cat' + 'mat'
  }

  test("round-4 facade methods run end to end on user frames") {
    import spark.implicits._
    assert(Graft.blockDedup(docs).count() == docs.count())
    assert(Graft.modelQuality(docs).columns.toSeq ==
      Seq("doc_id", "n_tokens", "model_score", "keep"))
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(Graft.pageRank(edges).count() == 3)
    assert(Graft.snapshotDiff(docs, docs).filter($"status" =!= "same").count() == 0)
    val emb = Seq((1L, Array(0f, 1f)), (2L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Graft.quantizeInt8(emb).count() == 4)
    assert(Graft.packSequences(docs).count() == docs.count())
    val prof = Graft.profile(docs, Seq("doc_id"), Seq("text"))
    assert(prof.count() == 12) // 6 metrics per column
  }

  test("round-6 facade methods run end to end on user frames") {
    import spark.implicits._
    // incremental dedup: doc 1 is an exact dup of doc 0 — known side
    // {0} flags incoming 1 as known; a batch-internal copy flags later
    val known = docs.filter($"doc_id" === 0L)
    val incoming = docs.filter($"doc_id" =!= 0L)
      .unionByName(Seq((9L, "completely different words entirely here now",
        "en", "book", 45L)).toDF(docs.columns: _*))
    val inc = Graft.dedupIncremental(incoming, known)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2), r.getLong(3))).toMap
    assert(inc(1L) == ((true, false, 0L)), s"dup-of-known got ${inc(1L)}")
    assert(inc(2L) == ((false, false, 1L))) // near-dup text is NOT exact-known
    assert(inc(3L) == ((false, false, 1L)))
    assert(inc(9L) == ((false, true, 0L)), "batch-internal copy of doc 3 not flagged")
    // deciles: 4 docs -> every decile populated at most once, all in 1..10
    val dec = Graft.qualityDeciles(docs).select("decile").as[Long].collect()
    assert(dec.forall(d => d >= 1 && d <= 10) && dec.length == 4)
    // chunking + shuffle order + correlations smoke on user frames
    assert(Graft.chunkTokens(docs, window = 3, stride = 2).count() > docs.count())
    assert(Graft.shuffleOrder(docs, seed = 5L).count() == docs.count())
    val num = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.5)).toDF("x", "y")
    val corr = Graft.correlations(num, Seq("x", "y")).head().getDouble(2)
    assert(corr > 0.99 && corr <= 1.0, s"near-perfect positive corr expected, got $corr")
  }

  test("dedupIncremental accepts the precomputed fingerprint frame directly") {
    import spark.implicits._
    val keys = queries.Dedup.contentKeys(docs.filter($"doc_id" === 0L))
    val viaKeys = Graft.dedupIncremental(docs.filter($"doc_id" =!= 0L), keys)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val viaText = Graft.dedupIncremental(
        docs.filter($"doc_id" =!= 0L), docs.filter($"doc_id" === 0L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaKeys == viaText, "keys-frame path diverged from the text-frame path")
    assert(viaKeys(1L), "dup of known doc not flagged through the key frame")
  }

  test("correlations: listwise NULL deletion and empty-input handling") {
    import spark.implicits._
    // row 1 has a NULL y: it must drop from BOTH columns' moments —
    // the remaining rows are perfectly linear, so corr == ~1.0 (mixed
    // supports would pull it away from 1)
    val withNull = Seq((1.0, Option.empty[Double]), (2.0, Some(4.0)),
      (3.0, Some(6.0)), (4.0, Some(8.0))).toDF("x", "y")
    val c = Graft.correlations(withNull, Seq("x", "y")).head().getDouble(2)
    assert(c > 0.999999, s"listwise-deleted perfect line scored $c")
    // empty and all-NULL inputs return empty frames, not NPEs
    assert(Graft.correlations(withNull.filter($"x" > 99), Seq("x", "y")).count() == 0)
    val allNull = Seq((Option.empty[Double], Option.empty[Double]))
      .toDF("x", "y")
    assert(Graft.correlations(allNull, Seq("x", "y")).count() == 0)
  }

  test("no oracle SQL is poisoned by object-initialization order") {
    // the round-10 full gate caught a CIRCULAR object init: a Q val in
    // TextAnalysis touching LineFilters during construction made
    // LineFilters read TextAnalysis vals that had not initialized yet
    // — Scala silently interpolates those as literal "null" into the
    // oracle SQL (e.g. the GopherWs regex became 'null+'), and only
    // rows built during the poisoned window failed. The cycle is
    // broken (pages-derived rows live in LineFilters); this pins the
    // symptom so a reintroduced cycle fails fast in ANY suite order.
    val oracles = SparkEntry.allQueries.flatMap(q => q.oracle.map(q.name -> _))
    assert(oracles.nonEmpty)
    oracles.foreach { case (name, sql) =>
      assert(!sql.contains("null+") && !sql.contains("nullnull") &&
        !sql.contains("'null'") && !sql.contains("(null)"),
        s"$name oracle contains an init-order null artifact")
    }
    // and the C4/gopher rows carry the real whitespace class
    val ws = graft.queries.TextAnalysis.GopherWs
    assert(ws != null && ws.nonEmpty)
    Seq("q_c4_filters", "q_c4_filters_pages", "q_gopher_rep_pages")
      .foreach { n =>
        val sql = SparkEntry.oracleSql(n)
        assert(sql.contains(ws), s"$n oracle lost the GopherWs class")
      }
  }

  test("round-11 facade methods run on user frames") {
    import spark.implicits._
    // psi: identical snapshots -> exactly zero drift on every column
    val snap = Seq((1.0, "a"), (2.0, "b"), (3.0, "a")).toDF("x", "cat")
    val psi = Graft.psi(snap, snap, Seq("x"), Seq("cat")).collect()
    assert(psi.length == 2 && psi.forall(_.getDouble(4) == 0.0))
    // kmeansLloyd on a user embedding frame
    val emb = Seq((0L, Seq(0f, 0f)), (1L, Seq(9f, 9f)), (2L, Seq(0.1f, 0f)),
      (3L, Seq(9f, 8.9f))).toDF("vec_id", "embedding")
    val km = Graft.kmeansLloyd(emb, k = 2, iters = 2).collect()
    assert(km.length == 4 && km.forall(_.getLong(2) == 2L))
    // dedupCommunities: the exact-dup pair collapses into one
    // community; the unrelated doc stays a singleton (doc 2's minhash
    // edge is borderline-0.5 on this frame — not asserted)
    val dc = Graft.dedupCommunities(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dc(0L) == dc(1L) && dc(3L) == 3L, dc.toString)
    // textRank: 'the' is the hub of this tiny corpus
    assert(Graft.textRank(docs).collect().nonEmpty)
    // dupSpansMaximal: the exact-dup pair shares its full text
    val ms = Graft.dupSpansMaximal(docs, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(4)))
    assert(ms.count(_._2 == 22L) == 2, ms.toSeq.toString) // docs 0 and 1
    // hybridSearchLsh exhaustive == hybridSearch on the user frame
    val hd = Graft.hybridSearch(docs, qMod = 2L, poolK = 3, k = 3)
      .collect().map(_.toSeq).toSeq
    val hl = Graft.hybridSearchLsh(docs, qMod = 2L, poolK = 3, k = 3, bits = 0)
      .collect().map(_.toSeq).toSeq
    assert(hd == hl && hd.nonEmpty)
    graft.ops.Release.sweep(spark)
  }

  test("continuation facade methods run on user frames") {
    import spark.implicits._
    // heavyHitters: 'the' appears twice per duped text — unigram count
    val hh = Graft.heavyHitters(docs, minCount = 4L, n = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh("the") == 6L && !hh.contains("different"), hh.toString)
    // corpusOverlap of a frame with itself is exactly 1
    val co = Graft.corpusOverlap(docs, docs).collect()(0)
    assert(co.getAs[Double]("est_jaccard") == 1.0 &&
      co.getAs[Double]("exact_jaccard") == 1.0)
    // kmvSketch: 3 distinct contents (docs 0/1 collapse)
    assert(Graft.kmvSketch(docs).length == 3)
    // softDedupWeights: the dup pair splits one unit of mass
    val sw = Graft.softDedupWeights(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sw(0L) == 0.5 && sw(1L) == 0.5 && sw(2L) == 1.0)
    // urlFilter on a user url frame
    val uf = Graft.urlFilter(
      Seq((0L, "https://ok.com/a"), (1L, "ftp://bad.com/b")).toDF("doc_id", "url"),
      blockedDomains = Nil).collect().map(r => r.getLong(0) -> r.getAs[Long]("kept")).toMap
    assert(uf == Map(0L -> 1L, 1L -> 0L))
    // annSq8 exhaustive == brute force on a user embedding frame
    // (vec_id 0 and 100 are the % 100 == 0 query set)
    val emb2 = Seq((0L, Seq(1f, 0f)), (100L, Seq(0f, 1f)), (2L, Seq(1f, 0.1f)),
      (3L, Seq(0.1f, 1f))).toDF("vec_id", "embedding")
    val sq = Graft.annSq8(emb2, shortlist = Int.MaxValue).collect().map(_.toSeq).toSeq
    val bf = Graft.annBruteforce(emb2).collect().map(_.toSeq).toSeq
    assert(sq == bf && sq.nonEmpty)
    graft.ops.Release.sweep(spark)
  }

  test("round-13 facade methods run on user frames") {
    import spark.implicits._
    // packBestFit: whole docs, one bin each; stats tie out
    val pk = Graft.packBestFit(docs, contextLen = 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(pk.size == 4 && pk.values.forall(_._2 >= 0L))
    val st = Graft.packBestFitStats(docs, contextLen = 8).head()
    assert(st.getLong(0) > 0L) // n_bins
    // annIvfSq8 exhaustive == brute force on a user embedding frame
    val emb2 = Seq((0L, Seq(1f, 0f)), (100L, Seq(0f, 1f)), (2L, Seq(1f, 0.1f)),
      (3L, Seq(0.1f, 1f))).toDF("vec_id", "embedding")
    val ivf = Graft.annIvfSq8(emb2, cells = 2, probes = 2,
      shortlist = Int.MaxValue).collect().map(_.toSeq).toSeq
    val bf2 = Graft.annBruteforce(emb2).collect().map(_.toSeq).toSeq
    assert(ivf == bf2 && ivf.nonEmpty)
    // unigram: learn on the user frame, tokenize under the fit
    val pieces = Graft.unigramLearnPieces(docs, vocabSize = 30)
    assert(pieces.nonEmpty && pieces.map(_._1).distinct.size == pieces.size)
    val toks = Graft.tokenizeDocsUnigram(docs, pieces).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(toks(0L) == toks(1L) && toks.values.forall(_ > 0L))
    // tokenizerCompare on the user frame: per-source census populated
    val cmp = Graft.tokenizerCompare(docs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(cmp("web") > 0L && cmp("book") > 0L)
    // sample-fit facades accept fitFraction (full-fraction no-op path)
    assert(Graft.kmeansLloyd(emb2, k = 2, iters = 1, fitFraction = 1.0)
      .count() > 0L)
    graft.ops.Release.sweep(spark)
  }

  test("corpusMapModel / corpusMapAssign equal CorpusMap.fitModel / assignFrozen") {
    import graft.queries.CorpusMap
    val corpus = Tables.documents(spark, sfDir)
    // non-default arguments, so a dropped or swapped parameter shows
    val model = Graft.corpusMapModel(corpus, dims = 16, cells = 4, iters = 2,
      fitFraction = 0.5)
    val want = CorpusMap.fitModel(corpus, 16, 4, 2, 0.5)
    def plain(m: CorpusMap.CorpusMapModel) =
      (m.centroids.map { case (c, v) => (c, v.toSeq) }, m.cuts, m.dims)
    assert(plain(model) == plain(want))
    assert(model.dims == 16 && model.centroids.size == 4)
    val got = Graft.corpusMapAssign(corpus, model).collect().map(_.toSeq).toSet
    assert(got.nonEmpty &&
      got == CorpusMap.assignFrozen(corpus, want).collect().map(_.toSeq).toSet)
    graft.ops.Release.sweep(spark)
  }
}
