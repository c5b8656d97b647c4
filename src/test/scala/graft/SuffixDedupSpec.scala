package graft

/** D21 [[graft.queries.SuffixDedup.dupSpansSuffix]]: the suffix-array
  * rank-doubling ExactSubstr must agree with the md5-gram form
  * (D14b) span-for-span — on planted cases, on adversarial
  * shared-prefix strings, and on the real corpus — while using no
  * hash anywhere in the decision path. */
class SuffixDedupSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def spans(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  test("exact extents on a planted mid-doc duplicate (D14b's case)") {
    val shared = "0123456789ABCDEFGHIJKLMNOPQRS!"
    val docs = Seq(
      (1L, "aaaaaaaaaa" + shared + "zzzzzzzzzz"),
      (2L, "bbbbbbbbbb" + shared + "yyyyyyyyyy"))
      .toDF("doc_id", "text")
    val out = spans(Graft.dupSpansSuffix(docs, k = 20))
    assert(out == Seq((1L, 11L, 40L, 11L), (2L, 11L, 40L, 11L)), out)
  }

  test("agrees with the md5-gram form on adversarial near-miss prefixes") {
    // strings engineered to agree on long prefixes and diverge at
    // char k-1, k, k+1 — the boundary the overlapping final windows
    // must resolve exactly; plus self-repetition and a doc of one
    // repeated char (maximally overlapping duplicated grams)
    val k = 7
    val docs = Seq(
      (1L, "abcdefXabcdefY"),        // "abcdefX" at 1 shared with 2/4; the
                                     // copy at 8 diverges at char 7 ("Y")
      (2L, "abcdefXabcdefX"),        // 7-char repeat within one doc
      (3L, "zzzzzzzzzzzzzzzz"),      // 16x one char: every gram duplicated
      (4L, "abcdefXtrailing data"),  // shares the 7-gram with doc 2
      (5L, "short"),                 // < k: no output
      (6L, ""))                      // empty
      .toDF("doc_id", "text")
    val sa = spans(graft.queries.SuffixDedup.dupSpansSuffix(docs, k))
    val md = spans(graft.queries.Dedup.dupSpansChar(docs, k))
    assert(sa == md, s"sa=$sa md=$md")
    assert(sa.map(_._1).toSet == Set(1L, 2L, 3L, 4L), sa)
    // doc 1's span covers only the FIRST "abcdef?" copy extended to
    // char 13 ("abcdef" + one more shared char reaches 12+1): the
    // second copy's 7-gram "abcdefY" occurs once -> grams starting
    // at 8 are unique, span = [1, 13]
    assert(sa.find(_._1 == 1L).get == ((1L, 1L, 13L, 7L)), sa)
  }

  test("differential vs D14b on the sf0.001 corpus, two gram widths") {
    val docs = Tables.documents(spark, sfDir)
    for (k <- Seq(12, 20)) {
      val sa = spans(graft.queries.SuffixDedup.dupSpansSuffix(docs, k))
      val md = spans(graft.queries.Dedup.dupSpansChar(docs, k))
      assert(sa == md, s"k=$k: ${sa.size} vs ${md.size} spans")
      assert(sa.nonEmpty, s"k=$k: premise — corpus must have dup spans")
    }
  }

  test("k=2 degenerate single round; null text treated as empty") {
    val docs = Seq((1L, "abab"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val sa = spans(graft.queries.SuffixDedup.dupSpansSuffix(docs, k = 2))
    val md = spans(graft.queries.Dedup.dupSpansChar(docs, k = 2))
    assert(sa == md, s"sa=$sa md=$md")
    // grams: "ab"(1), "ba"(2), "ab"(3) — dup starts {1, 3}, gap
    // 2 <= k, so one merged span [1, 4] with 2 merged starts
    assert(sa == Seq((1L, 1L, 4L, 2L)), sa)
  }

  test("non-ASCII text fails loudly instead of aliasing the base pack") {
    val docs = Seq((1L, "plain ascii text here, long enough to gram"),
      (2L, "café au lait répété café au lait"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      graft.queries.SuffixDedup.dupSpansSuffix(docs, k = 10).collect()
    }
    assert(e.getMessage.contains("non-ASCII"), e.getMessage)
    // all-ASCII input with the same shape still runs clean
    val ok = graft.queries.SuffixDedup.dupSpansSuffix(
      docs.filter($"doc_id" === 1L), k = 10)
    assert(ok.collect().isEmpty)
  }

  test("partitioning invariance: same spans under adversarial repartition") {
    val docs = Tables.documents(spark, sfDir).repartition(13)
    val sa = spans(graft.queries.SuffixDedup.dupSpansSuffix(docs, k = 20))
    val md = spans(graft.queries.Dedup.dupSpansChar(
      Tables.documents(spark, sfDir), k = 20))
    assert(sa == md)
  }

  /** Brute-force maximal duplicated length: for each (doc, p), the
    * longest L with another occurrence of text[p, p+L-1] anywhere.
    * Every ordered pair of positions is compared char by char in an
    * index loop: the corpus head has ~88M position pairs, too many to
    * build a collection per pair. */
  private def bruteMaxima(docs: Seq[(Long, String)], k: Int): Map[(Long, Long), Long] = {
    val all = for {
      (id, t) <- docs; p <- 1 to t.length
    } yield (id, p, t)
    val ids = all.map(_._1).toArray
    val ps = all.map(_._2).toArray
    val texts = all.map(_._3).toArray
    // length of the common prefix of a[i..] and b[j..]
    def lcp(a: String, i0: Int, b: String, j0: Int): Int = {
      var i = i0; var j = j0
      while (i < a.length && j < b.length && a.charAt(i) == b.charAt(j)) {
        i += 1; j += 1
      }
      i - i0
    }
    (for {
      x <- ids.indices
      m = {
        var best = 0
        var y = 0
        while (y < ids.length) {
          if (ids(y) != ids(x) || ps(y) != ps(x))
            best = math.max(best, lcp(texts(x), ps(x) - 1, texts(y), ps(y) - 1))
          y += 1
        }
        best.toLong
      }
      if m >= k
    } yield (ids(x), ps(x).toLong) -> m).toMap
  }

  test("maximal lengths equal the brute-force scan on adversarial overlaps") {
    val k = 8
    val docs = Seq(
      (1L, "xxABCDEFGHIJKLMNOPxx"),     // 16-char run shared with doc 2
      (2L, "yyyyABCDEFGHIJKLMNOP"),     // ...at a different offset
      (3L, "ABCDEFGHzzABCDEFGHzz"),     // within-doc repeat, run of 12
      (4L, "no duplicates in here"),
      (5L, "xxABCDEFGHIJKLMNOPxq"))     // shares 19 with doc 1, 16 w/ 2
    val expected = bruteMaxima(docs, k)
    val got = graft.queries.SuffixDedup
      .maximalDupPositions(docs.toDF("doc_id", "text"), k, cap = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == expected,
      s"diff: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
  }

  test("maximal lengths match brute force on the sf0.001 corpus head") {
    val docs = Tables.documents(spark, sfDir)
      .filter($"doc_id" < 30).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val k = 20
    val expected = bruteMaxima(docs, k)
    val got = graft.queries.SuffixDedup
      .maximalDupPositions(docs.toDF("doc_id", "text"), k, cap = 4096)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == expected.size && got == expected,
      s"sizes ${got.size} vs ${expected.size}")
    assert(expected.nonEmpty, "premise: corpus head must contain dup spans")
  }

  test("cap clamps reported lengths; spans carry the max over positions") {
    val shared = "A" * 40 // within-doc AND cross-doc runs
    val docs = Seq((1L, shared + "xyz"), (2L, "qq" + shared)).toDF("doc_id", "text")
    val out = graft.queries.SuffixDedup.dupSpansMaximal(docs, k = 10, cap = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    // all-A runs self-overlap: every position's true m is >= 25 => clamped
    assert(out.forall(_._4 == 25L), out.mkString(","))
    // span extents still the k-width merge (D14b semantics)
    assert(out.map(t => (t._1, t._2, t._3)).toSet ==
      Set((1L, 1L, 40L), (2L, 3L, 42L)), out.mkString(","))
  }

  test("planted exact-length pairs reconstruct (the ScaleProbe construction, small)") {
    // pair i shares exactly L = 20 + (i mod 200) chars (md5-block
    // content), then 'A'/'B' divergence + unique tails — the probe
    // segment's corpus at 400 pairs
    val base = spark.range(400).select(col("id").as("i"),
      (lit(20) + pmod(col("id"), lit(200))).cast("int").as("len"))
    def blocks(salt: String, n: Int) = concat((0 until n).map(t =>
      md5(concat_ws("_", col("i"), lit(salt), lit(t)))): _*)
    val prefix = blocks("p", 7).substr(lit(1), col("len"))
    val docs = base.select(col("i"), col("len"), concat(prefix, lit("A"),
        md5(concat_ws("_", col("i"), lit("ta")))).as("text"))
      .select((col("i") * 2).as("doc_id"), col("len"), col("text"))
      .unionByName(base.select(col("i"), col("len"), concat(prefix, lit("B"),
        md5(concat_ws("_", col("i"), lit("tb")))).as("text"))
        .select((col("i") * 2 + 1).as("doc_id"), col("len"), col("text")))
    val out = graft.queries.SuffixDedup
      .dupSpansMaximal(docs.select("doc_id", "text"))
      .join(docs.select(col("doc_id"), col("len").cast("long").as("len")), "doc_id")
    val bad = out.filter(!(col("span_start") === 1L &&
      col("span_end") === col("len") && col("max_dup_len") === col("len") &&
      col("n_dup_grams") === col("len") - 19L))
    assert(out.count() == 800L && bad.count() == 0L,
      s"${out.count()} spans; bad: ${bad.take(3).mkString(",")}")
  }

  test("ladder projection equals dupSpansChar at every rung") {
    val docs = Tables.documents(spark, sfDir)
    val ladder = graft.queries.SuffixDedup
      .dupSpansMaximalLadder(docs, rungs = Seq(20, 28, 56))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val direct = Seq(20, 28, 56).flatMap { r =>
      graft.queries.Dedup.dupSpansChar(docs, r).collect()
        .map(x => (r.toLong, x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    }.toSet
    assert(ladder == direct && ladder.nonEmpty,
      s"ladder ${ladder.size} vs direct ${direct.size}")
  }

  test("doubling schedule: round count matches the plan's lead-windows") {
    import graft.queries.SuffixDedup
    assert(SuffixDedup.doublingRounds(7) == 0)
    assert(SuffixDedup.doublingRounds(14) == 0) // the seed pair is rank_14
    assert(SuffixDedup.doublingRounds(20) == 1) // 14 -> 20
    assert(SuffixDedup.doublingRounds(50) == 2) // 14 -> 28 -> 50
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz0123456789")).toDF("doc_id", "text")
    for (k <- Seq(7, 20, 50)) {
      val leads = "lead\\(r#".r.findAllIn(
        Graft.dupSpansSuffix(docs, k = k)
          .queryExecution.optimizedPlan.toString).length
      assert(leads == SuffixDedup.doublingRounds(k),
        s"k=$k: plan lead-windows $leads != schedule ${SuffixDedup.doublingRounds(k)}")
    }
  }
}
