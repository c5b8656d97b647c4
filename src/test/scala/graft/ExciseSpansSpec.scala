package graft

/** D16 [[graft.queries.Dedup.exciseSpans]] and D9c
  * [[graft.queries.Contamination.decontamSpans]] on hand-built frames:
  * keeper retention, cross-doc and self-repetition excision, full-dup
  * emptying, overlap union (no token double-counts), span extents
  * against planted eval overlap, partitioning invariance. */
class ExciseSpansSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))

  test("exciseSpans keeps the first occurrence, excises the other") {
    // both docs contain "one two three four five six"; doc 1 holds the
    // corpus-global first occurrence of every duplicated gram (smaller
    // doc_id), so doc 1 survives intact and doc 2 loses tokens 1..6
    val docs = Seq(
      (1L, "alpha beta one two three four five six gamma"),
      (2L, "one two three four five six zeta eta theta iota"))
      .toDF("doc_id", "text")
    val out = rows(Graft.exciseSpans(docs, n = 5))
    assert(out == Seq(
      (1L, 9L, 0L, "alpha beta one two three four five six gamma"),
      (2L, 10L, 6L, "zeta eta theta iota")), out)
  }

  test("exciseSpans removes later self-repetitions inside one doc") {
    // "x y z w v" at positions 1 and 9: the p=1 occurrence is the
    // keeper, p=9's span [9,13] is excised
    val docs = Seq(
      (1L, "x y z w v a b c x y z w v"),
      (2L, "totally unrelated words here only once appearing"))
      .toDF("doc_id", "text")
    val out = rows(Graft.exciseSpans(docs, n = 5))
    assert(out == Seq(
      (1L, 13L, 5L, "x y z w v a b c"),
      (2L, 7L, 0L, "totally unrelated words here only once appearing")), out)
  }

  test("exciseSpans empties an exact-duplicate doc; token-less docs keep a row") {
    val docs = Seq(
      (1L, "p q r s t u v"),
      (2L, "p q r s t u v"),
      (3L, "--- 123 ...")) // no letter-run tokens at all
      .toDF("doc_id", "text")
    val out = rows(Graft.exciseSpans(docs, n = 5))
    assert(out == Seq(
      (1L, 7L, 0L, "p q r s t u v"),
      (2L, 7L, 7L, ""),
      (3L, 0L, 0L, "")), out)
  }

  test("grams colliding under the 1e9+7 poly hash are not duplicates") {
    // a ~30-bit gram key birthday-collides into phantom spans at corpus
    // scale (677k phantom span rows at 1M docs); the two planted grams
    // share that key, so only a wider key keeps docs 1 and 2 span-free
    val (a, b) = PolyHashCollision.grams(spark, 5)
    val docs = Seq((1L, a), (2L, b), (3L, "p q r s t"), (4L, "p q r s t"))
      .toDF("doc_id", "text")
    val spans = Graft.dupSpans(docs, n = 5).collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans == Seq((3L, 1L, 5L, 1L), (4L, 1L, 5L, 1L)), spans)
    val out = rows(Graft.exciseSpans(docs, n = 5))
    assert(out == Seq((1L, 5L, 0L, a), (2L, 5L, 0L, b),
      (3L, 5L, 0L, "p q r s t"), (4L, 5L, 5L, "")), out)
  }

  test("exciseSpans degrades a null text to an empty zero-count row") {
    // under legacy sizeOfNull size() returns -1 for null input; the
    // greatest(...) clamp keeps the row at (0, 0, "") either way
    val docs = Seq((1L, "p q r s t u v"), (2L, null))
      .toDF("doc_id", "text")
    val out = rows(Graft.exciseSpans(docs, n = 5))
    assert(out == Seq(
      (1L, 7L, 0L, "p q r s t u v"),
      (2L, 0L, 0L, "")), out)
  }

  test("exciseSpans unions overlapping non-keeper spans (no double counts)") {
    // doc 2's grams at p=1 ("a b c d e") and p=3 ("c d e f g") are each
    // duplicated with their keepers in docs 0 and 1 (keeper = smallest
    // (doc_id, p)); the middle gram at p=2 matches nothing. The
    // non-keeper intervals [1,5] and [3,7] overlap and must union to 7
    // excised tokens (the whole doc), not 5 + 5 = 10
    val docs = Seq(
      (0L, "z1 z2 a b c d e"),  // keeper of "a b c d e" at (0,3)
      (1L, "y1 c d e f g y2"),  // keeper of "c d e f g" at (1,2)
      (2L, "a b c d e f g"))
      .toDF("doc_id", "text")
    val out = rows(Graft.exciseSpans(docs, n = 5))
    // the tokenizer keeps letter runs only, so "z1 z2" reads back "z z"
    assert(out == Seq(
      (0L, 7L, 0L, "z z a b c d e"),
      (1L, 7L, 0L, "y c d e f g y"),
      (2L, 7L, 7L, "")), out)
  }

  test("exciseSpans total excision equals dupSpans coverage minus keeper spans") {
    // sanity: every excised token lies inside SOME dupSpans interval
    val docs = (0L until 30L).map(i =>
      (i, if (i % 7 == 0) "shared run one two three four five tail" + i
          else s"only$i these$i words$i appear$i once$i here$i"))
      .toDF("doc_id", "text")
    val spans = Graft.dupSpans(docs, n = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val excised = Graft.exciseSpans(docs, n = 5).collect()
      .filter(_.getLong(2) > 0).map(r => r.getLong(0))
    assert(excised.nonEmpty)
    excised.foreach { d =>
      assert(spans.exists(_._1 == d), s"doc $d excised but has no dup span")
    }
  }

  test("exciseSpans is partitioning-invariant") {
    val docs = (0L until 40L).map(i =>
      (i, if (i % 10 == 0) "p q r s t u v w"
          else s"unique$i words nothing shared x$i y$i z$i w$i"))
      .toDF("doc_id", "text")
    val a = rows(Graft.exciseSpans(docs.repartition(1), n = 5))
    val b = rows(Graft.exciseSpans(docs.repartition(7), n = 5))
    assert(a == b && a.nonEmpty)
  }

  test("decontamSpans reports the exact planted overlap extent") {
    // eval doc holds "e1 e2 e3 e4 e5 e6 e7 e8 e9" (9 tokens: 8-gram
    // starts at 1 and 2); train doc 1 quotes all 9 tokens at offset 3
    // -> hit starts {4, 5} merge to one span [4, 12]; train doc 2 is
    // clean and must not appear
    val eval = Seq((23L, "e1 e2 e3 e4 e5 e6 e7 e8 e9")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "pre amble own e1 e2 e3 e4 e5 e6 e7 e8 e9 post"),
      (2L, "nothing from the benchmark set appears in this training text at all"))
      .toDF("doc_id", "text")
    val out = Graft.decontamSpans(train, eval).collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out == Seq((1L, 4L, 12L, 2L)), out)
  }

  test("decontamSpans separates distant hits into disjoint spans") {
    val evalText = "q1 q2 q3 q4 q5 q6 q7 q8"  // exactly one 8-gram
    val eval = Seq((23L, evalText)).toDF("doc_id", "text")
    val filler = (1 to 12).map(i => s"f$i").mkString(" ")
    val train = Seq(
      (1L, s"$evalText $filler $evalText"))
      .toDF("doc_id", "text")
    val out = Graft.decontamSpans(train, eval).collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // hits at p=1 and p=21, gap 20 > 8 -> two spans [1,8] and [21,28]
    assert(out == Seq((1L, 1L, 8L, 1L), (1L, 21L, 28L, 1L)), out)
  }

  test("decontamSpans is partitioning-invariant and ignores eval-only grams") {
    val eval = Seq((23L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10")).toDF("doc_id", "text")
    val train = (0L until 30L).map(i =>
      (i, if (i % 6 == 1) "m1 m2 m3 m4 m5 m6 m7 m8 tail words here"
          else s"pl$i ain$i tr$i ain$i ing$i te$i xt$i row$i no$i overlap$i"))
      .toDF("doc_id", "text")
    val a = Graft.decontamSpans(train.repartition(1), eval).collect().toSeq
    val b = Graft.decontamSpans(train.repartition(5), eval).collect().toSeq
    assert(a == b && a.nonEmpty)
    graft.ops.Release.sweep(spark)
  }
}
