package graft

/** D9d [[graft.queries.Contamination.decontaminateBloom]]: the Bloom
  * prefilter + exact rescore must reproduce [[Graft.decontaminate]]
  * bit-for-bit at any filter size — including a pathologically tiny
  * one where nearly every shingle survives the prefilter (exactness
  * must come from the rescore, never from filter quality). */
class BloomDecontamSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val eval = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (23L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val train = (1L to 40L).filter(_ % 23 != 0).map { i =>
      val text =
        if (i % 5 == 0) "pre one two three four five six seven eight nine ten post"
        else if (i % 7 == 0) "alpha beta gamma delta epsilon zeta eta theta mid tail"
        else s"w$i x$i y$i z$i a$i b$i c$i d$i e$i f$i g$i h$i"
      (i, text)
    }.toDF("doc_id", "text")
    (train, eval)
  }

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))

  test("bloom-prefiltered flag equals the exact flag at the default size") {
    val (train, eval) = corpus
    val exact = collected(Graft.decontaminate(train, eval))
    val bloom = collected(Graft.decontaminateBloom(train, eval))
    assert(bloom == exact && exact.exists(_._5 == 1L) && exact.exists(_._5 == 0L))
  }

  test("a 64-bit filter (every probe a collision) still yields the exact flag") {
    val (train, eval) = corpus
    val exact = collected(Graft.decontaminate(train, eval))
    val bloom = collected(Graft.decontaminateBloom(train, eval, bits = 64, probes = 2))
    assert(bloom == exact)
  }

  test("single-probe filter and repartitioned input stay exact") {
    val (train, eval) = corpus
    val exact = collected(Graft.decontaminate(train, eval))
    val bloom = collected(
      Graft.decontaminateBloom(train.repartition(7), eval, probes = 1))
    assert(bloom == exact)
  }

  test("the broadcast-UDF large-reference twin equals the exact flag too") {
    val (train, eval) = corpus
    val exact = collected(Graft.decontaminate(train, eval))
    val bc = collected(Graft.decontaminateBloomBroadcast(train, eval))
    assert(bc == exact)
    // and at a pathological 64-bit sizing (own FNV family, all probes
    // colliding) — exactness must come from the rescore here as well
    val tiny = collected(
      Graft.decontaminateBloomBroadcast(train, eval, bits = 64, probes = 2))
    assert(tiny == exact)
  }

  test("repeat broadcast calls reuse the handle; clearBloomCache rebuilds") {
    val (train, eval) = corpus
    val exact = collected(Graft.decontaminate(train, eval))
    // two calls against the same eval frame: the second must hit the
    // broadcast-handle cache (no fresh broadcast per call — the
    // long-lived-session block-accumulation fix) and stay exact
    val first = collected(Graft.decontaminateBloomBroadcast(train, eval))
    val second = collected(Graft.decontaminateBloomBroadcast(train, eval))
    assert(first == exact && second == exact)
    // clearing destroys the cached handles; the next call must rebuild
    // a fresh filter + broadcast and still be exact
    graft.queries.Contamination.clearBloomCache()
    val rebuilt = collected(Graft.decontaminateBloomBroadcast(train, eval))
    assert(rebuilt == exact)
  }

  test("grams colliding under the 1e9+7 poly hash never flag a doc") {
    // a contamination flag deletes training data, so it must not rest
    // on a ~30-bit key: the first cut joined poly hashes and flagged
    // ~1.4k phantom docs at 505k. Train doc 1 and eval doc 101 share
    // only that key; docs 2 / 102 share a real 8-gram (the control).
    val k = graft.queries.Contamination.NgramK
    val (a, b) = PolyHashCollision.grams(spark, k)
    val shared = (1 to k).map(i => s"shared${('a' + i).toChar}").mkString(" ")
    val train = Seq((1L, a), (2L, s"lead $shared tail")).toDF("doc_id", "text")
    val eval = Seq((101L, b), (102L, shared)).toDF("doc_id", "text")
    val exact = collected(Graft.decontaminate(train, eval))
    assert(exact.map(r => r._1 -> r._5) == Seq(1L -> 0L, 2L -> 1L), exact)
    assert(collected(Graft.decontaminateBloom(train, eval)) == exact)
    assert(collected(Graft.decontaminateBloomBroadcast(train, eval)) == exact)
  }

  test("an empty eval side flags nothing and keeps every train row") {
    val (train, _) = corpus
    val eval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = collected(Graft.decontaminateBloom(train, eval))
    assert(out.size == train.count() && out.forall(r => r._3 == 0L && r._5 == 0L))
    graft.ops.Release.sweep(spark)
  }
}
