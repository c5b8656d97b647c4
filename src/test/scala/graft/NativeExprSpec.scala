package graft

import graft.functions.{NativeExpressions, VectorFunctions}
import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** The native codegen kernels must be bit-identical to the reference
  * higher-order-function formulations they replaced (which are in turn
  * oracle-matched against DuckDB). */
class NativeExprSpec extends SparkSpec {

  test("PolyHash == HOF poly hash on real normalized docs") {
    val diff = Tables.documents(spark, sfDir)
      .select(polyHash(normText(col("text"))).as("native"),
        polyHashHof(normText(col("text"))).as("hof"))
      .filter("native != hof")
    assert(diff.count() == 0)
  }

  test("PolyHash empty string and single chars") {
    import spark.implicits._
    val out = Seq("", "a", "z", "a b").toDF("s")
      .select(NativeExpressions.polyHash(col("s"))).collect().map(_.getLong(0))
    assert(out(0) == 0L)
    assert(out(1) == 97L)
    assert(out(2) == 122L)
    assert(out(3) == (97L * 31 + 32) * 31 + 98) // 'a', ' ', 'b'
  }

  test("DotProduct == HOF fold on real embeddings") {
    import VectorFunctions._
    val e = Tables.embeddings(spark, sfDir).limit(200)
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("embedding").as("b")))
      .filter(col("ia") < col("ib")).limit(5000)
    val diff = pairs
      .select(dot(col("a"), col("b")).as("native"), dotHof(col("a"), col("b")).as("hof"))
      .filter("native != hof")
    assert(diff.count() == 0)
  }

  test("DotProduct mixed float/double operands (LSH plane shape)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(0.5, -1.0, 2.0))).toDF("f", "d")
    val got = df.select(NativeExpressions.dot(col("f"), col("d"))).head.getDouble(0)
    assert(got == 1.0 * 0.5 + 2.0 * -1.0 + 3.0 * 2.0)
  }

  test("DotProduct == HOF fold on null elements: null, as dotHof and L2Sq") {
    import VectorFunctions._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vec = ArrayType(FloatType, true)
    val schema = StructType(Seq(StructField("a", vec), StructField("b", vec)))
    val rows = Seq(
      Row(Seq(1.0f, null, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
      Row(Seq(1.0f, 2.0f, 3.0f), Seq(null, 2.0f, 3.0f)),
      Row(Seq(1.0f, 2.0f, 3.0f), Seq(0.5f, 2.0f, -3.0f)),
      Row(null, Seq(1.0f)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    // the projection runs the generated code; eval() below runs nullSafeEval
    val got = df.select(dot(col("a"), col("b")).as("native"),
        dotHof(col("a"), col("b")).as("hof"))
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(got.forall { case (n, h) => n == h }, got)
    assert(got.count(_._1.isEmpty) == 3, got)
    val interp = rows.map(r => NativeExpressions.DotProduct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Option(r.get(0)).map(_.asInstanceOf[Seq[Any]].toArray).orNull, vec),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        r.getSeq[Any](1).toArray, vec)).eval())
    assert(interp.map(Option(_)) == got.map(_._1), interp)
  }

  test("DotProduct on ragged arrays folds the shared prefix (dotHof: null)") {
    import VectorFunctions._
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f))).toDF("a", "b")
    val r = df.select(dot(col("a"), col("b")), dot(col("b"), col("a")),
      dotHof(col("a"), col("b"))).head
    assert(r.getDouble(0) == 1.0 * 4.0 + 2.0 * 5.0)
    assert(r.getDouble(1) == 1.0 * 4.0 + 2.0 * 5.0)
    assert(r.isNullAt(2))
  }

  test("ShingleHashes == polyHash over string shingles, elementwise") {
    val diff = Tables.documents(spark, sfDir)
      .select(
        NativeExpressions.shingleHashes(col("text"), 3).as("native"),
        transform(shingles(words(col("text")), 3), s => polyHash(s)).as("viaStrings"))
      .filter("native != viaStrings")
    assert(diff.count() == 0)
  }

  test("ShingleHashes edge cases: punctuation, case, short docs") {
    import spark.implicits._
    val df = Seq("The QUICK, brown; fox!", "a b", "", "one two three four")
      .toDF("text")
    val got = df.select(
      NativeExpressions.shingleHashes(col("text"), 3).as("n"),
      transform(shingles(words(col("text")), 3), s => polyHash(s)).as("h"))
    assert(got.filter("n != h").count() == 0)
    val sizes = got.select(size(col("n"))).collect().map(_.getInt(0)).toSeq
    assert(sizes == Seq(2, 0, 0, 2))
  }

  test("Tokens == split+filter formulation on real docs and edge strings") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(col("text"))
      .unionByName(Seq("", "ALL CAPS Mixed", "éàï non-ascii; x1y2z", "   ", "one")
        .toDF("text"))
    val diff = docs.select(words(col("text")).as("native"),
        wordsHof(col("text")).as("hof"))
      .filter("native != hof")
    assert(diff.count() == 0)
  }

  test("CountIn == filter+isin formulation") {
    val toks = words(col("text"))
    val list = Seq("the", "a", "spark", "zzz")
    val diff = Tables.documents(spark, sfDir)
      .select(stopHits(toks, list).as("native"), stopHitsHof(toks, list).as("hof"))
      .filter("native != hof")
    assert(diff.count() == 0)
  }

  test("MinHashSigs and SimHash == per-permutation HOF formulations") {
    val P = 1000000007L
    val K = 16
    val Bits = 28
    val hashed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        transform(array_distinct(shingles(words(col("text")), 3)), s => polyHash(s)).as("hs"))
      .filter(size(col("hs")) > 0)
    val hofSigs = array((0 until K).map { i =>
      val (a, b) = (NativeExpressions.minhashCoefA(i), NativeExpressions.minhashCoefB(i))
      array_min(transform(col("hs"), h => (h * a + b) % P))
    }: _*)
    val hofSim = (0 until Bits).map { i =>
      when(aggregate(col("hs"), lit(0L),
        (acc, h) => acc + when(h.divide(lit(1L << i)).cast("long") % 2 === 1, 1L).otherwise(-1L)) > 0,
        lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    val diff = hashed.select(
        NativeExpressions.minhashSigs(col("hs"), K).as("nsig"), hofSigs.as("hsig"),
        NativeExpressions.simHash(col("hs"), Bits).as("nsim"), hofSim.as("hsim"))
      .filter("nsig != hsig or nsim != hsim")
    assert(diff.count() == 0)
  }

  test("64-permutation MinHash estimates track true Jaccard on low-overlap pairs") {
    // seeded pairs of one-letter-word docs sharing a 12-word run (true
    // Jaccard ~0.25). Their 2-shingles poly-hash below P/131, where a
    // tiny multiplier (a_i = 2i+3) never wraps: (a*h + b) mod P keeps
    // the hash order, every permutation picks ~the same min, and each
    // estimate collapses toward 0 or 1. Independent draws keep the mean
    // error near the binomial sqrt(J(1-J)/64)*0.8 ~ 0.045.
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def word() = ('a' + rnd.nextInt(26)).toChar.toString
    val pairs = (0 until 100).map { p =>
      val a = Seq.fill(30)(word())
      (p, a.mkString(" "), (a.take(12) ++ Seq.fill(18)(word())).mkString(" "))
    }.toDF("pair", "a", "b")
    def hs(c: String) = array_distinct(NativeExpressions.shingleHashes(col(c), 2))
    val rows = pairs.select(
        NativeExpressions.minhashSigs(hs("a"), 64), NativeExpressions.minhashSigs(hs("b"), 64),
        size(array_intersect(hs("a"), hs("b"))), size(array_union(hs("a"), hs("b"))))
      .collect()
    val (trueJ, err) = rows.map { r =>
      val agree = r.getSeq[Long](0).zip(r.getSeq[Long](1)).count { case (x, y) => x == y }
      val j = r.getInt(2).toDouble / r.getInt(3)
      (j, math.abs(agree / 64.0 - j))
    }.unzip
    val (meanJ, meanErr) = (trueJ.sum / trueJ.length, err.sum / err.length)
    assert(meanJ > 0.1 && meanJ < 0.4, s"pairs must be low-overlap: mean Jaccard $meanJ")
    assert(meanErr <= 0.07, f"mean |est - true| $meanErr%.4f over 100 pairs (mean J $meanJ%.3f)")
  }

  test("prefix-filtered Jaccard == naive at awkward thresholds (epsilon bound)") {
    // thresholds whose n*t products land on double-representation edges
    // (e.g. 100 * 0.07 = 7.000000000000001): losslessness must survive
    // the ceil — the prefix can only err LONGER, never shorter
    val docs = Tables.documents(spark, sfDir)
    for (t <- Seq(0.07, 0.3, 0.9)) {
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("id_a", "id_b", "n_common")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val naive = key(graft.queries.Dedup.jaccardPairs(docs, t))
      val pref = key(graft.queries.Dedup.jaccardPairsPrefix(docs, t))
      assert(naive == pref, s"t=$t: naive ${naive.size} vs prefix ${pref.size}")
    }
  }

  test("prefix-filtered Jaccard keeps the exact-boundary pair the length filter could FP-drop") {
    // constructed |A| = 7 shingles ⊂ B, |B| = 100 shingles, t = 0.07:
    // J = 7/100 == the double literal 0.07, but 100 * 0.07 =
    // 7.000000000000001 > 7, so a length filter without the epsilon
    // guard drops this legal pair before the rescore ever sees it
    import spark.implicits._
    val vocab = (0 until 102).map(i => s"${('a' + i / 26).toChar}${('a' + i % 26).toChar}")
    val docs = Seq(
      (1L, vocab.take(9).mkString(" ")),   // 9 words -> 7 shingles
      (2L, vocab.mkString(" "))            // 102 words -> 100 shingles, superset
    ).toDF("doc_id", "text")
    val t = 0.07
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("id_a", "id_b", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val naive = key(graft.queries.Dedup.jaccardPairs(docs, t))
    assert(naive == Set((1L, 2L, 0.07)), s"naive should emit the boundary pair: $naive")
    assert(key(graft.queries.Dedup.jaccardPairsPrefix(docs, t)) == naive)
  }

  test("IntersectSize == size(array_intersect) on real shingle sets") {
    val hs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(NativeExpressions.shingleHashes(col("text"), 3)).as("hs"))
      .filter(size(col("hs")) > 0)
    val pairs = hs.select(col("hs").as("a")).limit(100)
      .crossJoin(hs.select(col("hs").as("b")).limit(100))
    val diff = pairs.select(
        NativeExpressions.intersectSize(col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .filter("native != builtin")
    assert(diff.count() == 0)
  }

  test("IntersectSize null elements follow array_intersect, never read as 0") {
    import spark.implicits._
    val df = Seq(1).toDF("x")
    def n(a: String, b: String): Long = df.selectExpr(
      s"graft_intersect_size($a, $b) AS n").head.getLong(0)
    GraftExtensions.register(spark)
    assert(n("array(CAST(NULL AS BIGINT))", "array(0L)") == 0L)
    assert(n("array(CAST(NULL AS BIGINT), 5L)", "array(CAST(NULL AS BIGINT), 5L)") == 2L)
    assert(n("array(0L, 3L)", "array(3L, CAST(NULL AS BIGINT))") == 1L)
  }

  test("SearchSortedRight == size(filter(arr, e <= key)) incl. ties and edges") {
    import spark.implicits._
    val cases = Seq(
      (Seq.empty[Long], 5L),
      (Seq(1L, 3L, 3L, 3L, 9L), 0L),  // all bigger
      (Seq(1L, 3L, 3L, 3L, 9L), 3L),  // lands inside a tie run
      (Seq(1L, 3L, 3L, 3L, 9L), 9L),  // last element
      (Seq(1L, 3L, 3L, 3L, 9L), 99L), // beyond the end
      (Seq(7L), 7L))
    val df = cases.toDF("arr", "key")
    val diff = df.select(
        NativeExpressions.searchSortedRight(col("arr"), col("key")).as("native"),
        size(filter(col("arr"), e => e <= col("key"))).as("hof"))
      .filter("native != hof")
    assert(diff.count() == 0)
  }

  test("LshBuckets == unfused per-plane dot/sign formulation on real embeddings") {
    val (planeBase, tables, bits, dims) = (1000, 16, 4, 64)
    val unfused = (0 until tables).map { t =>
      (0 until bits).map { i =>
        val pl = lit(NativeExpressions.lshPlane(planeBase + t * bits + i, dims).toArray)
        when(NativeExpressions.dot(col("embedding"), pl) > 0, lit(1L << i)).otherwise(0L)
      }.reduce(_ + _)
    }
    val diff = Tables.embeddings(spark, sfDir)
      .select(NativeExpressions.lshBuckets(col("embedding"), planeBase, tables, bits, dims).as("fused"),
        array(unfused: _*).as("unfused"))
      .filter("fused != unfused")
    assert(diff.count() == 0)
  }

  test("MaxMultiplicity == HOF max-of-per-value-counts, incl. empty and ties") {
    import spark.implicits._
    val real = Tables.documents(spark, sfDir)
      .select(NativeExpressions.shingleHashes(col("text"), 2).as("arr"))
    val edges = Seq(Seq.empty[Long], Seq(7L), Seq(3L, 3L, 3L), Seq(1L, 2L, 1L, 2L, 2L))
      .toDF("arr")
    val hof = array_max(concat(array(lit(0L)),
      transform(array_distinct(col("arr")),
        d => size(filter(col("arr"), x => x === d)).cast("long"))))
    val diff = real.unionByName(edges)
      .select(NativeExpressions.maxMultiplicity(col("arr")).as("native"), hof.as("ref"))
      .filter("native != ref")
    assert(diff.count() == 0)
    // nulls are skipped, never read as 0 (and never merged with real 0s)
    GraftExtensions.register(spark)
    def sqlMax(arr: String): Long = Seq(1).toDF("x")
      .selectExpr(s"graft_max_multiplicity($arr)").head.getLong(0)
    assert(sqlMax("array(CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 42L)") == 1L)
    assert(sqlMax("array(CAST(NULL AS BIGINT), 0L, 0L)") == 2L)
    assert(sqlMax("array(CAST(NULL AS BIGINT))") == 0L)
  }

  test("SimHashCombos == unfused 56-struct block formulation") {
    val simh = Tables.documents(spark, sfDir)
      .select(NativeExpressions.simHash64(
        array_distinct(NativeExpressions.shingleHashes(col("text"), 3))).as("simhash"))
    def block(b: Int) =
      shiftrightunsigned(col("simhash"), 8 * b).bitwiseAND(lit(255L))
    val unfused = (0 until 8).combinations(3).toSeq.map { blks =>
      blks.zipWithIndex
        .map { case (b, pos) => block(b) * lit(1L << (8 * pos)) }
        .reduce(_ + _)
    }
    val diff = simh.select(
        NativeExpressions.simHashCombos(col("simhash")).as("fused"),
        array(unfused: _*).as("unfused"))
      .filter("fused != unfused")
    assert(diff.count() == 0)
  }

  test("SimHash64 == per-band HOF formulation") {
    val P = 1000000007L
    val hashed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        transform(array_distinct(shingles(words(col("text")), 3)), s => polyHash(s)).as("hs"))
      .filter(size(col("hs")) > 0)
    // bit i of band j = bit (i%8) of (h*A_j + B_j) % P, majority-voted
    val hofSim64 = (0 until 64).map { i =>
      val (a, b) = (NativeExpressions.simhashCoefA(i / 8), NativeExpressions.simhashCoefB(i / 8))
      when(aggregate(col("hs"), lit(0L),
        (acc, h) => acc + when(((h * a + b) % P).divide(lit(1L << (i % 8))).cast("long") % 2 === 1,
          1L).otherwise(-1L)) > 0,
        lit(1L << i)).otherwise(0L)
    }.reduce((x, y) => x.bitwiseOR(y))
    val diff = hashed.select(
        NativeExpressions.simHash64(col("hs")).as("nsim"), hofSim64.as("hsim"))
      .filter("nsim != hsim")
    assert(diff.count() == 0)
  }
}
