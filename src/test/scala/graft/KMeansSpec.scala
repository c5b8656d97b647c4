package graft

import graft.queries.KMeansLloyd
import org.apache.spark.sql.functions._

/** E14 [[KMeansLloyd.kmeans]]: planted clusters converge to their
  * exact fixed-point means, empty clusters carry their centroid, ties
  * assign to the smaller c_id, and the fit is partitioning-invariant. */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def df(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("two planted groups recover their quantized means exactly") {
    // group A around (0, 0), group B around (10, 10); init = first 2
    // vectors, one from each group, so Lloyd separates in one step
    val rows = Seq(
      0L -> Seq(0.0f, 0.2f), 1L -> Seq(10.0f, 9.8f),
      2L -> Seq(0.2f, 0.0f), 3L -> Seq(9.8f, 10.0f),
      4L -> Seq(0.1f, 0.1f), 5L -> Seq(10.1f, 10.1f))
    val out = KMeansLloyd.kmeans(df(rows), k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    // fixed-point mean of A dim0: round(q*4096) sums / 3 / 4096
    def fpMean(xs: Seq[Double]): Double =
      (xs.map(x => math.round(x * 4096.0)).sum.toDouble / xs.size) / 4096.0
    assert(out((0L, 0L)) == ((3L, fpMean(Seq(0.0, 0.2, 0.1)))), out)
    assert(out((0L, 1L)) == ((3L, fpMean(Seq(0.2, 0.0, 0.1)))), out)
    assert(out((1L, 0L)) == ((3L, fpMean(Seq(10.0, 9.8, 10.1)))), out)
    assert(out((1L, 1L)) == ((3L, fpMean(Seq(9.8, 10.0, 10.1)))), out)
  }

  test("an emptied cluster keeps its centroid; distance ties go to the smaller c_id") {
    // init = vectors 0, 1, 2 = (0,0), (10,10), (0,0): every zero-point
    // ties between c0 and c2 and must assign to c0, so c2 is empty
    // from round 1 and carries its (0,0) centroid through every iter
    val rows = Seq(
      0L -> Seq(0.0f, 0.0f), 1L -> Seq(10.0f, 10.0f),
      2L -> Seq(0.0f, 0.0f), 3L -> Seq(0.0f, 0.0f),
      4L -> Seq(10.0f, 10.0f))
    val out = KMeansLloyd.kmeans(df(rows), k = 3, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out((0L, 0L))._1 == 3L && out((2L, 0L))._1 == 0L,
      s"tie-break or empty-cluster handling drifted: $out")
    assert(out((2L, 0L))._2 == 0.0 && out((2L, 1L))._2 == 0.0,
      s"empty cluster must keep its init centroid: $out")
    assert(out((1L, 0L)) == ((2L, 10.0)), out)
  }

  test("fit is invariant under adversarial repartition and extra iterations converge") {
    val emb = Tables.embeddings(spark, sfDir)
    val a = KMeansLloyd.kmeans(emb, k = 4, iters = 2).collect().map(_.toSeq)
    val b = KMeansLloyd.kmeans(emb.repartition(13), k = 4, iters = 2)
      .collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq, "fit must not depend on partitioning")
    // a converged Lloyd step is the identity: the planted two-group
    // frame separates in one round, so 2 and 5 iterations agree (the
    // random corpus itself needs more than 5 rounds to settle — that
    // is Lloyd, not a bug)
    val rows = Seq(
      0L -> Seq(0.0f, 0.2f), 1L -> Seq(10.0f, 9.8f),
      2L -> Seq(0.2f, 0.0f), 3L -> Seq(9.8f, 10.0f),
      4L -> Seq(0.1f, 0.1f), 5L -> Seq(10.1f, 10.1f))
    val c = KMeansLloyd.kmeans(df(rows), k = 2, iters = 2).collect().map(_.toSeq)
    val d = KMeansLloyd.kmeans(df(rows), k = 2, iters = 5).collect().map(_.toSeq)
    assert(c.toSeq == d.toSeq, "converged fit must be a fixed point")
  }

  test("assignments() enforces the kmeans() guards (advisor r13)") {
    val rows = Seq(0L -> Seq(0.0f, 0.2f), 1L -> Seq(10.0f, 9.8f))
    // k past the 2^21 packed-argmin domain would silently corrupt
    // cell ids via pmod collisions; iters = 0 would NPE on the null
    // lastAssigned frame — both must fail loudly at the boundary
    intercept[IllegalArgumentException] {
      KMeansLloyd.assignments(df(rows), k = 1 << 21, iters = 1)
    }
    intercept[IllegalArgumentException] {
      KMeansLloyd.assignments(df(rows), k = 2, iters = 0)
    }
  }

  test("sample-fit assignments: full fit on the drawn half, every vector assigned") {
    // 40 vectors in two tight planted groups; fitFraction = 0.5 draws
    // a seeded subset, the fit still separates the groups, and the
    // full-corpus assign places EVERY vector (sampled or not) with
    // its own group's members — and is partitioning-invariant.
    val rows = (0L until 40L).map { i =>
      if (i % 2 == 0) i -> Seq(0.0f + (i % 5) * 0.01f, 0.1f)
      else i -> Seq(10.0f + (i % 5) * 0.01f, 9.9f)
    }
    val asg = KMeansLloyd.assignments(df(rows), k = 2, iters = 3,
        fitFraction = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asg.size == 40, s"every vector must be assigned, got ${asg.size}")
    val cellsA = (0L until 40L by 2).map(asg).toSet
    val cellsB = (1L until 40L by 2).map(asg).toSet
    assert(cellsA.size == 1 && cellsB.size == 1 && cellsA != cellsB,
      s"planted groups must land in distinct single cells: A=$cellsA B=$cellsB")
    val asg2 = KMeansLloyd.assignments(df(rows).repartition(7), k = 2,
        iters = 3, fitFraction = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asg == asg2, "sample-fit assignment must be partitioning-invariant")
  }

  test("a ragged embedding fails naming its vec_id and both lengths") {
    // init = vectors 0 and 1 (2 components); vector 2 has 3
    val rows = Seq(
      0L -> Seq(0.0f, 0.2f), 1L -> Seq(10.0f, 9.8f),
      2L -> Seq(0.1f, 0.1f, 0.1f), 3L -> Seq(9.9f, 10.0f))
    val e = intercept[IllegalArgumentException] {
      KMeansLloyd.kmeans(df(rows), k = 2, iters = 2)
    }
    assert(e.getMessage.contains("vec_id 2 has 3 components") &&
      e.getMessage.contains("expects 2"), e.getMessage)
  }

  test("a null element fails naming its vec_id and index") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, true), true)))
    val rows = Seq(
      Row(0L, Seq(0.0f, 0.2f)), Row(1L, Seq(10.0f, 9.8f)),
      Row(2L, Seq(0.1f, null)), Row(3L, Seq(9.9f, 10.0f)))
    val frame = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val e = intercept[IllegalArgumentException] {
      KMeansLloyd.kmeans(frame, k = 2, iters = 2)
    }
    assert(e.getMessage.contains("vec_id 2 has a null element at index 1"),
      e.getMessage)
  }

  test("fit quantization rounds like Spark's round, negative halves included") {
    val xs = Seq(-2.5, -1.5, -0.5, 0.5, 1.5, 2.5, 0.49999999999999994,
      -0.49999999999999994, 4503599627370495.5, -4503599627370495.5,
      1.0000000000000002, -3.4999999999999996, 12345.5, -12345.5, 0.0, -0.0)
    val spark0 = xs.toDF("x").repartition(3)
      .select(col("x"), round(col("x")).cast("long").as("r"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    xs.foreach { x =>
      assert(KMeansLloyd.roundHalfUp(x) == spark0(x), s"round($x)")
    }
    // a component at exactly -2.5/4096 quantizes to -3 (Math.round
    // would give -2): the one-cell mean of it and 0 is -1.5/4096
    val rows = Seq(0L -> Seq(-0.0006103515625f), 1L -> Seq(0.0f))
    val out = KMeansLloyd.kmeans(df(rows), k = 1, iters = 1).collect()
    assert(out.map(_.getDouble(3)).toSeq == Seq(-1.5 / 4096.0))
  }
}
