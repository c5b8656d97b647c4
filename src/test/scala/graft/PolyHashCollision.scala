package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Seeded search for two DISTINCT word grams with equal
  * `(acc*31 + byte) mod 1e9+7` poly hashes
  * ([[graft.functions.NativeExpressions.PolyHash]]) — the birthday
  * collision a ~30-bit key reaches after ~40k grams. Specs plant such a
  * pair to pin that a final decision (a span, a contamination flag)
  * keys on more than that hash. */
object PolyHashCollision {
  private val P = 1000000007L

  private def polyHash(s: String): Long =
    s.getBytes("US-ASCII").foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % P)

  /** Two distinct grams of `nWords` random 6-letter lowercase words,
    * space-joined as [[graft.functions.TextFunctions.shingles]] joins
    * them, whose poly hashes are equal — checked against graft's own
    * `polyHash` so the search cannot drift from the engine's key. */
  def grams(spark: SparkSession, nWords: Int): (String, String) = {
    val rnd = new scala.util.Random(1L)
    def gram() = Seq.fill(nWords)(
      Seq.fill(6)(('a' + rnd.nextInt(26)).toChar).mkString).mkString(" ")
    val seen = scala.collection.mutable.HashMap.empty[Long, String]
    val (a, b) = Iterator.continually(gram())
      .map(g => (seen.put(polyHash(g), g), g))
      .collectFirst { case (Some(prev), g) if prev != g => (prev, g) }.get
    import spark.implicits._
    val keys = Seq(a, b).toDF("g")
      .select(graft.functions.NativeExpressions.polyHash(col("g")))
      .collect().map(_.getLong(0))
    assert(keys(0) == keys(1), s"$a / $b must collide under graft's polyHash: ${keys.toSeq}")
    (a, b)
  }
}
