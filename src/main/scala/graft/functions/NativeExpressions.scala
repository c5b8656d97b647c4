package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's hot per-row kernels
  * (SURVEY.md §7 M9). Semantics are IDENTICAL to the higher-order-function
  * forms they replace (and to the DuckDB oracle fragments), with one
  * named exception: [[DotProduct]] on arrays of DIFFERENT lengths folds
  * their shared prefix, where the `zip_with` form returns null. The
  * point is that each row is one compiled JVM loop inside whole-stage
  * codegen instead of thousands of interpreted lambda steps — the
  * difference between a dedup pass that scales to 100 TB and one that
  * doesn't.
  *
  * [[DotProduct]] and [[L2Sq]] return null on a null element, as their
  * higher-order forms do; the others assume non-null array elements
  * (their inputs come from split/transform of non-null columns).
  */
object NativeExpressions {

  private val P = 1000000007L

  /** Misuse (wrong argument types, out-of-range parameters) must fail at
    * ANALYSIS time with a named message, not as a ClassCastException /
    * ArrayIndexOutOfBounds deep inside a running stage. */
  private def requireType(
      fn: String, ok: Boolean, want: String, got: DataType): TypeCheckResult =
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects $want, got ${got.catalogString}")

  private def isStr(t: DataType): Boolean = t == StringType
  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  private def isVec(t: DataType): Boolean = t match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  /** MinHash permutation coefficients — INDEPENDENT pseudorandom draws
    * (SplittableRandom, fixed seed; the algorithm is specified by the
    * JDK, so values are stable everywhere and get embedded as literals
    * in the DuckDB oracle SQL).
    *
    * Two failure modes were hit before landing here, both found by a
    * 200k-doc scale run, both invisible on the 5k-doc test corpus:
    *  - tiny multipliers (a = 2i+3): (a·h+b) mod P is near-order-
    *    preserving, so all k "permutations" pick ~the same min;
    *  - arithmetic-progression multipliers (a_i = c·(i+1)+d): any pool
    *    element with h·c ≈ 0 (mod P) attains a near-constant SMALL value
    *    under every permutation — ~1000 such "resonant" shingles per
    *    125k-shingle corpus, and every doc containing one collides with
    *    every other such doc in most bands (46k false pairs at 500k
    *    docs, est_jaccard 0.6 on true jaccard 0.01).
    * NativeExprSpec bounds the mean estimate error on seeded low-overlap
    * pairs, a case the tiny multipliers fail. */
  private lazy val minhashCoefs: (Array[Long], Array[Long]) = {
    val rnd = new java.util.SplittableRandom(0x67726166L) // "graf"
    def draw(): Long = { var v = 0L; while (v == 0L) v = rnd.nextLong(1L, P); v }
    (Array.fill(64)(draw()), Array.fill(64)(draw()))
  }
  def minhashCoefA(i: Int): Long = minhashCoefs._1(i)
  def minhashCoefB(i: Int): Long = minhashCoefs._2(i)

  /** Band coefficients for the 64-bit SimHash: byte-band j of the
    * fingerprint takes its 8 bits from the independent rehash
    * (h·A_j + B_j) mod P — the base shingle hash is only ~30 bits wide
    * (mod 1e9+7), so a 64-bit fingerprint needs 8 independent draws, not
    * the hash's own (nonexistent) high bits. Same independent-draw
    * discipline as the MinHash coefficients, same reason. */
  private lazy val simhashCoefs: (Array[Long], Array[Long]) = {
    val rnd = new java.util.SplittableRandom(0x73696d68L) // "simh"
    def draw(): Long = { var v = 0L; while (v == 0L) v = rnd.nextLong(1L, P); v }
    (Array.fill(8)(draw()), Array.fill(8)(draw()))
  }
  def simhashCoefA(j: Int): Long = simhashCoefs._1(j)
  def simhashCoefB(j: Int): Long = simhashCoefs._2(j)

  /** (acc*31 + byte) mod 1e9+7 over the UTF-8 bytes of a string. For the
    * ASCII-normalized inputs graft feeds it (see
    * [[TextFunctions.normText]]) byte == codepoint, so this equals the
    * char-wise HOF/DuckDB formulation exactly. */
  case class PolyHash(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_poly_hash"
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, isStr(child.dataType), "STRING", child.dataType)

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[UTF8String].getBytes
      var acc = 0L
      var i = 0
      while (i < b.length) { acc = (acc * 31 + (b(i) & 0xff)) % P; i += 1 }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val b = ctx.freshName("b")
        val i = ctx.freshName("i")
        s"""
        byte[] $b = $c.getBytes();
        long ${ev.value}_acc = 0L;
        for (int $i = 0; $i < $b.length; $i++) {
          ${ev.value}_acc = (${ev.value}_acc * 31L + ($b[$i] & 0xff)) % ${P}L;
        }
        ${ev.value} = ${ev.value}_acc;
        """
      })

    override protected def withNewChildInternal(newChild: Expression): PolyHash =
      copy(child = newChild)
  }

  /** 64-bit blockhash fingerprint: the input's bytes cut into 64
    * length-proportional windows (window i = bytes [(L·i)>>6, (L·(i+1))>>6),
    * which partition the string exactly), bit i = [[PolyHash]] of window i
    * mod 2. ONE pass over the bytes — the compositional 64×substr+hash
    * formulation evaluates O(64·L) and its expression tree blows the
    * whole-stage-codegen size limit (observed: codegen disabled for the F4
    * fingerprint stage). Empty windows (L < 64) hash to 0 → bit 0, matching
    * `substr`'s empty-string result. Byte == char for the ASCII inputs
    * graft feeds it (the PolyHash caveat), so this equals the char-wise
    * substr SQL formulation exactly. */
  case class BlockHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_block_hash64"
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, isStr(child.dataType), "STRING", child.dataType)

    override def nullSafeEval(input: Any): Any = {
      val b = input.asInstanceOf[UTF8String].getBytes
      val L = b.length.toLong
      var fp = 0L
      var pos = 0
      var i = 0
      while (i < 64) {
        val end = ((L * (i + 1)) >> 6).toInt
        var acc = 0L
        while (pos < end) { acc = (acc * 31 + (b(pos) & 0xff)) % P; pos += 1 }
        fp |= (acc & 1L) << i
        i += 1
      }
      fp
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val b = ctx.freshName("b")
        val len = ctx.freshName("len")
        val fp = ctx.freshName("fp")
        val pos = ctx.freshName("pos")
        val end = ctx.freshName("end")
        val acc = ctx.freshName("acc")
        val i = ctx.freshName("i")
        s"""
        byte[] $b = $c.getBytes();
        long $len = (long) $b.length;
        long $fp = 0L;
        int $pos = 0;
        for (int $i = 0; $i < 64; $i++) {
          int $end = (int) (($len * ($i + 1)) >> 6);
          long $acc = 0L;
          for (; $pos < $end; $pos++) {
            $acc = ($acc * 31L + ($b[$pos] & 0xff)) % ${P}L;
          }
          $fp |= ($acc & 1L) << $i;
        }
        ${ev.value} = $fp;
        """
      })

    override protected def withNewChildInternal(newChild: Expression): BlockHash64 =
      copy(child = newChild)
  }

  /** Σ (double)a_i * (double)b_i in element order — the strict-left-fold
    * dot product of the determinism contract ([[VectorFunctions]]).
    * Accepts float or double arrays on either side.
    *
    * Null contract: a null element on either side → null, as in
    * [[VectorFunctions.dotHof]] and [[L2Sq]]. The result is nullable
    * only when an input or its element type is.
    *
    * Length contract: inputs are expected equal-length (embeddings of one
    * model, or an embedding against a same-dims plane). On mismatch the
    * product runs over the shared min(len) prefix — deliberate, so fixed
    * `dims` plane literals work against any ≥ dims embedding, and the
    * one place this kernel departs from `dotHof` (whose `zip_with` pads
    * the shorter side with null and returns null) — but note the DuckDB
    * oracle fragment indexes by the FIRST argument's length, so
    * oracle-checked plans must put the (shorter-or-equal) probe first. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"
    override def nullable: Boolean =
      left.nullable || right.nullable || elemsNullable
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(prettyName, isVec(left.dataType),
        "ARRAY<FLOAT|DOUBLE>", left.dataType)
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(prettyName, isVec(right.dataType),
        "ARRAY<FLOAT|DOUBLE>", right.dataType)
    }

    private def elemIsFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType

    private def elemsNullable: Boolean =
      Seq(left, right).exists(_.dataType.asInstanceOf[ArrayType].containsNull)

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      val fx = elemIsFloat(left)
      val fy = elemIsFloat(right)
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
        acc += xv * yv
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
        val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
        // the null check only where an element can be null (then the
        // result is nullable and ev.isNull is a variable)
        val nullCheck =
          if (elemsNullable)
            s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
          else ""
        s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double ${ev.value}_acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $nullCheck
          ${ev.value}_acc += $getA * $getB;
        }
        ${ev.value} = ${ev.value}_acc;
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
      copy(left = l, right = r)
  }

  /** Squared L2 distance Σ(xᵢ−yᵢ)² as ONE codegen kernel — the strict
    * left fold `acc = 0.0; t = xᵢ−yᵢ; acc += t·t` in index order,
    * bit-identical to the Catalyst chain it replaces
    * (`aggregate(zip_with(x, y, (a,b) => (a−b)·(a−b)), 0.0, +)`),
    * which runs INTERPRETED with per-element boxing (higher-order
    * functions never enter whole-stage codegen — guide §4; measured
    * dominant in the Lloyd literal-argmin hot path at dims = 64).
    * Null semantics mirror the replaced chain: mismatched lengths or
    * any null element on either side → null (zip_with pads the
    * shorter array with null, the lambda then nulls that slot, and
    * the fold's `acc + null` poisons the sum). */
  case class L2Sq(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_l2sq"
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(prettyName, isVec(left.dataType),
        "ARRAY<FLOAT|DOUBLE>", left.dataType)
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(prettyName, isVec(right.dataType),
        "ARRAY<FLOAT|DOUBLE>", right.dataType)
    }

    private def elemIsFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = x.numElements()
      if (n != y.numElements()) return null
      val fx = elemIsFloat(left)
      val fy = elemIsFloat(right)
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (x.isNullAt(i) || y.isNullAt(i)) return null
        val xv = if (fx) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (fy) y.getFloat(i).toDouble else y.getDouble(i)
        val t = xv - yv
        acc += t * t
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val t = ctx.freshName("t")
        val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
        val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
        s"""
        int $n = $a.numElements();
        if ($n != $b.numElements()) { ${ev.isNull} = true; }
        double $acc = 0.0;
        if (!${ev.isNull}) {
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
            double $t = $getA - $getB;
            $acc += $t * $t;
          }
        }
        ${ev.value} = $acc;
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
      copy(left = l, right = r)
  }

  /** All k MinHash signatures in one pass over the shingle-hash array:
    * sig_i = min over h of (h*A_i + B_i) mod P with the
    * [[minhashCoefA]]/[[minhashCoefB]] coefficients — the same
    * per-permutation formula as the SQL oracle, k accumulators wide. */
  case class MinHashSigs(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sigs"
    override def checkInputDataTypes(): TypeCheckResult =
      if (k < 1 || k > 64)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: k must be in [1, 64] (64 coefficient pairs are drawn), got $k")
      else requireType(prettyName, isLongArray(child.dataType),
        "ARRAY<BIGINT>", child.dataType)

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val sigs = Array.fill(k)(Long.MaxValue)
      val as = Array.tabulate(k)(minhashCoefA)
      val bs = Array.tabulate(k)(minhashCoefB)
      var j = 0
      while (j < n) {
        val h = hs.getLong(j)
        var i = 0
        while (i < k) {
          val v = (h * as(i) + bs(i)) % P
          if (v < sigs(i)) sigs(i) = v
          i += 1
        }
        j += 1
      }
      new GenericArrayData(sigs)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val h = ctx.freshName("h")
        val v = ctx.freshName("v")
        val sigs = ctx.freshName("sigs")
        val as = (0 until k).map(minhashCoefA).mkString(", ")
        val bs = (0 until k).map(minhashCoefB).mkString(", ")
        val ca = ctx.freshName("as")
        val cb = ctx.freshName("bs")
        s"""
        int $n = $c.numElements();
        long[] $sigs = new long[$k];
        long[] $ca = new long[] { $as };
        long[] $cb = new long[] { $bs };
        java.util.Arrays.fill($sigs, Long.MAX_VALUE);
        for (int $j = 0; $j < $n; $j++) {
          long $h = $c.getLong($j);
          for (int $i = 0; $i < $k; $i++) {
            long $v = ($h * $ca[$i] + $cb[$i]) % ${P}L;
            if ($v < $sigs[$i]) $sigs[$i] = $v;
          }
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sigs);
        """
      })

    override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
      copy(child = newChild)
  }

  /** SimHash over a shingle-hash array: per-bit majority vote of the low
    * `bits` bits of each hash, packed into a long. */
  case class SimHash(child: Expression, bits: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash"
    override def checkInputDataTypes(): TypeCheckResult =
      if (bits < 1 || bits > 63)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: bits must be in [1, 63], got $bits")
      else requireType(prettyName, isLongArray(child.dataType),
        "ARRAY<BIGINT>", child.dataType)

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val counters = new Array[Long](bits)
      var j = 0
      while (j < n) {
        val h = hs.getLong(j)
        var i = 0
        while (i < bits) {
          counters(i) += (if (((h >> i) & 1L) == 1L) 1L else -1L)
          i += 1
        }
        j += 1
      }
      var sim = 0L
      var i = 0
      while (i < bits) { if (counters(i) > 0) sim |= (1L << i); i += 1 }
      sim
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val h = ctx.freshName("h")
        val cnt = ctx.freshName("cnt")
        val sim = ctx.freshName("sim")
        s"""
        int $n = $c.numElements();
        long[] $cnt = new long[$bits];
        for (int $j = 0; $j < $n; $j++) {
          long $h = $c.getLong($j);
          for (int $i = 0; $i < $bits; $i++) {
            $cnt[$i] += ((($h >> $i) & 1L) == 1L) ? 1L : -1L;
          }
        }
        long $sim = 0L;
        for (int $i = 0; $i < $bits; $i++) {
          if ($cnt[$i] > 0) $sim |= (1L << $i);
        }
        ${ev.value} = $sim;
        """
      })

    override protected def withNewChildInternal(newChild: Expression): SimHash =
      copy(child = newChild)
  }

  /** 64-bit SimHash over a shingle-hash array: byte-band j (bits 8j …
    * 8j+7) holds the per-bit majority vote of the low 8 bits of the
    * independent rehash (h·A_j + B_j) mod P ([[simhashCoefA]]). The
    * 28-bit predecessor ([[SimHash]]) saturates the birthday bound near
    * 1e5 docs; 64 bits keeps random pairs ~32 bits apart at any corpus
    * size. Bit 63 may be set — callers must treat the long as a bit
    * pattern (unsigned shifts). */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, isLongArray(child.dataType),
        "ARRAY<BIGINT>", child.dataType)

    // JVM-lifetime constants — never per row (interpreted eval runs once
    // per row on the codegen-fallback path)
    @transient private lazy val as = Array.tabulate(8)(simhashCoefA)
    @transient private lazy val bs = Array.tabulate(8)(simhashCoefB)

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val counters = new Array[Long](64)
      var j = 0
      while (j < n) {
        val h = hs.getLong(j)
        var band = 0
        while (band < 8) {
          val g = (h * as(band) + bs(band)) % P
          var r = 0
          while (r < 8) {
            counters(8 * band + r) += (if (((g >> r) & 1L) == 1L) 1L else -1L)
            r += 1
          }
          band += 1
        }
        j += 1
      }
      var sim = 0L
      var i = 0
      while (i < 64) { if (counters(i) > 0) sim |= (1L << i); i += 1 }
      sim
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val band = ctx.freshName("band")
        val r = ctx.freshName("r")
        val h = ctx.freshName("h")
        val g = ctx.freshName("g")
        val sim = ctx.freshName("sim")
        val asLit = (0 until 8).map(simhashCoefA).mkString("L, ") + "L"
        val bsLit = (0 until 8).map(simhashCoefB).mkString("L, ") + "L"
        // allocated once per operator instance, not once per row; the
        // counter array is reused (zeroed) across rows
        val ca = ctx.addMutableState("long[]", "simhash64Ca",
          v => s"$v = new long[] { $asLit };", forceInline = false, useFreshName = true)
        val cb = ctx.addMutableState("long[]", "simhash64Cb",
          v => s"$v = new long[] { $bsLit };", forceInline = false, useFreshName = true)
        val cnt = ctx.addMutableState("long[]", "simhash64Cnt",
          v => s"$v = new long[64];", forceInline = false, useFreshName = true)
        s"""
        int $n = $c.numElements();
        java.util.Arrays.fill($cnt, 0L);
        for (int $j = 0; $j < $n; $j++) {
          long $h = $c.getLong($j);
          for (int $band = 0; $band < 8; $band++) {
            long $g = ($h * $ca[$band] + $cb[$band]) % ${P}L;
            for (int $r = 0; $r < 8; $r++) {
              $cnt[8 * $band + $r] += ((($g >> $r) & 1L) == 1L) ? 1L : -1L;
            }
          }
        }
        long $sim = 0L;
        for (int $i = 0; $i < 64; $i++) {
          if ($cnt[$i] > 0) $sim |= (1L << $i);
        }
        ${ev.value} = $sim;
        """
      })

    override protected def withNewChildInternal(newChild: Expression): SimHash64 =
      copy(child = newChild)
  }

  /** |A ∩ B| over two BIGINT arrays as primitive sort-merge — the
    * native form of size(array_intersect(a, b)), which walks the
    * generic (boxing) path per element. Duplicate-element semantics
    * differ deliberately: the merge counts min(multiplicity) per value
    * (callers pass array_distinct'd sets, where the two coincide).
    * NULL elements follow array_intersect: skipped unless present on
    * BOTH sides, which counts once. */
  case class IntersectSize(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_intersect_size"
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(prettyName, isLongArray(left.dataType),
        "ARRAY<BIGINT>", left.dataType)
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(prettyName, isLongArray(right.dataType),
        "ARRAY<BIGINT>", right.dataType)
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    /** public: called from generated code too. */
    def intersectSize(x: ArrayData, y: ArrayData): Long = {
      // null-aware extraction: toLongArray would silently read null
      // slots as 0L, inventing matches array_intersect doesn't have
      def nonNull(a: ArrayData): (Array[Long], Boolean) = {
        val n = a.numElements()
        val out = new Array[Long](n)
        var m = 0
        var hasNull = false
        var i = 0
        while (i < n) {
          if (a.isNullAt(i)) hasNull = true
          else { out(m) = a.getLong(i); m += 1 }
          i += 1
        }
        (java.util.Arrays.copyOf(out, m), hasNull)
      }
      val (ax, nullX) = nonNull(x)
      val (ay, nullY) = nonNull(y)
      java.util.Arrays.sort(ax)
      java.util.Arrays.sort(ay)
      var i = 0
      var j = 0
      var n = if (nullX && nullY) 1L else 0L
      while (i < ax.length && j < ay.length) {
        if (ax(i) < ay(j)) i += 1
        else if (ax(i) > ay(j)) j += 1
        else { n += 1; i += 1; j += 1 }
      }
      n
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val ref = ctx.addReferenceObj("intersecter", this, classOf[IntersectSize].getName)
        s"${ev.value} = $ref.intersectSize($a, $b);"
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): IntersectSize =
      copy(left = l, right = r)
  }

  /** A ∩ B over two BIGINT arrays as a primitive sort-merge, returning
    * the common elements ASCENDING — the native form of
    * array_intersect(a, b) for DISTINCT inputs (the [[IntersectSize]]
    * contract, kept: duplicates count min(multiplicity); a null on
    * BOTH sides contributes one null, appended last). array_intersect
    * builds a hash set of boxed elements PER CALL — on a join that
    * evaluates the intersection once per edge of a graph
    * ([[graft.queries.GraphRank]] triangles) that allocation dominated
    * the stage (97 s CPU at sf0.1); the merge runs on primitive longs.
    * Element ORDER differs from array_intersect (ascending vs
    * left-operand order) — callers must be order-insensitive
    * (size/explode/aggregate consumers). */
  case class SortedIntersect(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = true)
    override def prettyName: String = "graft_sorted_intersect"
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(prettyName, isLongArray(left.dataType),
        "ARRAY<BIGINT>", left.dataType)
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(prettyName, isLongArray(right.dataType),
        "ARRAY<BIGINT>", right.dataType)
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      intersect(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    /** public: called from generated code too. */
    def intersect(x: ArrayData, y: ArrayData): ArrayData = {
      def nonNull(a: ArrayData): (Array[Long], Boolean) = {
        val n = a.numElements()
        val out = new Array[Long](n)
        var m = 0
        var hasNull = false
        var i = 0
        while (i < n) {
          if (a.isNullAt(i)) hasNull = true
          else { out(m) = a.getLong(i); m += 1 }
          i += 1
        }
        (java.util.Arrays.copyOf(out, m), hasNull)
      }
      val (ax, nullX) = nonNull(x)
      val (ay, nullY) = nonNull(y)
      java.util.Arrays.sort(ax)
      java.util.Arrays.sort(ay)
      val out = new Array[Long](math.min(ax.length, ay.length))
      var i = 0
      var j = 0
      var m = 0
      while (i < ax.length && j < ay.length) {
        if (ax(i) < ay(j)) i += 1
        else if (ax(i) > ay(j)) j += 1
        else { out(m) = ax(i); m += 1; i += 1; j += 1 }
      }
      if (nullX && nullY) {
        val res = new Array[Any](m + 1)
        var t = 0
        while (t < m) { res(t) = out(t); t += 1 }
        res(m) = null
        new org.apache.spark.sql.catalyst.util.GenericArrayData(res)
      } else
        org.apache.spark.sql.catalyst.util.ArrayData
          .toArrayData(java.util.Arrays.copyOf(out, m))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val ref = ctx.addReferenceObj("sintersecter", this,
          classOf[SortedIntersect].getName)
        s"${ev.value} = $ref.intersect($a, $b);"
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedIntersect =
      copy(left = l, right = r)
  }

  /** Deterministic pseudo-random hyperplane component (plane `i`, dim
    * `j`): an LCG step mapped to [-0.5, 0.5). Public so the DuckDB
    * oracle literals and the fused [[LshBuckets]] kernel derive from
    * the same numbers. */
  def lshPlaneComponent(i: Int, dims: Int, j: Int): Double = {
    val x = (1103515245L * (i.toLong * dims + j + 1) + 12345L) % 2147483648L
    x.toDouble / 2147483648.0 - 0.5
  }

  def lshPlane(i: Int, dims: Int): Seq[Double] =
    (0 until dims).map(j => lshPlaneComponent(i, dims, j))

  /** All `tables` sign-bit LSH bucket ids of an embedding in ONE fused
    * pass: bucket bit `i` of table `t` is set iff
    * dot(embedding, plane(planeBase + t*bits + i)) > 0, with the same
    * strict-left-fold dot (over min(len, dims) elements) as
    * [[DotProduct]] — bit-identical to the unfused
    * `when(graft_dot(emb, lit(plane)) > 0, …)` column stack it
    * replaces. The fusion matters because the bucket frame sits on BOTH
    * sides of the LSH candidate self-join and Spark recomputes it per
    * side: tables×bits literal-array dots walk boxed GenericArrayData
    * elements, while this kernel runs tables×bits×dims primitive FMAs
    * per row. */
  case class LshBuckets(
      child: Expression, planeBase: Int, tables: Int, bits: Int, dims: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_lsh_buckets"
    override def checkInputDataTypes(): TypeCheckResult =
      if (tables < 1 || bits < 1 || bits > 63 || dims < 1)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: need tables >= 1, bits in [1, 63], dims >= 1; " +
            s"got tables=$tables bits=$bits dims=$dims")
      else requireType(prettyName, isVec(child.dataType),
        "ARRAY<FLOAT|DOUBLE>", child.dataType)

    // JVM-lifetime plane matrix — rebuilt per executor, never per row
    @transient private lazy val planes: Array[Array[Double]] =
      Array.tabulate(tables * bits) { p =>
        Array.tabulate(dims)(j => lshPlaneComponent(planeBase + p, dims, j))
      }

    @transient private lazy val elemIsFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(input: Any): Any =
      buckets(input.asInstanceOf[ArrayData])

    /** public: called from generated code too. */
    def buckets(emb: ArrayData): ArrayData = {
      val m = math.min(emb.numElements(), dims)
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var b = 0L
        var i = 0
        while (i < bits) {
          val pl = planes(t * bits + i)
          var acc = 0.0
          var j = 0
          while (j < m) {
            acc += (if (elemIsFloat) emb.getFloat(j).toDouble else emb.getDouble(j)) * pl(j)
            j += 1
          }
          if (acc > 0) b |= (1L << i)
          i += 1
        }
        out(t) = b
        t += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("lshBucketer", this, classOf[LshBuckets].getName)
        s"${ev.value} = $ref.buckets($c);"
      })

    override protected def withNewChildInternal(newChild: Expression): LshBuckets =
      copy(child = newChild)
  }

  /** Highest multiplicity of any NON-NULL value in a BIGINT array (0
    * for empty or all-null): sort a copy, scan run lengths — one
    * primitive pass per row, so the repetition detector stays a
    * shuffle-free map stage where the relational formulation (explode →
    * count per value → max) would shuffle every n-gram of the corpus
    * twice. NULL elements are skipped (same null-aware extraction as
    * [[IntersectSize]] — toLongArray would silently read them as 0L
    * and merge them with genuine zeros). */
  case class MaxMultiplicity(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_max_multiplicity"
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, isLongArray(child.dataType),
        "ARRAY<BIGINT>", child.dataType)

    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val n = a.numElements()
      val arr = new Array[Long](n)
      var m = 0
      var j = 0
      while (j < n) {
        if (!a.isNullAt(j)) { arr(m) = a.getLong(j); m += 1 }
        j += 1
      }
      if (m == 0) 0L
      else {
        java.util.Arrays.sort(arr, 0, m)
        var best = 1L
        var run = 1L
        var i = 1
        while (i < m) {
          if (arr(i) == arr(i - 1)) { run += 1; if (run > best) best = run }
          else run = 1
          i += 1
        }
        best
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("maxMult", this, classOf[MaxMultiplicity].getName)
        s"${ev.value} = ((Long) $ref.nullSafeEval($c)).longValue();"
      })

    override protected def withNewChildInternal(newChild: Expression): MaxMultiplicity =
      copy(child = newChild)
  }

  /** The C(8,3) = 56 block-combination band keys of a 64-bit SimHash
    * fingerprint in one pass: key `ci` packs the fingerprint's byte
    * blocks at the `ci`-th ascending 3-combination of {0…7} into a
    * 24-bit value (block[c0] | block[c1]<<8 | block[c2]<<16) — exactly
    * the Manku WWW'07 banding the Dedup simhash join keys on. Fused
    * because the unfused form is ~670 expression nodes (56 structs × 3
    * shifted/masked blocks) recomputed on BOTH sides of the band
    * self-join — the per-query codegen/compile of that tree cost more
    * than the actual join at bench scale. */
  case class SimHashCombos(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_simhash_combos"
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, child.dataType == LongType,
        "BIGINT", child.dataType)

    override def nullSafeEval(input: Any): Any =
      comboKeys(input.asInstanceOf[Long])

    /** public: called from generated code too. */
    def comboKeys(sim: Long): ArrayData = {
      val cs = SimHashCombos.combos
      val out = new Array[Long](cs.length)
      var ci = 0
      while (ci < cs.length) {
        val c = cs(ci)
        out(ci) = ((sim >>> (8 * c(0))) & 255L) |
          (((sim >>> (8 * c(1))) & 255L) << 8) |
          (((sim >>> (8 * c(2))) & 255L) << 16)
        ci += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("comboBander", this, classOf[SimHashCombos].getName)
        s"${ev.value} = $ref.comboKeys($c);"
      })

    override protected def withNewChildInternal(newChild: Expression): SimHashCombos =
      copy(child = newChild)
  }

  object SimHashCombos {
    /** Ascending 3-of-8 combinations in `combinations` order — the
      * combo INDEX is part of the join key, so both join sides (and any
      * persisted band frame) must agree on it. */
    val combos: Array[Array[Int]] =
      (0 until 8).combinations(3).map(_.toArray).toArray
  }

  /** Rank of `key` in an ascending-sorted BIGINT array: the count of
    * elements <= key (numpy `searchsorted(side='right')`). Binary
    * search, fully inlined into whole-stage codegen — the kernel behind
    * [[graft.ops.AsOfJoin]]: against a broadcast per-key state history
    * of n entries it makes as-of routing O(log n) per fact row, where
    * the equivalent interval theta-join evaluates all n candidate
    * intervals per row.
    *
    * Contract: the array is ascending (ties allowed — the rightmost
    * tie wins) with no null elements; 0 means every element is > key. */
  case class SearchSortedRight(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_search_sorted"
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(prettyName, isLongArray(left.dataType),
        "ARRAY<BIGINT>", left.dataType)
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(prettyName, right.dataType == LongType,
        "BIGINT", right.dataType)
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val key = b.asInstanceOf[Long]
      var lo = 0
      var hi = arr.numElements()
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr.getLong(mid) <= key) lo = mid + 1 else hi = mid
      }
      lo
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val lo = ctx.freshName("lo")
        val hi = ctx.freshName("hi")
        val mid = ctx.freshName("mid")
        s"""
        int $lo = 0;
        int $hi = $a.numElements();
        while ($lo < $hi) {
          int $mid = ($lo + $hi) >>> 1;
          if ($a.getLong($mid) <= $b) $lo = $mid + 1; else $hi = $mid;
        }
        ${ev.value} = $lo;
        """
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression): SearchSortedRight =
      copy(left = l, right = r)
  }

  /** text → poly hashes of every word k-shingle, one pass, no
    * intermediate strings. Semantics = polyHash over the bytes of
    * "tok1 tok2 … tokk" where tokens are maximal [a-z]+ runs of
    * lower(text) — exactly hash(shingles(words(text), k)) and the SQL
    * list_transform(shingles, polyhash) formulation. Bytes ≥ 0x80 and
    * digits are separators, matching the `[^a-z]+` split. */
  case class ShingleHashes(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_shingle_hashes"
    override def checkInputDataTypes(): TypeCheckResult =
      if (k < 1)
        TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be >= 1, got $k")
      else requireType(prettyName, isStr(child.dataType), "STRING", child.dataType)

    override def nullSafeEval(input: Any): Any =
      hashRow(input.asInstanceOf[UTF8String])

    /** public: called from generated code too. */
    def hashRow(s: UTF8String): ArrayData = {
      val b = s.getBytes
      // token spans over the lowercased byte stream
      val starts = new java.util.ArrayList[Int]()
      val ends = new java.util.ArrayList[Int]()
      var i = 0
      while (i < b.length) {
        val c = b(i) & 0xff
        val isAl = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        if (isAl && (starts.size == ends.size)) starts.add(i)
        if (!isAl && (starts.size > ends.size)) ends.add(i)
        i += 1
      }
      if (starts.size > ends.size) ends.add(b.length)
      val nTok = starts.size
      if (nTok < k) return new GenericArrayData(Array.emptyLongArray)
      val out = new Array[Long](nTok - k + 1)
      var w = 0
      while (w <= nTok - k) {
        var acc = 0L
        var t = 0
        while (t < k) {
          if (t > 0) acc = (acc * 31 + ' '.toInt) % P
          var p = starts.get(w + t)
          val e = ends.get(w + t)
          while (p < e) {
            var c = b(p) & 0xff
            if (c >= 'A' && c <= 'Z') c += 32
            acc = (acc * 31 + c) % P
            p += 1
          }
          t += 1
        }
        out(w) = acc
        w += 1
      }
      new GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        // one virtual call per row into the compiled eval above — keeps
        // the surrounding stage in whole-stage codegen
        val ref = ctx.addReferenceObj("shingleHasher", this,
          classOf[ShingleHashes].getName)
        s"${ev.value} = $ref.hashRow($c);"
      })

    override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
      copy(child = newChild)
  }

  /** Lowercased letter-run tokens in one byte pass — the native form of
    * split(lower(text), "[^a-z]+") with empties dropped. Bytes ≥ 0x80
    * are separators, matching the regex's per-char behavior on ASCII
    * and multi-byte input alike. */
  case class Tokens(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_tokens"
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName, isStr(child.dataType), "STRING", child.dataType)

    override def nullSafeEval(input: Any): Any =
      tokenize(input.asInstanceOf[UTF8String])

    /** public: called from generated code too. */
    def tokenize(s: UTF8String): ArrayData = {
      val b = s.getBytes
      val out = new java.util.ArrayList[UTF8String]()
      var i = 0
      var start = -1
      var lowered: Array[Byte] = null // copy-on-first-uppercase
      while (i <= b.length) {
        val c = if (i < b.length) b(i) & 0xff else 0
        val isAl = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
        if (isAl) {
          if (start < 0) start = i
          if (c >= 'A' && c <= 'Z') {
            if (lowered == null) lowered = b.clone()
            lowered(i) = (c + 32).toByte
          }
        } else if (start >= 0) {
          val src = if (lowered == null) b else lowered
          out.add(UTF8String.fromBytes(src, start, i - start))
          start = -1
        }
        i += 1
      }
      new GenericArrayData(out.toArray)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("tokenizer", this, classOf[Tokens].getName)
        s"${ev.value} = $ref.tokenize($c);"
      })

    override protected def withNewChildInternal(newChild: Expression): Tokens =
      copy(child = newChild)
  }

  /** Count of array elements contained in a fixed string set — the
    * native form of size(filter(arr, x => x.isin(items))). */
  case class CountIn(child: Expression, items: Seq[String]) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_count_in"
    override def checkInputDataTypes(): TypeCheckResult =
      requireType(prettyName,
        child.dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        }, "ARRAY<STRING>", child.dataType)

    @transient private lazy val set: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String]()
      items.foreach(i => s.add(UTF8String.fromString(i)))
      s
    }

    override def nullSafeEval(input: Any): Any = countIn(input.asInstanceOf[ArrayData])

    /** public: called from generated code too. */
    def countIn(arr: ArrayData): Long = {
      var n = 0L
      var i = 0
      val len = arr.numElements()
      while (i < len) {
        if (set.contains(arr.getUTF8String(i))) n += 1
        i += 1
      }
      n
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("counter", this, classOf[CountIn].getName)
        s"${ev.value} = $ref.countIn($c);"
      })

    override protected def withNewChildInternal(newChild: Expression): CountIn =
      copy(child = newChild)
  }

  /** Max char coverage of any word n-gram of a token array: max over
    * distinct n-grams of occurrences × (gram chars excluding the n−1
    * joining spaces). Gram identity is the `concat_ws(" ", …)` join —
    * injective because tokens are whitespace-free — so this equals the
    * HOF sort+fold formulation ([[graft.queries.TextAnalysis]]'s
    * `topGramCoverHof`, kept as the semantic spec) and the naive
    * explode+GROUP BY the DuckDB oracle runs. One hashing pass per
    * row; the interpreted `aggregate(array_sort(...))` stack this
    * replaces dominated C17's runtime (HOFs don't enter whole-stage
    * codegen and re-evaluate per referencing column after projection
    * collapse). */
  case class TopGramCover(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_top_gram_cover"
    override def checkInputDataTypes(): TypeCheckResult =
      if (n < 1)
        TypeCheckResult.TypeCheckFailure(s"$prettyName: n must be >= 1, got $n")
      else requireType(prettyName,
        child.dataType match {
          case ArrayType(StringType, _) => true
          case _ => false
        }, "ARRAY<STRING>", child.dataType)

    @transient private lazy val space = UTF8String.fromString(" ")

    override def nullSafeEval(input: Any): Any = cover(input.asInstanceOf[ArrayData])

    /** public: called from generated code too. Null elements read as
      * EMPTY tokens — pinned explicitly because the two array
      * representations disagree (GenericArrayData hands concatWs a
      * null, which it SKIPS; UnsafeArrayData reads the slot as ""), and
      * a statistic must not depend on which side of a shuffle it ran. */
    def cover(arr: ArrayData): Long = {
      val m = arr.numElements()
      if (m < n) return 0L
      val toks = new Array[UTF8String](m)
      var i = 0
      while (i < m) {
        toks(i) =
          if (arr.isNullAt(i)) UTF8String.EMPTY_UTF8 else arr.getUTF8String(i)
        i += 1
      }
      val counts = new java.util.HashMap[UTF8String, Array[Long]]()
      var best = 0L
      var p = 0
      while (p + n <= m) {
        val parts = new Array[UTF8String](n)
        System.arraycopy(toks, p, parts, 0, n)
        val g = UTF8String.concatWs(space, parts: _*)
        val cnt = counts.computeIfAbsent(g, _ => Array(0L))
        cnt(0) += 1
        val cover = cnt(0) * (g.numChars().toLong - (n - 1))
        if (cover > best) best = cover
        p += 1
      }
      best
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val ref = ctx.addReferenceObj("coverer", this, classOf[TopGramCover].getName)
        s"${ev.value} = $ref.cover($c);"
      })

    override protected def withNewChildInternal(newChild: Expression): TopGramCover =
      copy(child = newChild)
  }

  // ---- Column wrappers ----

  /** BYTE-wise common-prefix length of two strings — the LCP kernel
    * behind [[graft.queries.SuffixDedup.dupSpansMaximal]]'s adjacent-
    * suffix comparison: one codegen'd loop to first mismatch, O(lcp)
    * per pair, no per-char object churn. Byte == char for the
    * ASCII-only inputs the caller enforces (the D21 corpus contract);
    * on multibyte text this counts BYTES of the shared prefix. */
  case class CommonPrefixLength(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_common_prefix_len"
    override def checkInputDataTypes(): TypeCheckResult = {
      val l = requireType(prettyName, isStr(left.dataType), "STRING", left.dataType)
      if (l != TypeCheckResult.TypeCheckSuccess) l
      else requireType(prettyName, isStr(right.dataType), "STRING", right.dataType)
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[UTF8String]
      val y = b.asInstanceOf[UTF8String]
      val n = math.min(x.numBytes(), y.numBytes())
      var i = 0
      while (i < n && x.getByte(i) == y.getByte(i)) i += 1
      i.toLong
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        s"""
        int $n = java.lang.Math.min($a.numBytes(), $b.numBytes());
        int $i = 0;
        while ($i < $n && $a.getByte($i) == $b.getByte($i)) $i++;
        ${ev.value} = (long) $i;
        """
      })

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): CommonPrefixLength =
      copy(left = l, right = r)
  }

  private def expr(c: Column): Expression = Bridge.expression(c)

  def polyHash(c: Column): Column = Bridge.column(PolyHash(expr(c)))
  def commonPrefixLen(a: Column, b: Column): Column =
    Bridge.column(CommonPrefixLength(expr(a), expr(b)))
  def blockHash64(c: Column): Column = Bridge.column(BlockHash64(expr(c)))
  def dot(a: Column, b: Column): Column = Bridge.column(DotProduct(expr(a), expr(b)))
  def l2sq(a: Column, b: Column): Column = Bridge.column(L2Sq(expr(a), expr(b)))
  def intersectSize(a: Column, b: Column): Column =
    Bridge.column(IntersectSize(expr(a), expr(b)))
  def sortedIntersect(a: Column, b: Column): Column =
    Bridge.column(SortedIntersect(expr(a), expr(b)))
  def minhashSigs(hs: Column, k: Int): Column = Bridge.column(MinHashSigs(expr(hs), k))
  def simHash(hs: Column, bits: Int): Column = Bridge.column(SimHash(expr(hs), bits))
  def simHash64(hs: Column): Column = Bridge.column(SimHash64(expr(hs)))
  def searchSortedRight(arr: Column, key: Column): Column =
    Bridge.column(SearchSortedRight(expr(arr), expr(key)))
  def lshBuckets(emb: Column, planeBase: Int, tables: Int, bits: Int, dims: Int): Column =
    Bridge.column(LshBuckets(expr(emb), planeBase, tables, bits, dims))
  def simHashCombos(sim: Column): Column = Bridge.column(SimHashCombos(expr(sim)))
  def maxMultiplicity(arr: Column): Column = Bridge.column(MaxMultiplicity(expr(arr)))
  def shingleHashes(c: Column, k: Int): Column = Bridge.column(ShingleHashes(expr(c), k))
  def tokens(c: Column): Column = Bridge.column(Tokens(expr(c)))
  def countIn(arr: Column, items: Seq[String]): Column = Bridge.column(CountIn(expr(arr), items))
  def topGramCover(toks: Column, n: Int): Column =
    Bridge.column(TopGramCover(expr(toks), n))
}
