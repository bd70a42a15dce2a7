package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, truncatedString}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's native Catalyst kernels: per-row computations that
  * built-in functions express only through interpreted higher-order
  * functions or exploded rows. Every kernel runs inside whole-stage
  * codegen (no `CodegenFallback`, no UDF serialization), and all of
  * them share one scaffold:
  *
  *  - Eval and codegen come from one method. A kernel extends
  *    [[UnaryKernel]] or [[BinaryKernel]] and states its per-row
  *    method `kernel` over the children's non-null values. Interpreted
  *    eval calls it; generated code calls the same method on the
  *    kernel object, carried in as a codegen reference, or, where the
  *    kernel overrides `javaCall`, the static function `kernel` wraps.
  *    A null input gives null without calling the kernel.
  *  - A [[BoxedResult]] kernel returns a boxed value, and null from
  *    `kernel` is a null result.
  *  - A kernel with array parameters mixes in [[ContentEquality]], so
  *    its arrays compare by content and plan canonicalization treats
  *    kernels built from equal arrays as equal.
  */
object Kernels {

  /** FNV-1a 64-bit over UTF-8 bytes — stable, allocation-free. */
  def fnv1a(s: UTF8String): Long = fnv1a(s.getBytes)

  def fnv1a(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Exact int64 squared L2 — see [[IntSqDist]]. Null on length
    * mismatch or null elements, mirroring the HOF chain it replaces.
    */
  def intSqDist(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** SimHash: per-bit majority over token hashes. */
  def simhash(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = fnv1a(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Shannon entropy (bits) of a string's byte distribution — the
    * classic cheap "is this natural text or noise/boilerplate" quality
    * signal. One 256-bucket histogram pass + one pass over the
    * buckets; summation runs in ascending byte order, so the result is
    * deterministic for a given value regardless of partitioning. On
    * ASCII text (this corpus) byte entropy equals character entropy.
    * Empty string → 0.0.
    */
  def byteEntropy(s: UTF8String): Double = {
    val bytes = s.getBytes
    val n = bytes.length
    if (n == 0) return 0.0
    val counts = new Array[Int](256)
    var i = 0
    while (i < n) {
      counts(bytes(i) & 0xff) += 1
      i += 1
    }
    val ln2 = java.lang.Math.log(2.0)
    var h = 0.0
    var b = 0
    while (b < 256) {
      val c = counts(b)
      if (c > 0) {
        val p = c.toDouble / n
        h -= p * (java.lang.Math.log(p) / ln2)
      }
      b += 1
    }
    h
  }

  /** Polynomial rolling hash (base 1000003) over UTF-8 bytes. */
  def rollingHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 1000003L + (bytes(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Exact int64 dot product of two quantized vectors. Boxed return so
    * the null contract mirrors the higher-order formulation it
    * replaced (`aggregate(zip_with(a, b, _*_), 0, _+_)`): a length
    * mismatch or a null element yields NULL, never a partial sum.
    */
  def intDot(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** Random-hyperplane LSH signature: one '0'/'1' byte per plane,
    * plane p's bit = (Σ_i q_i · signs[p·64 + i] >= 0). `signs` is the
    * flattened nPlanes×64 ±1 matrix. Mirrors the `when(sum >= 0, "1")
    * .otherwise("0")` per-plane formulation exactly, including its
    * degenerate case: a non-64-dim or null-element vector summed to
    * NULL, and `when` sent NULL to the otherwise branch — bit '0'.
    */
  def rhp(q: ArrayData, signs: Array[Long], dim: Int): UTF8String = {
    val nPlanes = signs.length / dim
    val out = new Array[Byte](nPlanes)
    val ok0 = q.numElements() == dim
    var p = 0
    while (p < nPlanes) {
      var s = 0L
      var ok = ok0
      var i = 0
      while (ok && i < dim) {
        if (q.isNullAt(i)) ok = false
        else { s += q.getLong(i) * signs(p * dim + i); i += 1 }
      }
      out(p) = if (ok && s >= 0) '1' else '0'
      p += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** What both kernel bases share: the generated code's handle on the
  * kernel object, and the statement that stores a call's result.
  */
trait Kernel extends Expression {

  protected def reference(ctx: CodegenContext): String =
    ctx.addReferenceObj(prettyName, this, getClass.getName)

  /** The statement that stores the result of the Java expression `call`. */
  protected def store(ctx: CodegenContext, ev: ExprCode, call: String): String =
    s"${ev.value} = $call;"
}

/** A one-child kernel: `kernel` maps the child's non-null value to the
  * result, in eval and in generated code alike.
  */
abstract class UnaryKernel[A, R] extends UnaryExpression with Kernel {
  def kernel(input: A): R

  /** The Java expression computing the result from the child's value:
    * by default a call of `kernel` on this object.
    */
  protected def javaCall(ctx: CodegenContext): String => String = {
    val ref = reference(ctx)
    c => s"$ref.kernel($c)"
  }

  override protected def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[A])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = javaCall(ctx)
    nullSafeCodeGen(ctx, ev, c => store(ctx, ev, call(c)))
  }
}

/** The two-child [[UnaryKernel]]. */
abstract class BinaryKernel[A, B, R] extends BinaryExpression with Kernel {
  def kernel(left: A, right: B): R

  protected def javaCall(ctx: CodegenContext): (String, String) => String = {
    val ref = reference(ctx)
    (a, b) => s"$ref.kernel($a, $b)"
  }

  override protected def nullSafeEval(left: Any, right: Any): Any =
    kernel(left.asInstanceOf[A], right.asInstanceOf[B])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val call = javaCall(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) => store(ctx, ev, call(a, b)))
  }
}

/** A kernel whose `kernel` returns a boxed value, null meaning a null
  * result (a length mismatch or a null element).
  */
trait BoxedResult extends Kernel {
  override def nullable: Boolean = true

  /** Prefix of the generated local that holds the boxed result. */
  protected def boxName: String

  override protected def store(ctx: CodegenContext, ev: ExprCode, call: String): String = {
    val tmp = ctx.freshName(boxName)
    s"""
       |java.lang.${CodeGenerator.boxedType(dataType)} $tmp = $call;
       |if ($tmp == null) { ${ev.isNull} = true; }
       |else { ${ev.value} = $tmp.${CodeGenerator.javaType(dataType)}Value(); }
       """.stripMargin
  }
}

/** Equality and plan text over the case-class fields with arrays taken
  * by content. An `Array` field compares by reference and prints as its
  * identity hash, so without this two kernels built from equal arrays
  * would differ to plan canonicalization and dedup, and one query's
  * `explain` text would differ from run to run.
  */
trait ContentEquality extends Expression {
  private def fields: Array[AnyRef] = productIterator.map(_.asInstanceOf[AnyRef]).toArray

  override protected def stringArgs: Iterator[Any] = super.stringArgs.map {
    case a: Array[_] => truncatedString(a.toSeq, "[", ", ", "]", SQLConf.get.maxToStringFields)
    case other => other
  }

  override def equals(other: Any): Boolean = other match {
    case o: ContentEquality =>
      (o.getClass eq getClass) && java.util.Arrays.deepEquals(fields, o.fields)
    case _ => false
  }

  override def hashCode(): Int = java.util.Arrays.deepHashCode(fields)
}

case class SimHash64(child: Expression) extends UnaryKernel[ArrayData, Long] {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  def kernel(tokens: ArrayData): Long = Kernels.simhash(tokens)
  override protected def javaCall(ctx: CodegenContext): String => String =
    c => s"graft.plans.Kernels.simhash($c)"

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Trading-calendar roll: date → the first trading day on-or-after it
  * (weekends + the holiday set skipped) — the codegen promotion of the
  * business-day bucket (SURVEY §4 custom-work item 1; bus_range
  * semantics, dbase/utils.py:52-68). `d` is a trading day iff it
  * rolls to itself, so the predicate replaces the broadcast holiday
  * anti-join with pure column arithmetic that stays inside
  * whole-stage codegen.
  *
  * `holidays` are epoch days, kept as a sorted array and carried into
  * generated code as a codegen reference object — the expression-level
  * equivalent of a broadcast holiday bitmap (holiday sets are O(10)/yr,
  * so per-task duplication is nil).
  */
case class TradingDayRoll(child: Expression, holidays: Array[Int])
  extends UnaryKernel[Int, Int] with ContentEquality {
  override def dataType: DataType = org.apache.spark.sql.types.DateType
  override def prettyName: String = "trading_day_roll"

  def kernel(epochDay: Int): Int = {
    var d = epochDay
    // epoch day 0 = 1970-01-01, a Thursday: (d+4)%7 gives 0=Sunday…6=Saturday
    var dow = java.lang.Math.floorMod(d + 4, 7)
    while (dow == 0 || dow == 6 || java.util.Arrays.binarySearch(holidays, d) >= 0) {
      d += 1
      dow = java.lang.Math.floorMod(d + 4, 7)
    }
    d
  }

  override protected def withNewChildInternal(newChild: Expression): TradingDayRoll =
    copy(child = newChild)
}

/** Exact int64 dot product over two quantized `array<bigint>` vectors
  * — the ANN-family hot kernel (every brute-force scan, IVF assign /
  * search and near-dup verify computes it per candidate pair). The
  * higher-order `aggregate(zip_with(...))` formulation it replaces is
  * a `CodegenFallback` that materializes the zipped array and walks it
  * with interpreted lambdas per row; this runs one fused multiply-add
  * loop inside whole-stage codegen.
  */
case class IntDotProduct(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData, java.lang.Long] with BoxedResult {
  override def dataType: DataType = LongType
  override def prettyName: String = "int_dot"
  override protected def boxName: String = "dot"

  def kernel(a: ArrayData, b: ArrayData): java.lang.Long = Kernels.intDot(a, b)
  override protected def javaCall(ctx: CodegenContext): (String, String) => String =
    (a, b) => s"graft.plans.Kernels.intDot($a, $b)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane LSH signature over a quantized 64-dim vector:
  * the whole `nPlanes`-bit '0'/'1' string in ONE codegen call, vs one
  * interpreted `aggregate(zip_with(...))` + `when` chain PER PLANE in
  * the formulation it replaces. The ±1 sign matrix (flattened
  * nPlanes×64) rides into generated code as a codegen reference
  * object, exactly like [[TradingDayRoll]]'s holiday set.
  */
case class RhpSignature(child: Expression, signs: Array[Long],
    dim: Int = 64) extends UnaryKernel[ArrayData, UTF8String] with ContentEquality {
  require(dim > 0 && signs.length % dim == 0, "signs must be nPlanes x dim")
  override def dataType: DataType = StringType
  override def prettyName: String = "rhp_signature"

  def kernel(q: ArrayData): UTF8String = Kernels.rhp(q, signs, dim)
  override protected def javaCall(ctx: CodegenContext): String => String = {
    val ref = ctx.addReferenceObj("rhpSigns", signs, "long[]")
    c => s"graft.plans.Kernels.rhp($c, $ref, $dim)"
  }

  override protected def withNewChildInternal(newChild: Expression): RhpSignature =
    copy(child = newChild)
}

/** Byte-distribution Shannon entropy of a string, in bits — the
  * corpus-quality signal (low entropy = repeated/boilerplate text,
  * high = natural prose or random noise) as a single codegen kernel:
  * built-ins would need an explode-to-characters + groupBy per row.
  */
case class ByteEntropy(child: Expression) extends UnaryKernel[UTF8String, Double] {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "byte_entropy"

  def kernel(s: UTF8String): Double = Kernels.byteEntropy(s)
  override protected def javaCall(ctx: CodegenContext): String => String =
    c => s"graft.plans.Kernels.byteEntropy($c)"

  override protected def withNewChildInternal(newChild: Expression): ByteEntropy =
    copy(child = newChild)
}

/** fastText-class linear quality scorer as ONE codegen expression
  * (Joulin et al. 2016): `bias + mean over whitespace tokens of
  * weights[fnv1a(token) mod weights.length]`. A higher-order
  * `aggregate`/`transform` formulation computes the same value but
  * Spark HOFs never enter whole-stage codegen (interpreted lambda
  * eval per row) — this expression keeps the corpus scan in one
  * codegen span, the [[graft.plans.BpeEncode]] discipline. The weight
  * vector is a bounded trained artifact bound at plan time (the
  * PQ-codebook literal rule). Summation is a sequential left fold in
  * token order, so the DuckDB oracle's `list_reduce` replay is
  * bit-identical — no rounding crutch.
  *
  * `weights.length` must be a power of two: the oracle's FNV mirror
  * is unsigned mod 2^64 while this Long is signed, and
  * `h mod D == (h + 2^64) mod D` only when D divides 2^64 (validated
  * by the caller, [[graft.operators.CurationOps.hashedBagScore]]).
  *
  * Empty/whitespace-only input scores exactly `bias` (no phantom ""
  * token); null propagates as null.
  */
case class HashedBagScore(child: Expression, weights: Seq[Double], bias: Double)
  extends UnaryKernel[UTF8String, Double] {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "hashed_bag_score"

  // Seq in the case-class field (structural equality — an Array field
  // would compare by reference and defeat Catalyst plan matching /
  // cache reuse, the BpeEncode merges precedent); dense Array in the
  // hot loop.
  @transient private lazy val w: Array[Double] = weights.toArray
  @transient private lazy val dim: Long = weights.size.toLong

  def kernel(text: UTF8String): Double = {
    // precompiled pattern: String.split("\\s+") re-compiles the regex
    // per ROW, in the one expression the whole query's cost lives in
    val words = HashedBagScore.Whitespace.split(text.toString)
    var sum = 0.0
    var n = 0
    var i = 0
    while (i < words.length) {
      val word = words(i)
      if (word.nonEmpty) {
        val h = Kernels.fnv1a(
          word.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        sum += w(java.lang.Math.floorMod(h, dim).toInt)
        n += 1
      }
      i += 1
    }
    if (n == 0) bias else bias + sum / n
  }

  override protected def withNewChildInternal(newChild: Expression): HashedBagScore =
    copy(child = newChild)
}

object HashedBagScore {
  private[plans] val Whitespace = java.util.regex.Pattern.compile("\\s+")
}

/** Text → small dense embedding as ONE codegen expression — the q167
  * [[HashedBagScore]] discipline extended from a scalar score to a
  * k-dimensional projection (fastText's representation layer, Joulin
  * et al. 2016 §2: mean of per-token vectors): each whitespace token
  * hashes to one of `dim` rows of a trained `dim × k` weight matrix
  * (hashing trick, FNV-1a over UTF-8 bytes), the row vectors are
  * mean-pooled, and the result is QUANTIZED to int64 at 1e6 — the
  * exact-arithmetic contract every downstream ANN operator
  * (q30-class intDot/cosine) already relies on.
  *
  * The matrix is a bounded trained artifact bound at plan time (the
  * PQ-codebook literal rule), so embedding inference is a stateless
  * map-only codegen scan at any corpus size — the missing producer
  * that makes the similarity tier end-to-end from raw text.
  *
  * Replay contract (the q167 rules, per component): `dim` must be a
  * power of two (signed-Long / unsigned-HUGEINT mod congruence);
  * summation is a sequential left fold in token order so the oracle's
  * `list_reduce` is bit-identical; quantization rounds HALF AWAY FROM
  * ZERO to match both Spark's `round` and DuckDB's `round` (Java's
  * `Math.round` half-up would differ on negative .5 boundaries).
  * Empty/whitespace-only/null-coalesced input embeds as the zero
  * vector (callers filter zero-norm rows out of cosine).
  */
case class HashedBagEmbed(child: Expression, weights: Seq[Double], k: Int)
  extends UnaryKernel[UTF8String, ArrayData] {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_bag_embed"

  @transient private lazy val w: Array[Double] = weights.toArray
  @transient private lazy val dim: Long = (weights.size / k).toLong

  def kernel(text: UTF8String): ArrayData = {
    val words = HashedBagScore.Whitespace.split(text.toString)
    val sums = new Array[Double](k)
    var n = 0
    var i = 0
    while (i < words.length) {
      val word = words(i)
      if (word.nonEmpty) {
        val h = Kernels.fnv1a(
          word.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val row = java.lang.Math.floorMod(h, dim).toInt * k
        var j = 0
        while (j < k) { sums(j) += w(row + j); j += 1 }
        n += 1
      }
      i += 1
    }
    val out = new Array[Long](k)
    if (n > 0) {
      var j = 0
      while (j < k) {
        out(j) = HashedBagEmbed.quantize(sums(j) / n * 1e6)
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HashedBagEmbed =
    copy(child = newChild)
}

object HashedBagEmbed {
  /** Half away from zero on the EXACT double — Spark `round()` and
    * DuckDB `round()` semantics. NOT `floor(x + 0.5)`: adding 0.5 can
    * carry a value one ulp below .5 over the boundary.
    */
  def quantize(x: Double): Long = new java.math.BigDecimal(x)
    .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
}

case class RollingHash64(child: Expression) extends UnaryKernel[UTF8String, Long] {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash64"

  def kernel(s: UTF8String): Long = Kernels.rollingHash(s)
  override protected def javaCall(ctx: CodegenContext): String => String =
    c => s"graft.plans.Kernels.rollingHash($c)"

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
}

/** Distinct k-word shingles of a token array in ONE codegen kernel —
  * the `array_distinct(transform(sequence, concat_ws(slice)))` HOF
  * chain (CodegenFallback, interpreted per row on every dedup-family
  * corpus scan — rule §4) as a fused loop. Semantics preserved:
  * short docs (< k tokens) yield an empty array, grams join with a
  * single space, distinct keeps FIRST-occurrence order.
  */
case class Shingles(child: Expression, k: Int) extends UnaryKernel[ArrayData, ArrayData] {
  require(k >= 1, s"Shingles needs k >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingles"

  def kernel(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val bb = new java.io.ByteArrayOutputStream(64)
    var i = 0
    while (i <= n - k) {
      bb.reset()
      var j = i
      while (j < i + k) {
        if (j > i) bb.write(' ')
        bb.write(words.getUTF8String(j).getBytes)
        j += 1
      }
      seen.add(UTF8String.fromBytes(bb.toByteArray))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** `n` seeded MinHash values over a shingle array in ONE pass — the
  * per-seed `array_min(transform(sh, md5(concat(seed, ':', x))))`
  * chain (one interpreted HOF per seed per row, md5 included) fused:
  * one loop over the shingles computes every seed's min. Element
  * `s` = min over shingles of md5hex(s"${seedFrom+s}:" + shingle),
  * compared lexicographically (hex ⇒ byte order); an EMPTY shingle
  * array yields n NULLs, exactly `array_min(transform([]))`.
  */
case class MinHashes(child: Expression, seedFrom: Int, n: Int)
  extends UnaryKernel[ArrayData, ArrayData] {
  require(n >= 1, s"MinHashes needs n >= 1, got $n")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = true)
  override def prettyName: String = "min_hashes"

  def kernel(sh: ArrayData): ArrayData = {
    val m = sh.numElements()
    val out = new Array[Any](n)
    if (m == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = new Array[Array[Byte]](n)
    val bb = new java.io.ByteArrayOutputStream(64)
    var s = 0
    while (s < n) {
      val prefix = (seedFrom + s).toString + ":"
      val pBytes = prefix.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      var i = 0
      while (i < m) {
        bb.reset()
        bb.write(pBytes)
        bb.write(sh.getUTF8String(i).getBytes)
        md.reset()
        val dig = md.digest(bb.toByteArray)
        val hex = new Array[Byte](32)
        var b = 0
        while (b < 16) {
          val v = dig(b) & 0xff
          hex(b * 2) = MinHashes.HexChars(v >>> 4)
          hex(b * 2 + 1) = MinHashes.HexChars(v & 0xf)
          b += 1
        }
        if (mins(s) == null || MinHashes.lt(hex, mins(s))) mins(s) = hex
        i += 1
      }
      out(s) = UTF8String.fromBytes(mins(s))
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashes =
    copy(child = newChild)
}

object MinHashes {
  private val HexChars: Array[Byte] = "0123456789abcdef".getBytes
  private def lt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    false
  }
}

/** Winnowing fingerprint selection (Schleimer et al. 2003) over a
  * token array, whole-document, in ONE codegen kernel: hash every
  * word k-gram (md5 hex prefix 16 — the oracle-pinned hash), slide a
  * w-window picking the (hash asc, pos desc)-min, emit the DISTINCT
  * (pos, fp) selections in first-selection order.
  *
  * Replaces the gram `transform`+`explode` → doc-keyed WINDOW →
  * `distinct` pipeline: the window was a full corpus exchange + sort
  * on doc_id and the distinct a second exchange (guide §2.4), and
  * the gram HOF was CodegenFallback (rule §4) — q113/q111 spent
  * ~60/10 task-CPU-seconds there at sf0.1. Selection math is
  * identical: the struct min over (h, −pos) resolves hash ties to the
  * RIGHTMOST gram, windows at the tail shrink below w exactly as
  * `ROWS BETWEEN CURRENT ROW AND w−1 FOLLOWING` does, and dedup
  * equals the global distinct because doc_id is unique per input row.
  */
case class WinnowSelect(child: Expression, k: Int, w: Int)
  extends UnaryKernel[ArrayData, ArrayData] {
  require(k >= 1 && w >= 1, s"WinnowSelect needs k,w >= 1, got $k/$w")
  override def dataType: DataType = {
    import org.apache.spark.sql.types._
    ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("fp", StringType, nullable = false))), containsNull = false)
  }
  override def prettyName: String = "winnow_select"

  def kernel(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val nG = n - k + 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val hs = new Array[Array[Byte]](nG) // 16 hex chars as ASCII bytes
    val bb = new java.io.ByteArrayOutputStream(64)
    var i = 0
    while (i < nG) {
      bb.reset()
      var j = i
      while (j < i + k) {
        if (j > i) bb.write(' ')
        // split(" ") never yields null elements; md5 sees the joined
        // string's UTF-8 bytes, exactly array_join's output
        bb.write(words.getUTF8String(j).getBytes)
        j += 1
      }
      md.reset()
      val dig = md.digest(bb.toByteArray)
      val hex = new Array[Byte](16) // substring(md5hex, 1, 16) = first 8 bytes
      var b = 0
      while (b < 8) {
        val v = dig(b) & 0xff
        hex(b * 2) = WinnowSelect.HexChars(v >>> 4)
        hex(b * 2 + 1) = WinnowSelect.HexChars(v & 0xf)
        b += 1
      }
      hs(i) = hex
      i += 1
    }
    // sliding (h asc, pos desc)-min; dedup keeps first-selection order
    val seen = new java.util.LinkedHashSet[(Int, String)]()
    var p = 0
    while (p < nG) {
      var best = p
      var j = p + 1
      val end = math.min(p + w, nG)
      while (j < end) {
        val c = WinnowSelect.compareHex(hs(j), hs(best))
        // strictly smaller hash wins; equal hash prefers the LARGER
        // pos (min over (h, -pos)), and j > best always here
        if (c <= 0) best = j
        j += 1
      }
      seen.add((best + 1, new String(hs(best),
        java.nio.charset.StandardCharsets.US_ASCII)))
      p += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) {
      val (pos, fp) = it.next()
      out(o) = org.apache.spark.sql.catalyst.InternalRow(
        pos, UTF8String.fromString(fp))
      o += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowSelect =
    copy(child = newChild)
}

object WinnowSelect {
  private val HexChars: Array[Byte] = "0123456789abcdef".getBytes
  /** Byte-wise compare of equal-length ASCII hex — UTF8String binary
    * order, which for hex equals lexicographic string order.
    */
  private def compareHex(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < a.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }
}

/** float[]/double[] → int64[] quantization at a fixed scale — the
  * `transform(v, round(x.cast(double) · scale).cast(long))` HOF on
  * EVERY similarity-family corpus scan, as one codegen loop. Per
  * element: widen to double (exact), multiply (double ×), round
  * BigDecimal-HALF_UP at scale 0 (Spark `round` semantics), truncate
  * to long (exact on the integral result) — bit-identical to the
  * chain it replaces, null elements propagated.
  */
case class QuantizeVec(child: Expression, scale: Double)
  extends UnaryKernel[ArrayData, ArrayData] {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override def prettyName: String = "quantize_vec"

  @transient private lazy val fromFloat: Boolean =
    child.dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType

  def kernel(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val d = (if (fromFloat) v.getFloat(i).toDouble else v.getDouble(i)) * scale
        out(i) = java.math.BigDecimal.valueOf(d)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

/** Exact int64 squared L2 distance between two long arrays — the
  * `aggregate(zip_with((x−y)·(x−y)), sum)` HOF chain (interpreted,
  * per-element object churn) as one fused codegen loop; the distance
  * twin of [[IntDotProduct]], used by every k-means/IVF assignment.
  * Null if lengths differ or any element is null (the HOF's
  * null-propagation semantics).
  */
case class IntSqDist(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData, java.lang.Long] with BoxedResult {
  override def dataType: DataType = LongType
  override def prettyName: String = "int_sqdist"
  override protected def boxName: String = "sqd"

  def kernel(a: ArrayData, b: ArrayData): java.lang.Long = Kernels.intSqDist(a, b)
  override protected def javaCall(ctx: CodegenContext): (String, String) => String =
    (a, b) => s"graft.plans.Kernels.intSqDist($a, $b)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntSqDist =
    copy(left = newLeft, right = newRight)
}

/** Static kernels for the product-quantization hot path (q123/q160):
  * encode, per-query ADC table, and ADC score. The Column-API
  * formulations they replace (`transform`/`filter`/`aggregate`
  * lambdas over the codebook literal) are Catalyst higher-order
  * functions — CodegenFallback, evaluated interpreted per ROW with
  * per-element object churn — on the corpus-linear encode scan and
  * the per-candidate score, the exact class rule §4 (and the
  * IntDotProduct precedent) exists for. The codebook rides into
  * generated code as one flattened `long[]` reference object
  * (index `((sub·KS + ccid−1)·D + p)`), like [[RhpSignature]]'s
  * sign matrix.
  */
object PqKernels {

  /** PQ encode: per subspace the (d2, ccid)-lexicographic argmin —
    * scan ccid ascending, strict improvement keeps the smaller ccid
    * on ties, exactly `array_min(struct(d2, ccid))`. Returns 1-based
    * codes, one per subspace.
    */
  def encode(vec: ArrayData, book: Array[Long], m: Int, d: Int,
      ks: Int): ArrayData = {
    val v = vec.toLongArray()
    val out = new Array[Int](m)
    var sp = 0
    while (sp < m) {
      var best = 1
      var bestD = Long.MaxValue
      var c = 0
      while (c < ks) {
        val base = (sp * ks + c) * d
        var t = 0L
        var p = 0
        while (p < d) {
          val diff = v(sp * d + p) - book(base + p)
          t += diff * diff
          p += 1
        }
        if (t < bestD) { bestD = t; best = c + 1 }
        c += 1
      }
      out(sp) = best
      sp += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-query ADC distance table over the whole codebook, sub-major /
    * ccid-ascending — exactly the `transform(bookLit, sqDist(slice))`
    * ordering the 1-based `dt[sub·KS + code]` lookup indexes into.
    */
  def adcTable(vec: ArrayData, book: Array[Long], m: Int, d: Int,
      ks: Int): ArrayData = {
    val v = vec.toLongArray()
    val out = new Array[Long](m * ks)
    var i = 0
    while (i < m * ks) {
      val sp = i / ks
      val base = i * d
      var t = 0L
      var p = 0
      while (p < d) {
        val diff = v(sp * d + p) - book(base + p)
        t += diff * diff
        p += 1
      }
      out(i) = t
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[encode]] of the residual `vec − cent`, subtraction fused into
    * the distance loop: `((v−c) − book)²` term by term — bit-identical
    * to encoding a pre-staged `zip_with(vec, cent, x − y)` residual
    * (int64 subtraction is exact), with no intermediate array.
    */
  def encodeResid(vec: ArrayData, cent: ArrayData, book: Array[Long],
      m: Int, d: Int, ks: Int): ArrayData = {
    val v = vec.toLongArray()
    val cv = cent.toLongArray()
    val out = new Array[Int](m)
    var sp = 0
    while (sp < m) {
      var best = 1
      var bestD = Long.MaxValue
      var c = 0
      while (c < ks) {
        val base = (sp * ks + c) * d
        var t = 0L
        var p = 0
        while (p < d) {
          val i = sp * d + p
          val diff = (v(i) - cv(i)) - book(base + p)
          t += diff * diff
          p += 1
        }
        if (t < bestD) { bestD = t; best = c + 1 }
        c += 1
      }
      out(sp) = best
      sp += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** [[adcTable]] of the residual `vec − cent`, subtraction fused —
    * see [[encodeResid]].
    */
  def adcTableResid(vec: ArrayData, cent: ArrayData, book: Array[Long],
      m: Int, d: Int, ks: Int): ArrayData = {
    val v = vec.toLongArray()
    val cv = cent.toLongArray()
    val out = new Array[Long](m * ks)
    var i = 0
    while (i < m * ks) {
      val sp = i / ks
      val base = i * d
      var t = 0L
      var p = 0
      while (p < d) {
        val vi = sp * d + p
        val diff = (v(vi) - cv(vi)) - book(base + p)
        t += diff * diff
        p += 1
      }
      out(i) = t
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC score: Σ_sub dt[sub·KS + code_sub] (1-based lookup) — the
    * `aggregate(sequence(...), element_at(...))` fold as one loop.
    */
  def adcScore(dt: ArrayData, code: ArrayData, ks: Int): Long = {
    val m = code.numElements()
    var acc = 0L
    var sp = 0
    while (sp < m) {
      acc += dt.getLong(sp * ks + code.getInt(sp) - 1)
      sp += 1
    }
    acc
  }
}

/** PQ encode as one codegen kernel — see [[PqKernels.encode]]. */
case class PqEncode(child: Expression, book: Array[Long], m: Int,
    d: Int, ks: Int) extends UnaryKernel[ArrayData, ArrayData] with ContentEquality {
  require(book.length == m * ks * d, "book must be M x KS x D")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  def kernel(vec: ArrayData): ArrayData = PqKernels.encode(vec, book, m, d, ks)
  override protected def javaCall(ctx: CodegenContext): String => String = {
    val ref = ctx.addReferenceObj("pqBook", book, "long[]")
    c => s"graft.plans.PqKernels.encode($c, $ref, $m, $d, $ks)"
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Per-query ADC table as one codegen kernel — see
  * [[PqKernels.adcTable]].
  */
case class PqAdcTable(child: Expression, book: Array[Long], m: Int,
    d: Int, ks: Int) extends UnaryKernel[ArrayData, ArrayData] with ContentEquality {
  require(book.length == m * ks * d, "book must be M x KS x D")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_adc_table"

  def kernel(vec: ArrayData): ArrayData = PqKernels.adcTable(vec, book, m, d, ks)
  override protected def javaCall(ctx: CodegenContext): String => String = {
    val ref = ctx.addReferenceObj("pqBook", book, "long[]")
    c => s"graft.plans.PqKernels.adcTable($c, $ref, $m, $d, $ks)"
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcTable =
    copy(child = newChild)
}

/** ADC score fold as one codegen kernel — see [[PqKernels.adcScore]]. */
case class PqAdcScore(left: Expression, right: Expression, ks: Int)
  extends BinaryKernel[ArrayData, ArrayData, Long] {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc_score"

  def kernel(dt: ArrayData, code: ArrayData): Long = PqKernels.adcScore(dt, code, ks)
  override protected def javaCall(ctx: CodegenContext): (String, String) => String =
    (a, b) => s"graft.plans.PqKernels.adcScore($a, $b, $ks)"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScore =
    copy(left = newLeft, right = newRight)
}

/** Elementwise long-vector subtraction — the residual
  * `zip_with(a, b, (x, y) => x - y)` on the q160 IVF-PQ corpus scan
  * and q174's mean-centering, as ONE codegen loop (the HOF is
  * CodegenFallback — interpreted per row with per-element boxing,
  * rule §4). Exact zip_with-minus semantics: result length is
  * max(|a|, |b|); an element is null when either side is missing
  * (shorter array) or null.
  */
case class LongVecSub(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData, ArrayData] {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = true)
  override def prettyName: String = "long_vec_sub"

  def kernel(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < na && i < nb && !a.isNullAt(i) && !b.isNullAt(i))
        out(i) = a.getLong(i) - b.getLong(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongVecSub =
    copy(left = newLeft, right = newRight)
}

/** PQ encode of the RESIDUAL (vec − cent) without materializing it —
  * the fused form of `PqEncode(zip_with(vec, cent, x − y))` on the
  * q160 corpus-linear encode scan: the residual subtraction happens
  * inside the per-subspace distance loop ((v−c)−book ≡ the staged
  * subtraction exactly, in int64), so the last interpreted HOF leaves
  * the scan AND the per-row residual array allocation disappears.
  * Both inputs must be non-null M×D vectors (quantized corpus vectors
  * and collected centroid rows — non-null by construction).
  */
case class PqEncodeResid(left: Expression, right: Expression,
    book: Array[Long], m: Int, d: Int, ks: Int)
  extends BinaryKernel[ArrayData, ArrayData, ArrayData] with ContentEquality {
  require(book.length == m * ks * d, "book must be M x KS x D")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode_resid"

  def kernel(v: ArrayData, c: ArrayData): ArrayData =
    PqKernels.encodeResid(v, c, book, m, d, ks)
  override protected def javaCall(ctx: CodegenContext): (String, String) => String = {
    val ref = ctx.addReferenceObj("pqBook", book, "long[]")
    (v, c) => s"graft.plans.PqKernels.encodeResid($v, $c, $ref, $m, $d, $ks)"
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeResid =
    copy(left = newLeft, right = newRight)
}

/** Per-query ADC table of the RESIDUAL (vec − cent) — the fused form
  * of `PqAdcTable(zip_with(vec, cent, x − y))`; see [[PqEncodeResid]].
  */
case class PqAdcTableResid(left: Expression, right: Expression,
    book: Array[Long], m: Int, d: Int, ks: Int)
  extends BinaryKernel[ArrayData, ArrayData, ArrayData] with ContentEquality {
  require(book.length == m * ks * d, "book must be M x KS x D")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_adc_table_resid"

  def kernel(v: ArrayData, c: ArrayData): ArrayData =
    PqKernels.adcTableResid(v, c, book, m, d, ks)
  override protected def javaCall(ctx: CodegenContext): (String, String) => String = {
    val ref = ctx.addReferenceObj("pqBook", book, "long[]")
    (v, c) => s"graft.plans.PqKernels.adcTableResid($v, $c, $ref, $m, $d, $ks)"
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcTableResid =
    copy(left = newLeft, right = newRight)
}

/** Nearest-cell argmin over a flattened centroid table, as ONE
  * codegen kernel: returns the 1-BASED index (into the caller's
  * cell-id-ascending cell order) of the cell minimizing exact int64
  * squared L2, ties to the EARLIEST cell (= smallest cell id) — the
  * `array_min(transform(centLit, e => struct(sqDist(q, e.cvec),
  * e.clabel, …)))` / `min_by(struct(…), struct(d2, clabel))`
  * lexicographic (d2, id) argmin of the IVF assignment scans
  * (q33/q80/q83/q97/q160). The HOF form was interpreted per corpus
  * row AND copied every centroid vector into per-row structs (rule
  * §4); the min_by form paid a corpus exchange (guide §2.4) — callers
  * look the winning id/centroid up from bounded literals via
  * `element_at`. Null for a null/length-mismatched input vector.
  */
case class IvfNearestIdx(child: Expression, cents: Array[Long], dim: Int)
  extends UnaryKernel[ArrayData, java.lang.Integer] with BoxedResult with ContentEquality {
  require(dim >= 1 && cents.length % dim == 0,
    s"cents must be k x dim, got ${cents.length} with dim $dim")
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "ivf_nearest_idx"
  override protected def boxName: String = "nidx"

  def kernel(v: ArrayData): java.lang.Integer = {
    if (v.numElements() != dim) return null
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      q(i) = v.getLong(i)
      i += 1
    }
    val k = cents.length / dim
    var best = 1
    var bestD = Long.MaxValue
    var c = 0
    while (c < k) {
      val base = c * dim
      var t = 0L
      var p = 0
      while (p < dim) {
        val d = q(p) - cents(base + p)
        t += d * d
        p += 1
      }
      if (t < bestD) { bestD = t; best = c + 1 }
      c += 1
    }
    java.lang.Integer.valueOf(best)
  }

  override protected def withNewChildInternal(newChild: Expression): IvfNearestIdx =
    copy(child = newChild)
}

/** Word bigrams ("w[i] w[i+1]") of a token array in ONE codegen pass —
  * the `zip_with(slice(w, 1, n−1), slice(w, 2, n−1), concat(a, ' ', b))`
  * chain (two interpreted slices + an interpreted zip_with per corpus
  * row, rule §4) on q28/q79/q84/q106 and the DSIR weight family
  * (q114/q115/q116). Exactly n−1 bigrams for n ≥ 2 tokens, else empty;
  * token arrays come from `split`, whose elements are never null.
  */
case class Bigrams(child: Expression) extends UnaryKernel[ArrayData, ArrayData] {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bigrams"

  def kernel(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n < 2)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    val bb = new java.io.ByteArrayOutputStream(48)
    var i = 0
    var cur = words.getUTF8String(0)
    while (i < n - 1) {
      val nxt = words.getUTF8String(i + 1)
      bb.reset()
      bb.write(cur.getBytes)
      bb.write(' ')
      bb.write(nxt.getBytes)
      out(i) = UTF8String.fromBytes(bb.toByteArray)
      cur = nxt
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Bigrams =
    copy(child = newChild)
}

/** All word k-grams WITH their 1-based positions, as
  * array<struct<pos int, gram string>> — the
  * `transform(sequence(1, n−k+1), i => struct(i, array_join(slice(w,
  * i, k), ' ')))` chain of the q107/q173 gram index (an interpreted
  * HOF building every gram via slice+join object churn, rule §4) in
  * ONE codegen pass. Empty for n < k, exactly as the guarded
  * `when(n >= k, sequence(...))` produced.
  */
case class GramsWithPos(child: Expression, k: Int)
  extends UnaryKernel[ArrayData, ArrayData] {
  require(k >= 1, s"GramsWithPos needs k >= 1, got $k")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("gram", StringType,
          nullable = false))), containsNull = false)
  override def prettyName: String = "grams_with_pos"

  def kernel(words: ArrayData): ArrayData = {
    val n = words.numElements()
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    val bb = new java.io.ByteArrayOutputStream(64)
    var i = 0
    while (i <= n - k) {
      bb.reset()
      var j = i
      while (j < i + k) {
        if (j > i) bb.write(' ')
        bb.write(words.getUTF8String(j).getBytes)
        j += 1
      }
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](i + 1, UTF8String.fromBytes(bb.toByteArray)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): GramsWithPos =
    copy(child = newChild)
}

/** Per-target occurrence counts over a token array, in ONE codegen
  * pass: element `t` = how many tokens equal `targets(t)`. Replaces
  * the retrieval-family posting shape "explode every token → join the
  * query-term set → count per (doc, term)" for a BOUNDED collected
  * query-term set (q86/q125): the explode+join+aggregate paid a
  * corpus-vocabulary hash aggregate and a per-token hash probe where
  * one map-side scan suffices (guide §2.3 aggregate-before-shuffle,
  * taken to its limit: no shuffle at all). Null tokens match nothing.
  */
case class TermCounts(child: Expression, targets: Array[String])
  extends UnaryKernel[ArrayData, ArrayData] with ContentEquality {
  require(targets.nonEmpty, "TermCounts needs at least one target")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "term_counts"

  @transient private lazy val targetBytes: Array[UTF8String] =
    targets.map(UTF8String.fromString)

  def kernel(words: ArrayData): ArrayData = {
    val out = new Array[Int](targets.length)
    val n = words.numElements()
    var i = 0
    while (i < n) {
      if (!words.isNullAt(i)) {
        val w = words.getUTF8String(i)
        var t = 0
        while (t < targetBytes.length) {
          if (w.equals(targetBytes(t))) out(t) += 1
          t += 1
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

/** Count of positionally equal elements between two arrays — the
  * q147 signature-agreement `size(filter(zip_with(a, b, _ = _),
  * x => x))` per candidate pair, fused. zip_with pads the shorter
  * side with nulls and `a = b` is null when either side is null, and
  * `filter` drops non-true — so the count covers only i < min(|a|,
  * |b|) with both non-null and equal, exactly as here.
  */
case class EqCount(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, ArrayData, Int] {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def prettyName: String = "eq_count"

  def kernel(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var cnt = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) &&
          a.getUTF8String(i).equals(b.getUTF8String(i))) cnt += 1
      i += 1
    }
    cnt
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EqCount =
    copy(left = newLeft, right = newRight)
}

/** Unit-norm re-quantization for q97:
  * `transform(q0, x => round(x.cast(double) / sqrt(nsq) * 1e6)
  * .cast(long))` as one codegen loop. Per element, the exact scalar
  * chain: widen to double, divide by sqrt(nsq) (double), multiply by
  * 1e6 (double), round BigDecimal-HALF_UP at scale 0 (Spark `round`
  * on double), truncate to long — bit-identical to the HOF it
  * replaces, null elements propagated.
  */
case class RenormQuantize(left: Expression, right: Expression)
  extends BinaryKernel[ArrayData, Long, ArrayData] {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType)
  override def prettyName: String = "renorm_quantize"

  def kernel(v: ArrayData, nsq: Long): ArrayData = {
    val n = v.numElements()
    val root = math.sqrt(nsq.toDouble)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!v.isNullAt(i)) {
        val d = v.getLong(i).toDouble / root * 1e6
        // Spark's round leaves NaN/Inf unchanged (its codegen guard);
        // the trailing cast-to-long then clamps exactly like this
        out(i) =
          if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d.toLong
          else java.math.BigDecimal.valueOf(d)
            .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RenormQuantize =
    copy(left = newLeft, right = newRight)
}

/** Fixed-width word chunks ("paragraphs") of a token array — q85's
  * `transform(sequence(0, (n+15) div 16 − 1), i =>
  * array_join(slice(w, i·16+1, 16), ' '))` as one codegen pass:
  * ⌈n/width⌉ space-joined chunks (n ≥ 1 always — `split` yields at
  * least one element). Chunk i covers words [i·width, min((i+1)·width,
  * n)).
  */
case class WordChunks(child: Expression, width: Int)
  extends UnaryKernel[ArrayData, ArrayData] {
  require(width >= 1, s"WordChunks needs width >= 1, got $width")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_chunks"

  def kernel(words: ArrayData): ArrayData = {
    val n = words.numElements()
    val nc = math.max((n + width - 1) / width, 1)
    val out = new Array[Any](nc)
    val bb = new java.io.ByteArrayOutputStream(128)
    var c = 0
    while (c < nc) {
      bb.reset()
      var j = c * width
      val hi = math.min(j + width, n)
      while (j < hi) {
        if (j > c * width) bb.write(' ')
        bb.write(words.getUTF8String(j).getBytes)
        j += 1
      }
      out(c) = UTF8String.fromBytes(bb.toByteArray)
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

/** Column wrappers; the SQL functions are registered by
  * [[GraftExtensions]].
  */
object NativeFunctions {

  import org.apache.spark.sql.graftshim.ColumnShim

  def simhash64(c: Column): Column =
    ColumnShim.column(SimHash64(ColumnShim.expression(c)))

  def rollingHash64(c: Column): Column =
    ColumnShim.column(RollingHash64(ColumnShim.expression(c)))

  def byteEntropy(c: Column): Column =
    ColumnShim.column(ByteEntropy(ColumnShim.expression(c)))

  /** Date → first trading day on-or-after, skipping weekends and the
    * given `yyyy-MM-dd` holidays.
    */
  def tradingDayRoll(c: Column, holidays: Seq[String]): Column =
    ColumnShim.column(TradingDayRoll(ColumnShim.expression(c),
      holidays.map(d => java.time.LocalDate.parse(d).toEpochDay.toInt)
        .sorted.toArray))

  /** Native bloom-filter pair — the exact mechanism Spark's runtime
    * row-level filtering injects, exposed as columns: build the
    * sketch with an aggregate over `xxhash64(col)` values, probe with
    * the codegen [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * on a binary literal. Unlike `df.stat.bloomFilter` + a Scala UDF,
    * the probe stays inside whole-stage codegen — no closure
    * serialization per row on a path that sees one row per shingle.
    */
  def bloomAgg(hashed: Column, expectedItems: Long, fpp: Double): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    ColumnShim.column(new BloomFilterAggregate(ColumnShim.expression(hashed),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
  }

  /** Codegen membership probe against a driver-built bloom binary;
    * `hashed` must be the same `xxhash64(col)` used to build.
    */
  def bloomMightContain(bloom: Array[Byte], hashed: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    ColumnShim.column(BloomFilterMightContain(
      Literal(bloom, org.apache.spark.sql.types.BinaryType),
      ColumnShim.expression(hashed)))
  }
}
