package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
// (Column↔Expression bridging lives in org.apache.spark.sql.classic)
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel shared by interpreted eval and generated code. */
object MinHashKernel {

  private val hexDigits = "0123456789abcdef".toCharArray

  /** MinHash signature of the 3-gram character shingles of `text`:
    * one md5 per shingle, digest split into `bands` 8-hex-char slices,
    * per-band lexicographic minimum. Equivalent to (but one-pass,
    * no intermediate arrays)
    *   list_min(list_transform(shingles, g -> substr(md5(g), 8*j+1, 8)))
    * for j in [0, bands). Returns null when length(text) < 3 (no
    * shingles), mirroring the SQL-side WHERE length(text) >= 3 guard.
    *
    * bands <= 4 (md5 = 32 hex chars / 8 per band).
    */
  def signature(text: UTF8String, bands: Int): ArrayData = {
    val s = text.toString
    // shingle by CODE POINT (see graft.functions.Shingles): matches
    // Spark substring() and DuckDB substr() on non-BMP text
    val cp = Shingles.starts(s)
    val n = cp.length - 1
    if (n < 3) return null
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[String](bands)
    var i = 0
    while (i <= n - 3) {
      md.reset()
      val digest = md.digest(s.substring(cp(i), cp(i + 3)).getBytes("UTF-8"))
      val hex = new Array[Char](32)
      var b = 0
      while (b < 16) {
        hex(2 * b) = hexDigits((digest(b) >> 4) & 0xf)
        hex(2 * b + 1) = hexDigits(digest(b) & 0xf)
        b += 1
      }
      var j = 0
      while (j < bands) {
        val slice = new String(hex, 8 * j, 8)
        if (mins(j) == null || slice.compareTo(mins(j)) < 0) mins(j) = slice
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  }

  /** k INDEPENDENT MinHash values (vs [[signature]]'s 4 fixed slices of
    * one md5): hash j of a shingle is the first 8 hex chars of
    * md5("<j>:" || shingle), so any k is available for b-bands ×
    * r-rows banding. Equivalent to (but one pass, no gram arrays)
    *   list_min(list_transform(shingles, g -> substr(md5(concat('<j>:', g)), 1, 8)))
    * per seed j in [0, k). Internally the first 4 digest bytes are kept
    * as an unsigned int (lexicographic hex order == unsigned numeric
    * order) and hex-formatted once at the end. Returns null when
    * length(text) < 3 (no shingles).
    */
  def signatureSeeded(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    // shingle by CODE POINT (see graft.functions.Shingles): matches
    // Spark substring() and DuckDB substr() on non-BMP text
    val cp = Shingles.starts(s)
    val n = cp.length - 1
    if (n < 3) return null
    val md = MessageDigest.getInstance("MD5")
    val prefixes = Array.tabulate(k)(j => (j + ":").getBytes("UTF-8"))
    val mins = new Array[Int](k)
    java.util.Arrays.fill(mins, -1) // unsigned max
    var i = 0
    while (i <= n - 3) {
      val gram = s.substring(cp(i), cp(i + 3)).getBytes("UTF-8")
      var j = 0
      while (j < k) {
        md.reset()
        md.update(prefixes(j))
        val d = md.digest(gram)
        val v = ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) |
          ((d(2) & 0xff) << 8) | (d(3) & 0xff)
        if (java.lang.Integer.compareUnsigned(v, mins(j)) < 0) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(v =>
      UTF8String.fromString(f"${v.toLong & 0xffffffffL}%08x")).asInstanceOf[Array[Any]])
  }

  /** Universal-hash-family seed constants for [[signatureUniversal]]:
    * aⱼ ∈ [1, 2³⁰] keeps every product under 2⁶² (no BIGINT overflow in
    * either engine), bⱼ ∈ [0, 2³²). Deterministic literals — the q58
    * oracle inlines them per seed. */
  def seedA(j: Int): Long = ((j + 1) * 2654435761L) % 1073741789L + 1
  def seedB(j: Int): Long = ((j + 1) * 2246822519L) % 4294967296L

  /** Prime modulus of the universal family (smallest prime > 2³²). */
  val UniversalP = 4294967311L

  /** k independent MinHash values from a UNIVERSAL hash family instead
    * of [[signatureSeeded]]'s k md5s per shingle: the 3-gram's base
    * hash gh(g) is [[graft.Knuth.gram]] over the gram's code points,
    * the formula the text oracles replay, and hash j is
    *   (aⱼ·gh + bⱼ) % 4294967311.
    * This is the textbook MinHash construction (Broder; Carter–Wegman
    * hashing): one multiply-add-mod per shingle per seed, ~20× cheaper
    * than an md5 digest, and every step is exact BIGINT arithmetic the
    * oracle replays verbatim. Returns null when length(text) < 3. */
  def signatureUniversal(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val cp = Shingles.starts(s)
    val n = cp.length - 1
    if (n < 3) return null
    val as = Array.tabulate(k)(seedA)
    val bs = Array.tabulate(k)(seedB)
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i <= n - 3) {
      val base = graft.Knuth.gram(s.codePointAt(cp(i)),
        s.codePointAt(cp(i + 1)), s.codePointAt(cp(i + 2)))
      var j = 0
      while (j < k) {
        val v = (as(j) * base + bs(j)) % UniversalP
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(java.lang.Long.valueOf).asInstanceOf[Array[Any]])
  }
}

/** Catalyst expression: `minhash_signature(text)` → array<string> of
  * `bands` per-band minima (null when no shingles exist). Codegen emits
  * a single call into MinHashKernel so the expression stays inside the
  * whole-stage-codegen pipeline with no per-row boxing beyond the
  * result array.
  */
case class MinHashSignature(child: Expression, bands: Int = 4)
    extends UnaryExpression {

  require(bands >= 1 && bands <= 4, "md5 yields at most 4 bands of 8 hex chars")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    MinHashKernel.signature(input.asInstanceOf[UTF8String], bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         ${ev.value} = graft.functions.MinHashKernel.signature($c, $bands);
         if (${ev.value} == null) { ${ev.isNull} = true; }
       """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

/** Catalyst expression: `minhash_k(text, k)` → array<string> of k
  * independent per-seed minima (see MinHashKernel.signatureSeeded) —
  * the signature for parameterized b×r LSH banding. Codegen'd for
  * whole-stage pipelines like MinHashSignature.
  */
case class MinHashK(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes >= 1 && numHashes <= 128,
    "minhash_k supports 1..128 independent hashes")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    MinHashKernel.signatureSeeded(input.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         ${ev.value} = graft.functions.MinHashKernel.signatureSeeded($c, $numHashes);
         if (${ev.value} == null) { ${ev.isNull} = true; }
       """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_k"
}

/** Catalyst expression: `minhash_fast(text, k)` → array<bigint> of k
  * universal-hash-family minima (see MinHashKernel.signatureUniversal)
  * — the scale-path signature for b×r banding: one multiply-add-mod
  * per shingle per seed instead of an md5 digest. Codegen'd.
  */
case class MinHashFast(child: Expression, numHashes: Int)
    extends UnaryExpression {

  require(numHashes >= 1 && numHashes <= 128,
    "minhash_fast supports 1..128 independent hashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any =
    MinHashKernel.signatureUniversal(input.asInstanceOf[UTF8String], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         ${ev.value} = graft.functions.MinHashKernel.signatureUniversal($c, $numHashes);
         if (${ev.value} == null) { ${ev.isNull} = true; }
       """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "minhash_fast"
}

object MinHash {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column-API entry point (Spark 4: Column↔Expression bridging goes
    * through the package-private classic.ExpressionUtils — see Bridge). */
  def minhashSignature(c: Column, bands: Int = 4): Column =
    Bridge.column(MinHashSignature(Bridge.expression(c), bands))

  /** k independent per-seed MinHash minima, for b×r banding. */
  def minhashK(c: Column, k: Int): Column =
    Bridge.column(MinHashK(Bridge.expression(c), k))

  /** k universal-family MinHash minima — the cheap-hash scale path. */
  def minhashFast(c: Column, k: Int): Column =
    Bridge.column(MinHashFast(Bridge.expression(c), k))
}
