package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom codegen'd Catalyst expressions for the hot text-hashing path.
  *
  * The declarative formulation (split -> transform -> aggregate lambdas)
  * is semantically identical but Spark evaluates higher-order-function
  * lambdas INTERPRETED, one expression-tree walk per element — measured
  * ~100x slower than a fused byte-level pass at bench scale. These
  * expressions compute the exact same values (the DuckDB oracle twins in
  * TextQueries are unchanged) in a single scan of the UTF8 bytes, inside
  * whole-stage codegen.
  *
  * Semantics (must stay in lockstep with TextOps.wordHashExpr and the
  * oracle SQL): words split on single spaces; per word
  * h = fold(acc*31 + byte) over ASCII bytes; token id = h % 50257;
  * fingerprint = sum_i (h_i % 1000003) * ((i * 2654435761) % 1000003),
  * i = 1-based word position. ASCII input contract: `ascii()` in both
  * engines returns the codepoint == the byte for ASCII (the fixtures and
  * driver corpus are ASCII).
  */
object TextHash {
  final val TokenMod = 50257L
  final val FpMod = 1000003L
  final val FpMul = 2654435761L

  /** One-pass tokenizer: text -> array<int> of word-hash token ids. */
  def tokenHashAll(bytes: Array[Byte]): Array[Int] = {
    if (bytes.isEmpty) return Array(0) // split('', ' ') == [''] -> hash 0
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') n += 1; i += 1 }
    val out = new Array[Int](n)
    var w = 0
    var acc = 0L
    i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == ' ') { out(w) = (acc % TokenMod).toInt; w += 1; acc = 0L }
      else acc = acc * 31 + (b & 0xff)
      i += 1
    }
    out(w) = (acc % TokenMod).toInt
    out
  }

  /** One-pass positional rolling-hash fingerprint. */
  def fingerprint(bytes: Array[Byte]): Long = {
    var fp = 0L
    var pos = 1L
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      if (b == ' ') {
        fp += (acc % FpMod) * ((pos * FpMul) % FpMod)
        pos += 1; acc = 0L
      } else acc = acc * 31 + (b & 0xff)
      i += 1
    }
    fp + (acc % FpMod) * ((pos * FpMul) % FpMod)
  }

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One-pass `bits`-bit SimHash over single-space-split words: bit j votes
    * +1/-1 from bit (j%4) of hex digit (j/4 + 1) of md5(word) — EXACTLY the
    * declarative Dedup.simHashHof / DuckDB q22 formula (hex char k of the
    * md5 string = high/low nibble of digest byte k/2), one md5 per word
    * instead of one interpreted lambda tree per (word x digit).
    */
  def simHash(bytes: Array[Byte], bits: Int): Long = {
    val md = mdLocal.get()
    val votes = new Array[Int](bits)
    def word(off: Int, len: Int): Unit = {
      md.reset()
      md.update(bytes, off, len)
      val dg = md.digest()
      var j = 0
      while (j < bits) {
        val digitIdx = j >> 2
        val b = dg(digitIdx >> 1) & 0xff
        val hx = if ((digitIdx & 1) == 0) b >>> 4 else b & 0xf
        votes(j) += (((hx >> (j & 3)) & 1) << 1) - 1
        j += 1
      }
    }
    var start = 0
    var i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { word(start, i - start); start = i + 1 }
      i += 1
    }
    word(start, bytes.length - start) // split keeps the trailing/empty word
    var out = 0L
    var j = 0
    while (j < bits) { if (votes(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** One-pass MinHash lanes over char n-gram shingles: lane i = min over
    * all shingles s of the 8-hex-char slice (i%4) of md5("${i/4}:" ++ s) —
    * EXACTLY Dedup.mhLane's formula (lowercase hex string min == unsigned
    * 32-bit min, so the min is computed numerically and formatted once at
    * the end). Duplicate shingles cannot change a min, so the declarative
    * path's array_distinct + explode + groupBy(min) collapses into this
    * single narrow map: ceil(k/4) md5s per shingle position, zero shuffle.
    *
    * Shingles are CHARACTER n-grams (the Dedup.shingles `substring` spec).
    * The hot loop walks raw bytes, which equals character offsets only for
    * ASCII — so non-ASCII input is DETECTED (one branchy scan that the
    * ASCII fast path pays almost nothing for) and routed to a codepoint-
    * sliced fallback instead of silently shingling by byte offsets
    * (ADVICE r2: the ASCII contract was documented but never enforced).
    */
  def minHashLanes(bytes: Array[Byte], n: Int, k: Int): Array[UTF8String] = {
    var ascii = true
    var j = 0
    while (ascii && j < bytes.length) { if ((bytes(j) & 0x80) != 0) ascii = false; j += 1 }
    if (ascii)
      minHashLanesOf(math.max(bytes.length - n + 1, 1), k)( // short text: one shingle
        (md, i) => md.update(bytes, i, math.min(n, bytes.length - i)))
    else {
      // codepoint path: shingle i = codepoints [i, i+n) re-encoded UTF-8 —
      // identical to `substring(text, i, n)` semantics for any input
      val cps = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .codePoints().toArray
      val count = math.max(cps.length - n + 1, 1)
      val shingles = Array.tabulate(count) { i =>
        val len = math.min(n, cps.length - i)
        new String(cps, i, len).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      minHashLanesOf(count, k)((md, i) => md.update(shingles(i)))
    }
  }

  /** The lane-min loop over `count` shingles; `feed(md, i)` hands shingle
    * i's bytes to the digest after its salt. */
  private def minHashLanesOf(count: Int, k: Int)(
      feed: (java.security.MessageDigest, Int) => Unit): Array[UTF8String] = {
    val md = mdLocal.get()
    val nSalts = (k + 3) / 4
    val mins = Array.fill(k)(0x1FFFFFFFFL) // > any unsigned 32-bit lane
    val salts = Array.tabulate(nSalts)(s => s"$s:".getBytes("UTF-8"))
    var i = 0
    while (i < count) {
      var s = 0
      while (s < nSalts) {
        md.reset()
        md.update(salts(s))
        feed(md, i)
        val dg = md.digest()
        var lane = 0
        while (lane < 4 && s * 4 + lane < k) {
          val o = lane * 4
          val v = ((dg(o) & 0xffL) << 24) | ((dg(o + 1) & 0xffL) << 16) |
            ((dg(o + 2) & 0xffL) << 8) | (dg(o + 3) & 0xffL)
          val idx = s * 4 + lane
          if (v < mins(idx)) mins(idx) = v
          lane += 1
        }
        s += 1
      }
      i += 1
    }
    mins.map(v => UTF8String.fromString(f"${v}%08x"))
  }

  import org.apache.spark.sql.graftx.Bridge
  def token_hash_all(c: Column): Column =
    Bridge.column(TokenHashAllExpr(Bridge.expression(c)))
  def fingerprint64(c: Column): Column =
    Bridge.column(FingerprintExpr(Bridge.expression(c)))
  def sim_hash(c: Column, bits: Int): Column =
    Bridge.column(SimHashExpr(Bridge.expression(c), bits))
  def min_hash_lanes(c: Column, n: Int, k: Int): Column =
    Bridge.column(MinHashLanesExpr(Bridge.expression(c), n, k))
  def gff_attrs(c: Column, attrKey: String): Column =
    Bridge.column(GffAttrsExpr(Bridge.expression(c), attrKey))
}

case class TokenHashAllExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(TextHash.tokenHashAll(input.asInstanceOf[UTF8String].getBytes))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextHash.tokenHashAll($c.getBytes()))")
  override protected def withNewChildInternal(newChild: Expression): TokenHashAllExpr =
    copy(child = newChild)
}

/** Codegen'd cosine kernel: dot(a,b) / sqrt(dot(a,a)*dot(b,b)) over two
  * float arrays, accumulating in double with a strict left-to-right fold —
  * bit-identical to the declarative `aggregate(zip_with(...))` form and to
  * DuckDB's list_inner_product, but one fused loop instead of interpreted
  * per-element lambdas (the q24 hot path).
  */
object VectorOps {
  def dotDouble(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  /** First colliding kept band for a banded-LSH pair (emit-once dedup,
    * Similarity.cosineNearDupPairs): the smallest band g whose
    * `bandBits`-bit signature slices differ in AT MOST ONE bit (the
    * Hamming-1 multi-probe collision predicate — masks {0} ∪ single
    * bits ⟺ popcount(xor) <= 1) AND whose bit is set in the b-side's
    * kept-bucket mask (a capped-out bucket cannot produce the pair in
    * that band). -1 if no kept band collides.
    */
  def firstCollidingBand(sa: Long, sb: Long, keptMask: Long,
      bandBits: Int, nBands: Int): Long = {
    val x = sa ^ sb
    val w = (1L << bandBits) - 1
    var g = 0
    while (g < nBands) {
      if (((keptMask >> g) & 1L) == 1L &&
          java.lang.Long.bitCount((x >> (g * bandBits)) & w) <= 1) return g
      g += 1
    }
    -1L
  }

  import org.apache.spark.sql.graftx.Bridge
  def dot_f(x: Column, y: Column): Column =
    Bridge.column(DotExpr(Bridge.expression(x), Bridge.expression(y)))
  def first_colliding_band(sa: Column, sb: Column, kept: Column,
      bandBits: Int, nBands: Int): Column =
    Bridge.column(FirstCollidingBandExpr(Bridge.expression(sa),
      Bridge.expression(sb), Bridge.expression(kept), bandBits, nBands))
}

case class DotExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorOps.dotDouble(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dotDouble($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotExpr =
    copy(left = l, right = r)
}

case class SimHashExpr(child: Expression, bits: Int) extends UnaryExpression {
  require(bits <= 32 && bits % 4 == 0)
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextHash.simHash(input.asInstanceOf[UTF8String].getBytes, bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.simHash($c.getBytes(), $bits)")
  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}

case class MinHashLanesExpr(child: Expression, n: Int, k: Int) extends UnaryExpression {
  require(n >= 1 && k >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      TextHash.minHashLanes(input.asInstanceOf[UTF8String].getBytes, n, k)
        .asInstanceOf[Array[Any]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.TextHash.minHashLanes($c.getBytes(), $n, $k))")
  override protected def withNewChildInternal(newChild: Expression): MinHashLanesExpr =
    copy(child = newChild)
}

/** Fused GFF attribute extraction: one byte scan of the attrs column
  * replacing THREE regexp_extract executions per row
  * (`ID=([^;\s]+)`, `Parent=([^;\s]+)`, `<attrKey>=([^;]+)` — the r6
  * index-build hot path). Semantics replicate the regexes exactly:
  * the FIRST occurrence of the literal key whose value run is
  * non-empty wins (an occurrence with an empty run is skipped and the
  * scan continues, like the regex engine); ID/Parent values stop at
  * `;` or java-regex \s (space, \t, \n, \x0B, \f, \r), attrKey values
  * stop at `;` only. Returns struct(id, parent, attr), each field null
  * when its pattern has no match (the nullIfEmpty contract).
  * ASCII-safe: keys and stop chars are single-byte; a multi-byte
  * sequence can never alias them in UTF-8.
  */
object GffAttrs {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'

  /** First match of `key` + "=" + a non-empty run not containing a stop
    * char; returns the run or null.
    */
  private def find(bytes: Array[Byte], key: Array[Byte], stopWs: Boolean): UTF8String = {
    val n = bytes.length
    val k = key.length
    var i = 0
    while (i + k < n) { // need at least one byte after "key="
      var m = 0
      while (m < k && bytes(i + m) == key(m)) m += 1
      if (m == k) {
        var j = i + k
        while (j < n && bytes(j) != ';' && !(stopWs && isWs(bytes(j)))) j += 1
        if (j > i + k)
          return UTF8String.fromBytes(java.util.Arrays.copyOfRange(bytes, i + k, j))
        // empty run: the regex engine would keep scanning from i+1
      }
      i += 1
    }
    null
  }

  private val IdKey = "ID=".getBytes("UTF-8")
  private val ParentKey = "Parent=".getBytes("UTF-8")

  def extract(attrs: UTF8String, attrKeyEq: Array[Byte]): InternalRow = {
    val bytes = attrs.getBytes
    val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(3)
    row.update(0, find(bytes, IdKey, stopWs = true))
    row.update(1, find(bytes, ParentKey, stopWs = true))
    row.update(2, find(bytes, attrKeyEq, stopWs = false))
    row
  }
}

case class GffAttrsExpr(child: Expression, attrKey: String) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("id", StringType, nullable = true),
    StructField("parent", StringType, nullable = true),
    StructField("attr", StringType, nullable = true)))
  @transient private lazy val keyEq = (attrKey + "=").getBytes("UTF-8")
  override def nullSafeEval(input: Any): Any =
    GffAttrs.extract(input.asInstanceOf[UTF8String], keyEq)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keyRef = ctx.addReferenceObj("attrKeyEq", keyEq, "byte[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.GffAttrs.extract($c, $keyRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): GffAttrsExpr =
    copy(child = newChild)
}

case class FirstCollidingBandExpr(sa: Expression, sb: Expression, kept: Expression,
    bandBits: Int, nBands: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = sa
  override def second: Expression = sb
  override def third: Expression = kept
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any, k: Any): Any =
    VectorOps.firstCollidingBand(a.asInstanceOf[Long], b.asInstanceOf[Long],
      k.asInstanceOf[Long], bandBits, nBands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, k) =>
      s"graft.functions.VectorOps.firstCollidingBand($a, $b, $k, $bandBits, $nBands)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): FirstCollidingBandExpr = copy(sa = f, sb = s, kept = t)
}

case class FingerprintExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    TextHash.fingerprint(input.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.fingerprint($c.getBytes())")
  override protected def withNewChildInternal(newChild: Expression): FingerprintExpr =
    copy(child = newChild)
}
