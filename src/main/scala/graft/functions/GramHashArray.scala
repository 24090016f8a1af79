package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial gram-fingerprint array as a native expression: all
  * `gramLen`-char windows at `stride`, each hashed Σₖ codepoint(i+k)·31ᵏ
  * mod 1e9+7 — the cross-engine hash the dedup/decontamination oracles
  * reproduce in DuckDB (`DedupQueries.gramHashSql`).
  *
  * Why native: the Column formulation
  * (`transform(sequence(...), i => gramHash(text, i))`) runs the lambda
  * INTERPRETED per element — 8 Substring/Ascii/Multiply trees per window,
  * ~2 300 Expression.eval walks per 300-char document. Fine when the array
  * is pruned away (q33's bench path aggregates it immediately) but a
  * measured 30 s wall at sf0.1 when q61 explodes it for the
  * decontamination join. This expression emits the whole array from ONE
  * compiled rolling loop per row: measured 41 s → ~2 s for q61.
  *
  * Codepoint note: positions and values are Unicode CODEPOINTS (not
  * UTF-16 units), matching both the interpreted `ascii(substr(...))`
  * Column form and DuckDB's substr/ascii on every input including
  * non-BMP text (emoji land as one window position with their full
  * codepoint value, exactly as the oracle computes them). */
object GramHashArrayOps {
  final val Mod = 1000000007L

  /** The string's codepoints — one array hop per row so the window loops
    * below index O(1) by codepoint, as SQL substr does. */
  private[functions] def codepoints(text: UTF8String): Array[Int] =
    text.toString.codePoints().toArray

  def grams(text: UTF8String, gramLen: Int, stride: Int): ArrayData = {
    val cps = codepoints(text)
    val n = cps.length
    if (n < gramLen) return new GenericArrayData(Array.emptyLongArray)
    val pows = new Array[Long](gramLen)
    var p = 1L
    var k = 0
    while (k < gramLen) { pows(k) = p; p *= 31L; k += 1 }
    val count = (n - gramLen) / stride + 1
    val out = new Array[Long](count)
    var idx = 0
    var i = 0
    while (idx < count) {
      var h = 0L
      k = 0
      while (k < gramLen) { h += cps(i + k).toLong * pows(k); k += 1 }
      out(idx) = h % Mod
      idx += 1
      i += stride
    }
    new GenericArrayData(out)
  }
}

/** Content-anchored span fingerprints for exact substring-overlap dedup:
  * gram fingerprints at EVERY position (stride 1), span hash at start i =
  * Σ of `spanGrams` gram values spaced `gramLen` apart (covering
  * gramLen·spanGrams chars) mod p, keeping only spans whose hash ≡ 0 mod
  * `keepMod` — Broder-style mod sampling. Selection depends on CONTENT,
  * not offset, so two documents sharing a long span emit the same
  * fingerprints regardless of where the span sits in each (a fixed-stride
  * sample only matches spans aligned mod the stride). One compiled pass;
  * output distinct, order unspecified (consumers treat it as a set). */
object SpanFingerprintsOps {
  def spans(text: UTF8String, gramLen: Int, spanGrams: Int, keepMod: Int): ArrayData = {
    // codepoint domain, same as GramHashArrayOps.grams — span anchoring
    // must agree with the q69 oracle's substr positions on non-BMP text
    val cps = GramHashArrayOps.codepoints(text)
    val n = cps.length
    val spanChars = gramLen * spanGrams
    if (n < spanChars) return new GenericArrayData(Array.emptyLongArray)
    val grams = n - gramLen + 1
    val g = new Array[Long](grams)
    val pows = new Array[Long](gramLen)
    var p = 1L
    var k = 0
    while (k < gramLen) { pows(k) = p; p *= 31L; k += 1 }
    var i = 0
    while (i < grams) {
      var h = 0L
      k = 0
      while (k < gramLen) { h += cps(i + k).toLong * pows(k); k += 1 }
      g(i) = h % GramHashArrayOps.Mod
      i += 1
    }
    val out = new java.util.LinkedHashSet[java.lang.Long]
    i = 0
    val lastStart = n - spanChars
    while (i <= lastStart) {
      var sum = 0L
      k = 0
      while (k < spanGrams) { sum += g(i + k * gramLen); k += 1 }
      val w = sum % GramHashArrayOps.Mod
      if (w % keepMod == 0) out.add(w)
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }
}

case class SpanFingerprints(child: Expression, gramLen: Int,
                            spanGrams: Int, keepMod: Int)
    extends UnaryExpression {

  require(gramLen > 0 && spanGrams > 0 && keepMod > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text must be STRING, got ${other.catalogString}")
  }

  override protected def nullSafeEval(text: Any): Any =
    SpanFingerprintsOps.spans(text.asInstanceOf[UTF8String],
      gramLen, spanGrams, keepMod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SpanFingerprintsOps.spans($c, $gramLen, $spanGrams, $keepMod);")

  override protected def withNewChildInternal(newChild: Expression): SpanFingerprints =
    copy(child = newChild)

  override def prettyName: String = "span_fingerprints"
}

object SpanFingerprints {
  def apply(text: Column, gramLen: Int = 8, spanGrams: Int = 8,
            keepMod: Int = 8): Column =
    ColumnBridge.column(SpanFingerprints(
      ColumnBridge.expression(text), gramLen, spanGrams, keepMod))
}

case class GramHashArray(child: Expression, gramLen: Int, stride: Int)
    extends UnaryExpression {

  require(gramLen > 0 && stride > 0, "gramLen and stride must be positive")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text must be STRING, got ${other.catalogString}")
  }

  override protected def nullSafeEval(text: Any): Any =
    GramHashArrayOps.grams(text.asInstanceOf[UTF8String], gramLen, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GramHashArrayOps.grams($c, $gramLen, $stride);")

  override protected def withNewChildInternal(newChild: Expression): GramHashArray =
    copy(child = newChild)

  override def prettyName: String = "gram_hash_array"
}

object GramHashArray {
  def apply(text: Column, gramLen: Int = 8, stride: Int = 1): Column =
    ColumnBridge.column(
      GramHashArray(ColumnBridge.expression(text), gramLen, stride))
}

/** Per-TOKEN polynomial hashes as a native expression: split the
  * text at single spaces (empty segments kept, exactly like
  * `split(text, " ")` / DuckDB `string_split`) and hash each token's
  * first 16 codepoints Σₖ cp(k)·(31ᵏ mod p) mod p — the portable token
  * hash `DedupQueries.tokenHashSql` re-derives in DuckDB (ascii of an
  * out-of-range substr is 0 on both engines, so >16-char tokens
  * truncate and short ones zero-pad identically).
  *
  * Why native: the Column formulation (`transform(split(text, " "),
  * w => Σ ascii(substring(w, k+1, 1))·c_k % p)`) runs the 16-term
  * lambda INTERPRETED per token — 16 Substring/Ascii/Multiply trees ×
  * ~200 tokens per document on the q128/q132 banding hot path. One
  * compiled pass per row instead (the GramHashArray precedent).
  * Codepoint domain, as the sibling expressions. */
object TokenHashArrayOps {
  final val Mod = 1000000007L
  final val MaxChars = 16
  private val pows: Array[Long] = {
    val a = new Array[Long](MaxChars)
    var p = 1L
    var k = 0
    while (k < MaxChars) { a(k) = p; p = p * 31L % Mod; k += 1 }
    a
  }

  def hashes(text: UTF8String): ArrayData = {
    val cps = GramHashArrayOps.codepoints(text)
    val n = cps.length
    var segs = 1
    var i = 0
    while (i < n) { if (cps(i) == 32) segs += 1; i += 1 }
    val out = new Array[Long](segs)
    var s = 0
    var start = 0
    i = 0
    while (i <= n) {
      if (i == n || cps(i) == 32) {
        var h = 0L
        var k = 0
        val len = math.min(i - start, MaxChars)
        while (k < len) { h += cps(start + k).toLong * pows(k); k += 1 }
        out(s) = h % Mod
        s += 1
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

case class TokenHashArray(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text must be STRING, got ${other.catalogString}")
  }

  override protected def nullSafeEval(text: Any): Any =
    TokenHashArrayOps.hashes(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenHashArrayOps.hashes($c);")

  override protected def withNewChildInternal(newChild: Expression): TokenHashArray =
    copy(child = newChild)

  override def prettyName: String = "token_hash_array"
}

object TokenHashArray {
  def apply(text: Column): Column =
    ColumnBridge.column(TokenHashArray(ColumnBridge.expression(text)))
}
