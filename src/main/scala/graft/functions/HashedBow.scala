package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hashed bag-of-words featurization for the trained quality classifier
  * (q188 train / q189 apply) — the FineWeb/DCLM-style rule-distillation
  * component: a linear model over hashed token-count features, trained
  * exactly on the integer grid so both engines reproduce the identical
  * weight trajectory (the q182 GridGram discipline applied to least
  * squares).
  *
  * The feature map is fixed and mirrored verbatim in the DuckDB oracle:
  * tokens are `\p{L}+` runs of the (caller-lowercased) text — q179's
  * tokenization — and each token lands in one of [[HashedBow.Buckets]]
  * bins keyed by the LOW 6 BITS OF THE FIRST MD5 BYTE (the house md5
  * determinism idiom, q89/q103: DuckDB reads the same 6 bits from the
  * first two hex chars as `((strpos(hex,c1)−1)·16 + strpos(hex,c2)−1)
  * % 64`). Per-bucket counts clip at [[HashedBow.CountCap]] — the clip
  * bounds every moment magnitude by construction (A entries ≤ n·Cap²,
  * so DECIMAL(38,0) sums never overflow at any corpus size) and is
  * standard practice for count features. Feature 0 is the bias
  * (always 1). 64 buckets: the 16-bucket variant measured a 70%
  * least-squares ceiling on the synthetic corpus (collisions mix stop
  * and non-stop words); 64 lifts it to 82% while keeping the moment
  * array at q182 scale (z = 66 → 2,277 entries/row vs GridGram's
  * 2,144).
  */
object HashedBow {

  /** Hash buckets (md5 first-byte low 6 bits ⇒ exactly 64 — the
    * oracle's two-hex-char formula hardwires this; do not change one
    * without the other). */
  val Buckets: Int = 64

  /** Feature dimensions including the bias. */
  val Dims: Int = Buckets + 1

  /** Per-bucket count clip. */
  val CountCap: Long = 15L

  private val tlMd5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  private val tokenRe = java.util.regex.Pattern.compile("\\p{L}+")

  /** Low 6 bits of the first md5 byte of one token — 0..63 (= the
    * oracle's `(nibble1·16 + nibble2) % 64` over the first two hex
    * chars: nibble1·16 + nibble2 IS the first byte). */
  def bucket(word: String): Int = {
    val md = tlMd5.get(); md.reset()
    md.digest(word.getBytes(StandardCharsets.UTF_8))(0) & 0x3F
  }

  /** The clipped feature vector `[1, c_0 .. c_63]` of one text. */
  def features(text: String): Array[Long] = {
    val c = new Array[Long](Dims)
    c(0) = 1L
    val m = tokenRe.matcher(text)
    while (m.find()) c(1 + bucket(m.group())) += 1L
    var i = 1
    while (i < Dims) { if (c(i) > CountCap) c(i) = CountCap; i += 1 }
    c
  }
}

/** Per-row moment vector of the labeled feature row `z = [x ; y]`
  * (z-dim 66): emits `[z_0..z_65, z_i·z_j for i ≤ j row-major]` — 2,277
  * longs — in ONE compiled loop per row, the [[GridGram]] layout. Summed
  * per index downstream, these ARE the classifier's normal-equation
  * moments: `A = XᵀX` lives in the (i ≤ 64, j ≤ 64) block, `b = Xᵀy` in
  * the (i ≤ 64, 65) cross terms, `n` at the bias-bias entry. The
  * groupBy(idx) hash aggregate partial-combines per partition, so the
  * exchange carries partitions × 2,277 rows — never n·d².
  *
  * Total function: null text and null label never reach it (the caller
  * coalesces text to '' and the label rule yields 0/1 on every row), so
  * moment row counts stay symmetric with the oracle's per-doc frame
  * (the q182 NULL-asymmetry lesson, avoided by construction). One eval
  * per row over the row's own d² — the O(n²) interpreted-HOF ban does
  * not apply ([[MinHashSig]] contract). */
case class HashedBowGram(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bow_gram"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_bow_gram expects (string, bigint), got " +
          s"(${l.simpleString(10)}, ${r.simpleString(10)})")
    }

  override def nullSafeEval(textAny: Any, yAny: Any): Any = {
    val x = HashedBow.features(textAny.asInstanceOf[UTF8String].toString)
    val y = yAny.asInstanceOf[Long]
    val d = HashedBow.Dims + 1
    val z = new Array[Long](d)
    System.arraycopy(x, 0, z, 0, HashedBow.Dims)
    z(d - 1) = y
    val out = new Array[Long](d + d * (d + 1) / 2)
    System.arraycopy(z, 0, out, 0, d)
    var k = d
    var i = 0
    while (i < d) {
      val zi = z(i)
      var j = i
      while (j < d) { out(k) = zi * z(j); k += 1; j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashedBowGram =
    copy(left = newLeft, right = newRight)
}

object HashedBowGram {
  def bowGram(text: Column, y: Column): Column =
    column(HashedBowGram(expression(text), expression(y)))
}

/** The APPLY half (q189 and the streaming scorer): dot the row's clipped
  * feature vector against the trained grid-weight literal — `score =
  * Σ wᵢ·xᵢ`, one long per row, no join (the model is K×d-class metadata
  * riding as a literal, the [[CosineAll]] broadcast pattern).
  * `multiplyExact`/`addExact` refuse overflow loudly instead of wrapping
  * (the longValueExact stance); with |w| grid-scale and x ≤ CountCap the
  * score sits far inside long range. A model shorter than [[HashedBow
  * .Dims]] scores its missing tail as zero weights (the empty-corpus
  * degenerate — mirrors the oracle's zero-initialized w frame). */
case class HashedBowScore(child: Expression, model: Seq[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_bow_score"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bow_score expects string, got ${t.simpleString(10)}")
  }

  @transient private lazy val w: Array[Long] = model.toArray

  override def nullSafeEval(input: Any): Any = {
    val x = HashedBow.features(input.asInstanceOf[UTF8String].toString)
    var acc = 0L
    var i = 0
    val n = math.min(w.length, x.length)
    while (i < n) {
      acc = Math.addExact(acc, Math.multiplyExact(w(i), x(i)))
      i += 1
    }
    acc
  }

  override protected def withNewChildInternal(
      newChild: Expression): HashedBowScore =
    copy(child = newChild)
}

object HashedBowScore {
  def bowScore(text: Column, model: Seq[Long]): Column =
    column(HashedBowScore(expression(text), model))
}
