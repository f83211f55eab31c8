package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Total unigram SURPRISE of a word array under a plan-embedded model —
  * the serving-time form of q179's train-then-apply: the model (per-word
  * surprise bits, keyed by a 64-bit word hash) is built ONCE batch-side
  * from the vocabulary aggregate and embedded as a binary literal, so
  * scoring is a stateless per-row loop: hash each word, binary-search
  * the sorted hash array, sum the precomputed bits. No join, no
  * shuffle, no state — an unbounded document feed scores at O(1)
  * memory per executor ([[graft.streaming.SurpriseScoreStream]]).
  *
  * Bits are the INTEGER-EXACT flog2 form q179 pins cross-engine:
  * per word, flog2(N) − flog2(count) with flog2(x) = 63 −
  * numberOfLeadingZeros(x). Out-of-vocabulary words (possible on a
  * stream, impossible in q179's self-trained batch) score the
  * count-1 maximum flog2(N) — documented smoothing, so a feed of
  * unseen text scores maximally surprising instead of erroring.
  *
  * One eval per row over a vocabulary-bounded model (the CosineAll
  * contract class); the word-hash ([[VocabSurprise.fnv64]]) is FNV-1a
  * over UTF-16 code units, computed identically at build (driver
  * strings) and probe (row values) — a 64-bit collision would merge
  * two vocab entries, vanishing at real vocabulary sizes and caught by
  * the twin-equality spec on the fixtures.
  */
case class VocabSurprise(child: Expression, model: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = model
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_vocab_surprise"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, model.dataType) match {
      case (ArrayType(StringType, _), BinaryType) if model.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), BinaryType) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_vocab_surprise expects a FOLDABLE binary model (a " +
            "driver-built literal)")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_vocab_surprise expects (array<string>, binary), got " +
          s"${child.dataType.simpleString(10)}, " +
          s"${model.dataType.simpleString(10)}")
    }

  @transient private lazy val decoded: (Array[Long], Array[Long], Long) =
    VocabSurprise.deserialize(model.eval(null).asInstanceOf[Array[Byte]])

  override def nullSafeEval(ws: Any, bytes: Any): Any = {
    val (hashes, sbits, oov) = decoded
    val arr = ws.asInstanceOf[ArrayData]
    var total = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = VocabSurprise.fnv64(arr.getUTF8String(i).toString)
        val at = java.util.Arrays.binarySearch(hashes, h)
        total += (if (at >= 0) sbits(at) else oov)
      }
      i += 1
    }
    total
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VocabSurprise =
    copy(child = newLeft, model = newRight)
}

object VocabSurprise {
  /** floor(log2(x)) for x > 0 — the q179 bit-length form. */
  def flog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)

  /** FNV-1a over UTF-16 code units — same at build and probe. */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Model bytes from (word, count) pairs and the total token count:
    * sorted word hashes + per-entry surprise bits + the OOV (count-1)
    * bits. Vocabulary-bounded by the caller's aggregate. */
  def serialize(vocab: Seq[(String, Long)], total: Long): Array[Byte] = {
    require(total > 0, "vocab_surprise model needs a positive token total")
    val entries = vocab.map { case (w, c) =>
      require(c > 0, s"vocab_surprise count must be positive for '$w'")
      (fnv64(w), flog2(total) - flog2(c))
    }.sortBy(_._1).toArray
    val bb = ByteBuffer.allocate(4 + 8 + 16 * entries.length)
    bb.putInt(entries.length)
    bb.putLong(flog2(total)) // OOV: count-1 maximum
    entries.foreach(e => bb.putLong(e._1))
    entries.foreach(e => bb.putLong(e._2))
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): (Array[Long], Array[Long], Long) = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val oov = bb.getLong
    val hashes = Array.fill(n)(bb.getLong)
    val sbits = Array.fill(n)(bb.getLong)
    (hashes, sbits, oov)
  }

  def vocabSurprise(words: Column, model: Column): Column =
    column(VocabSurprise(expression(words), expression(model)))
}
