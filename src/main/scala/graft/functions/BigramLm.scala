package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `[n_pairs, bits]` of a word array under a plan-embedded bigram
  * language model — the serving-time form of q195's train-then-apply
  * ([[graft.streaming.BigramPerplexityStream]]): the model (top-V
  * vocabulary classes + '#unk', per-context counts, per-transition
  * counts) is built ONCE batch-side and embedded as a binary literal,
  * so scoring is a stateless per-row loop — classify each word by EXACT
  * binary search over the stored vocabulary bytes (no hashing: bit-equal
  * to q195's `isin` classification by construction), then per adjacent
  * pair accumulate the add-1-smoothed transition bits
  * `flog2(c(u) + V+1) − flog2(c(u,v) + 1)` (the q179/q195 integer
  * bit-length log2). Unseen words fold into '#unk' exactly as the batch
  * side's capped classification does, so a live feed scores instead of
  * erroring; unseen TRANSITIONS take the smoothing floor c(u,v)=0.
  * A context class with c(u)=0 (impossible against the self-trained
  * corpus, possible on a feed: a transition out of a word-class the
  * training corpus never had in context position) still scores:
  * flog2(0 + V+1) is well-defined. No join, no shuffle, no state —
  * O(model) memory per executor, model bounded at (V+1)² by the
  * [[graft.operators.TextAnalysis.SurpriseVocabCap]] construction. */
case class BigramLmBits(child: Expression, model: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = child
  override def right: Expression = model
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_bigram_lm_bits"

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, model.dataType) match {
      case (ArrayType(StringType, _), BinaryType) if model.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), BinaryType) =>
        TypeCheckResult.TypeCheckFailure(
          "graft_bigram_lm_bits expects a FOLDABLE binary model (a " +
            "driver-built literal)")
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_bigram_lm_bits expects (array<string>, binary), got " +
          s"${child.dataType.simpleString(10)}, " +
          s"${model.dataType.simpleString(10)}")
    }

  @transient private lazy val decoded: BigramLmBits.Model =
    BigramLmBits.deserialize(model.eval(null).asInstanceOf[Array[Byte]])

  override def nullSafeEval(ws: Any, bytes: Any): Any = {
    val m = decoded
    val arr = ws.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var prev = -1
    var pairs = 0L
    var bits = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val cur = m.classOf(arr.getUTF8String(i))
        if (prev >= 0) {
          pairs += 1
          val key = prev * (m.v + 1) + cur
          val at = java.util.Arrays.binarySearch(m.keys, key)
          val cuv = if (at >= 0) m.counts(at) else 0L
          bits += VocabSurprise.flog2(m.cu(prev) + m.smooth) -
            VocabSurprise.flog2(cuv + 1)
        }
        prev = cur
      }
      i += 1
    }
    new GenericArrayData(Array(pairs, bits))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BigramLmBits =
    copy(child = newLeft, model = newRight)
}

object BigramLmBits {
  /** Decoded model: `words` sorted by UTF8 binary order (class index =
    * position; '#unk' = index v), context counts `cu` (length v+1),
    * transition counts as sorted sparse int keys u·(v+1)+v', and the
    * add-1 smoothing ADDEND (the batch side's SurpriseVocabCap + 1 —
    * a model CONSTANT, not the realized vocab size: on a corpus whose
    * vocabulary is smaller than the cap the two differ, and twin
    * equality with q195 requires the constant). */
  final class Model(val words: Array[UTF8String], val cu: Array[Long],
      val keys: Array[Int], val counts: Array[Long], val smooth: Long) {
    val v: Int = words.length
    def classOf(w: UTF8String): Int = {
      var lo = 0; var hi = words.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val c = words(mid).compareTo(w)
        if (c == 0) return mid
        if (c < 0) lo = mid + 1 else hi = mid - 1
      }
      v // '#unk'
    }
  }

  /** Model bytes from the top-V vocabulary and the (u, v, count)
    * transition rows over CLASSES (words must be ⊆ topV ∪ "#unk") —
    * both bounded by the SurpriseVocabCap construction. */
  def serialize(topV: Seq[String], pairRows: Seq[(String, String, Long)],
      smooth: Long =
        graft.operators.TextAnalysis.SurpriseVocabCap + 1L): Array[Byte] = {
    val words = topV.map(UTF8String.fromString)
      .sortWith(_.compareTo(_) < 0).toArray
    val v = words.length
    def idx(w: String): Int = {
      if (w == "#unk") v
      else {
        val u = UTF8String.fromString(w)
        val at = words.indexWhere(_.compareTo(u) == 0)
        require(at >= 0, s"bigram model pair row names unknown word '$w'")
        at
      }
    }
    val cu = new Array[Long](v + 1)
    val entries = pairRows.map { case (u, vw, c) =>
      require(c > 0, "bigram model counts must be positive")
      val ui = idx(u)
      cu(ui) += c
      (ui * (v + 1) + idx(vw), c)
    }.sortBy(_._1).toArray
    var bytes = 4 + 8 + 8 * (v + 1) + 4 + 12 * entries.length
    words.foreach(w => bytes += 4 + w.numBytes())
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(v)
    bb.putLong(smooth)
    words.foreach { w =>
      val b = w.getBytes; bb.putInt(b.length); bb.put(b)
    }
    cu.foreach(bb.putLong)
    bb.putInt(entries.length)
    entries.foreach(e => bb.putInt(e._1))
    entries.foreach(e => bb.putLong(e._2))
    bb.array()
  }

  def deserialize(bytes: Array[Byte]): Model = {
    val bb = ByteBuffer.wrap(bytes)
    val v = bb.getInt
    val smooth = bb.getLong
    val words = Array.fill(v) {
      val len = bb.getInt
      val b = new Array[Byte](len); bb.get(b)
      UTF8String.fromBytes(b)
    }
    val cu = Array.fill(v + 1)(bb.getLong)
    val n = bb.getInt
    val keys = Array.fill(n)(bb.getInt)
    val counts = Array.fill(n)(bb.getLong)
    new Model(words, cu, keys, counts, smooth)
  }

  def bigramLmBits(words: Column, model: Column): Column =
    column(BigramLmBits(expression(words), expression(model)))
}
