package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-gram shingles of a document, in one compiled pass:
  * lower/trim → whitespace split → sliding n-gram join → first-occurrence
  * dedup. Equivalent to the declarative
  * `array_distinct(transform(sequence(...), i -> concat_ws(' ',
  * slice(tokens, i, n))))` chain — but that chain is three nested
  * interpreted higher-order functions allocating per shingle, which made
  * shingling itself a multi-second stage at sf0.1. Oracle counterpart
  * (DuckDB list comprehension) documented at the Dedup call sites.
  *
  * Unicode: lower/trim go through UTF8String (identical to the built-in
  * `lower`/`trim`), the split regex is the same `\s+` the built-in `split`
  * uses — token streams match the declarative form exactly.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects string, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].trim().toLowerCase().toString
    val toks = text.split("\\s+")
    if (toks.length < n || (toks.length == 1 && toks(0).isEmpty))
      return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      seen.add(sb.toString); i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {
  def wordShingles(text: Column, n: Int): Column =
    column(WordShingles(expression(text), n))
}

/** Distinct word-n-gram shingle HASHES of a document — the fusion of
  * `transform(graft_shingles(text, n), s -> xxhash64(s))` into ONE
  * compiled pass, bit-identical by construction: tokenization replicates
  * [[WordShingles]] exactly (trim → lower → `\s+` split semantics,
  * including the leading-empty-token artifact of `String.split` when a
  * non-space whitespace leads), each shingle's UTF-8 bytes are assembled
  * once into a reusable buffer joined by 0x20, and hashed with Spark's
  * own XXH64 at the `xxhash64` default seed 42 — so downstream
  * df-counting and inverted-list keys are unchanged to the bit. What it
  * saves over the two-step form: no per-shingle UTF8String/String
  * materialization, no LinkedHashSet of strings, no interpreted
  * higher-order `transform`, and the exploded stream starts as longs.
  * The shingle-dominated scans (q45/q101/q104 cores) are map-stage
  * CPU-bound; this is the lever that speeds them without shuffling text.
  */
case class WordShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects string, got ${other.simpleString(10)}")
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].trim().toLowerCase().getBytes
    // token spans replicating String.split("\\s+"): a leading separator
    // yields one empty token; trailing empties are dropped
    val starts = new java.util.ArrayList[Int]()
    val ends = new java.util.ArrayList[Int]()
    var i = 0
    if (bytes.length > 0 && isWs(bytes(0))) { starts.add(0); ends.add(0) }
    while (i < bytes.length) {
      if (isWs(bytes(i))) i += 1
      else {
        val s = i
        while (i < bytes.length && !isWs(bytes(i))) i += 1
        starts.add(s); ends.add(i)
      }
    }
    val nt = starts.size()
    // mirror WordShingles' degenerate-input contract exactly
    if (nt < n || (nt == 1 && starts.get(0) == ends.get(0)))
      return new GenericArrayData(Array.empty[Any])
    val buf = new Array[Byte](bytes.length) // shingle bytes upper bound
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new java.util.ArrayList[Any]()
    var t = 0
    while (t <= nt - n) {
      var len = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(len) = ' '; len += 1 }
        val s = starts.get(t + j); val e = ends.get(t + j)
        System.arraycopy(bytes, s, buf, len, e - s)
        len += e - s
        j += 1
      }
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          len, 42L)
      if (seen.add(h)) out.add(h)
      t += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

object WordShingleHashes {
  def shingleHashes(text: Column, n: Int): Column =
    column(WordShingleHashes(expression(text), n))
}

/** ALL consecutive character n-grams of `lower(trim(text))`, duplicates
  * kept (unlike [[WordShingles]], which dedups word n-grams) — the unit
  * stream a character-level LM model/scorer consumes. One compiled pass;
  * the declarative equivalent (`transform(sequence(1, length-n+1), i ->
  * substring(text, i, n))`) is two nested interpreted higher-order
  * functions allocating per position. Character indexing matches the
  * oracle's `substr` (both are codepoint-based over UTF-8).
  */
case class CharNgrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "ngram size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_char_ngrams"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_ngrams expects string, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].trim().toLowerCase()
    val bytes = text.getBytes
    val offs = CharWalk.codepointOffsets(bytes)
    val len = offs.length - 1
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](len - n + 1)
    var i = 0
    while (i <= len - n) {
      out(i) = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CharNgrams =
    copy(child = newChild)
}

/** One-pass UTF-8 codepoint boundary walk. `substringSQL(i, n)` re-scans
  * the string from byte 0 on every call to find the i-th codepoint, so a
  * per-position n-gram loop built on it is O(len²) per document — the
  * offsets table makes every gram an O(1) slice of one shared byte
  * array (and `fromBytes` wraps without copying). */
private[functions] object CharWalk {

  /** Byte offset of every codepoint start, plus an end sentinel. */
  def codepointOffsets(bytes: Array[Byte]): Array[Int] = {
    val tmp = new Array[Int](bytes.length + 1)
    var i = 0
    var k = 0
    while (i < bytes.length) {
      tmp(k) = i
      k += 1
      val b = bytes(i)
      i += (if ((b & 0x80) == 0) 1
        else if ((b & 0xe0) == 0xc0) 2
        else if ((b & 0xf0) == 0xe0) 3
        else if ((b & 0xf8) == 0xf0) 4
        else 1)
    }
    tmp(k) = bytes.length
    java.util.Arrays.copyOf(tmp, k + 1)
  }
}

object CharNgrams {
  def charNgrams(text: Column, n: Int): Column =
    column(CharNgrams(expression(text), n))
}

/** Per-document character-n-gram HISTOGRAM (ngram → occurrence count)
  * over the same normalized stream as [[CharNgrams]]. The in-row
  * aggregation is the scale lever: exploding the map downstream yields
  * one row per DISTINCT n-gram per doc (bounded by the charset^n, ~10²
  * for text bigrams) instead of one row per character position —
  * typically a 10-100x smaller stream into any global model aggregate,
  * while total counts are preserved exactly (`sum(values)` = position
  * count). */
case class CharNgramCounts(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "ngram size must be >= 1")

  override def dataType: DataType =
    MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = "graft_char_ngram_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_char_ngram_counts expects string, got ${other.simpleString(10)}")
  }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].trim().toLowerCase()
    val bytes = text.getBytes
    val offs = CharWalk.codepointOffsets(bytes)
    val len = offs.length - 1
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long]()
    var i = 0
    while (i <= len - n) {
      val g = UTF8String.fromBytes(bytes, offs(i), offs(i + n) - offs(i))
      val c = counts.get(g)
      counts.put(g, if (c == null) 1L else c + 1L)
      i += 1
    }
    val ks = new Array[Any](counts.size)
    val vs = new Array[Any](counts.size)
    val it = counts.entrySet().iterator(); var k = 0
    while (it.hasNext) {
      val e = it.next(); ks(k) = e.getKey; vs(k) = e.getValue.longValue; k += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayBasedMapData(ks, vs)
  }

  override protected def withNewChildInternal(newChild: Expression): CharNgramCounts =
    copy(child = newChild)
}

object CharNgramCounts {
  def charNgramCounts(text: Column, n: Int): Column =
    column(CharNgramCounts(expression(text), n))
}

/** Per-POSITION word n-gram window keys of a document, in one compiled
  * pass: lower/trim → whitespace split → for each start position the
  * md5 hex of the space-joined n-gram. Element i (0-based) is the key
  * of the window starting at word i+1 — positions are the ARRAY INDEX,
  * so callers posexplode and keep `pos`. Equivalent to the declarative
  * `transform(sequence(1, size(toks)-n+1), i -> md5(concat_ws(' ',
  * slice(toks, i, n))))` chain, but that is three nested INTERPRETED
  * higher-order functions allocating per window — the same hot-loop
  * shape [[WordShingles]] exists to replace (measured there as the
  * multi-second shingling stage; q178's review flagged the identical
  * regression). md5 (not xxhash64) because the q178 oracle needs
  * bit-equality with DuckDB's md5 — a 100 TB run swaps the digest for
  * xxhash64 inside this same expression, not for a different plan.
  *
  * Tokenization matches the built-in `split(lower(trim(text)), '\s+')`
  * and DuckDB's `string_split_regex(lower(trim(text)), '\s+')` exactly
  * (UTF8String trim/lower, Java `\s+` split — the [[WordShingles]]
  * equivalence argument). */
case class WindowKeyHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "window size must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_window_md5"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_window_md5 expects string, got ${other.simpleString(10)}")
  }

  // one digest per deserialized expression copy (per task) — eval is
  // single-threaded within a task, tasks deserialize their own copies
  @transient private lazy val md5 =
    java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].trim().toLowerCase().toString
    val toks = text.split("\\s+")
    if (toks.length < n || (toks.length == 1 && toks(0).isEmpty))
      return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder()
    val hex = new Array[Char](32)
    val digits = "0123456789abcdef".toCharArray
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      md5.reset()
      val d = md5.digest(sb.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      var b = 0
      while (b < 16) {
        hex(b * 2) = digits((d(b) >> 4) & 0xf)
        hex(b * 2 + 1) = digits(d(b) & 0xf)
        b += 1
      }
      out(i) = UTF8String.fromString(new String(hex))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WindowKeyHashes =
    copy(child = newChild)
}

object WindowKeyHashes {
  def windowKeyHashes(text: Column, n: Int): Column =
    column(WindowKeyHashes(expression(text), n))
}

/** [[WindowKeyHashes]] emitting the RAW 16-byte md5 digests instead of
  * hex strings (r13): the digest determines the hex bijectively, so
  * grouping by it forms EXACTLY the oracle's groups — no
  * collision-probability argument needed — while the shuffle carries
  * 16 bytes per key instead of a 32-char string and skips 800k hex
  * encodes. For consumers (q178) whose keys never reach the output. */
case class WindowKeyDigests(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "window size must be >= 1")

  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "graft_window_md5_raw"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_window_md5_raw expects string, got ${other.simpleString(10)}")
  }

  @transient private lazy val md5 =
    java.security.MessageDigest.getInstance("MD5")

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].trim().toLowerCase().toString
    val toks = text.split("\\s+")
    if (toks.length < n || (toks.length == 1 && toks(0).isEmpty))
      return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](toks.length - n + 1)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j)); j += 1
      }
      md5.reset()
      out(i) = md5.digest(sb.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): WindowKeyDigests =
    copy(child = newChild)
}

object WindowKeyDigests {
  def windowKeyDigests(text: Column, n: Int): Column =
    column(WindowKeyDigests(expression(text), n))
}
