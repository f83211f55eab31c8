package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo,
  Expression, GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, IsNull,
  LessThan, LessThanOrEqual, Or}
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** File-level data skipping — the Delta stats protocol (`add.stats` JSON
  * with `numRecords` / `minValues` / `maxValues` / `nullCount`) plus the
  * ONE skipping evaluator ([[mightMatch]]): a resolved Catalyst
  * predicate decides keep/skip per file over the entry's parsed stats
  * and typed partition values, in the driver, with no DataFrame. Every
  * scan's file index ([[DeltaFileIndex]]) and `readWhere` call it.
  *
  * This is the scan-side half of what makes a 100 TB table queryable: a
  * point or range predicate on a clustered column should open the files
  * whose [min,max] intersect it, not all of them. Pruning is SAFE, never
  * exact — a file that cannot be excluded is scanned, and the original
  * predicate still runs over every row that survives, so an unsupported
  * shape costs I/O, never correctness. Missing stats (hand-written logs,
  * unsupported types) fall back to "might match".
  *
  * Stats are harvested from the parquet FOOTERS after the distributed
  * write lands (driver-side, O(files) footer reads — the write itself
  * stays distributed; production writers fold this into the write task,
  * the protocol output is identical).
  */
object DataSkipping {

  private val mapper = new ObjectMapper()

  /** Delta `add.stats` JSON for one parquet file, from its footer.
    * Min/max recorded for top-level int32/int64/float/double and UTF8
    * binary columns (timestamps excluded: parquet nanos/micros logical
    * types do not round-trip through JSON unambiguously). */
  def statsJson(conf: Configuration, file: Path): Option[String] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val footer = reader.getFooter.getBlocks
      var numRecords = 0L
      val mins = mapper.createObjectNode()
      val maxs = mapper.createObjectNode()
      val nulls = mapper.createObjectNode()
      val seen = scala.collection.mutable.LinkedHashMap[
        String, (Option[Any], Option[Any], Long, Boolean)]()
      footer.forEach { block =>
        numRecords += block.getRowCount
        block.getColumns.forEach { c =>
          if (c.getPath.size() == 1) {
            val name = c.getPath.toDotString
            val st = c.getStatistics
            val prim = c.getPrimitiveType
            val logical = prim.getLogicalTypeAnnotation
            val isString = prim.getPrimitiveTypeName == BINARY &&
              logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
            val isTimestampish =
              logical.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] ||
              logical.isInstanceOf[LogicalTypeAnnotation.TimeLogicalTypeAnnotation]
            val supported = !isTimestampish && (isString || (prim.getPrimitiveTypeName match {
              case INT32 | INT64 | FLOAT | DOUBLE => true
              case _ => false
            }))
            val (mn, mx): (Option[Any], Option[Any]) =
              if (supported && st != null && st.hasNonNullValue)
                (Some(genericValue(st.genericGetMin, isString)),
                  Some(genericValue(st.genericGetMax, isString)))
              else (None, None)
            val nc = if (st != null && st.isNumNullsSet) st.getNumNulls else -1L
            seen.get(name) match {
              case None => seen(name) = (mn, mx, nc, supported)
              case Some((pm, px, pn, ps)) =>
                seen(name) = (
                  merge(pm, mn, isMin = true), merge(px, mx, isMin = false),
                  if (pn < 0 || nc < 0) -1L else pn + nc, ps && supported)
            }
          }
        }
      }
      seen.foreach { case (name, (mn, mx, nc, supported)) =>
        if (supported) {
          mn.foreach(v => putValue(mins, name, v))
          mx.foreach(v => putValue(maxs, name, v))
        }
        if (nc >= 0) nulls.put(name, nc)
      }
      val root = mapper.createObjectNode()
      root.put("numRecords", numRecords)
      root.set[com.fasterxml.jackson.databind.node.ObjectNode]("minValues", mins)
      root.set[com.fasterxml.jackson.databind.node.ObjectNode]("maxValues", maxs)
      root.set[com.fasterxml.jackson.databind.node.ObjectNode]("nullCount", nulls)
      Some(mapper.writeValueAsString(root))
    } catch {
      case _: Exception => None // stats are an optimization, never a failure
    } finally reader.close()
  }

  private def genericValue(v: Any, isString: Boolean): Any = v match {
    case b: org.apache.parquet.io.api.Binary if isString => b.toStringUsingUTF8
    case other => other
  }

  private def merge(a: Option[Any], b: Option[Any], isMin: Boolean): Option[Any] =
    (a, b) match {
      case (Some(x), Some(y)) => Some(cmp(x, y, isMin))
      case _ => None // a row group without stats poisons the file's min/max
    }

  private def cmp(x: Any, y: Any, isMin: Boolean): Any = (x, y) match {
    // integral pairs compare as longs: doubleValue collapses distinct
    // BIGINTs beyond 2^53, and a wrong recorded min/max makes pruning
    // skip a file that holds matching rows — silent data loss, not a
    // missed optimization
    case (a: java.lang.Long, b: java.lang.Long) =>
      if ((a.longValue() <= b.longValue()) == isMin) x else y
    case (a: java.lang.Integer, b: java.lang.Integer) =>
      if ((a.intValue() <= b.intValue()) == isMin) x else y
    case (a: Number, b: Number) =>
      val (da, db) = (a.doubleValue(), b.doubleValue())
      if ((da <= db) == isMin) x else y
    // strings in UTF-8 byte order, as parquet's footer and Spark order
    // them: String's UTF-16 order puts U+E000..U+FFFF after every
    // character above U+FFFF, and the merged bound would skip matches
    case (a: String, b: String) =>
      val le = UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) <= 0
      if (le == isMin) x else y
    case _ => x
  }

  private def putValue(node: com.fasterxml.jackson.databind.node.ObjectNode,
      name: String, v: Any): Unit = v match {
    case i: java.lang.Integer => node.put(name, i.intValue())
    case l: java.lang.Long => node.put(name, l.longValue())
    case f: java.lang.Float => node.put(name, f.floatValue())
    case d: java.lang.Double => node.put(name, d.doubleValue())
    case s: String => node.put(name, s)
    case _ =>
  }

  /** The shape of `add.stats` for a table with `dataSchema`, as a Spark
    * schema (what a reader parsing the JSON column-wise would use). */
  def statsSchema(dataSchema: StructType): StructType = {
    val valueStruct = StructType(dataSchema.fields.map(f =>
      StructField(f.name, f.dataType)))
    StructType(Seq(
      StructField("numRecords", org.apache.spark.sql.types.LongType),
      StructField("minValues", valueStruct),
      StructField("maxValues", valueStruct),
      StructField("nullCount", StructType(dataSchema.fields.map(f =>
        StructField(f.name, org.apache.spark.sql.types.LongType))))))
  }

  /** What a file's log entry records about one column, as Catalyst
    * values of the column's type; None where it records nothing. */
  final case class ColumnStats(min: Option[Any] = None, max: Option[Any] = None,
      nullCount: Option[Long] = None, numRecords: Option[Long] = None)

  /** Parse an `add.stats` JSON once (None when absent or unparseable). */
  def parse(stats: Option[String]): Option[JsonNode] =
    stats.flatMap(s => scala.util.Try(mapper.readTree(s)).toOption)

  /** Column `name`'s stats in a parsed `add.stats`. Only values whose
    * JSON form is unambiguous for `dt` count: integral and floating
    * numbers, binary-ordered strings, dates (ISO text, or the day number
    * the footer harvest records). Decimals (the footer records unscaled
    * integers), timestamps and everything else record nothing. */
  def columnStats(stats: Option[JsonNode], name: String, dt: DataType): ColumnStats =
    stats.fold(ColumnStats()) { root =>
      def field(section: String): JsonNode =
        Option(root.get(section)).map(_.get(name)).orNull
      def count(n: JsonNode): Option[Long] =
        Option(n).filter(_.canConvertToLong).map(_.asLong)
      ColumnStats(value(field("minValues"), dt), value(field("maxValues"), dt),
        count(field("nullCount")), count(root.get("numRecords")))
    }

  private def value(n: JsonNode, dt: DataType): Option[Any] =
    if (n == null || !(n.isNumber || n.isTextual)) None
    else dt match {
      case ByteType if n.canConvertToInt && n.asInt.isValidByte => Some(n.asInt.toByte)
      case ShortType if n.canConvertToInt && n.asInt.isValidShort => Some(n.asInt.toShort)
      case IntegerType if n.isIntegralNumber && n.canConvertToInt => Some(n.asInt)
      case LongType if n.isIntegralNumber && n.canConvertToLong => Some(n.asLong)
      case FloatType if n.isNumber => Some(n.floatValue)
      case DoubleType if n.isNumber => Some(n.doubleValue)
      case StringType if n.isTextual => // the default (binary) collation
        Some(UTF8String.fromString(n.asText))
      case DateType if n.isTextual =>
        DateTimeUtils.stringToDate(UTF8String.fromString(n.asText))
      case DateType if n.isIntegralNumber && n.canConvertToInt => Some(n.asInt)
      case _ => None
    }

  /** Whether a file might hold a row satisfying `pred`, a resolved
    * Catalyst predicate, judged in the driver from what the file's log
    * entry records: `stats(name, type)` for each column it compares.
    * Understood shapes are AND/OR of column-vs-constant comparisons,
    * IN lists and null tests. Anything else keeps the file, as does a
    * missing stat, and so does a Cast over the column: casts can break
    * order ("10" < "9" as strings, 10 > 9 as ints). Skipping is an I/O
    * saving only; the full predicate still filters every kept row. */
  def mightMatch(pred: Expression, stats: (String, DataType) => ColumnStats): Boolean = {
    def constant(a: AttributeReference, e: Expression): Option[Any] =
      if (!e.foldable || e.dataType != a.dataType) None
      else scala.util.Try(e.eval()).toOption.filter(_ != null)
    // a null value, an unordered type or a missing bound keeps the file,
    // and so do inverted bounds (min > max: string stats logged before
    // the UTF-8 merge order was fixed can record them)
    def holds(a: AttributeReference, op: String, v: Any): Boolean =
      v == null || scala.util.Try {
        val s = stats(a.name, a.dataType)
        lazy val ord = TypeUtils.getInterpretedOrdering(a.dataType)
        s.min.zip(s.max).exists { case (mn, mx) => ord.gt(mn, mx) } || (op match {
          case "=" => s.min.forall(ord.lteq(_, v)) && s.max.forall(ord.gteq(_, v))
          case "<" => s.min.forall(ord.lt(_, v))
          case "<=" => s.min.forall(ord.lteq(_, v))
          case ">" => s.max.forall(ord.gt(_, v))
          case ">=" => s.max.forall(ord.gteq(_, v))
        })
      }.getOrElse(true)
    def compare(op: String, mirrored: String, l: Expression, r: Expression): Boolean =
      (l, r) match {
        case (a: AttributeReference, v) => constant(a, v).forall(holds(a, op, _))
        case (v, a: AttributeReference) => constant(a, v).forall(holds(a, mirrored, _))
        case _ => true
      }
    def keep(e: Expression): Boolean = e match {
      case And(l, r) => keep(l) && keep(r)
      case Or(l, r) => keep(l) || keep(r)
      case EqualTo(l, r) => compare("=", "=", l, r)
      case LessThan(l, r) => compare("<", ">", l, r)
      case LessThanOrEqual(l, r) => compare("<=", ">=", l, r)
      case GreaterThan(l, r) => compare(">", "<", l, r)
      case GreaterThanOrEqual(l, r) => compare(">=", "<=", l, r)
      case In(a: AttributeReference, vs) =>
        val values = vs.map(constant(a, _))
        values.exists(_.isEmpty) || values.flatten.exists(holds(a, "=", _))
      case InSet(a: AttributeReference, values) => values.exists(holds(a, "=", _))
      case IsNull(a: AttributeReference) =>
        stats(a.name, a.dataType).nullCount.forall(_ > 0)
      case IsNotNull(a: AttributeReference) =>
        val s = stats(a.name, a.dataType)
        s.nullCount.isEmpty || s.nullCount != s.numRecords
      case _ => true
    }
    keep(pred)
  }
}
