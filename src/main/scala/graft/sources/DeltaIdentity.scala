package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.{LongType, Metadata, MetadataBuilder, StructField, StructType}

/** Identity columns for [[DeltaLog]] tables — the `scd_id BIGINT
  * GENERATED ALWAYS AS IDENTITY` column the reference's SCD DDL declares
  * (unity_catalog_scd.py:112-119), implemented the way the public Delta
  * protocol records identity state: `delta.identity.start` /
  * `delta.identity.step` / `delta.identity.highWaterMark` keys in the
  * column's schema-field metadata, with the high-water mark advanced by
  * a `metaData` action in the SAME commit as the data it covers.
  *
  * Value assignment is distributed: `zipWithIndex` computes per-partition
  * offsets in one lightweight count pass and stamps `start + step * idx`
  * executor-side — no ids ever come back to the driver, so a 100 TB
  * append assigns ids at scan speed. GENERATED ALWAYS semantics: the
  * incoming frame must NOT contain the identity column (user-supplied
  * ids would break the uniqueness the high-water mark guarantees).
  *
  * Concurrency: the high-water-mark metaData update makes two racing
  * identity appends conflict on the commit version, and the loser's
  * retry would re-read a stale mark — so identity appends do NOT retry
  * (maxRetries = 0); the conflict surfaces, as in Delta.
  */
object DeltaIdentity {

  val StartKey = "delta.identity.start"
  val StepKey = "delta.identity.step"
  val HwmKey = "delta.identity.highWaterMark"

  final case class IdentityInfo(column: String, start: Long, step: Long,
      highWaterMark: Option[Long])

  /** The table's identity column, if any (from schema-field metadata). */
  def identityInfo(schema: StructType): Option[IdentityInfo] =
    schema.fields.collectFirst {
      case f if f.metadata.contains(StartKey) =>
        IdentityInfo(f.name, f.metadata.getLong(StartKey),
          f.metadata.getLong(StepKey),
          if (f.metadata.contains(HwmKey)) Some(f.metadata.getLong(HwmKey))
          else None)
    }

  /** Create a Delta table with `idCol` prepended as a BIGINT identity
    * column; every row of `df` gets a generated id. Returns version 0. */
  def create(df: DataFrame, tablePath: String, idCol: String,
      start: Long = 1L, step: Long = 1L,
      partitionBy: Seq[String] = Nil): Long = {
    require(step != 0, "identity step must be nonzero")
    require(!df.columns.contains(idCol),
      s"identity column '$idCol' is GENERATED ALWAYS — the incoming data must not supply it")
    val (withIds, hwm) = assign(df, idCol, start, step, firstValue = start)
    val stamped = stampMetadata(withIds, idCol, start, step, hwm)
    DeltaWrite.write(stamped, tablePath, SaveMode.ErrorIfExists, partitionBy)
  }

  /** Append `df` (WITHOUT the identity column) to an identity table:
    * ids continue past the stored high-water mark, which the same commit
    * advances. Returns the committed version. */
  def append(df: DataFrame, tablePath: String): Long = {
    val spark = df.sparkSession
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    val info = identityInfo(snap.schema).getOrElse(throw new IllegalArgumentException(
      s"$tablePath has no identity column (no $StartKey metadata)"))
    require(!df.columns.contains(info.column),
      s"identity column '${info.column}' is GENERATED ALWAYS — the incoming data must not supply it")
    val expected = StructType(snap.schema.filterNot(_.name == info.column))
    val canon = (s: StructType) => s.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    require(canon(expected) == canon(df.schema),
      s"append schema ${df.schema.simpleString} does not match table " +
        s"data schema ${expected.simpleString} at $tablePath")

    val firstValue = info.highWaterMark.map(_ + info.step).getOrElse(info.start)
    val (withIds, hwm) = assign(df, info.column, info.start, info.step, firstValue)
    // Column order must match the table schema for the parquet files to
    // line up (id is first by construction of create()).
    val ordered = withIds.select(
      snap.schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    val adds = DeltaWrite.writeDataFiles(ordered, tablePath,
      snap.partitionColumns, Some(snap.schema))
    DeltaConstraints.enforceStaged(spark, snap, adds)
    val newSchema = withHwm(snap.schema, info.column, info.start, info.step, hwm)
    val actions = DeltaWrite.metaDataAction(newSchema, snap.partitionColumns,
      snap.configuration, snap.metaDataId) +: adds.map(DeltaWrite.addAction)
    DeltaWrite.commit(spark, tablePath, actions, "APPEND", snapHint = Some(snap))
  }

  /** Stamp `start + step * rowIndex` ids, id column FIRST. Returns the
    * frame and the new high-water mark (last id handed out; `firstValue
    * - step` when `df` is empty, i.e. the mark does not move).
    *
    * Two passes total (zipWithIndex-style, sharing one size pass): a
    * per-partition COUNT (longs to the driver — metadata-scale), then
    * the stamp pass with each partition's cumulative offset. */
  private[graft] def assign(df: DataFrame, idCol: String, start: Long, step: Long,
      firstValue: Long): (DataFrame, Long) = {
    val spark = df.sparkSession
    val rdd0 = df.rdd
    val sizes = rdd0.mapPartitionsWithIndex((i, it) =>
      Iterator((i, it.size.toLong))).collect().toMap
    val n = sizes.values.sum
    val offsets = (0 until rdd0.getNumPartitions).scanLeft(0L) {
      (acc, i) => acc + sizes.getOrElse(i, 0L)
    }.toArray
    val schema = StructType(
      StructField(idCol, LongType, nullable = false) +: df.schema.fields)
    val rdd = rdd0.mapPartitionsWithIndex { (i, it) =>
      var k = offsets(i)
      it.map { r =>
        val id = firstValue + step * k; k += 1
        Row.fromSeq(id +: r.toSeq)
      }
    }
    (spark.createDataFrame(rdd, schema), firstValue + step * (n - 1))
  }

  private def stampMetadata(df: DataFrame, idCol: String, start: Long,
      step: Long, hwm: Long): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(df.rdd, withHwm(df.schema, idCol, start, step, hwm))
  }

  private def withHwm(schema: StructType, idCol: String, start: Long,
      step: Long, hwm: Long): StructType =
    StructType(schema.fields.map { f =>
      if (f.name == idCol)
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(StartKey, start).putLong(StepKey, step)
          .putLong(HwmKey, hwm).build())
      else f
    })
}
