package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}

/** Row tracking (public Delta protocol, writer feature `rowTracking` +
  * its carrier `domainMetadata`): every `add` carries a `baseRowId`, the
  * FRESH row id of row i in the file is `baseRowId + i`, and the next
  * unused id is the `rowIdHighWaterMark` recorded in the
  * `delta.rowTracking` domain. Assignment happens centrally in
  * [[DeltaWrite.commit]] — every add-producing commit path (append, DML
  * rewrite, OPTIMIZE, identity backfill, streaming sink) stamps ids
  * through [[stamp]], so the writer obligation holds no matter which
  * operator produced the files. Reference surface: the reference reads
  * whatever DuckDB's delta extension reads (delta-unity-duckdb.js:330),
  * which includes row-tracking tables emitted by modern writers.
  *
  * Scale: everything here is metadata-bounded — id assignment walks the
  * commit's add LIST (numRecords comes from each add's recorded stats,
  * with a single footer read as fallback), and the scan surface joins a
  * broadcast (file → baseRowId) map against the distributed scan; row
  * ids never transit the driver.
  */
object RowTracking {

  val Domain = "delta.rowTracking"
  private val mapper = new ObjectMapper()

  /** Whether the table's protocol lists `rowTracking` (the SUPPORTED
    * level: ids are assigned and the high-water mark maintained). */
  def supported(snap: DeltaLog.Snapshot): Boolean =
    snap.protocol.writerFeatures.contains("rowTracking")

  /** Highest assigned fresh row id, -1 when none. */
  def highWaterMark(snap: DeltaLog.Snapshot): Long =
    snap.domainMetadata.get(Domain).map { cfg =>
      val n = mapper.readTree(cfg)
      if (n.hasNonNull("rowIdHighWaterMark")) n.get("rowIdHighWaterMark").asLong()
      else -1L
    }.getOrElse(-1L)

  private def hwmAction(hwm: Long): ObjectNode =
    DeltaWrite.domainMetadataAction(Domain,
      s"""{"rowIdHighWaterMark":$hwm}""")

  /** Record count of a staged add: from its stats JSON, else one footer
    * read (foreign files re-committed without stats). */
  private def numRecordsOf(spark: SparkSession, tablePath: String,
      add: ObjectNode): Long =
    numRecordsOf(spark, tablePath, add.get("path").asText(),
      if (add.hasNonNull("stats")) Some(add.get("stats").asText()) else None)

  private[sources] def numRecordsOf(spark: SparkSession, tablePath: String,
      path: String, stats: Option[String]): Long =
    stats.map(mapper.readTree).filter(_.hasNonNull("numRecords"))
      .map(_.get("numRecords").asLong()).getOrElse {
        val rel = java.net.URLDecoder.decode(path, "UTF-8")
        val p =
          if (rel.contains("://") || rel.startsWith("/")) new Path(rel)
          else new Path(tablePath, rel)
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(p, spark.sessionState.newHadoopConf()))
        try reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally reader.close()
      }

  private def protocolActionListsRowTracking(actions: Seq[ObjectNode]): Boolean =
    actions.exists { n =>
      val p = n.get("protocol")
      p != null && p.hasNonNull("writerFeatures") &&
        p.get("writerFeatures").elements().asScala.exists(_.asText() == "rowTracking")
    }

  /** Assign base row ids for one commit attempt. Called by
    * [[DeltaWrite.commit]] with the attempt's VERSION (so
    * `defaultRowCommitVersion` is the version that actually lands).
    * `snapHint` is the caller's already-loaded snapshot on attempt 0;
    * None on conflict retries forces a fresh log read, because a
    * concurrent winner may have advanced the high-water mark —
    * re-committing the attempt-0 ids would mint DUPLICATE row ids.
    * `ours` accumulates the nodes THIS call stamped so a retry restamps
    * exactly those (caller-assigned ids — RESTORE / clone re-adds, DV
    * re-adds of unchanged files — are preserved verbatim).
    *
    * Returns the action list to serialize: unchanged when the table
    * does not list `rowTracking`, else with every add stamped and one
    * `delta.rowTracking` high-water-mark domain action appended. */
  private[sources] def stamp(spark: SparkSession, tablePath: String,
      snapHint: Option[DeltaLog.Snapshot], version: Long,
      actions: Seq[ObjectNode],
      // IDENTITY set, not a hash set: restamping MUTATES the nodes, so a
      // value-hashed set would lose them after the first restamp and a
      // second conflict retry would treat our own adds as caller-assigned
      ours: java.util.Set[ObjectNode]): Seq[ObjectNode] = {
    val addNodes = actions.flatMap { n =>
      Option(n.get("add")).map(_.asInstanceOf[ObjectNode])
    }
    if (addNodes.isEmpty) return actions
    val snap = snapHint.orElse(
      scala.util.Try(DeltaLog.snapshot(spark, tablePath)).toOption)
    val on = snap.exists(supported) || protocolActionListsRowTracking(actions)
    if (!on) return actions

    val toStamp = addNodes.filter(a => !a.has("baseRowId") || ours.contains(a))
    val preserved = addNodes.filterNot(toStamp.contains)
    // caller-provided ids (restore/clone) may sit ABOVE the recorded
    // mark of a young target table — the new mark must clear them too
    val preservedTop = preserved.map { a =>
      a.get("baseRowId").asLong() + math.max(numRecordsOf(spark, tablePath, a) - 1, 0L)
    }.foldLeft(-1L)(math.max)
    var next = math.max(snap.map(highWaterMark).getOrElse(-1L), preservedTop) + 1
    toStamp.foreach { a =>
      a.put("baseRowId", next).put("defaultRowCommitVersion", version)
      ours.add(a)
      next += numRecordsOf(spark, tablePath, a)
    }
    if (next == 0L) actions // empty files only, nothing recorded yet
    else actions :+ hwmAction(next - 1)
  }

  /** Enable row tracking on an existing table: one commit carrying the
    * protocol upgrade (`rowTracking` + `domainMetadata`, existing
    * features preserved), a dataChange=false re-add of every live file
    * that lacks a baseRowId (the protocol's backfill), and the initial
    * high-water mark — all stamped by the commit path itself so the
    * recorded `defaultRowCommitVersion` is the version that lands. */
  def enable(spark: SparkSession, tablePath: String): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    if (supported(snap)) return snap.version
    val reAdds = snap.files.filterNot(_.baseRowId.isDefined)
      .map(a => DeltaWrite.addAction(a, dataChange = false))
    DeltaWrite.commit(spark, tablePath,
      DeltaWrite.featureProtocolAction(snap.protocol,
        Seq("rowTracking", "domainMetadata")) +: reAdds,
      operation = "ENABLE ROW TRACKING", snapHint = Some(snap))
  }

  /** The table with fresh row ids surfaced: the snapshot's columns plus
    * `_row_id` (baseRowId + physical row index) and
    * `_row_commit_version`. Files without a recorded baseRowId (written
    * before the feature) yield nulls rather than failing the scan.
    * Deletion vectors compose: the DV filter runs on the same
    * physical row index, so surviving rows keep their ids. */
  def readWithRowIds(spark: SparkSession, tablePath: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = DeltaLog.snapshot(spark, tablePath, versionAsOf)
    val scan = DeltaLog.scanFilesWithMeta(spark, snap, snap.files)
    val fileIds: Seq[Row] = DeltaLog.liveFiles(spark, snap).byUri.toSeq.map {
      case (uri, a) => Row(uri, a.baseRowId.map(Long.box).orNull,
        a.defaultRowCommitVersion.map(Long.box).orNull)
    }
    val idsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__rt_file",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__rt_base",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__rt_dcv",
        org.apache.spark.sql.types.LongType)))
    val ids = spark.createDataFrame(
      spark.sparkContext.parallelize(fileIds, 1), idsSchema)
    scan.join(broadcast(ids), scan("__file") === ids("__rt_file"), "left")
      .select(snap.schema.fieldNames.toIndexedSeq.map(n => col(s"`$n`")) ++ Seq(
        (col("__rt_base") + col("__pos")).as("_row_id"),
        col("__rt_dcv").as("_row_commit_version")): _*)
  }

  /** Install/replace one domain's metadata (public API for engine
    * domains; `delta.*` system domains other than the ones this engine
    * maintains are rejected, per the protocol's reserved namespace). */
  def setDomainMetadata(spark: SparkSession, tablePath: String,
      domain: String, configuration: String): Long = {
    require(!domain.startsWith("delta."),
      s"domain '$domain' is in the reserved delta.* namespace")
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    val actions = mutable.Buffer[ObjectNode]()
    if (!snap.protocol.writerFeatures.contains("domainMetadata"))
      actions += DeltaWrite.featureProtocolAction(snap.protocol,
        Seq("domainMetadata"))
    actions += DeltaWrite.domainMetadataAction(domain, configuration)
    DeltaWrite.commit(spark, tablePath, actions.toSeq,
      operation = "SET DOMAIN METADATA", snapHint = Some(snap))
  }

  /** Tombstone a domain (replayed as removal). */
  def removeDomainMetadata(spark: SparkSession, tablePath: String,
      domain: String): Long = {
    require(!domain.startsWith("delta."),
      s"domain '$domain' is in the reserved delta.* namespace")
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    DeltaWrite.commit(spark, tablePath,
      Seq(DeltaWrite.domainMetadataAction(domain, "", removed = true)),
      operation = "REMOVE DOMAIN METADATA", snapHint = Some(snap))
  }
}
