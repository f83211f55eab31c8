package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, MapType, StringType, StructField, StructType, TimestampType}

/** Table-maintenance operations completing the Delta lifecycle (public
  * protocol semantics):
  *
  *   - OPTIMIZE (bin-packing compaction): streaming syncs and per-batch
  *     DML leave a long tail of small files — the classic small-file
  *     problem that murders 100 TB scan throughput (every file is a task
  *     + a footer read). Compaction rewrites small files into
  *     `targetSize`-ish ones and commits remove+add with
  *     `dataChange=false`, so downstream incremental consumers know no
  *     rows changed.
  *   - VACUUM: physically deletes files no longer referenced by the
  *     CURRENT snapshot (tombstoned by overwrite/DML/compaction). Until
  *     vacuumed, every historical version stays time-travelable; after,
  *     only the current one is guaranteed. Retention is the caller's
  *     contract (Delta defaults to 7 days; tests pass 0).
  */
object DeltaMaintenance {

  /** RESTORE TABLE … TO VERSION AS OF: one commit that removes files
    * added since `version` and re-adds files removed since, so the
    * CURRENT snapshot equals the historical one while history keeps
    * growing forward (the restore itself is time-travelable, exactly
    * Delta's RESTORE semantics — no log rewriting). Metadata (schema /
    * partitioning) is restored too.
    *
    * Requires the historical files to still exist physically — VACUUM
    * breaks restorability past its retention, so missing files are an
    * upfront error, not a later scan failure. Work is metadata-scale:
    * two log replays + an existence check per re-added file.
    */
  def restore(spark: SparkSession, tablePath: String, version: Long): Long = {
    val current = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkAppendOnly(current, "RESTORE")
    require(version <= current.version,
      s"cannot restore $tablePath to future version $version (current ${current.version})")
    if (version == current.version) return current.version
    val old = DeltaLog.snapshot(spark, tablePath, Some(version))
    val fs = new Path(tablePath).getFileSystem(spark.sessionState.newHadoopConf())
    val missing = old.files.filterNot { a =>
      fs.exists(new Path(tablePath, java.net.URLDecoder.decode(a.path, "UTF-8"))) &&
        a.dv.forall(d => d.inline || fs.exists(new Path(tablePath, d.path)))
    }
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cannot restore $tablePath to version $version: ${missing.size} " +
        s"file(s) were vacuumed (first: ${missing.head.path})")
    val oldPaths = old.files.map(_.path).toSet
    val curByPath = current.files.map(f => f.path -> f).toMap
    val removes = current.files.filterNot(f => oldPaths(f.path)).map(_.path)
    // Re-add when the whole ENTRY differs, not just when the path is
    // new: a merge-on-read DELETE changes only a file's deletion
    // vector, and restoring past it must reinstate the old DV state.
    val readds = old.files.filterNot(f => curByPath.get(f.path).contains(f))
    val actions = DeltaWrite.metaDataAction(old.schema, old.partitionColumns,
      old.configuration, current.metaDataId) +:
      (removes.map(DeltaWrite.removeAction) ++ readds.map(DeltaWrite.addAction))
    DeltaWrite.commit(spark, tablePath, actions, "RESTORE",
      snapHint = Some(current))
  }

  /** CONVERT TO DELTA: create `_delta_log/` IN PLACE over an existing
    * parquet directory — version 0 records every data file as an `add`,
    * no data is rewritten or moved (the point of the operation: a 100 TB
    * parquet lake becomes a Delta table in one metadata-scale commit).
    * Hive-style `col=value` subdirectories become partition columns
    * (types as Spark's partition discovery infers them); footer stats
    * are harvested in parallel so data skipping works from the first
    * read. The reference's tables are exactly such converted parquet
    * (its `delta_scan` reads them, delta-unity-duckdb.js:330).
    *
    * Mirrors Delta's own constraints: the directory must not already be
    * a Delta table, must contain at least one parquet file, and a mixed
    * (partially-partitioned) layout is rejected rather than misread. */
  def convertToDelta(spark: SparkSession, tablePath: String): Long = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(table), s"no such directory: $tablePath")
    if (fs.exists(DeltaLog.logDir(tablePath)))
      throw new IllegalStateException(s"already a Delta table: $tablePath")
    val found = scala.collection.mutable.Buffer[(String, Long)]()
    def walk(p: Path, rel: String): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (!name.startsWith(".") && !name.startsWith("_"))
            walk(st.getPath, s"$rel$name/")
        } else if (name.endsWith(".parquet") &&
            !name.startsWith(".") && !name.startsWith("_"))
          found += ((s"$rel$name", st.getLen))
      }
    walk(table, "")
    require(found.nonEmpty, s"no parquet files to convert under $tablePath")
    // Partition columns come from the directory layout; every file must
    // agree on the same column sequence — a mixed layout means the dir
    // is not one table, and converting it would corrupt reads silently.
    def partColsOf(rel: String): Seq[String] =
      rel.split("/").dropRight(1).toSeq.map { seg =>
        val kv = seg.split("=", 2)
        require(kv.length == 2,
          s"non-hive subdirectory '$seg' under $tablePath (expected col=value)")
        java.net.URLDecoder.decode(kv(0), "UTF-8")
      }
    val partCols = partColsOf(found.head._1)
    found.foreach { case (rel, _) =>
      require(partColsOf(rel) == partCols,
        s"inconsistent partition layout: $rel has ${partColsOf(rel)}, " +
          s"expected $partCols")
    }
    // One planning-time read infers the unified schema, including typed
    // partition columns (Spark's partition discovery), without scanning
    // row data.
    val schema = spark.read.parquet(tablePath).schema
    // Footer stats in parallel (independent reads; only metadata moves
    // through the driver) — best-effort, like every stats harvest here.
    val conf = spark.sessionState.newHadoopConf()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val adds = Await.result(
      Future.sequence(found.toSeq.sortBy(_._1).map { case (rel, len) =>
        Future(DeltaLog.AddEntry(rel, len,
          DataSkipping.statsJson(conf, new Path(table, rel)),
          partitionValues = DeltaWrite.partitionValuesMap(rel)))
      }), 10.minutes)
    val actions = DeltaWrite.protocolAction() +:
      DeltaWrite.metaDataAction(schema, partCols) +:
      adds.map(DeltaWrite.addAction)
    DeltaWrite.commit(spark, tablePath, actions, "CONVERT")
  }

  /** ALTER TABLE … SET TBLPROPERTIES: record table properties in a
    * metaData commit (how `delta.enableChangeDataFeed` is switched on).
    * `delta.constraints.*` keys are rejected — ADD CONSTRAINT is the
    * path that validates existing rows before recording a CHECK. */
  def setTblProperties(spark: SparkSession, tablePath: String,
      props: Map[String, String]): Long = {
    require(props.keys.forall(!_.startsWith(DeltaConstraints.Prefix)),
      "use ALTER TABLE ... ADD CONSTRAINT for CHECK constraints " +
        "(SET TBLPROPERTIES would skip existing-row validation)")
    // metadata commits are writes too: refuse tables whose writer
    // features this engine cannot honor BEFORE committing anything
    DeltaLog.checkWritable(DeltaLog.snapshot(spark, tablePath))
    // `delta.feature.<name> = supported` — Delta's own enablement
    // convention: record the feature in the protocol (reader side too
    // when the feature is a reader-writer one), NOT in the table
    // configuration. Unknown names are refused BEFORE any commit lands
    // (a row-tracking backfill used to run first, leaving a half-applied
    // property change when a later feature key was invalid): declaring a
    // feature this writer can't honor would poison the table for
    // everyone downstream.
    val featureKeys = props.collect {
      case (k, v) if k.startsWith("delta.feature.") &&
        v.equalsIgnoreCase("supported") => k.stripPrefix("delta.feature.")
    }.toSeq
    featureKeys.foreach { f =>
      if (!DeltaLog.SupportedWriterFeatures.contains(f))
        throw new UnsupportedOperationException(
          s"cannot declare delta.feature.$f: feature not supported by this writer")
    }
    // delta.enableRowTracking=true is Delta's user-facing switch: run
    // the protocol upgrade + dataChange=false backfill FIRST (its own
    // commit, like Delta's own enablement), then record the property.
    if (props.get("delta.enableRowTracking").exists(_.equalsIgnoreCase("true")))
      RowTracking.enable(spark, tablePath)
    if (featureKeys.nonEmpty) {
      val snap0 = DeltaLog.snapshot(spark, tablePath)
      DeltaWrite.commit(spark, tablePath,
        Seq(DeltaWrite.featureProtocolAction(snap0.protocol, featureKeys,
          featureKeys.filter(DeltaLog.isReaderFeature))),
        operation = "UPGRADE PROTOCOL")
    }
    val snap = DeltaLog.snapshot(spark, tablePath)
    // feature-enablement keys live in the PROTOCOL (above), never in the
    // table configuration — mirroring Delta's own handling
    val cfgProps = props.filterNot(_._1.startsWith("delta.feature."))
    val ictOn = (k: Map[String, String]) =>
      k.get("delta.enableInCommitTimestamps").exists(_.equalsIgnoreCase("true"))
    if (ictOn(props) && !ictOn(snap.configuration)) {
      // Enabling in-commit timestamps: the enablement commit itself must
      // carry the first inCommitTimestamp, record the writer feature in
      // a protocol upgrade (preserving existing features), and pin the
      // enablement version/timestamp properties — the protocol's anchor
      // for readers (and this writer's monotonicity re-seed after log
      // cleanup removes the predecessor commit).
      val now = System.currentTimeMillis()
      val all = cfgProps ++ Map(
        "delta.inCommitTimestampEnablementVersion" -> (snap.version + 1).toString,
        "delta.inCommitTimestampEnablementTimestamp" -> now.toString)
      DeltaWrite.commit(spark, tablePath,
        Seq(DeltaWrite.featureProtocolAction(snap.protocol, Seq("inCommitTimestamp")),
          DeltaWrite.metaDataAction(snap.schema, snap.partitionColumns,
            snap.configuration ++ all, snap.metaDataId)),
        operation = "SET TBLPROPERTIES", ictExplicit = Some(now))
    } else if (cfgProps.nonEmpty)
      DeltaWrite.commit(spark, tablePath,
        Seq(DeltaWrite.metaDataAction(snap.schema, snap.partitionColumns,
          snap.configuration ++ cfgProps, snap.metaDataId)),
        operation = "SET TBLPROPERTIES")
    else snap.version // feature-only props: the protocol commit above
                      // (or the row-tracking enablement) was the change;
                      // no spurious unchanged-metaData commit
  }

  /** SHALLOW CLONE: create a NEW table at `targetPath` whose `add`
    * entries reference the SOURCE snapshot's data files by absolute
    * path — zero data copy, so cloning a 100 TB table is one
    * metadata-scale commit (the protocol permits absolute `add` paths;
    * the scan's file index reads each entry by its own absolute path and
    * its logged partition values). The clone is
    * fully independent going forward: appends/DML/OPTIMIZE write new
    * files under the clone and only retire the clone's REFERENCES to
    * source files, and VACUUM's deletion walk is rooted at the clone's
    * directory so it can never delete source data. Caveat (same as
    * Delta's own shallow clones): VACUUM on the SOURCE can remove files
    * a clone still references — the clone is a dev/test snapshot, not a
    * backup. Size/stats carry over, so data skipping keeps working. */
  def shallowClone(spark: SparkSession, sourcePath: String,
      targetPath: String): Long = {
    val snap = DeltaLog.snapshot(spark, sourcePath)
    val fs = DeltaLog.logDir(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(DeltaLog.logDir(targetPath)))
      throw new IllegalStateException(s"Delta table already exists: $targetPath")
    val srcRoot = new Path(sourcePath)
    val adds = snap.files.map { a =>
      a.copy(
        path = new Path(srcRoot,
          java.net.URLDecoder.decode(a.path, "UTF-8")).toString,
        // DV sidecars are source-relative too — absolutize alongside.
        // 'u' becomes 'p' (the uuid-relative form is relative to the
        // SOURCE root, which the clone's readers don't know); inline
        // payloads travel in the descriptor and need no rewrite.
        dv = a.dv.map(d =>
          if (d.inline) d
          else d.copy(path = new Path(srcRoot, d.path).toString,
            storageType = "p", raw = "")))
    }
    val actions = DeltaWrite.protocolAction() +:
      DeltaWrite.metaDataAction(snap.schema, snap.partitionColumns,
        snap.configuration) +:
      adds.map(DeltaWrite.addAction)
    DeltaWrite.commit(spark, targetPath, actions, "CLONE")
  }

  /** DESCRIBE HISTORY: one row per surviving commit (version DESC) with
    * the commitInfo operation/engineInfo, the commit timestamp
    * (commitInfo.timestamp, file mtime for commits predating it) and the
    * commit's `operationMetrics` map (null when it recorded none).
    * Metadata-scale: reads only the log. Commits cleaned past a
    * checkpoint horizon no longer appear — history is as durable as the
    * log, exactly the protocol's contract. */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val dir = DeltaLog.logDir(tablePath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rows = fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n.length == 25 && n.endsWith(".json") && n.dropRight(5).forall(_.isDigit)
      }
      .map { st =>
        val v = st.getPath.getName.dropRight(5).toLong
        var op: String = null; var engine: String = null
        var metrics: Map[String, String] = null
        var ts: Long = st.getModificationTime
        DeltaLog.withLogLines(fs, st.getPath)(_.foreach { line =>
          val ci = mapper.readTree(line).get("commitInfo")
          if (ci != null) {
            if (ci.hasNonNull("operation")) op = ci.get("operation").asText()
            if (ci.hasNonNull("engineInfo")) engine = ci.get("engineInfo").asText()
            if (ci.hasNonNull("timestamp")) ts = ci.get("timestamp").asLong()
            // the feature's commit timestamp IS the table's time axis —
            // history must agree with TIMESTAMP AS OF resolution
            if (ci.hasNonNull("inCommitTimestamp"))
              ts = ci.get("inCommitTimestamp").asLong()
            if (ci.hasNonNull("operationMetrics"))
              metrics = scala.jdk.CollectionConverters.SetHasAsScala(
                ci.get("operationMetrics").properties()).asScala
                .map(e => e.getKey -> e.getValue.asText()).toMap
          }
        })
        Row(v, new java.sql.Timestamp(ts), op, engine, metrics)
      }
      .sortBy(-_.getLong(0))
    val schema = StructType(Seq(
      StructField("version", LongType),
      StructField("timestamp", TimestampType),
      StructField("operation", StringType),
      StructField("engineInfo", StringType),
      StructField("operationMetrics", MapType(StringType, StringType))))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  private val HistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+(\S+)\s*;?\s*""".r

  /** REPL surface for [[history]]: `DESCRIBE HISTORY <path>`. */
  def dispatchHistory(spark: SparkSession, sql: String): Option[DataFrame] =
    sql match {
      case HistoryRe(target) => Some(history(spark, DeltaDml.unquote(target)))
      case DetailRe(target) => Some(describeDetail(spark, DeltaDml.unquote(target)))
      case _ => None
    }

  private val DetailRe =
    """(?is)\s*DESCRIBE\s+DETAIL\s+(\S+?)\s*;?\s*""".r

  /** DESCRIBE DETAIL — Delta's one-row table summary (format, id,
    * partitioning, live-file count/bytes, properties, protocol). All
    * metadata-scale: one snapshot replay, no data file is opened. */
  def describeDetail(spark: SparkSession, tablePath: String): DataFrame = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    val schema = StructType(Seq(
      StructField("format", StringType),
      StructField("id", StringType),
      StructField("location", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("numFiles", LongType),
      StructField("sizeInBytes", LongType),
      StructField("properties", MapType(StringType, StringType)),
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("tableFeatures", ArrayType(StringType))))
    val row = Row("delta", snap.metaDataId.orNull, snap.tablePath,
      snap.partitionColumns, snap.files.size.toLong,
      snap.files.map(_.size).sum, snap.configuration,
      snap.protocol.minReader, snap.protocol.minWriter,
      (snap.protocol.readerFeatures ++ snap.protocol.writerFeatures)
        .distinct.sorted)
    spark.createDataFrame(
      java.util.Collections.singletonList(row), schema)
  }

  /** Compact live files smaller than `smallFileBytes` into bin-packed
    * rewritten files. Returns (filesCompacted, version) — version is
    * unchanged when fewer than two small files exist. */
  def compact(spark: SparkSession, tablePath: String,
      smallFileBytes: Long = 128L * 1024 * 1024): (Int, Long) = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap) // compaction rewrites data files too
    val small = snap.files.filter(_.size < smallFileBytes)
    if (small.size < 2) return (0, snap.version)
    // One partition per ~targetSize of input: the rewrite is distributed,
    // only file metadata moves through the driver. Unpartitioned tables
    // COALESCE the scan (one job, no shuffle: bin-packing needs no row
    // to move between tasks); partitioned tables hash on their partition
    // columns so each output file holds one partition's rows.
    val totalBytes = small.map(_.size).sum
    val parts = math.max(1, (totalBytes / smallFileBytes).toInt)
    val df = DeltaLog.scanFiles(spark, snap, small)
    val compacted =
      if (snap.partitionColumns.nonEmpty) df.repartition(parts,
        snap.partitionColumns.map(org.apache.spark.sql.functions.col): _*)
      else df.coalesce(parts)
    val adds = DeltaWrite.writeDataFiles(compacted, tablePath,
      snap.partitionColumns, Some(snap.schema))
    val actions =
      small.map(a => DeltaWrite.removeAction(a.path)) ++ adds.map(DeltaWrite.addAction)
    // dataChange=false on every action: same rows, new layout.
    actions.foreach { n =>
      Seq("remove", "add").foreach { k =>
        val o = n.get(k)
        if (o != null && o.isObject)
          o.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("dataChange", false)
      }
    }
    val v = DeltaWrite.commit(spark, tablePath, actions, "OPTIMIZE",
      snapHint = Some(snap), metrics = Seq(
        "numRemovedFiles" -> small.size.toLong,
        "numAddedFiles" -> adds.size.toLong))
    (small.size, v)
  }

  /** Delete commit JSONs superseded by the newest checkpoint (metadata
    * retention). Replay correctness is untouched — snapshot() bootstraps
    * from the checkpoint — but time travel to versions BEFORE the kept
    * horizon stops working, exactly like Delta's logRetentionDuration.
    * Returns the number of LOG files deleted — commit JSONs plus any
    * compacted-range files wholly behind the horizon. */
  def cleanupLog(spark: SparkSession, tablePath: String): Int = {
    val dir = DeltaLog.logDir(tablePath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = fs.listStatus(dir).map(_.getPath.getName)
    // The horizon must be a COMPLETE checkpoint (DeltaLog.listLog
    // validates multi-part completeness): trusting a partial checkpoint
    // left by a crashed writer would delete the only replayable record
    // of those commits — durable data loss, not a retention trim.
    val ckpt = DeltaLog.listLog(spark, tablePath)._3.keys.maxOption
    ckpt match {
      case None => 0
      case Some(horizon) =>
        val old = entries.collect {
          case n if n.length == 25 && n.endsWith(".json") &&
            n.dropRight(5).forall(_.isDigit) &&
            n.dropRight(5).toLong <= horizon => n
        }
        // Compacted ranges WHOLLY behind the horizon serve no replay
        // (bootstrap starts at horizon+1 > e) and trim with their
        // commits. A STRADDLER (s ≤ horizon < e) is kept: the covering
        // jump (DeltaLog.snapshot: s ≤ cursor ≤ e) replays the tail
        // (horizon, e] from it, and under the compaction doctrine those
        // tail commits may already have been deleted — trimming the
        // straddler would orphan the advertised latest version.
        val compactedRe = """(\d{20})\.(\d{20})\.compacted\.json""".r
        val oldCompacted = entries.collect {
          case n @ compactedRe(_, e) if e.toLong <= horizon => n
        }
        // version checksums travel with their commits: a crc whose
        // version is gone can never be verified again, only mislead
        val oldCrcs = entries.collect {
          case n if n.length == 24 && n.endsWith(".crc") &&
            n.dropRight(4).forall(_.isDigit) &&
            n.dropRight(4).toLong < horizon => n
        }
        (old ++ oldCompacted ++ oldCrcs)
          .foreach(n => fs.delete(new Path(dir, n), false))
        old.length + oldCompacted.length // crc trims are side hygiene
    }
  }

  /** Log compaction (protocol-optional `<s>.<e>.compacted.json`): write
    * the action reconciliation of commits [start, end] as one JSON-lines
    * file next to them. Individual commits stay authoritative (time
    * travel inside the range, CDF, ICT all address exact versions); the
    * compacted file lets snapshot replay open ONE file for the range —
    * on a long log tail past the last checkpoint that's the difference
    * between e−s+1 small reads and one. Reconciliation per the
    * protocol: latest metaData/protocol, latest txn per appId, latest
    * domainMetadata per domain, adds that survive the range, and the
    * range's remove tombstones (paths added then removed inside the
    * range keep only the tombstone; paths re-added after a remove keep
    * only the add). Returns the compacted file's path. */
  def compactLog(spark: SparkSession, tablePath: String,
      start: Long, end: Long): String = {
    require(start <= end, s"compactLog: start $start > end $end")
    // User error (range past the log tail) must read as such, not as the
    // "missing commit N" corruption signal the per-version loop raises.
    val latest = DeltaLog.latestVersion(spark, tablePath)
    require(end <= latest,
      s"compactLog: range end $end exceeds latest version $latest of $tablePath")
    val dir = DeltaLog.logDir(tablePath)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // LinkedHashMap: reconciled actions keep last-writer order per key,
    // which keeps the output deterministic and replay-order-safe
    val adds = scala.collection.mutable.LinkedHashMap[String, String]()
    val removes = scala.collection.mutable.LinkedHashMap[String, String]()
    val txns = scala.collection.mutable.LinkedHashMap[String, String]()
    val domains = scala.collection.mutable.LinkedHashMap[String, String]()
    var metaData: Option[String] = None
    var protocol: Option[String] = None
    (start to end).foreach { v =>
      val p = new Path(dir, f"$v%020d.json")
      if (!fs.exists(p)) throw new IllegalStateException(
        s"compactLog: missing commit $v under $tablePath")
      DeltaLog.withLogLines(fs, p)(_.foreach { line =>
        val node = mapper.readTree(line)
        if (node.hasNonNull("add")) {
          val path = node.get("add").get("path").asText()
          removes.remove(path)
          adds(path) = line
        }
        if (node.hasNonNull("remove")) {
          val path = node.get("remove").get("path").asText()
          adds.remove(path)
          removes(path) = line
        }
        if (node.hasNonNull("metaData")) metaData = Some(line)
        if (node.hasNonNull("protocol")) protocol = Some(line)
        if (node.hasNonNull("txn"))
          txns(node.get("txn").get("appId").asText()) = line
        if (node.hasNonNull("domainMetadata"))
          domains(node.get("domainMetadata").get("domain").asText()) = line
      })
    }
    val out = new Path(dir, f"$start%020d.$end%020d.compacted.json")
    // stage + rename: snapshot replay prefers a compacted file the
    // moment its FINAL name lists, so the publish must be atomic — a
    // reader racing a truncated write would silently drop the tail of
    // the range (dot-tmp names match no lister pattern)
    val tmp = new Path(dir, s".tmp-compact-${java.util.UUID.randomUUID()}.json")
    val os = fs.create(tmp, true)
    try {
      val w = new java.io.OutputStreamWriter(os, "UTF-8")
      (protocol.toSeq ++ metaData.toSeq ++ txns.values ++ domains.values ++
        removes.values ++ adds.values)
        .foreach { l => w.write(l); w.write("\n") }
      w.flush()
    } finally os.close()
    if (!fs.rename(tmp, out))
      throw new IllegalStateException(s"could not place $out")
    out.toString
  }

  /** Z-order clustering rewrite (OPTIMIZE ZORDER BY): re-layout the
    * whole table into `numFiles` files range-partitioned by the Morton
    * interleave of two keys, so file [min,max] ranges are tight in BOTH
    * dimensions and [[DataSkipping]] prunes for predicates on either
    * column. Commits with `dataChange=false` (layout-only). */
  def clusterByZOrder(spark: SparkSession, tablePath: String,
      colA: String, colB: String, numFiles: Int): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap) // clustering rewrites data files too
    require(snap.partitionColumns.isEmpty,
      "z-order clustering applies within unpartitioned tables here")
    val df = DeltaLog.read(spark, tablePath)
    val relaid = df
      .repartitionByRange(numFiles, graft.functions.ZOrder.zorder(
        org.apache.spark.sql.functions.col(colA),
        org.apache.spark.sql.functions.col(colB)))
    val adds = DeltaWrite.writeDataFiles(relaid, tablePath, Nil, Some(snap.schema))
    val actions =
      snap.files.map(a => DeltaWrite.removeAction(a.path)) ++
        adds.map(DeltaWrite.addAction)
    actions.foreach { n =>
      Seq("remove", "add").foreach { k =>
        val o = n.get(k)
        if (o != null && o.isObject)
          o.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .put("dataChange", false)
      }
    }
    DeltaWrite.commit(spark, tablePath, actions, "OPTIMIZE ZORDER",
      snapHint = Some(snap))
  }

  /** Delete data files not referenced by the current snapshot. With
    * `retainMs` > 0, tombstones younger than the horizon survive (their
    * versions stay time-travelable). Returns deleted file count. */
  def vacuum(spark: SparkSession, tablePath: String, retainMs: Long = 0L): Int = {
    val table = new Path(tablePath)
    val fs = table.getFileSystem(spark.sessionState.newHadoopConf())
    val snap = DeltaLog.snapshot(spark, tablePath)
    // The `vacuumProtocolCheck` writer feature's whole contract: a
    // vacuum implementation must run the full protocol gate before
    // deleting files — an implementation ignorant of some writer
    // feature (say, a DV layout it doesn't know) could otherwise delete
    // files that feature still references. checkWritable refuses any
    // writer feature outside the supported set, on every table (the
    // feature flag exists to force this on implementations that
    // wouldn't; we simply always comply).
    DeltaLog.checkWritable(snap)
    // Live set covers data files AND the deletion-vector sidecars their
    // descriptors reference — a vacuumed live sidecar would silently
    // resurrect deleted rows. Superseded sidecars (no live descriptor)
    // age out through the normal tombstone/mtime path.
    val live = (snap.files.map(a =>
      new Path(tablePath, java.net.URLDecoder.decode(a.path, "UTF-8"))) ++
      snap.files.flatMap(_.dv).filterNot(_.inline)
        .map(d => new Path(tablePath, d.path))).map(
      p => fs.makeQualified(p).toString).toSet
    // Retention counts from the DELETION time recorded on the remove
    // action (Delta semantics): a file created a year ago but tombstoned
    // a minute ago must survive `retainMs` so time travel inside the
    // retention window keeps working. Tombstone times come from the
    // retained commit JSONs; an orphan with no tombstone record (log
    // cleaned past its remove) falls back to file mtime — conservative
    // for fresh writes, best-effort for ancient orphans.
    val tombstones: Map[String, Long] = {
      val (lfs, commits, _, _) = DeltaLog.listLog(spark, tablePath)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val acc = scala.collection.mutable.Map[String, Long]()
      commits.values.foreach { c =>
        DeltaLog.withLogLines(lfs, c.getPath)(_.foreach { line =>
          val rm = mapper.readTree(line).get("remove")
          if (rm != null) {
            val p = fs.makeQualified(new Path(tablePath,
              java.net.URLDecoder.decode(rm.get("path").asText(), "UTF-8"))).toString
            val ts = if (rm.hasNonNull("deletionTimestamp"))
              rm.get("deletionTimestamp").asLong() else 0L
            acc(p) = math.max(acc.getOrElse(p, 0L), ts)
          }
        })
      }
      acc.toMap
    }
    val horizon = System.currentTimeMillis() - retainMs
    var deleted = 0
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (name != "_delta_log" && !name.startsWith(".")) walk(st.getPath)
        } else if (name.endsWith(".parquet") || name.endsWith(".bin")) {
          // .bin = roaring DV files; live descriptors protect theirs via
          // the same `live` set, superseded ones age out identically
          val q = fs.makeQualified(st.getPath).toString
          val deletedAt = tombstones.get(q).filter(_ > 0L)
            .getOrElse(st.getModificationTime)
          if (!live.contains(q) && deletedAt <= horizon) {
            if (fs.delete(st.getPath, false)) deleted += 1
          }
        }
      }
    walk(table)
    deleted
  }
}
