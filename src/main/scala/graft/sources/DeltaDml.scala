package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, not, when}

/** Copy-on-write UPDATE / DELETE over [[DeltaLog]] tables — the DML the
  * reference REPL dispatches to its engine (query_sync_table.py:123-125)
  * and the Tier B rows VERDICT r01 flagged as missing.
  *
  * Semantics are Delta's own: identify the data files that contain at
  * least one matching row, rewrite just those files with the change
  * applied, and commit `remove`+`add` actions for them in one atomic log
  * entry. Untouched files are never read twice or rewritten, which is
  * what keeps a 100 TB point-update proportional to the files it hits,
  * not to the table.
  *
  * A commit finds its files and its counts in ONE pass: a map-only job
  * returns each task's matched-row count per `__file` ([[rowsPerFile]];
  * file names and counts only — metadata-scale), and the driver's sum
  * gives both the hit files and the affected rows. The write is the
  * second and last job. MERGE does the same with one aggregate over the
  * join (hit files, ambiguity, clause counts) and counts its inserts
  * from the footers of their own write.
  */
object DeltaDml {

  final case class DmlResult(version: Long, rewrittenFiles: Int, affectedRows: Long)

  def delete(spark: SparkSession, tablePath: String, condition: Column): DmlResult = {
    val snap0 = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkAppendOnly(snap0, "DELETE")
    // delta.enableDeletionVectors=true switches DELETE to merge-on-read
    // (positions to a sidecar, no data rewrite) — see [[DeltaDv]].
    if (DeltaDv.enabled(snap0.configuration))
      DeltaDv.delete(spark, tablePath, snap0, condition)
    else rewrite(spark, tablePath, condition, df => df.filter(not(condition)),
      operation = "DELETE", snapHint = Some(snap0),
      cdcOf = hit => hit.filter(condition)
        .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete")))
  }

  /** `assignments`: column name → new-value expression, applied only to
    * rows matching `condition` (other rows in hit files pass through).
    *
    * SQL UPDATE semantics: the WHERE condition AND every SET expression
    * evaluate against the OLD row — one `select` projects all columns at
    * once (a sequential `withColumn` fold would re-resolve the condition
    * and later values against already-updated columns, so
    * `SET status='done' WHERE status='pending'` would un-match its own
    * rows and `SET a=b, b=a` would not swap). */
  def update(spark: SparkSession, tablePath: String, condition: Column,
      assignments: Seq[(String, Column)]): DmlResult = {
    val snap0 = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkAppendOnly(snap0, "UPDATE")
    if (DeltaDv.enabled(snap0.configuration))
      return DeltaDv.update(spark, tablePath, snap0, condition, assignments)
    val byName = assignments.toMap
    // Generated columns not explicitly assigned are RECOMPUTED on the
    // hit rows from their recorded expression, evaluated AFTER the
    // assignments (Delta's own UPDATE semantics — otherwise every
    // update of a base column would be vetoed by the staged-file
    // generation check as stale).
    val gen = DeltaGenerated.generationExprs(snap0.schema)
      .filterNot { case (c, _) => byName.contains(c) }
    def applied(df: DataFrame): DataFrame = {
      // condition must see PRE-assignment values — mark hits first
      val marked = df.withColumn("__hit", condition)
      val assigned = marked.select(df.columns.toIndexedSeq.map { c =>
        byName.get(c) match {
          case Some(v) => when(col("__hit"), v).otherwise(col(c)).as(c)
          case None => col(c)
        }
      } :+ col("__hit"): _*)
      gen.foldLeft(assigned) { case (d, (c, e)) =>
        val dt = snap0.schema.fields.find(_.name == c).get.dataType
        d.withColumn(c,
          when(col("__hit"), org.apache.spark.sql.functions.expr(e).cast(dt))
            .otherwise(col(c)))
      }.drop("__hit")
    }
    rewrite(spark, tablePath, condition, applied, operation = "UPDATE",
      snapHint = Some(snap0),
      cdcOf = { hit =>
        import org.apache.spark.sql.functions.lit
        val matched = hit.filter(condition)
        matched.withColumn("_change_type", lit("update_preimage"))
          .unionByName(applied(matched)
            .withColumn("_change_type", lit("update_postimage")))
      })
  }

  /** `cdcOf`: builds the commit's change-file rows (table columns +
    * `_change_type`) from the hit-file frame; materialized only when the
    * table has [[DeltaCdf.Property]] enabled. */
  private def rewrite(spark: SparkSession, tablePath: String, condition: Column,
      transform: DataFrame => DataFrame, operation: String,
      cdcOf: DataFrame => DataFrame,
      snapHint: Option[DeltaLog.Snapshot] = None): DmlResult = {
    // reuse the caller's snapshot: a second full log replay per
    // statement doubles the driver's log RPCs AND opens a TOCTOU window
    // where the appendOnly/DV decision was made against different state
    // than the one rewritten
    val snap = snapHint.getOrElse(DeltaLog.snapshot(spark, tablePath))
    DeltaLog.checkWritable(snap)

    val hits =
      if (snap.files.isEmpty) Map.empty[String, Long]
      else rowsPerFile(DeltaLog.scanFilesWithMeta(spark, snap, snap.files)
        .filter(condition))
    if (hits.isEmpty)
      return DmlResult(snap.version, 0, 0L)
    val hitUris = hits.keys.toIndexedSeq.sorted
    val hitEntries = hitUris.map(DeltaLog.liveFiles(spark, snap).entry)
    val hitRel = hitEntries.map(_.path)
    val affected = hits.values.sum

    val hitDf = DeltaLog.scanFiles(spark, snap, hitEntries)
    val rewritten = transform(hitDf)
    val adds = DeltaWrite.writeDataFiles(rewritten, tablePath,
      snap.partitionColumns, Some(snap.schema))
    DeltaConstraints.enforceStaged(spark, snap, adds)
    val cdcs =
      if (DeltaCdf.enabled(snap.configuration))
        DeltaCdf.writeCdcFiles(cdcOf(hitDf), tablePath, Some(snap.schema))
          .map(DeltaCdf.cdcAction)
      else Nil
    val actions = hitRel.map(DeltaWrite.removeAction) ++
      adds.map(DeltaWrite.addAction) ++ cdcs
    val v = DeltaWrite.commit(spark, tablePath, actions, operation,
      snapHint = Some(snap), metrics = Seq(
        (if (operation == "DELETE") "numDeletedRows" else "numUpdatedRows") -> affected,
        "numRemovedFiles" -> hitRel.size.toLong,
        "numAddedFiles" -> adds.size.toLong))
    DmlResult(v, hitRel.size, affected)
  }

  /** Matched rows per `__file` in ONE map-only job: each task counts its
    * rows into a map and returns it; the driver sums the maps (a file
    * read by several tasks arrives as several pieces). The result holds
    * file names and counts only — metadata-scale. */
  private def rowsPerFile(matched: DataFrame): Map[String, Long] =
    matched.select(col("__file")).queryExecution.toRdd.mapPartitions { it =>
      val n = scala.collection.mutable.HashMap[String, Long]()
      it.foreach { r =>
        val f = r.getUTF8String(0).toString
        n(f) = n.getOrElse(f, 0L) + 1L
      }
      n.iterator
    }.collect().groupMapReduce(_._1)(_._2)(_ + _)

  final case class MergeResult(version: Long, rewrittenFiles: Int,
      updatedRows: Long, deletedRows: Long, insertedRows: Long)

  /** MERGE INTO: the general upsert the reference's SCD sync is a
    * special case of (delta_to_postgres_scd.py:269-337 closes + inserts
    * by business key; `ScdPipeline` implements that shape directly —
    * this is the open-coded Delta counterpart for arbitrary clauses).
    *
    * The target is aliased `t` and the source `s`: write `condition`,
    * clause conditions, and assignment values against those qualifiers
    * (`col("t.id") === col("s.id")`, `"v" -> col("s.v")`).
    *
    * Clauses (each optional, Delta semantics):
    *   - `matchedUpdate`: assignments applied to matched target rows
    *     (optionally gated by `matchedUpdateCond`);
    *   - `matchedDelete`: matched target rows satisfying the condition
    *     are deleted (checked BEFORE update, as when a MERGE lists
    *     DELETE first);
    *   - `insert`: when true, source rows matching NO target row are
    *     inserted (source schema must cover the target's columns).
    *
    * Copy-on-write at scale: only files holding at least one row a
    * matched clause acts on are rewritten; inserts append new files; one
    * atomic remove+add commit. A source with MULTIPLE rows matching one
    * target row of a rewritten file makes the update ambiguous — that is
    * an error, as in Delta.
    *
    * Jobs: ONE aggregate over target ⋈ source keyed by the physical row
    * (`__file`, `__pos`), reduced per file inside the tasks, returns per
    * file whether a clause acts on it, its largest match count and its
    * deleted and updated rows (file names and counts only —
    * metadata-scale). Then the hit files are rewritten, and the inserts
    * written on their own, so the footers of that write count them
    * exactly (no `count()` pass, no accumulator a re-run task could
    * double). Nothing is cached.
    */
  def merge(spark: SparkSession, tablePath: String, source: DataFrame,
      condition: Column,
      matchedUpdate: Seq[(String, Column)] = Nil,
      matchedUpdateCond: Option[Column] = None,
      matchedDelete: Option[Column] = None,
      insert: Boolean = false): MergeResult = {
    import org.apache.spark.sql.functions.{count, lit, max, sum}
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    if (matchedUpdate.nonEmpty || matchedDelete.nonEmpty)
      DeltaLog.checkAppendOnly(snap, "MERGE with matched clauses")

    // Clause decisions for a (target, source) pair; `__matched` is null
    // on the unmatched side of the rewrite's left join. The same
    // expressions decide the counts and the rewrite. A clause condition
    // that evaluates to NULL does not act (SQL WHEN semantics): without
    // the coalesce, `filter(!doDelete)` would drop such a row from the
    // rewrite while counting it neither deleted nor updated.
    val marked = source.withColumn("__matched", lit(true))
    val matched = col("__matched").isNotNull
    def holds(c: Column): Column = coalesce(c, lit(false))
    val doDelete = matchedDelete.map(c => matched && holds(c)).getOrElse(lit(false))
    val doUpdate = matched && !doDelete &&
      holds(matchedUpdateCond.getOrElse(lit(true))) && lit(matchedUpdate.nonEmpty)
    // A match with no applicable update/delete clause changes nothing:
    // rewriting its file would turn an insert-only merge into a spurious
    // full-file rewrite. Provenance comes from the scan's `__file`
    // metadata COLUMN (scanFilesWithMeta), which survives any join
    // strategy — input_file_name() after a shuffle returns "".
    val updGate =
      if (matchedUpdate.nonEmpty) matchedUpdateCond.getOrElse(lit(true))
      else lit(false)
    val actGate = matchedDelete.foldLeft(updGate)(_ || _)

    // file → (largest match count, deleted rows, updated rows), for the
    // files some clause acts on
    val hits: Map[String, (Long, Long, Long)] =
      if ((matchedUpdate.isEmpty && matchedDelete.isEmpty) || snap.files.isEmpty)
        Map.empty
      else DeltaLog.scanFilesWithMeta(spark, snap, snap.files).alias("t")
        .join(marked.alias("s"), condition)
        .groupBy(col("t.__file").as("f"), col("t.__pos"))
        .agg(count(lit(1)).as("m"),
          max(when(actGate, 1L).otherwise(0L)).as("acted"),
          sum(when(doDelete, 1L).otherwise(0L)).as("del"),
          sum(when(doUpdate, 1L).otherwise(0L)).as("upd"))
        .select(col("f"), col("m"), col("acted"), col("del"), col("upd"))
        .queryExecution.toRdd.mapPartitions { it =>
          val acc = scala.collection.mutable.HashMap[String, Array[Long]]()
          it.foreach { r =>
            val a = acc.getOrElseUpdate(r.getUTF8String(0).toString, new Array[Long](4))
            a(0) = math.max(a(0), r.getLong(1)); a(1) = math.max(a(1), r.getLong(2))
            a(2) += r.getLong(3); a(3) += r.getLong(4)
          }
          acc.iterator.map { case (f, a) => (f, a(0), a(1), a(2), a(3)) }
        }
        .collect()
        .groupMapReduce(_._1)(r => (r._2, r._3, r._4, r._5)) { (a, b) =>
          (math.max(a._1, b._1), math.max(a._2, b._2), a._3 + b._3, a._4 + b._4)
        }
        .collect { case (f, (m, acted, del, upd)) if acted > 0 => f -> (m, del, upd) }
    val dup = hits.values.map(_._1).maxOption.getOrElse(0L)
    if (dup > 1) throw new IllegalStateException(
      s"MERGE source has $dup rows matching one target row of " +
        s"$tablePath — the update is ambiguous (Delta semantics)")
    val deleted = hits.values.map(_._2).sum
    val updated = hits.values.map(_._3).sum
    val hitUris = hits.keys.toIndexedSeq.sorted
    val live = DeltaLog.liveFiles(spark, snap)
    val hitEntries = hitUris.map(live.entry)
    val hitRel = hitEntries.map(_.path)

    // Source rows matching no target row (whole table, not just hit
    // files), read from the SAME version the removes are decided against.
    val inserts =
      if (!insert) None
      else Some(source.alias("s")
        .join(DeltaLog.scanFiles(spark, snap, snap.files).alias("t"),
          condition, "left_anti")
        .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*))

    if (hitUris.isEmpty && !insert)
      return MergeResult(snap.version, 0, 0L, 0L, 0L)

    val cdf = DeltaCdf.enabled(snap.configuration)
    val dv = DeltaDv.enabled(snap.configuration)
    // (__file, __pos) is the stable physical row identity; on
    // deletion-vector tables it becomes the vectorized position.
    val joined =
      if (hitUris.isEmpty) None
      else Some(DeltaLog.scanFilesWithMeta(spark, snap, hitEntries).alias("t")
        .join(marked.alias("s"), condition, "left"))
    val applied = snap.schema.fieldNames.toIndexedSeq.map { f =>
      matchedUpdate.toMap.get(f) match {
        case Some(v) => when(doUpdate, v).otherwise(col(s"t.$f")).as(f)
        case None => col(s"t.$f").as(f)
      }
    }
    // Copy-on-write rewrites the hit files' kept rows; merge-on-read
    // vectors the acted rows out and writes ONLY the updated versions
    // (none for a delete-only merge).
    val rewriteData = joined.flatMap { j =>
      if (!dv) Some(j.filter(!doDelete).select(applied: _*))
      else if (updated > 0) Some(j.filter(doUpdate).select(applied: _*))
      else None
    }
    val rewriteAdds = rewriteData.toSeq.flatMap(d =>
      DeltaWrite.writeDataFiles(d, tablePath, snap.partitionColumns, Some(snap.schema)))
    // Inserts land in their own files: their footers count them.
    // Empty staged files (an insert set with no rows) are dropped.
    val (insAdds, nIns) = inserts.fold((Seq.empty[DeltaLog.AddEntry], 0L)) { i =>
      val staged = DeltaWrite.writeDataFiles(i, tablePath, snap.partitionColumns,
        Some(snap.schema)).map(a =>
          a -> RowTracking.numRecordsOf(spark, tablePath, a.path, a.stats))
      val (kept, empty) = staged.partition(_._2 > 0)
      val tfs = new Path(tablePath).getFileSystem(live.conf)
      empty.foreach { case (a, _) => tfs.delete(new Path(tablePath,
        java.net.URLDecoder.decode(a.path, "UTF-8")), false) }
      (kept.map(_._1), kept.map(_._2).sum)
    }
    val adds = rewriteAdds ++ insAdds
    if (adds.isEmpty && hitRel.isEmpty)
      return MergeResult(snap.version, 0, 0L, 0L, 0L)
    DeltaConstraints.enforceStaged(spark, snap, adds)

    val cdcs =
      if (!cdf) Nil
      else {
        val tcols = snap.schema.fieldNames.toIndexedSeq.map(f => col(s"t.$f").as(f))
        val hitChanges = joined.map(j => j.filter(doDelete).select(tcols: _*)
          .withColumn("_change_type", lit("delete"))
          .unionByName(j.filter(doUpdate).select(tcols: _*)
            .withColumn("_change_type", lit("update_preimage")))
          .unionByName(j.filter(doUpdate).select(applied: _*)
            .withColumn("_change_type", lit("update_postimage"))))
        val insChanges = inserts.filter(_ => nIns > 0)
          .map(_.withColumn("_change_type", lit("insert")))
        (hitChanges ++ insChanges).reduceOption(_ unionByName _).toSeq
          .flatMap(c => DeltaCdf.writeCdcFiles(c, tablePath, Some(snap.schema)))
      }.map(DeltaCdf.cdcAction)
    val actions = joined match {
      case Some(j) if dv =>
        // vectorize the acted rows instead of removing+rewriting the
        // hit files; kept rows stay physically where they are
        val acted = j.filter(doDelete || doUpdate)
          .select(col("t.__file").as("__file"), col("t.__pos").as("__pos"))
        val dvPart = DeltaDv.vectorize(spark, snap, tablePath, acted)
          .map(_._1).getOrElse(Nil)
        DeltaWrite.dvProtocolAction(snap.protocol) +:
          (dvPart ++ adds.map(DeltaWrite.addAction) ++ cdcs)
      case _ =>
        hitRel.map(DeltaWrite.removeAction) ++
          adds.map(DeltaWrite.addAction) ++ cdcs
    }
    val removedFiles = if (dv) 0 else hitRel.size
    val v = DeltaWrite.commit(spark, tablePath, actions, "MERGE",
      snapHint = Some(snap), metrics = Seq(
        "numTargetRowsInserted" -> nIns,
        "numTargetRowsUpdated" -> updated,
        "numTargetRowsDeleted" -> deleted,
        "numTargetFilesRemoved" -> removedFiles.toLong,
        "numTargetFilesAdded" -> adds.size.toLong))
    MergeResult(v, removedFiles, updated, deleted, nIns)
  }

  // ---- REPL dispatch ------------------------------------------------

  private val UpdateRe =
    """(?is)\s*UPDATE\s+(\S+)\s+SET\s+(.+?)\s+WHERE\s+(.+?)\s*;?\s*""".r
  private val DeleteRe =
    """(?is)\s*DELETE\s+FROM\s+(\S+)(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+(\S+?)\s*;?\s*""".r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(\S+?)(?:\s+RETAIN\s+(\d+)\s+HOURS)?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?(\S+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val AddConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConstraintRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  private val SetPropsRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*;?\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+(\S+)\s+SHALLOW\s+CLONE\s+(\S+)\s*;?\s*""".r
  private val ConvertRe =
    """(?is)\s*CONVERT\s+TO\s+DELTA\s+(?:parquet\.)?(\S+)\s*;?\s*""".r
  private val AddColumnsRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ADD\s+COLUMNS?\s*\((.+)\)\s*;?\s*""".r
  private val RenameColumnRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)\s*;?\s*""".r
  private val DropColumnRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+DROP\s+COLUMN\s+(\w+)\s*;?\s*""".r
  private val WidenColumnRe =
    """(?is)\s*ALTER\s+TABLE\s+(\S+)\s+ALTER\s+COLUMN\s+(\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+(.+?)\s*;?\s*""".r
  private val CheckpointRe =
    """(?is)\s*CHECKPOINT\s+(\S+?)(?:\s+(V2)(?:\s+SIDECARS\s+(\d+))?|\s+PARTS\s+(\d+))?\s*;?\s*""".r
  private val CleanupRe =
    """(?is)\s*CLEANUP\s+LOG\s+(\S+?)\s*;?\s*""".r
  private val CompactLogRe =
    """(?is)\s*COMPACT\s+LOG\s+(\S+?)\s+FROM\s+(\d+)\s+TO\s+(\d+)\s*;?\s*""".r

  /** Dispatch Delta maintenance / constraint statements against a table
    * path (the REPL's non-SELECT surface beyond DML): OPTIMIZE, VACUUM
    * [RETAIN n HOURS], RESTORE … TO VERSION AS OF n, CHECKPOINT …
    * [V2 [SIDECARS n] | PARTS n], CLEANUP LOG …, ALTER TABLE …
    * ADD/DROP CONSTRAINT. Returns a human-readable summary, or None
    * when the statement is none of these. */
  def dispatchMaintenance(spark: SparkSession, sql: String): Option[String] = sql match {
    case OptimizeRe(target) =>
      val (n, v) = DeltaMaintenance.compact(spark, unquote(target))
      Some(s"compacted $n files (version $v)")
    case VacuumRe(target, hours) =>
      val retainMs = Option(hours).map(_.toLong * 3600 * 1000L).getOrElse(0L)
      val n = DeltaMaintenance.vacuum(spark, unquote(target), retainMs)
      Some(s"vacuumed $n unreferenced files")
    case RestoreRe(target, v) =>
      val nv = DeltaMaintenance.restore(spark, unquote(target), v.toLong)
      Some(s"restored to version $v (as new version $nv)")
    case AddConstraintRe(target, name, check) =>
      val v = DeltaConstraints.addCheck(spark, unquote(target), name, check)
      Some(s"constraint $name added (version $v)")
    case DropConstraintRe(target, name) =>
      val v = DeltaConstraints.dropCheck(spark, unquote(target), name)
      Some(s"constraint $name dropped (version $v)")
    case CloneRe(target, source) =>
      val v = DeltaMaintenance.shallowClone(spark, unquote(source), unquote(target))
      Some(s"shallow clone created at ${unquote(target)} (version $v)")
    case ConvertRe(target) =>
      val v = DeltaMaintenance.convertToDelta(spark, unquote(target))
      Some(s"converted ${unquote(target)} to Delta (version $v)")
    case AddColumnsRe(target, ddl) =>
      val v = DeltaSchema.addColumns(spark, unquote(target), ddl)
      Some(s"column(s) added (version $v)")
    case RenameColumnRe(target, from, to) =>
      val v = DeltaSchema.renameColumn(spark, unquote(target), from, to)
      Some(s"column $from renamed to $to (version $v)")
    case DropColumnRe(target, name) =>
      val v = DeltaSchema.dropColumn(spark, unquote(target), name)
      Some(s"column $name dropped (version $v)")
    case WidenColumnRe(target, name, toDdl) =>
      val v = DeltaSchema.widenColumnType(spark, unquote(target), name, toDdl)
      Some(s"column $name widened to ${toDdl.trim} (version $v)")
    case CheckpointRe(target, v2, sidecars, parts) =>
      val t = unquote(target)
      val v =
        if (v2 != null)
          DeltaWrite.checkpointV2(spark, t,
            Option(sidecars).map(_.toInt).getOrElse(1))
        else
          DeltaWrite.checkpoint(spark, t,
            Option(parts).map(_.toInt).getOrElse(1))
      Some(s"checkpointed $t at version $v" +
        (if (v2 != null) " (v2)" else ""))
    case CleanupRe(target) =>
      val n = DeltaMaintenance.cleanupLog(spark, unquote(target))
      Some(s"cleaned $n log files behind the checkpoint horizon")
    case CompactLogRe(target, s, e) =>
      val p = DeltaMaintenance.compactLog(spark, unquote(target),
        s.toLong, e.toLong)
      Some(s"log range [$s, $e] compacted to $p")
    case SetPropsRe(target, propList) =>
      val props = splitTopLevel(propList).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        unquote(k.trim) -> unquote(v.trim)
      }.toMap
      val v = DeltaMaintenance.setTblProperties(spark, unquote(target), props)
      Some(s"${props.size} propert${if (props.size == 1) "y" else "ies"} " +
        s"set (version $v)")
    case _ => None
  }

  /** Dispatch an UPDATE/DELETE statement against a Delta table path, the
    * way the reference REPL routes non-SELECT statements to its engine.
    * Returns None when the statement is not DML (caller falls through to
    * `spark.sql`). The target must be a filesystem path to a Delta table
    * (quoted or bare); assignments/predicates are Spark SQL expressions.
    */
  def dispatch(spark: SparkSession, sql: String): Option[DmlResult] = sql match {
    case UpdateRe(target, setList, where) =>
      val assignments = splitTopLevel(setList).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k.trim -> expr(v.trim)
      }
      Some(update(spark, unquote(target), expr(where), assignments))
    case DeleteRe(target, where) =>
      val cond = Option(where).map(w => expr(w))
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      Some(delete(spark, unquote(target), cond))
    case _ => None
  }

  // ---- MERGE statement parse ----------------------------------------

  private val MergeHead =
    """(?is)\s*MERGE\s+INTO\s+(\S+)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s+USING\s+(.*)""".r

  /** Parse and execute a `MERGE INTO` statement against a Delta table
    * path, the REPL counterpart of [[merge]] (the reference REPL routes
    * every non-SELECT to its engine, query_sync_table.py:123-125).
    *
    * Supported grammar (Delta's SQL shape):
    * {{{
    * MERGE INTO <path> [AS] <t> USING (<subquery>)|<table> [AS] <s>
    *   ON <condition>
    *   [WHEN MATCHED [AND <cond>] THEN UPDATE SET a = <expr>, ...]
    *   [WHEN MATCHED [AND <cond>] THEN DELETE]
    *   [WHEN NOT MATCHED THEN INSERT *]
    * }}}
    * Aliases are free (rewritten to the engine's `t`/`s` qualifiers);
    * `INSERT *` is the only insert form because [[merge]] projects the
    * target schema out of the source by name. Returns None when the
    * statement is not a MERGE; malformed MERGE text throws (a silent
    * fall-through to spark.sql would produce a confusing parser error).
    */
  def dispatchMerge(spark: SparkSession, sql: String): Option[MergeResult] = sql match {
    case MergeHead(target, tAliasOrNull, rest) =>
      val tAlias = Option(tAliasOrNull).getOrElse("t")
      // Source: balanced-paren subquery or a single table/path token.
      val trimmed = rest.trim
      val (src, afterSrc) =
        if (trimmed.startsWith("(")) {
          val end = matchingParen(trimmed)
          (trimmed.substring(0, end + 1), trimmed.substring(end + 1))
        } else {
          val end = trimmed.indexWhere(_.isWhitespace)
          require(end > 0, s"MERGE: missing ON clause in: $sql")
          (trimmed.substring(0, end), trimmed.substring(end))
        }
      val SrcTail = """(?is)\s*(?:(?:AS\s+)?([A-Za-z_]\w*)\s+)??ON\s+(.*)""".r
      val (sAlias, afterOn) = afterSrc match {
        case SrcTail(a, tail) => (Option(a).getOrElse("s"), tail)
        case _ => throw new IllegalArgumentException(
          s"MERGE: expected [alias] ON <condition> after USING source in: $sql")
      }
      // Condition runs to the first top-level WHEN.
      val whenAt = indexOfTopLevelWord(afterOn, "WHEN")
      require(whenAt > 0, s"MERGE: no WHEN clause in: $sql")
      def rq(e: String): Column = expr(requalify(e, tAlias, sAlias))
      val condition = rq(afterOn.substring(0, whenAt).trim)

      val MatchedUpdate =
        """(?is)\s*MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+(.+?)\s*;?\s*""".r
      val MatchedDelete =
        """(?is)\s*MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE\s*;?\s*""".r
      val NotMatchedInsert =
        """(?is)\s*NOT\s+MATCHED\s+THEN\s+INSERT\s+(.+?)\s*;?\s*""".r
      var upd: Seq[(String, Column)] = Nil
      var updCond: Option[Column] = None
      var delCond: Option[Column] = None
      var doInsert = false
      splitTopLevelWord(afterOn.substring(whenAt + "WHEN".length), "WHEN")
        .foreach {
          case MatchedUpdate(cond, setList) =>
            upd = splitTopLevel(setList).map { kv =>
              val Array(k, v) = kv.split("=", 2)
              val name = k.trim.stripPrefix(s"$tAlias.").stripPrefix("t.")
              name -> rq(v.trim)
            }
            updCond = Option(cond).map(rq)
          case MatchedDelete(cond) =>
            delCond = Some(Option(cond).map(rq)
              .getOrElse(org.apache.spark.sql.functions.lit(true)))
          case NotMatchedInsert(form) =>
            require(form.trim == "*", "MERGE: only INSERT * is supported " +
              "(the engine projects the target schema from the source by name)")
            doInsert = true
          case other => throw new IllegalArgumentException(
            s"MERGE: unsupported WHEN clause: WHEN $other")
        }

      val source = resolveMergeSource(spark, src)
      Some(merge(spark, unquote(target), source, condition,
        matchedUpdate = upd, matchedUpdateCond = updCond,
        matchedDelete = delCond, insert = doInsert))
    case _ => None
  }

  private def resolveMergeSource(spark: SparkSession, src: String): DataFrame =
    if (src.startsWith("(")) spark.sql(src.stripPrefix("(").stripSuffix(")"))
    else {
      val name = unquote(src)
      if (DeltaLog.isDeltaTable(spark, name)) DeltaLog.read(spark, name)
      else scala.util.Try(spark.table(name))
        .getOrElse(spark.read.parquet(name))
    }

  /** Rewrite the statement's alias qualifiers to the engine's fixed
    * `t.`/`s.` (two-step so `MERGE INTO x s USING y t` cross-renames
    * correctly). Qualifiers inside string literals are not protected —
    * acceptable for the REPL surface. */
  private def requalify(e: String, tAlias: String, sAlias: String): String = {
    def q(a: String) = "(?i)(?<![\\w.`])" + java.util.regex.Pattern.quote(a) + "\\s*\\."
    e.replaceAll(q(tAlias), "__GT__.").replaceAll(q(sAlias), "__GS__.")
      .replace("__GT__.", "t.").replace("__GS__.", "s.")
  }

  /** Index just past the paren that closes `s`'s leading '('. */
  private def matchingParen(s: String): Int = {
    var depth = 0; var inStr = false
    s.zipWithIndex.foreach { case (c, i) =>
      c match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr =>
          depth -= 1; if (depth == 0) return i
        case _ =>
      }
    }
    throw new IllegalArgumentException(s"unbalanced parentheses in: $s")
  }

  /** First index of whole-word `word` (case-insensitive) outside parens
    * and string literals; -1 if absent. */
  private def indexOfTopLevelWord(s: String, word: String): Int = {
    var depth = 0; var inStr = false; var i = 0
    val n = s.length; val w = word.length
    while (i < n) {
      s.charAt(i) match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case _ =>
      }
      if (!inStr && depth == 0 && i + w <= n &&
          s.regionMatches(true, i, word, 0, w) &&
          (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1)) && s.charAt(i - 1) != '_') &&
          (i + w == n || !Character.isLetterOrDigit(s.charAt(i + w)) && s.charAt(i + w) != '_'))
        return i
      i += 1
    }
    -1
  }

  /** Split on top-level whole-word occurrences of `word`. */
  private def splitTopLevelWord(s: String, word: String): Seq[String] = {
    val at = indexOfTopLevelWord(s, word)
    if (at < 0) Seq(s)
    else s.substring(0, at) +:
      splitTopLevelWord(s.substring(at + word.length), word)
  }

  private[sources] def unquote(t: String): String =
    t.stripPrefix("'").stripSuffix("'").stripPrefix("`").stripSuffix("`")

  /** Split `a = f(x, y), b = 2` on commas not nested in parens/quotes. */
  private def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    var depth = 0; var inStr = false; var start = 0
    s.zipWithIndex.foreach { case (c, i) =>
      c match {
        case '\'' => inStr = !inStr
        case '(' if !inStr => depth += 1
        case ')' if !inStr => depth -= 1
        case ',' if !inStr && depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ =>
      }
    }
    out += s.substring(start)
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }
}
