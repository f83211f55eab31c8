package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Incremental change consumption from the Delta log — the semantics of
  * Delta-as-a-streaming-source: a consumer holds a last-seen version and
  * each poll returns the rows ADDED by commits after it (reading only
  * the new commits' `add` files, never rescanning the table).
  *
  * Append-only commits replay exactly. A commit that REMOVES files
  * (overwrite, DML, not compaction) cannot be represented as an
  * append-stream — by default that is an error, mirroring Delta's own
  * streaming source; `ignoreChanges = true` opts into emitting the
  * commit's added files anyway (re-emitting rewritten rows — the same
  * at-least-once contract as Delta's `ignoreChanges`), and
  * `ignoreDeletes = true` opts into skipping REMOVE-ONLY commits (a
  * DELETE whose rewrite produced no files — the delete signal is
  * dropped, which is exactly why it needs the explicit flag, as in
  * Delta's own `ignoreDeletes`). OPTIMIZE commits (`dataChange =
  * false`) are layout-only and are skipped entirely.
  */
object DeltaChanges {

  private val mapper = new ObjectMapper()

  final case class Changes(fromVersionExclusive: Long, toVersion: Long,
      addedFiles: Seq[DeltaLog.AddEntry])

  /** (files, bytes) added by ONE commit — the metadata a streaming
    * source's `maxFilesPerTrigger` / `maxBytesPerTrigger` walk needs.
    * Layout-only adds (`dataChange = false`, OPTIMIZE) count toward
    * nothing: the stream never re-serves them. A missing commit JSON
    * reports (0, 0) — the rate-limit walk then advances to it and the
    * batch read raises the loud log-cleaned error, instead of the
    * stream silently stalling at the cap. */
  def versionAddStats(spark: SparkSession, tablePath: String,
      version: Long): (Long, Long) = {
    val fs = DeltaLog.logDir(tablePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commit = new org.apache.hadoop.fs.Path(
      DeltaLog.logDir(tablePath), f"$version%020d.json")
    if (!fs.exists(commit)) return (0L, 0L)
    var files = 0L; var bytes = 0L
    DeltaLog.withLogLines(fs, commit)(_.foreach { line =>
      val add = mapper.readTree(line).get("add")
      if (add != null && (!add.hasNonNull("dataChange") ||
          add.get("dataChange").asBoolean(true))) {
        files += 1
        if (add.hasNonNull("size")) bytes += add.get("size").asLong()
      }
    })
    (files, bytes)
  }

  /** Files added by commits in `(fromExclusive, toInclusive]`, as those
    * commits' own `add` entries — a file re-added later in the range
    * (a deletion vector attached) appears once, as last added
    * (`toInclusive` defaults to the latest version — a streaming source
    * passes the batch's end offset so a commit landing mid-planning
    * stays out of the batch). */
  def changedFiles(spark: SparkSession, tablePath: String,
      fromExclusive: Long, ignoreChanges: Boolean = false,
      ignoreDeletes: Boolean = false,
      toInclusive: Option[Long] = None): Changes = {
    val latest = toInclusive.getOrElse(DeltaLog.latestVersion(spark, tablePath))
    val fs = DeltaLog.logDir(tablePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val added = scala.collection.mutable.LinkedHashMap[String, DeltaLog.AddEntry]()
    ((fromExclusive + 1) to latest).foreach { v =>
      val commit = new org.apache.hadoop.fs.Path(
        DeltaLog.logDir(tablePath), f"$v%020d.json")
      // A missing commit in range means history was cleaned past the
      // consumer's offset — skipping it would silently LOSE data.
      // (if/else, NOT statement sequence: a bare block after `throw new
      // X(...)` parses as an anonymous-subclass body.)
      if (!fs.exists(commit)) {
        throw new IllegalStateException(
          s"commit $v of $tablePath no longer exists (log cleaned past " +
            "this consumer's offset) — full snapshot refresh required")
      } else {
        val adds = scala.collection.mutable.Buffer[DeltaLog.AddEntry]()
        var dataChangingRemove = false
        var dataChangingAdd = false
        DeltaLog.withLogLines(fs, commit)(_.foreach { line =>
          val node = mapper.readTree(line)
          val add = node.get("add"); val rm = node.get("remove")
          if (add != null) {
            val changes = !add.hasNonNull("dataChange") ||
              add.get("dataChange").asBoolean(true)
            if (changes) { dataChangingAdd = true; adds += DeltaLog.addEntry(add) }
          }
          if (rm != null && (!rm.hasNonNull("dataChange") ||
              rm.get("dataChange").asBoolean(true)))
            dataChangingRemove = true
        })
        // ANY data-changing remove breaks the append contract — including
        // a remove-ONLY commit (a DELETE whose rewrite produced no part
        // files). Treating that as a no-op would silently drop the
        // delete signal; real Delta demands the same explicit opt-in.
        if (dataChangingRemove && !ignoreChanges) {
          if (dataChangingAdd)
            throw new UnsupportedOperationException(
              s"commit $v of $tablePath rewrites data (overwrite/DML); " +
                "an append stream cannot represent it — pass " +
                "ignoreChanges=true to re-emit rewritten rows, or re-read " +
                "the snapshot")
          else if (!ignoreDeletes)
            throw new UnsupportedOperationException(
              s"commit $v of $tablePath deletes data without adding any; " +
                "an append stream cannot represent the deletion — pass " +
                "ignoreDeletes=true to skip delete-only commits, or " +
                "re-read the snapshot")
        }
        added ++= adds.map(a => a.path -> a)
      }
    }
    Changes(fromExclusive, latest, added.values.toSeq)
  }

  /** ROW-level change feed for one commit, derived from the
    * copy-on-write file diff — no `_change_data` files needed: the
    * commit's removed files hold the pre-image rows, its added files the
    * post-image, and the multiset difference is exactly what changed.
    * Returns the table columns plus `_change_type` ('insert'/'delete')
    * and `_commit_version`; an UPDATE surfaces as delete(old row) +
    * insert(new row) — without declared keys the pairing into
    * update_preimage/postimage is not derivable, and this multiset form
    * is the honest contract. Layout-only commits (dataChange = false,
    * OPTIMIZE/Z-ORDER) yield no rows.
    *
    * Scale shape: work is bounded by the COMMIT's files, not the table;
    * the diff is one weighted union (pre = -1, post = +1) aggregated on
    * all columns — GROUP BY treats NULLs as equal, so null-bearing rows
    * diff correctly without null-safe join gymnastics — and surviving
    * multiplicities re-expand through a bounded `sequence` explode. */
  def rowChanges(spark: SparkSession, tablePath: String,
      version: Long): DataFrame = {
    // selective import: functions.version would shadow the parameter
    import org.apache.spark.sql.functions.{abs, col, explode, lit, sequence, sum, when}
    val fs = DeltaLog.logDir(tablePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val commit = new org.apache.hadoop.fs.Path(
      DeltaLog.logDir(tablePath), f"$version%020d.json")
    if (!fs.exists(commit)) throw new IllegalStateException(
      s"commit $version of $tablePath no longer exists (log cleaned)")
    val added = scala.collection.mutable.Buffer[String]()
    val removed = scala.collection.mutable.Buffer[String]()
    DeltaLog.withLogLines(fs, commit)(_.foreach { line =>
      val node = mapper.readTree(line)
      val add = node.get("add"); val rm = node.get("remove")
      def changes(n: com.fasterxml.jackson.databind.JsonNode) =
        !n.hasNonNull("dataChange") || n.get("dataChange").asBoolean(true)
      if (add != null && changes(add)) added += add.get("path").asText()
      if (rm != null && changes(rm)) removed += rm.get("path").asText()
    })

    val snap = DeltaLog.snapshot(spark, tablePath, Some(version))
    val schema = snap.schema
    // mapping-aware: physical-named parquet must not silently read NULL.
    // Removed files read under the PRE-commit snapshot: a merge-on-read
    // DELETE re-adds the same path with a bigger deletion vector, and
    // the diff is only right when the removed side applies the OLD
    // vector and the added side the new one.
    def readFiles(snapAt: DeltaLog.Snapshot, paths: Set[String]): DataFrame =
      DeltaLog.scanFiles(spark, snapAt, snapAt.files.filter(a => paths(a.path)))
    val prevSnap =
      if (removed.isEmpty) snap
      else DeltaLog.snapshot(spark, tablePath, Some(version - 1))
    val cols = schema.fieldNames.toSeq
    val weighted = readFiles(prevSnap, removed.toSet)
      .select(cols.map(col) :+ lit(-1L).as("__w"): _*)
      .unionByName(readFiles(snap, added.toSet)
        .select(cols.map(col) :+ lit(1L).as("__w"): _*))
    weighted.groupBy(cols.map(col): _*).agg(sum("__w").as("__d"))
      .filter(col("__d") =!= 0L)
      .select(cols.map(col) :+
        when(col("__d") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change_type") :+
        abs(col("__d")).as("__n"): _*)
      .withColumn("__i", explode(sequence(lit(1L), col("__n"))))
      .select(cols.map(col) :+ col("_change_type") :+
        lit(version).as("_commit_version"): _*)
  }

  /** Rows added after `fromExclusive`, with the new high-water version
    * to store for the next poll. */
  def readChanges(spark: SparkSession, tablePath: String,
      fromExclusive: Long, ignoreChanges: Boolean = false,
      ignoreDeletes: Boolean = false): (Long, DataFrame) = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    // The range end is pinned to the SNAPSHOT's version: a commit landing
    // between the snapshot and an independent latest-version lookup would
    // have its files read with a stale schema (a mergeSchema append's new
    // column silently dropped from the batch).
    val c = changedFiles(spark, tablePath, fromExclusive, ignoreChanges,
      ignoreDeletes, toInclusive = Some(snap.version))
    // mapping-aware read (physical names project back to logical)
    (c.toVersion, DeltaLog.scanFiles(spark, snap, c.addedFiles))
  }
}
