package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference,
  Cast, EvalMode, Expression, Literal, Predicate, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.{DataType, StructType}

import DeltaLog.AddEntry

/** The file index every scan of a Delta table's files builds on: a
  * snapshot's own entries, each with the [[FileStatus]] the scan reads
  * it by (qualified path, length from `add.size`), so building a scan
  * lists and stats nothing. Partition values come from
  * `add.partitionValues`, typed by the snapshot schema — the file
  * layout, hive directories or not, never matters. `listFiles` prunes
  * in driver memory ([[DeltaFileIndex.pruner]]).
  *
  * `partitionSchema` holds the PHYSICAL partition fields (the names
  * `add.partitionValues` and the relation's filters use). */
private[sources] final class DeltaFileIndex(tablePath: String,
    files: Seq[(AddEntry, FileStatus)],
    override val partitionSchema: StructType,
    timeZone: String) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def inputFiles: Array[String] = files.map(_._2.getPath.toString).toArray

  override def sizeInBytes: Long = files.map(_._2.getLen).sum

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val prune = DeltaFileIndex.pruner(partitionSchema, timeZone,
      partitionFilters ++ dataFilters)
    files.flatMap { case (a, status) =>
      prune(a).map(values => PartitionDirectory(values, Seq(FileStatusWithMetadata(status))))
    }
  }
}

private[sources] object DeltaFileIndex extends PredicateHelper {

  /** `a`'s partition values in `partitionSchema` order, cast from the
    * log's strings with the session time zone. A null value — or the
    * hive sentinel earlier writers of this engine recorded for one — is
    * null. */
  def partitionRow(a: AddEntry, partitionSchema: StructType,
      timeZone: String): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
      a.partitionValues.get(f.name)
        .filter(v => v != null && v != "__HIVE_DEFAULT_PARTITION__")
        .map(v => Cast(Literal(v), f.dataType, Some(timeZone), EvalMode.TRY).eval())
        .orNull
    })

  /** Which entries a scan filtered by `filters` (resolved against the
    * relation's PHYSICAL attributes) reads: an entry's typed partition
    * row when it might hold a matching row, None when it cannot. A
    * deterministic conjunct over partition columns alone is evaluated
    * EXACTLY on that row, as Spark's own partitioned file indexes do —
    * the scan drops such filters from the Filter above it, so this is
    * the only place they run. Every other conjunct goes to the skipping
    * evaluator ([[DataSkipping.mightMatch]]), which reads a partition
    * column's value as its min and max and any other column's stats. */
  def pruner(partitionSchema: StructType, timeZone: String,
      filters: Seq[Expression]): AddEntry => Option[InternalRow] = {
    val names = partitionSchema.fieldNames
    val (exact, skipping) = filters.flatMap(splitConjunctivePredicates).partition(f =>
      f.deterministic && !SubqueryExpression.hasSubquery(f) && f.references.nonEmpty &&
        f.references.forall(r => names.contains(r.name)))
    val onPartitions = Predicate.createInterpreted(
      exact.reduceOption(And).getOrElse(Literal.TrueLiteral).transform {
        case r: AttributeReference => BoundReference(names.indexOf(r.name), r.dataType, true)
      })
    a => {
      val values = partitionRow(a, partitionSchema, timeZone)
      def stats(name: String, dt: DataType) =
        names.indexOf(name) match {
          case -1 => DataSkipping.columnStats(a.parsedStats, name, dt)
          case i if values.isNullAt(i) => DataSkipping.ColumnStats()
          case i =>
            val v = values.get(i, dt)
            DataSkipping.ColumnStats(Some(v), Some(v), Some(0L))
        }
      if (onPartitions.eval(values) && skipping.forall(DataSkipping.mightMatch(_, stats)))
        Some(values)
      else None
    }
  }
}
