package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

/** Generated columns — the protocol's `delta.generationExpression` key
  * in a schema field's metadata (`GENERATED ALWAYS AS (<expr>)` DDL,
  * writer version 4): every writer must guarantee the recorded
  * expression and the stored values agree.
  *
  * Semantics implemented exactly as Delta's:
  *   - a writer MAY omit the column — it is computed from the
  *     expression (the convenience path, [[DeltaWrite.write]] appends);
  *   - a writer MAY supply it — the values are then VALIDATED against
  *     the expression over the freshly staged files and the commit is
  *     vetoed on any mismatch (rides the same single-pass aggregation
  *     as CHECK constraints in [[DeltaConstraints.enforceStaged]], so
  *     enforcement covers every staging write path: appends, streaming
  *     batches, UPDATE/MERGE rewrites, identity appends).
  *
  * Partitioning by a generated column is the headline use (Delta's
  * docs' `date(ts)` pattern): the scan prunes on the derived partition
  * value while queries filter on the base column.
  */
object DeltaGenerated {

  val ExprKey = "delta.generationExpression"

  /** column → generation expression, from schema-field metadata. */
  def generationExprs(schema: StructType): Map[String, String] =
    schema.fields.collect {
      case f if f.metadata.contains(ExprKey) =>
        f.name -> f.metadata.getString(ExprKey)
    }.toMap

  /** Create a Delta table with generated columns: `generated` maps each
    * column name to its SQL expression over the other columns. Columns
    * absent from `df` are computed; columns present are validated (via
    * the staged-file pass). The commit records writer version 4, the
    * protocol floor for generated columns. Returns version 0. */
  def create(df: DataFrame, tablePath: String,
      generated: Map[String, String],
      partitionBy: Seq[String] = Nil): Long = {
    require(generated.nonEmpty, "no generated columns declared")
    val spark = df.sparkSession
    val fs = DeltaLog.logDir(tablePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(DeltaLog.logDir(tablePath)))
      throw new IllegalStateException(s"Delta table already exists: $tablePath")
    generated.foreach { case (c, e) =>
      val self = ("(?i)\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
      require(self.findFirstIn(e).isEmpty,
        s"generation expression of $c references itself: $e")
    }
    val filled = generated.foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d else d.withColumn(c, expr(e))
    }
    val stamped = StructType(filled.schema.fields.map { f =>
      generated.get(f.name) match {
        case Some(e) => f.copy(metadata = new MetadataBuilder()
          .withMetadata(f.metadata).putString(ExprKey, e).build())
        case None => f
      }
    })
    val adds = DeltaWrite.writeDataFiles(filled, tablePath, partitionBy)
    // user-supplied generated values are validated like every later write
    DeltaConstraints.enforceStaged(spark,
      DeltaLog.Snapshot(-1L, stamped, partitionBy, adds, tablePath), adds)
    val actions = DeltaWrite.protocolAction(1, 4) +:
      DeltaWrite.metaDataAction(stamped, partitionBy) +:
      adds.map(DeltaWrite.addAction)
    DeltaWrite.commit(spark, tablePath, actions, "CREATE TABLE")
  }

  /** Compute the table's generated columns that `df` lacks (appends may
    * omit them; the expression is the source of truth). Supplied columns
    * pass through — staged-file validation decides their fate. */
  private[sources] def fillMissing(df: DataFrame,
      tableSchema: StructType): DataFrame =
    generationExprs(tableSchema).foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else {
        val dt = tableSchema.fields.find(_.name == c).get.dataType
        d.withColumn(c, expr(e).cast(dt))
      }
    }
}
