package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, sum, when}

/** CHECK constraints — the protocol's `delta.constraints.<name>` table
  * properties (ALTER TABLE … ADD CONSTRAINT … CHECK …): every writer
  * must reject data that violates a recorded constraint. SQL semantics:
  * a row violates only when the expression evaluates to FALSE — NULL
  * passes, as in standard CHECK.
  *
  * Enforcement reads the freshly STAGED parquet files rather than
  * re-evaluating the incoming plan: the upstream computation (often a
  * full pipeline) runs once, and the validation pass streams the bytes
  * just written — all constraints folded into ONE aggregation job. On
  * violation the staged files are deleted and nothing commits.
  */
object DeltaConstraints {

  val Prefix = "delta.constraints."

  /** name → expression for every CHECK recorded in a table config. */
  def checks(configuration: Map[String, String]): Map[String, String] =
    configuration.collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }

  /** Record a CHECK constraint (a metaData commit). Existing rows must
    * already satisfy it — otherwise the add is rejected, like Delta. */
  def addCheck(spark: SparkSession, tablePath: String, name: String,
      expression: String): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap) // metadata commits are writes too
    val key = Prefix + name
    require(!snap.configuration.contains(key),
      s"constraint '$name' already exists on $tablePath")
    val bad = DeltaLog.read(spark, tablePath)
      .filter(coalesce(expr(expression), lit(true)) === false).count()
    if (bad > 0) throw new IllegalStateException(
      s"cannot add CHECK constraint $name ($expression): $bad existing " +
        s"row(s) of $tablePath violate it")
    // the protocol gate for CHECK constraints is writer version 3 (or
    // the checkConstraints feature on a table-features table): without
    // raising the floor, a protocol-compliant legacy writer at v2 would
    // append rows that violate the constraint it never evaluates
    val proto = snap.protocol
    val protoUpgrade: Seq[com.fasterxml.jackson.databind.node.ObjectNode] =
      if (proto.minWriter >= 7 &&
          !proto.writerFeatures.contains("checkConstraints"))
        Seq(DeltaWrite.featureProtocolAction(proto, Seq("checkConstraints")))
      else if (proto.minWriter < 3)
        Seq(DeltaWrite.protocolAction(proto.minReader, 3))
      else Nil
    DeltaWrite.commit(spark, tablePath,
      protoUpgrade ++
        Seq(DeltaWrite.metaDataAction(snap.schema, snap.partitionColumns,
          snap.configuration + (key -> expression), snap.metaDataId)),
      operation = "ADD CONSTRAINT")
  }

  /** Drop a CHECK constraint (a metaData commit). */
  def dropCheck(spark: SparkSession, tablePath: String, name: String): Long = {
    val snap = DeltaLog.snapshot(spark, tablePath)
    DeltaLog.checkWritable(snap)
    val key = Prefix + name
    require(snap.configuration.contains(key),
      s"no constraint '$name' on $tablePath")
    DeltaWrite.commit(spark, tablePath,
      Seq(DeltaWrite.metaDataAction(snap.schema, snap.partitionColumns,
        snap.configuration - key, snap.metaDataId)),
      operation = "DROP CONSTRAINT")
  }

  /** Validate staged adds against the table's constraints AND its
    * generated-column expressions (`delta.generationExpression` field
    * metadata — supplied values must equal the expression, null-safely,
    * after casting the expression to the column's declared type);
    * deletes the staged files and throws on any violation. All checks
    * fold into ONE aggregation pass. No-op without checks. `table` is
    * the table as the adds will join it (schema, partition columns,
    * properties); the adds are read like any table file, mapped ones
    * through their physical names. */
  private[sources] def enforceStaged(spark: SparkSession, table: DeltaLog.Snapshot,
      adds: Seq[DeltaLog.AddEntry]): Unit = {
    val (tablePath, schema) = (table.tablePath, table.schema)
    val genChecks = DeltaGenerated.generationExprs(schema).map { case (c, e) =>
      val dt = schema.fields.find(_.name == c).get.dataType
      s"generation of $c" -> s"`$c` <=> CAST(($e) AS ${dt.sql})"
    }
    val cs = (checks(table.configuration) ++ genChecks).toSeq.sortBy(_._1)
    if (cs.isEmpty || adds.isEmpty) return
    val staged = DeltaLog.scanFiles(spark, table, adds)
    val aggs = cs.map { case (_, e) =>
      sum(when(coalesce(expr(e), lit(true)) === false, 1L).otherwise(0L))
    }
    val row = staged.agg(aggs.head, aggs.tail: _*).head
    cs.zipWithIndex.foreach { case ((name, e), i) =>
      val violations = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (violations > 0) {
        val fs = new Path(tablePath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        adds.foreach(a => fs.delete(new Path(table.pathOf(a)), false))
        throw new IllegalStateException(
          s"CHECK constraint $name ($e) violated by $violations row(s); " +
            s"write to $tablePath aborted")
      }
    }
  }
}
