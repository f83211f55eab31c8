package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table-name resolution — the Spark-side analogue of the reference's
  * three-way path classification (delta-unity-duckdb.js:265-271):
  * a 3-part `catalog.schema.table` name resolves through the catalog
  * abstraction; URLs/paths load directly. Cloud credential vending
  * (delta-unity-duckdb.js:164-248) becomes Hadoop conf on the session and
  * is out of the query path entirely, so it is modeled as the `configure`
  * hook. */
trait TableResolver {
  /** Resolve a table reference to a DataFrame. */
  def resolve(spark: SparkSession, tablePath: String): DataFrame
}

/** Resolves 3-part names against a name→path mapping (standing in for the
  * Unity Catalog REST lookup, delta-unity-duckdb.js:120-156) and treats
  * anything else as a direct filesystem/object-store path. */
final class PathResolver(mapping: Map[String, String] = Map.empty)
    extends TableResolver {

  /** Mirror of the reference's classification truth table:
    * 3 dot-separated parts and not a URL ⇒ catalog name. */
  def isCatalogName(ref: String): Boolean =
    ref.split("\\.").length == 3 && !ref.contains("://") && !ref.startsWith("/")

  override def resolve(spark: SparkSession, ref: String): DataFrame = {
    val path =
      if (isCatalogName(ref))
        mapping.getOrElse(ref,
          throw new IllegalArgumentException(s"unknown catalog table: $ref"))
      else ref
    // Delta tables resolve through the transaction log (the reference's
    // delta_scan path); anything else is a plain parquet file/directory.
    graft.sources.DeltaLog.readTableOrParquet(spark, path)
  }
}

/** The reference's `DeltaScanner` API surface re-expressed on Spark
  * (SURVEY §7.0): query with `$TABLE` substitution, row-count stats, and
  * schema introspection. One JVM, one session — the reference's per-call
  * credential round-trips and its JS→DuckDB→JSON materialization
  * (delta-unity-duckdb.js:277-294, :340) collapse into lazy DataFrames.
  *
  * @see delta-unity-duckdb.js:257-348 (query), :355-449 (stats),
  *      :456-509 (schema), :528-532 (int64 CLI rendering)
  */
final class DeltaScanner(
    spark: SparkSession,
    resolver: TableResolver = new PathResolver()) {

  /** `$TABLE` resolves to a fresh view name per query() call — a single
    * fixed name would make two interleaved calls (or a lazily-consumed
    * DataFrame evaluated after a later call) resolve against the wrong
    * table (ADVICE r01). */
  private val viewCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Run SQL against a table. Reference semantics preserved exactly:
    *   - no SQL ⇒ `SELECT * FROM $TABLE LIMIT <limit>` (default 10,
    *     delta-unity-duckdb.js:328-330);
    *   - `$TABLE` is a GLOBAL replace, so self-joins resolve
    *     (delta-unity-duckdb.js:331-335);
    *   - `limit` is IGNORED when sql is given (documented quirk,
    *     delta-unity-duckdb.js:331 never reads options.limit);
    *   - the reference accepts DuckDB-dialect SQL (delta-unity-duckdb.js:
    *     330-339): valid Spark SQL runs untouched, and on a parse/analysis
    *     failure the [[DuckDialect]] rewrite (list_* names, `//`,
    *     double-quoted identifiers, literal backslashes, …) is tried once
    *     before failing with the divergence table. */
  def query(tablePath: String, sql: Option[String] = None, limit: Int = 10): DataFrame = {
    val df = resolver.resolve(spark, tablePath)
    sql match {
      case None => df.limit(limit)
      case Some(text) if DuckDialect.summarizeTarget(text).isDefined =>
        // DuckDB's SUMMARIZE statement (per-column profile) — the one
        // dialect statement that is not an expression rewrite; Spark's
        // summary() is the same per-column count/mean/stddev/min/
        // quartiles/max profile, transposed. Accepts `SUMMARIZE` and
        // `SUMMARIZE $TABLE` (the scanner's one-table surface).
        val rest = DuckDialect.summarizeTarget(text).get
        require(rest.isEmpty || rest == "$TABLE",
          s"SUMMARIZE supports the scanner's table ($$TABLE), got: $rest")
        df.summary()
      case Some(text) =>
        val view = s"graft_table_${viewCounter.incrementAndGet()}"
        df.createOrReplaceTempView(view)
        DuckDialect.sql(spark, text.replace("$TABLE", view))
    }
  }

  /** Row count (delta-unity-duckdb.js:425's COUNT(*)): distributed
    * partial+final count, no driver-side materialization. */
  def getTableStats(tablePath: String): Long =
    resolver.resolve(spark, tablePath).count()

  /** Schema without reading data (the reference's LIMIT-0 view + DESCRIBE
    * dance, delta-unity-duckdb.js:496-501, is just the lazy schema here). */
  def getTableSchema(tablePath: String): StructType =
    resolver.resolve(spark, tablePath).schema

  /** Render rows as JSON lines with int64 values as strings — the
    * reference CLI's BigInt-safe serialization (delta-unity-duckdb.js:
    * 528-532). A CLI/test concern only; engine results stay typed. */
  def toJsonLines(df: DataFrame, max: Int = 1000): Seq[String] = {
    val longCols = df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.LongType => f.name
    }
    val stringified = longCols.foldLeft(df)((d, c) =>
      d.withColumn(c, org.apache.spark.sql.functions.col(c).cast("string")))
    stringified.limit(max).toJSON.collect().toSeq
  }
}
