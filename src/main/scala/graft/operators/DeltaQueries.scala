package graft.operators

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.{DeltaDml, DeltaLog, DeltaWrite}

/** Corpus queries running over real Delta tables (A1 / Tier B "Delta
  * scan" + "Delta create/write" rows): each materializes a small dim
  * table as a Delta table in a scratch directory through [[DeltaWrite]],
  * then queries it through the [[DeltaLog]] log-replay reader. The
  * oracle runs the equivalent SQL against the original parquet — so a
  * hash match proves the Delta write→log→scan roundtrip is lossless.
  *
  * Only dims are copied (nation: 25 rows); the data volume under test is
  * the driver's job, the protocol surface is ours. The multi-version
  * tables are built once per JVM (idempotent across Verify/Bench).
  */
object DeltaQueries {

  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** nation as a 2-commit Delta table: v0 = regionkey < 2, v1 appends
    * the rest (so time travel has something to see). */
  private def versionedNation(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#nation", _ => {
      val t = java.nio.file.Files.createTempDirectory("graft-delta-corpus")
        .resolve("nation").toString
      val nation = Tables.load(s, d, "nation")
      DeltaWrite.write(nation.filter(col("n_regionkey") < 2), t)
      DeltaWrite.write(nation.filter(col("n_regionkey") >= 2), t, SaveMode.Append)
      t
    })

  /** orders as a range-clustered Delta table (8 files of disjoint
    * o_orderkey ranges) — the layout data skipping rewards. */
  private def clusteredOrders(s: SparkSession, d: String): String =
    built.computeIfAbsent(s"$d#orders", _ => {
      val t = java.nio.file.Files.createTempDirectory("graft-delta-corpus")
        .resolve("orders").toString
      DeltaWrite.write(
        Tables.load(s, d, "orders").repartitionByRange(8, col("o_orderkey")), t)
      t
    })

  val all: Seq[GraftQuery] = Seq(

    // Data-skipping read: the range predicate prunes files by add.stats
    // BEFORE the scan (≈1-2 of 8 files open), and the result still
    // hash-matches DuckDB running the same filter over all of parquet —
    // pruning is provably lossless on this corpus.
    GraftQuery("q76_delta_skipping",
      (s, d) => {
        val t = clusteredOrders(s, d)
        graft.sources.DeltaLog.readWhere(s, t,
            col("o_orderkey") >= 1000 && col("o_orderkey") <= 2000)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
              .cast("double").as("tp"))
          .orderBy("o_orderstatus")
      },
      Some("SELECT o_orderstatus, COUNT(*) AS n, " +
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS tp " +
        "FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")),

    // Delta scan joined with a parquet dim — mixed-source plan; filters
    // and pruning push into the underlying parquet scan either way.
    GraftQuery("q71_delta_scan",
      (s, d) => {
        val t = versionedNation(s, d)
        DeltaLog.read(s, t)
          .join(broadcast(Tables.load(s, d, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_nations"),
            min("n_name").as("first_nation"))
          .orderBy("r_name")
      },
      Some("SELECT r_name, COUNT(*) AS n_nations, MIN(n_name) AS first_nation " +
        "FROM nation JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY r_name ORDER BY r_name")),

    // Time travel: version 0 vs latest of the same table in one result.
    GraftQuery("q72_delta_time_travel",
      (s, d) => {
        val t = versionedNation(s, d)
        val v0 = DeltaLog.read(s, t, Some(0L))
          .agg(count(lit(1)).as("n")).select(lit("v0").as("snap"), col("n"))
        val latest = DeltaLog.read(s, t)
          .agg(count(lit(1)).as("n")).select(lit("latest").as("snap"), col("n"))
        v0.unionByName(latest).orderBy("snap")
      },
      Some("SELECT 'v0' AS snap, COUNT(*) AS n FROM nation WHERE n_regionkey < 2 " +
        "UNION ALL SELECT 'latest', COUNT(*) FROM nation ORDER BY snap")),

    // Copy-on-write DML: DELETE one region, UPDATE another, read back.
    // A fresh table per invocation keeps the query idempotent.
    GraftQuery("q73_delta_dml",
      (s, d) => {
        val t = java.nio.file.Files.createTempDirectory("graft-delta-dml")
          .resolve("nation").toString
        DeltaWrite.write(Tables.load(s, d, "nation"), t)
        DeltaDml.delete(s, t, col("n_regionkey") === 0)
        DeltaDml.update(s, t, col("n_regionkey") === 1,
          Seq("n_name" -> lower(col("n_name"))))
        DeltaLog.read(s, t)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, CASE WHEN n_regionkey = 1 THEN lower(n_name) " +
        "ELSE n_name END AS n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey != 0 ORDER BY n_nationkey"))
    ,

    // Merge-on-read DML: the same DELETE + UPDATE shape as q73 but
    // through deletion vectors — no data file is rewritten, the scan
    // reconstructs the state via the (file, row_index) vector filter, and
    // the result still hash-matches the oracle exactly. The 100 TB
    // point: q73's copy-on-write rewrites every hit file; this commits
    // a sidecar of positions and appends only updated rows.
    GraftQuery("q100_delta_mor_dml",
      (s, d) => {
        val t = java.nio.file.Files.createTempDirectory("graft-delta-mor")
          .resolve("nation").toString
        DeltaWrite.write(Tables.load(s, d, "nation"), t)
        graft.sources.DeltaMaintenance.setTblProperties(s, t,
          Map(graft.sources.DeltaDv.Property -> "true"))
        DeltaDml.delete(s, t, col("n_regionkey") === 0)
        DeltaDml.update(s, t, col("n_regionkey") === 1,
          Seq("n_name" -> lower(col("n_name"))))
        DeltaLog.read(s, t)
          .select("n_nationkey", "n_name", "n_regionkey")
          .orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, CASE WHEN n_regionkey = 1 THEN lower(n_name) " +
        "ELSE n_name END AS n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey != 0 ORDER BY n_nationkey"))
  )
}
