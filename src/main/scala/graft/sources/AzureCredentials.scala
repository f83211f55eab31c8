package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Azure SAS credential installation — the A4 surface (reference:
  * `configureAzureCredentials`, delta-unity-duckdb.js:222-248, which
  * issues `CREATE OR REPLACE SECRET azure_temp_secret (TYPE AZURE,
  * CONNECTION_STRING 'AccountName=…;SharedAccessSignature=…')` against
  * its embedded engine). The Spark-native analogue of an engine secret
  * is session Hadoop configuration: the public hadoop-azure ABFS
  * connector reads per-account SAS credentials from
  *
  *   - `fs.azure.account.auth.type.{account}.dfs.core.windows.net = SAS`
  *   - `fs.azure.sas.fixed.token.{account}.dfs.core.windows.net = {sas}`
  *
  * (the FixedSASTokenProvider configuration from the hadoop-azure ABFS
  * documentation). Installation is DRIVER-side metadata — executors see
  * the conf through the serialized Hadoop configuration, and the scan
  * itself proceeds through the ordinary distributed Delta/parquet read;
  * nothing here is in the per-row path.
  *
  * Re-installation per resolve is deliberate (same reason the UC
  * resolver re-vends): SAS tokens expire, and a later scan must see the
  * freshest token for the account, not the first one installed.
  */
object AzureCredentials {

  /** The reference's direct-path account regex, verbatim semantics
    * (delta-unity-duckdb.js:299:
    * `/abfss:\/\/([^@]+)@([^.]+)\.dfs\.core\.windows\.net/`). */
  private[sources] val AbfssAccountRe =
    "abfss://([^@]+)@([^.]+)\\.dfs\\.core\\.windows\\.net".r

  /** A4: install a SAS token for one storage account on the session. */
  def installSas(spark: SparkSession, account: String, sasToken: String): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set(s"fs.azure.account.auth.type.$account.dfs.core.windows.net", "SAS")
    hc.set(s"fs.azure.sas.fixed.token.$account.dfs.core.windows.net", sasToken)
  }

  /** Storage account parsed from an abfss:// URL, if the reference's
    * regex matches. */
  def accountFromAbfss(path: String): Option[String] =
    AbfssAccountRe.findFirstMatchIn(path).map(_.group(2))
}

/** Direct-ABFSS resolution — the A5 surface (reference:
  * delta-unity-duckdb.js:295-326): an `abfss://` table path (or any
  * path mentioning `dfs.core.windows.net`, the reference's
  * classification at :271) paired with an ambient SAS token resolves by
  *
  *   1. parsing the storage account from the path with the reference's
  *      regex, falling back to the configured account name, erroring if
  *      neither yields one (the reference's exact fallback order,
  *      :302-308);
  *   2. installing the SAS via [[AzureCredentials.installSas]] (A4);
  *   3. reading the ORIGINAL path (the reference keeps `deltaPath =
  *      tablePath`, :319) as Delta-if-log-present else parquet.
  *
  * `sasToken`/`accountName` default from the reference's own
  * environment variables (`AZURE_STORAGE_SAS_TOKEN` /
  * `AZURE_STORAGE_ACCOUNT_NAME`); specs pass them explicitly. An abfss
  * path WITHOUT a SAS token falls through to the plain path read —
  * the reference's else-branch behavior (the filesystem may be publicly
  * readable or pre-configured). `locate` rewrites the path before the
  * read — identity in production; specs point it at a local fixture so
  * the full parse → install → read path executes without an Azure
  * filesystem. Non-ABFSS refs delegate to [[graft.PathResolver]].
  */
final class AbfssSasResolver(
    sasToken: Option[String] = sys.env.get("AZURE_STORAGE_SAS_TOKEN"),
    accountName: Option[String] = sys.env.get("AZURE_STORAGE_ACCOUNT_NAME"),
    locate: String => String = identity)
    extends graft.TableResolver {

  private val fallback = new graft.PathResolver()

  /** The reference's ABFSS classification (delta-unity-duckdb.js:271). */
  def isAbfssPath(ref: String): Boolean =
    ref.startsWith("abfss://") || ref.contains("dfs.core.windows.net")

  override def resolve(spark: SparkSession, ref: String): DataFrame =
    sasToken match {
      case Some(sas) if isAbfssPath(ref) =>
        val account = AzureCredentials.accountFromAbfss(ref)
          .orElse(accountName)
          .getOrElse(throw new IllegalStateException(
            "Could not determine Azure storage account from ABFSS path " +
              s"or environment: $ref"))
        AzureCredentials.installSas(spark, account, sas)
        DeltaLog.readTableOrParquet(spark, locate(ref))
      case _ => fallback.resolve(spark, ref)
    }
}
