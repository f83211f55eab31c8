package graft.sources

import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Unity Catalog REST client — the A2/A3 surface (reference:
  * delta-unity-duckdb.js:120-216) as real, executable code. The two
  * documented endpoints:
  *
  *   - `GET {host}/api/2.1/unity-catalog/tables/{catalog}.{schema}.{table}`
  *     with `Authorization: Bearer {token}` → table info JSON carrying
  *     `table_id` (and usually `storage_location`);
  *   - `POST {host}/api/2.1/unity-catalog/temporary-table-credentials`
  *     with body `{"table_id": …, "operation": "READ"|"WRITE"}` →
  *     credential JSON carrying `url`, `expiration_time`, and
  *     `azure_user_delegation_sas.sas_token`; the storage account is
  *     parsed from the url with the reference's own regex
  *     (`/@([^.]+)\.dfs\./`, delta-unity-duckdb.js:193), and a url it
  *     cannot match is an error, not a guess.
  *
  * Transport is plain `HttpURLConnection` (JDK-only; the sandbox has no
  * egress, so the certification target is an IN-PROCESS
  * `com.sun.net.httpserver` fake serving the documented JSON shapes —
  * TierASpec spins one up and drives this client against it). Non-2xx
  * responses raise with the status and body text, mirroring the
  * reference's error text surface (delta-unity-duckdb.js:143-146).
  *
  * Scale/driver note: catalog resolution is DRIVER-side metadata (two
  * small HTTP round-trips per table reference, exactly like the
  * reference's per-query flow) — nothing here touches the distributed
  * read path, which proceeds through the ordinary Delta/parquet scan
  * once the path + credentials are installed in the Hadoop conf.
  */
final class UnityCatalogClient(
    host: String,
    token: String,
    httpCall: UnityCatalogClient.HttpCall = UnityCatalogClient.jdkHttp) {

  private val mapper = new ObjectMapper()

  /** A2: 3-part name → table info. */
  def getTableInfo(tableName: String): UnityCatalogClient.UcTableInfo = {
    val parts = tableName.split("\\.")
    require(parts.length == 3,
      s"Table name must be in format catalog.schema.table: $tableName")
    val body = httpCall(
      s"$host/api/2.1/unity-catalog/tables/$tableName", "GET", token, None)
    val node = mapper.readTree(body)
    val id = Option(node.get("table_id")).map(_.asText()).getOrElse(
      throw new IllegalStateException(
        s"Unity Catalog table info for $tableName carries no table_id: $body"))
    UnityCatalogClient.UcTableInfo(id, tableName,
      Option(node.get("storage_location")).map(_.asText()))
  }

  /** A3: table id → temporary credentials (READ by default, as the
    * reference defaults, delta-unity-duckdb.js:162). */
  def generateTempCredentials(tableId: String, operation: String = "READ")
      : UnityCatalogClient.UcTempCredentials = {
    val payload = mapper.createObjectNode()
    payload.put("table_id", tableId)
    payload.put("operation",
      operation.toUpperCase(java.util.Locale.ROOT))
    val body = httpCall(
      s"$host/api/2.1/unity-catalog/temporary-table-credentials", "POST",
      token, Some(mapper.writeValueAsString(payload)))
    val node = mapper.readTree(body)
    val url = Option(node.get("url")).map(_.asText()).getOrElse(
      throw new IllegalStateException(s"credential response has no url: $body"))
    val sas = Option(node.get("azure_user_delegation_sas"))
      .flatMap(n => Option(n.get("sas_token"))).map(_.asText()).getOrElse(
        throw new IllegalStateException(
          s"credential response has no azure_user_delegation_sas.sas_token: $body"))
    // the reference's account-extraction regex, verbatim semantics
    val account = UnityCatalogClient.StorageAccountRe.findFirstMatchIn(url)
      .map(_.group(1)).getOrElse(throw new IllegalStateException(
        s"Could not extract storage account from URL: $url"))
    UnityCatalogClient.UcTempCredentials(
      url = url,
      expirationTime =
        Option(node.get("expiration_time")).map(_.asLong()).getOrElse(0L),
      storageAccountName = account,
      sasToken = sas,
      deltaPath = url)
  }
}

object UnityCatalogClient {

  /** `(url, method, bearerToken, jsonBody) => responseBody`; throws on
    * non-2xx carrying status + body text. Injectable so specs can also
    * drive the parse paths without a socket; the default is the real
    * JDK transport (which the fake-server spec certifies end-to-end). */
  type HttpCall = (String, String, String, Option[String]) => String

  private[sources] val StorageAccountRe = "@([^.]+)\\.dfs\\.".r

  val jdkHttp: HttpCall = (url, method, token, body) => {
    val conn = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    try {
      conn.setRequestMethod(method)
      conn.setRequestProperty("Authorization", s"Bearer $token")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(30000)
      body.foreach { b =>
        conn.setDoOutput(true)
        val os = conn.getOutputStream
        try os.write(b.getBytes(StandardCharsets.UTF_8)) finally os.close()
      }
      val status = conn.getResponseCode
      val stream =
        if (status >= 200 && status < 300) conn.getInputStream
        else conn.getErrorStream
      val text =
        if (stream == null) ""
        else try new String(stream.readAllBytes(), StandardCharsets.UTF_8)
        finally stream.close()
      if (status < 200 || status >= 300)
        throw new IllegalStateException(
          s"Unity Catalog API error: $status $text")
      text
    } finally conn.disconnect()
  }

  final case class UcTableInfo(
      tableId: String, fullName: String, storageLocation: Option[String])

  /** The reference's result shape (delta-unity-duckdb.js:199-206):
    * url, expiration, parsed account, SAS token, and the url reused as
    * the delta path. */
  final case class UcTempCredentials(
      url: String,
      expirationTime: Long,
      storageAccountName: String,
      sasToken: String,
      deltaPath: String)
}

/** [[graft.TableResolver]] backed by the live REST client: a 3-part
  * name resolves via getTableInfo → generateTempCredentials on EVERY
  * call (the reference re-vends per query — temporary credentials
  * expire, so caching them would hand an expired SAS to a later scan),
  * installs the SAS into the session's Hadoop conf under the ABFS
  * per-account key (`fs.azure.sas.fixed.token.{account}.dfs.core.
  * windows.net` — the public ABFS SAS-provider config), and reads the
  * vended path as a Delta table. `locate` rewrites the vended path
  * before reading — identity in production; specs point it at a local
  * fixture so the full resolve() path (HTTP → parse → conf install →
  * Delta read) executes without an Azure filesystem. */
final class UnityCatalogResolver(
    client: UnityCatalogClient,
    locate: UnityCatalogClient.UcTempCredentials => String = _.deltaPath)
    extends graft.TableResolver {

  private val fallback = new graft.PathResolver()

  override def resolve(spark: SparkSession, ref: String): DataFrame =
    if (!fallback.isCatalogName(ref)) fallback.resolve(spark, ref)
    else {
      val info = client.getTableInfo(ref)
      val cred = client.generateTempCredentials(info.tableId)
      AzureCredentials.installSas(spark, cred.storageAccountName, cred.sasToken)
      DeltaLog.readTableOrParquet(spark, locate(cred))
    }
}
