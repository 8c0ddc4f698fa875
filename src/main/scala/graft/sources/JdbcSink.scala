package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC dimension sink/source — the seam where the reference's SQL Server
  * database plugs in (core/database.py:20-36 engine construction,
  * :38-50 connection-awakening retry). The engine's merge layer reads and
  * writes DIMENSION-sized frames (SURVEY §2.6), so the connector surface is
  * deliberately just read / append / overwrite of whole tables — per-row
  * statement traffic would re-serialize the cluster through the driver.
  *
  * Proof-of-seam (ConnectorSpec): dims-shaped frames round-trip through an
  * embedded Derby database with no changes anywhere in `operators/` — a
  * production deployment only swaps the url/driver pair (SQL Server:
  * `jdbc:sqlserver://...` + mssql driver jar on the classpath).
  *
  * Same ≤3-attempt exponential-backoff retry contract as
  * [[Warehouse.withRetry]], mirroring the reference's "awaken the serverless
  * database" loop.
  */
class JdbcSink(val spark: SparkSession, url: String,
    options: Map[String, String] = Map.empty) {

  private def props: Properties = {
    val p = new Properties()
    options.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  def read(table: String): DataFrame =
    Warehouse.withRetry()(spark.read.jdbc(url, table, props))

  def append(table: String, df: DataFrame): Unit =
    Warehouse.withRetry()(df.write.mode(SaveMode.Append).jdbc(url, table, props))

  def overwrite(table: String, df: DataFrame): Unit =
    Warehouse.withRetry()(df.write.mode(SaveMode.Overwrite).jdbc(url, table, props))
}
