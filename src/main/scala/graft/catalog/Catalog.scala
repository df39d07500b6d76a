package graft.catalog

import graft.api.{IngestError, Validation}
import graft.core.Types
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Catalog / metadata operators — SURVEY.md §2.1 (C1–C5).
  *
  * All pure metadata: none of these launch a Spark job, matching the
  * "lightweight" semantics of the reference's catalog endpoints
  * (`/root/reference/backend/main.py:96-161`).
  */
object Catalog {

  /** C1 — list tables, capped at 1000 rows for parity with
    * `SHOW TABLES … max_result_rows=1000` (main.py:102-103).
    */
  val ListCap = 1000

  def listTables(spark: SparkSession): Seq[String] =
    sessionTables(spark).take(ListCap).map(_.table).sorted

  /** Temp-view-only listing — deterministic under concurrent persistent-table
    * churn (e.g. the import round-trip's managed table); sorted then capped.
    */
  def listTempViews(spark: SparkSession): Seq[String] =
    sessionTables(spark).filter(_.database.isEmpty).map(_.table).sorted.take(ListCap)

  /** The current database's tables plus the session's temp views (the
    * latter without a database) — the identifiers `spark.catalog.listTables()`
    * reports, read from the session catalog instead of built into a
    * Dataset and collected, which cost a Spark job per call.
    */
  private def sessionTables(spark: SparkSession): Seq[TableIdentifier] = {
    val catalog = spark.sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase)
  }

  def listTablesDf(spark: SparkSession): DataFrame = {
    val rows = listTables(spark).map(Row(_))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("table_name", StringType, nullable = false))))
  }

  /** C2 — existence check; reference 404s when absent (main.py:134-139). */
  def tableExists(spark: SparkSession, table: String): Boolean = {
    Validation.requireValidTable(table)
    spark.catalog.tableExists(table)
  }

  /** One column of `DESCRIBE TABLE` output (main.py:141-153). */
  final case class ColumnInfo(name: String, `type`: String, default_type: String, comment: String)

  /** C3 — describe table: per-column {name, type, default, comment} with
    * ClickHouse-ish type names (main.py:141-153). 404 parity when missing.
    */
  def describeTable(spark: SparkSession, table: String): Seq[ColumnInfo] = {
    if (!tableExists(spark, table)) throw IngestError.TableNotFound(table)
    spark.table(table).schema.fields.toSeq.map { f =>
      ColumnInfo(
        f.name,
        Types.toExternalName(f.dataType),
        default_type = "",
        comment = f.getComment().getOrElse(""))
    }
  }

  def describeTableDf(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    describeTable(spark, table).toDF()
  }

  /** C4 — connectivity probe (main.py:310-328), metadata-only: the
    * session is usable iff its SparkContext is running and its catalog can
    * answer for the current database. The reference sends `SELECT 1` to
    * its remote ClickHouse; here the session IS the database, so asking
    * its catalog is that probe — a `SELECT 1` cost a Spark job per call.
    */
  def health(spark: SparkSession): Boolean = {
    val catalog = spark.sessionState.catalog
    !spark.sparkContext.isStopped && catalog.databaseExists(catalog.getCurrentDatabase)
  }

  /** Health envelope — field parity with main.py:321-328 ({status,
    * timestamp, services}); a failed probe raises ServiceUnavailable, the
    * 503 analogue of main.py:330-334.
    */
  final case class HealthResult(
      status: String, timestamp: String, services: Map[String, String])

  def healthEnvelope(spark: SparkSession): HealthResult =
    try {
      require(health(spark),
        "session unusable: SparkContext stopped or current database missing")
      HealthResult(
        "healthy",
        java.time.LocalDateTime.now().toString,
        Map("database" -> "available", "storage" -> "ok"))
    } catch {
      case e: Exception =>
        throw IngestError.ServiceUnavailable(e.getMessage)
    }
}
