package graft.pg

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** `information_schema` as a DataSource-V2 catalog — the reference
  * enables DataFusion's information_schema (context.rs:33-55,
  * `information_schema=true`), which BI tools and drivers probe for
  * table/column discovery. Unlike pg_catalog's fixed rows, these
  * tables snapshot the LIVE session catalog (databases, tables, temp
  * views, columns) when a query reading them is analyzed
  * ([[ResolvePgCatalog]]).
  */
final class InfoSchemaPlugin extends ReadOnlyCatalog(InfoSchemaPlugin.tables)

object InfoSchemaPlugin {

  private val schemataSchema = StructType(Seq(
    StructField("catalog_name", StringType, nullable = false),
    StructField("schema_name", StringType, nullable = false)))

  private val tablesSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("table_schema", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("table_type", StringType, nullable = false)))

  private val columnsSchema = StructType(Seq(
    StructField("table_catalog", StringType, nullable = false),
    StructField("table_schema", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("column_name", StringType, nullable = false),
    StructField("ordinal_position", IntegerType, nullable = false),
    StructField("data_type", StringType, nullable = false),
    StructField("is_nullable", StringType, nullable = false)))

  private def schemataRows(spark: SparkSession): Seq[Row] =
    spark.catalog.listDatabases().collect().toSeq
      .map(db => Row("spark_catalog", db.name))

  private def tablesRows(spark: SparkSession): Seq[Row] =
    LiveCatalog.visibleTables(spark).map { case (db, tbl, temp) =>
      Row("spark_catalog", db, tbl,
        if (db == "global_temp") "GLOBAL TEMPORARY"
        else if (temp) "LOCAL TEMPORARY" else "BASE TABLE")
    }

  private def columnsRows(spark: SparkSession): Seq[Row] = {
    val cat = spark.catalog
    LiveCatalog.visibleTables(spark).flatMap { case (db, tbl, temp) =>
      val qualified =
        if (db == "global_temp") s"global_temp.$tbl"
        else if (temp) tbl else s"$db.$tbl"
      scala.util.Try(cat.listColumns(qualified).collect().toSeq).getOrElse(Nil)
        .zipWithIndex.map { case (c, i) =>
          Row("spark_catalog", db, tbl, c.name, i + 1, c.dataType,
            if (c.nullable) "YES" else "NO")
        }
    }
  }

  private[pg] val tables: Map[String, PgTable] = Map(
    "schemata" -> new PgTable("schemata", schemataSchema, schemataRows),
    "tables" -> new PgTable("tables", tablesSchema, tablesRows),
    "columns" -> new PgTable("columns", columnsSchema, columnsRows))
}
