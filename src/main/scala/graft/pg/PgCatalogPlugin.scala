package graft.pg

import java.util
import java.util.Locale

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, ResolvedTable,
  UnresolvedRelation, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `pg_catalog` namespace as a DataSource-V2 TableCatalog over
  * [[PgCompat.catalogTables]] (reference A33: catalog/src/postgres/
  * mod.rs:25-52 registers the catalog tables under one dedicated
  * schema provider; this is the Spark analogue).
  *
  * Wire-up: `spark.sql.catalog.pg_catalog = graft.pg.PgCatalogPlugin`
  * (set by [[PgCompat.registerAll]]); the CatalogManager instantiates
  * it on first reference. Reads of its tables, qualified or bare, are
  * answered by [[ResolvePgCatalog]].
  */
final class PgCatalogPlugin extends ReadOnlyCatalog(PgCompat.catalogTables)

/** Read-only TableCatalog over a fixed name → table map. */
abstract class ReadOnlyCatalog(tables: Map[String, PgTable]) extends TableCatalog {

  private var catalogName: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] =
    tables.keysIterator.map(n => Identifier.of(Array.empty[String], n)).toArray

  override def loadTable(ident: Identifier): Table =
    tables.getOrElse(ident.name.toLowerCase(Locale.ROOT),
      throw new NoSuchTableException(Seq(catalogName, ident.name)))

  override def tableExists(ident: Identifier): Boolean =
    tables.contains(ident.name.toLowerCase(Locale.ROOT))

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(s"$catalogName is read-only")

  override def dropTable(ident: Identifier): Boolean = false

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(s"$catalogName is read-only")
}

/** A read-only catalog table whose rows are computed for the session
  * reading it: fixed for most of `pg_catalog`, a snapshot of the live
  * session catalog for `pg_class`, `pg_attribute` and
  * `information_schema`. It has no scan: [[ResolvePgCatalog]] turns
  * every read into a driver-side `LocalRelation` during analysis, so a
  * session without that rule fails the read at analysis ("does not
  * support batch scan"). */
final class PgTable(tableName: String, tableSchema: StructType,
    val rows: SparkSession => Seq[Row]) extends Table {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.Collections.emptySet()
}

/** Analyzer rule (injected by [[graft.plans.GraftExtensions]]) that
  * answers every catalog table read on the driver:
  *  - a bare catalog name with no temp view of that name in the session
  *    resolves to the `pg_catalog` table, PostgreSQL's `pg_temp` before
  *    `pg_catalog` order (a CTE of that name is substituted before
  *    resolution and so shadows it too); `public.<name>` resolves to it
  *    as well, as the reference registers its tables under both schemas;
  *  - every relation over a [[PgTable]], bare or qualified (`pg_catalog`,
  *    `information_schema`), becomes a `LocalRelation` of the rows
  *    computed for `session`, so `ConvertToLocalRelation` folds the
  *    filters and projections over it;
  *  - a table command's bare or `public.` name (`DESCRIBE pg_type`,
  *    `SHOW COLUMNS IN pg_type`) resolves to the `pg_catalog` table,
  *    with the same temp-view shadowing.
  */
final case class ResolvePgCatalog(session: SparkSession) extends Rule[LogicalPlan] {

  private def bareOrPublic(parts: Seq[String]): Option[PgTable] = parts match {
    case Seq(name) =>
      PgCompat.catalogTables.get(name.toLowerCase(Locale.ROOT))
        .filterNot(_ => session.sessionState.catalog.isTempView(parts))
    case Seq(schema, name) if schema.equalsIgnoreCase("public") =>
      PgCompat.catalogTables.get(name.toLowerCase(Locale.ROOT))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation if !u.isStreaming =>
      bareOrPublic(u.multipartIdentifier).fold[LogicalPlan](u) { t =>
        SubqueryAlias(u.multipartIdentifier, LocalRelation.fromExternalRows(
          DataTypeUtils.toAttributes(t.schema()), t.rows(session)))
      }
    case u: UnresolvedTableOrView =>
      bareOrPublic(u.multipartIdentifier).fold[LogicalPlan](u) { t =>
        ResolvedTable.create(
          session.sessionState.catalogManager.catalog("pg_catalog").asInstanceOf[TableCatalog],
          Identifier.of(Array.empty, t.name()), t)
      }
    case r: DataSourceV2Relation => r.table match {
      case t: PgTable => LocalRelation.fromExternalRows(r.output, t.rows(session))
      case _ => r
    }
  }
}
