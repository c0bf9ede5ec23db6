package graft.pg

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.StructType

/** Live-session snapshot backing the populated `pg_catalog.pg_class` /
  * `pg_catalog.pg_attribute` tables (and information_schema).
  *
  * The reference ships pg_class EMPTY (catalog/src/postgres/
  * pg_class.rs:17-80), but real clients hit pg_class first: psql's
  * `\dt` / `\d <table>` and every BI tool walk pg_class/pg_attribute,
  * not information_schema — so this is parity-plus. Rows are computed
  * from the querying session's catalog when the query is analyzed,
  * exactly like [[InfoSchemaPlugin]].
  *
  * Oids are stable hashes of the qualified name (>= 16384, the PG
  * user-oid floor), so psql's two-step describe (look up the oid, then
  * query details BY that oid) resolves across statements as long as
  * the table exists. Collisions are ~N²/2²⁸ — negligible at catalog
  * scale; a collision would only merge two tables' describe output.
  */
private[graft] object LiveCatalog {

  final case class TableMeta(
      db: String, name: String, oid: Int, schema: StructType)

  /** (schema, name, isTemp) of every table/view visible in the session
    * (local temp views surface under pseudo-schema "session"; global
    * temp views under "global_temp", which listDatabases omits). */
  def visibleTables(spark: SparkSession): Seq[(String, String, Boolean)] = {
    val cat = spark.catalog
    val fromDbs = cat.listDatabases().collect().toSeq
      .flatMap(db => scala.util.Try(cat.listTables(db.name).collect().toSeq).getOrElse(Nil))
      .map(t => (Option(t.database).getOrElse("session"), t.name, t.isTemporary))
    val globals = scala.util.Try(cat.listTables("global_temp").collect().toSeq)
      .getOrElse(Nil)
      // the global_temp listing includes LOCAL temp views (database
      // null) — those already surface via the regular listings
      .filter(t => Option(t.database).contains("global_temp"))
      .map(t => ("global_temp", t.name, t.isTemporary))
    (fromDbs ++ globals).distinct
  }

  /** Stable user-range oid (>= 16384) for a qualified table name. */
  def tableOid(db: String, name: String): Int = {
    val h = 16384 + (s"$db.$name".hashCode & 0x0FFFFFFF)
    if (h == PgCompat.GeometryOid) h + 1 else h
  }

  /** Table snapshot with schemas. Schemas come from the catalog's
    * metadata, not from analyzing each table: the snapshot is taken
    * during analysis, and a view over `pg_class` would otherwise
    * re-enter it. */
  def snapshot(spark: SparkSession): Seq[TableMeta] = {
    val catalog = spark.sessionState.catalog
    visibleTables(spark).flatMap { case (db, name, temp) =>
      val ident = TableIdentifier(name, if (temp && db != "global_temp") None else Some(db))
      scala.util.Try(catalog.getTempViewOrPermanentTableMetadata(ident).schema).toOption
        .map(sch => TableMeta(db, name, tableOid(db, name), sch))
    }
  }

  /** pg_class rows (relkind 'r' for everything: wire clients treat the
    * mounted views as the PG-permanent-table role, and psql's `\dt`
    * filters relkind IN ('r','p')). All rows live in `public` (2200) —
    * pg_namespace stays the reference's static 3 rows. */
  def pgClassRows(spark: SparkSession): Seq[Row] = snapshot(spark).map { t =>
    Row(t.oid, t.name, 2200, "r", 10, 2, 0,
      false, false, false, false, false, false, false,
      "p", "d", 0, 0, 0, 0, 0.0, 0, t.schema.size, null)
  }

  /** pg_attribute rows: one per column of every visible table, typed
    * through the same DataType→oid map the wire encoder uses. */
  def pgAttributeRows(spark: SparkSession): Seq[Row] = snapshot(spark).flatMap { t =>
    t.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      Row(t.oid, f.name, graft.server.PgWire.pgOid(f.dataType),
        -1, -1, i + 1, 0, -1, false, !f.nullable, false,
        "", "", false, true, 0, 0)
    }
  }
}
