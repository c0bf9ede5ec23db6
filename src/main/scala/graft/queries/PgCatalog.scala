package graft.queries

import graft.QDef
import graft.pg.PgCompat

/** pg_catalog emulation + PG-compat function queries (reference
  * A33/A34), oracle-checked against literal VALUES — the catalog
  * content is static by definition.
  */
object PgCatalog {

  def defs: Seq[QDef] = Seq(pg01, pg02, pg03, pg04)

  private def typeValues: String = PgCompat.pgTypes.map {
    case (oid, name, cat, elem) =>
      s"($oid, '$name', 11, '$cat', 0, $elem, 0, CAST(-1 AS BIGINT), 0)"
  }.mkString(",\n  ")

  private val typeCols =
    "oid, typname, typnamespace, typcategory, typrelid, typelem, " +
      "typbasetype, typtypmod, typcollation"

  /** The pg_type table (the reference's 28 rows + the geometry
    * extension type), read through its pg_catalog-qualified name
    * (served as a driver-side LocalRelation by ResolvePgCatalog). */
  private val pg01 = QDef(
    "pg01_pg_type",
    s"""SELECT * FROM (VALUES
       |  $typeValues
       |) AS t($typeCols)
       |ORDER BY oid""".stripMargin) { (s, _) =>
    PgCompat.registerAll(s)
    s.sql("SELECT * FROM pg_catalog.pg_type ORDER BY oid")
  }

  private val pg02 = QDef(
    "pg02_pg_namespace",
    """SELECT * FROM (VALUES
      |  (11, 'pg_catalog', 10, CAST(NULL AS VARCHAR[])),
      |  (2200, 'public', 10, CAST(NULL AS VARCHAR[])),
      |  (13676, 'information_schema', 10, CAST(NULL AS VARCHAR[])))
      |  AS t(oid, nspname, nspowner, nspacl)
      |ORDER BY oid""".stripMargin) { (s, _) =>
    PgCompat.registerAll(s)
    s.sql("SELECT * FROM pg_catalog.pg_namespace ORDER BY oid")
  }

  /** The PG-compat scalar functions BI tools call on connect. */
  private val pg03 = QDef(
    "pg03_compat_scalars",
    """SELECT 'PostgreSQL 14.10 on dataclod' AS server_version,
      |  'public' AS cur_schema,
      |  'postgres' AS cur_db,
      |  'character varying(25)' AS ft_varchar,
      |  'integer' AS ft_int4,
      |  'timestamp(3) with time zone' AS ft_tstz,
      |  'boolean[]' AS ft_arr,
      |  '???' AS ft_unknown,
      |  CAST(3 AS BIGINT) AS arr_upper,
      |  '' AS get_expr""".stripMargin) { (s, _) =>
    PgCompat.registerAll(s)
    s.sql("""SELECT version() AS server_version,
      |  current_schema() AS cur_schema,
      |  current_database() AS cur_db,
      |  format_type(1043, 29) AS ft_varchar,
      |  format_type(23, NULL) AS ft_int4,
      |  format_type(1184, 3) AS ft_tstz,
      |  format_type(1000, NULL) AS ft_arr,
      |  format_type(9999, NULL) AS ft_unknown,
      |  array_upper(array(1, 2, 3), 1) AS arr_upper,
      |  pg_get_expr('pg_node_tree', 0) AS get_expr""".stripMargin)
  }

  /** Catalog introspection join, the shape psql/BI tools issue. */
  private val pg04 = QDef(
    "pg04_catalog_join",
    s"""SELECT typname, nspname FROM (VALUES
       |  $typeValues
       |) AS t($typeCols)
       |JOIN (VALUES (11, 'pg_catalog'), (2200, 'public'),
       |  (13676, 'information_schema')) AS n(oid, nspname)
       |ON t.typnamespace = n.oid
       |WHERE typcategory = 'N'
       |ORDER BY typname""".stripMargin) { (s, _) =>
    PgCompat.registerAll(s)
    s.sql("""SELECT typname, nspname
      |FROM pg_catalog.pg_type t JOIN pg_catalog.pg_namespace n
      |  ON t.typnamespace = n.oid
      |WHERE t.typcategory = 'N'
      |ORDER BY typname""".stripMargin)
  }
}
