package graft.pg

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.types._

/** PostgreSQL compatibility layer (reference A33/A34): the pg_catalog
  * emulation tables and PG-compat scalar functions BI tools probe on
  * connect.
  *
  * Facts mirror the reference exactly:
  * - pg_type: the reference's 28 rows (/root/reference/src/common/utils/
  *   src/pg_type.rs:58-618), projected to the 8 columns of the catalog
  *   table (catalog/src/postgres/pg_type.rs:16-60), typtypmod = -1 —
  *   plus a 29th `geometry` row (oid 16385) making the spatial
  *   extension type wire-visible, the PG analogue of the reference's
  *   Arrow "Geometry" extension tag (spatial/src/extension.rs:1-9).
  * - pg_namespace: pg_catalog=11, public=2200, information_schema=13676
  *   (pg_namespace.rs:44-57).
  * - pg_class / pg_attribute: snapshots of the LIVE session catalog
  *   ([[LiveCatalog]]; the reference ships pg_class empty,
  *   pg_class.rs:58-70, but psql `\dt`/`\d` walk them), as in
  *   PostgreSQL for both the bare and the qualified name.
  * - pg_description: empty.
  * - pg_database: one row, datname='postgres' (postgres/mod.rs:20).
  * - version() -> 'PostgreSQL 14.10 on dataclod' (udf/version.rs:9);
  *   current_schema() -> 'public'; current_schemas(bool) adds
  *   pg_catalog when true; format_type(oid, typemod) per
  *   format_type.rs:15-190 with '???' fallback; array_upper(arr, 1) =
  *   length (array_upper.rs); pg_get_expr -> ''; pg_get_partkeydef ->
  *   NULL.
  */
object PgCompat extends Serializable {

  /** pg_type oid of the `geometry` extension type (wire-visible). */
  private[graft] val GeometryOid = 16385

  /** (oid, typname, typcategory, typelem) — typnamespace=11,
    * typrelid=0, typbasetype=0, typtypmod=-1 for all rows. */
  private[graft] val pgTypes: Seq[(Int, String, String, Int)] = Seq(
    (16, "bool", "B", 0), (17, "bytea", "U", 0), (18, "char", "Z", 0),
    (20, "int8", "N", 0), (21, "int2", "N", 0), (23, "int4", "N", 0),
    (700, "float4", "N", 0), (701, "float8", "N", 0),
    (1000, "_bool", "A", 16), (1001, "_bytea", "A", 17),
    (1002, "_char", "A", 18), (1005, "_int2", "A", 21),
    (1007, "_int4", "A", 23), (1015, "_varchar", "A", 1043),
    (1016, "_int8", "A", 20), (1021, "_float4", "A", 700),
    (1022, "_float8", "A", 701), (1043, "varchar", "S", 0),
    (1082, "date", "D", 0), (1083, "time", "D", 0),
    (1114, "timestamp", "D", 0), (1115, "_timestamp", "A", 1114),
    (1182, "_date", "A", 1082), (1183, "_time", "A", 1083),
    (1184, "timestamptz", "D", 0), (1185, "_timestamptz", "A", 1184),
    (1186, "interval", "T", 0), (1187, "_interval", "A", 1186),
    // geometry as a wire-visible extension type (PostGIS-style user
    // oid; the reference tags WKB with the Arrow extension name
    // "Geometry" — spatial/src/extension.rs:1-9). PgServer reports
    // this oid for geometry-producing result columns.
    (16385, "geometry", "U", 0))

  private val baseNames: Map[Int, String] = Map(
    16 -> "boolean", 17 -> "bytea", 18 -> "character", 20 -> "bigint",
    21 -> "smallint", 23 -> "integer", 700 -> "real",
    701 -> "double precision", 1043 -> "character varying",
    1082 -> "date", 1083 -> "time without time zone",
    1114 -> "timestamp without time zone",
    1184 -> "timestamp with time zone", 1186 -> "interval",
    16385 -> "geometry")

  private val arrayElem: Map[Int, Int] =
    pgTypes.filter(_._3 == "A").map(t => t._1 -> t._4).toMap

  def formatType(oid: Long, typemod: java.lang.Long): String = {
    val isArray = arrayElem.contains(oid.toInt)
    val base = if (isArray) arrayElem(oid.toInt) else oid.toInt
    baseNames.get(base) match {
      case None => "???"
      case Some(name) =>
        val tm = Option(typemod).map(_.toLong)
        val modStr = base match {
          case 1043 | 18 => tm.filter(_ >= 5).map(m => s"(${m - 4})").getOrElse("")
          case _         => tm.filter(_ >= 0).map(m => s"($m)").getOrElse("")
        }
        val rendered = base match {
          case 1186 => if (tm.exists(_ >= 0)) "-" else "interval"
          case 1083 => s"time$modStr without time zone"
          case 1114 => s"timestamp$modStr without time zone"
          case 1184 => s"timestamp$modStr with time zone"
          case 17   => s"bytea$modStr"
          case 18   => s"character$modStr"
          case 1043 => s"character varying$modStr"
          case 1082 => s"date$modStr"
          case b    => baseNames(b)
        }
        if (isArray) {
          if (base == 1186 && tm.exists(_ >= 0)) "-" else s"$rendered[]"
        } else rendered
    }
  }

  /** Every emulated catalog table by name: the one set the `pg_catalog`
    * V2 catalog ([[PgCatalogPlugin]]) lists and loads, and the names
    * [[ResolvePgCatalog]] resolves bare and `public.`-qualified. */
  private[graft] lazy val catalogTables: Map[String, PgTable] = {
    val typeSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("typname", StringType, nullable = false),
      StructField("typnamespace", IntegerType, nullable = false),
      StructField("typcategory", StringType, nullable = false),
      StructField("typrelid", IntegerType, nullable = false),
      StructField("typelem", IntegerType, nullable = false),
      StructField("typbasetype", IntegerType, nullable = false),
      StructField("typtypmod", LongType, nullable = false),
      // beyond the reference's 8 projected columns: psql's \d column
      // query correlates a.attcollation <> t.typcollation
      StructField("typcollation", IntegerType, nullable = false)))
    val typeRows = pgTypes.map { case (oid, name, cat, elem) =>
      Row(oid, name, 11, cat, 0, elem, 0, -1L, 0)
    }
    // nspowner/nspacl beyond the reference's 2 projected columns: psql's
    // \dn renders pg_get_userbyid(n.nspowner) and \dn+ walks n.nspacl;
    // BI catalog walkers (DBeaver, Metabase) select them too. Owner 10
    // (the bootstrap superuser oid), acl NULL = default privileges.
    val nsSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("nspname", StringType, nullable = false),
      StructField("nspowner", IntegerType, nullable = false),
      StructField("nspacl", ArrayType(StringType), nullable = true)))
    val nsRows = Seq(
      Row(11, "pg_catalog", 10, null), Row(2200, "public", 10, null),
      Row(13676, "information_schema", 10, null))
    val descSchema = StructType(Seq(
      StructField("objoid", IntegerType, nullable = false),
      StructField("classoid", IntegerType, nullable = false),
      StructField("objsubid", IntegerType, nullable = false),
      StructField("description", StringType, nullable = false)))
    // datdba/encoding/collate/ctype/acl beyond the reference's single
    // datname column (postgres/mod.rs:20): psql's \l selects them all
    val dbSchema = StructType(Seq(
      StructField("datname", StringType, nullable = false),
      StructField("datdba", IntegerType, nullable = false),
      StructField("encoding", IntegerType, nullable = false),
      StructField("datcollate", StringType, nullable = false),
      StructField("datctype", StringType, nullable = false),
      StructField("datistemplate", BooleanType, nullable = false),
      StructField("datallowconn", BooleanType, nullable = false),
      StructField("datacl", ArrayType(StringType), nullable = true)))
    val amSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("amname", StringType, nullable = false)))
    // footer tables psql's \d probes — present (so the queries parse
    // and plan) but empty (no indexes/constraints/defaults to report)
    val attrdefSchema = StructType(Seq(
      StructField("adrelid", IntegerType, nullable = false),
      StructField("adnum", IntegerType, nullable = false),
      StructField("adbin", StringType, nullable = true)))
    val collationSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("collname", StringType, nullable = false),
      StructField("collnamespace", IntegerType, nullable = false)))
    val inheritsSchema = StructType(Seq(
      StructField("inhrelid", IntegerType, nullable = false),
      StructField("inhparent", IntegerType, nullable = false),
      StructField("inhseqno", IntegerType, nullable = false)))
    val indexSchema = StructType(Seq(
      StructField("indexrelid", IntegerType, nullable = false),
      StructField("indrelid", IntegerType, nullable = false),
      StructField("indisunique", BooleanType, nullable = false),
      StructField("indisprimary", BooleanType, nullable = false),
      StructField("indisvalid", BooleanType, nullable = false)))
    val constraintSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("conname", StringType, nullable = false),
      StructField("conrelid", IntegerType, nullable = false),
      StructField("contype", StringType, nullable = false),
      StructField("condeferrable", BooleanType, nullable = false),
      StructField("convalidated", BooleanType, nullable = false)))
    val publicationSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("pubname", StringType, nullable = false),
      StructField("puballtables", BooleanType, nullable = false)))
    val publicationRelSchema = StructType(Seq(
      StructField("prpubid", IntegerType, nullable = false),
      StructField("prrelid", IntegerType, nullable = false)))
    // empty-but-present tables the wider BI catalog walk touches
    // (reference precedent: pg_class.rs ships empty tables so client
    // introspection SQL parses and plans instead of erroring)
    val procSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("proname", StringType, nullable = false),
      StructField("pronamespace", IntegerType, nullable = false),
      StructField("prorettype", IntegerType, nullable = false),
      StructField("proargtypes", ArrayType(IntegerType), nullable = true),
      StructField("prokind", StringType, nullable = false)))
    val rolesSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("rolname", StringType, nullable = false),
      StructField("rolsuper", BooleanType, nullable = false),
      StructField("rolinherit", BooleanType, nullable = false),
      StructField("rolcreaterole", BooleanType, nullable = false),
      StructField("rolcreatedb", BooleanType, nullable = false),
      StructField("rolcanlogin", BooleanType, nullable = false),
      StructField("rolreplication", BooleanType, nullable = false),
      StructField("rolbypassrls", BooleanType, nullable = false),
      StructField("rolconnlimit", IntegerType, nullable = false)))
    val dependSchema = StructType(Seq(
      StructField("classid", IntegerType, nullable = false),
      StructField("objid", IntegerType, nullable = false),
      StructField("objsubid", IntegerType, nullable = false),
      StructField("refclassid", IntegerType, nullable = false),
      StructField("refobjid", IntegerType, nullable = false),
      StructField("refobjsubid", IntegerType, nullable = false),
      StructField("deptype", StringType, nullable = false)))
    val sequenceSchema = StructType(Seq(
      StructField("seqrelid", IntegerType, nullable = false),
      StructField("seqtypid", IntegerType, nullable = false),
      StructField("seqstart", LongType, nullable = false),
      StructField("seqincrement", LongType, nullable = false),
      StructField("seqmax", LongType, nullable = false),
      StructField("seqmin", LongType, nullable = false),
      StructField("seqcache", LongType, nullable = false),
      StructField("seqcycle", BooleanType, nullable = false)))
    val triggerSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("tgrelid", IntegerType, nullable = false),
      StructField("tgname", StringType, nullable = false),
      StructField("tgenabled", StringType, nullable = false),
      StructField("tgisinternal", BooleanType, nullable = false)))
    val extensionSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("extname", StringType, nullable = false),
      StructField("extnamespace", IntegerType, nullable = false),
      StructField("extversion", StringType, nullable = false)))
    val tablespaceSchema = StructType(Seq(
      StructField("oid", IntegerType, nullable = false),
      StructField("spcname", StringType, nullable = false),
      StructField("spcowner", IntegerType, nullable = false)))
    val statActivitySchema = StructType(Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("datname", StringType, nullable = true),
      StructField("usename", StringType, nullable = true),
      StructField("application_name", StringType, nullable = true),
      StructField("state", StringType, nullable = true),
      StructField("query", StringType, nullable = true)))
    val locksSchema = StructType(Seq(
      StructField("locktype", StringType, nullable = false),
      StructField("relation", IntegerType, nullable = true),
      StructField("pid", IntegerType, nullable = true),
      StructField("mode", StringType, nullable = false),
      StructField("granted", BooleanType, nullable = false)))
    val settingsSchema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("setting", StringType, nullable = true),
      StructField("unit", StringType, nullable = true),
      StructField("category", StringType, nullable = true),
      StructField("short_desc", StringType, nullable = true)))
    val fixed = Seq(
      ("pg_type", typeSchema, typeRows),
      ("pg_namespace", nsSchema, nsRows),
      ("pg_description", descSchema, Nil),
      ("pg_database", dbSchema,
        Seq(Row("postgres", 10, 6, "C", "C", false, true, null))),
      ("pg_am", amSchema, Seq(Row(2, "heap"))),
      ("pg_attrdef", attrdefSchema, Nil),
      ("pg_collation", collationSchema, Nil),
      ("pg_inherits", inheritsSchema, Nil),
      ("pg_index", indexSchema, Nil),
      ("pg_constraint", constraintSchema, Nil),
      ("pg_publication", publicationSchema, Nil),
      ("pg_publication_rel", publicationRelSchema, Nil),
      ("pg_proc", procSchema, Nil),
      ("pg_roles", rolesSchema,
        Seq(Row(10, "postgres", true, true, true, true, true, false, true, -1))),
      ("pg_depend", dependSchema, Nil),
      ("pg_sequence", sequenceSchema, Nil),
      ("pg_trigger", triggerSchema, Nil),
      ("pg_extension", extensionSchema, Nil),
      ("pg_tablespace", tablespaceSchema,
        Seq(Row(1663, "pg_default", 10), Row(1664, "pg_global", 10))),
      // monitoring views session managers (DBeaver, pgAdmin) poll —
      // empty: the engine exposes no cross-connection introspection
      ("pg_stat_activity", statActivitySchema, Nil),
      ("pg_locks", locksSchema, Nil),
      ("pg_settings", settingsSchema,
        Seq(Row("server_version", "10.0", null, "Preset Options", null),
          Row("integer_datetimes", "on", null, "Preset Options", null))))
      .map { case (name, schema, rows) => new PgTable(name, schema, _ => rows) }
    val live = Seq(
      new PgTable("pg_class", pgClassSchema, LiveCatalog.pgClassRows),
      new PgTable("pg_attribute", pgAttributeSchema, LiveCatalog.pgAttributeRows))
    (fixed ++ live).map(t => t.name() -> t).toMap
  }

  /** Wide pg_class schema covering every column psql's describe paths
    * touch (server-version-10 query shapes). */
  private val pgClassSchema = StructType(Seq(
    StructField("oid", IntegerType, nullable = false),
    StructField("relname", StringType, nullable = false),
    StructField("relnamespace", IntegerType, nullable = false),
    StructField("relkind", StringType, nullable = false),
    StructField("relowner", IntegerType, nullable = false),
    StructField("relam", IntegerType, nullable = false),
    StructField("relchecks", IntegerType, nullable = false),
    StructField("relhasindex", BooleanType, nullable = false),
    StructField("relhasrules", BooleanType, nullable = false),
    StructField("relhastriggers", BooleanType, nullable = false),
    StructField("relrowsecurity", BooleanType, nullable = false),
    StructField("relforcerowsecurity", BooleanType, nullable = false),
    StructField("relhasoids", BooleanType, nullable = false),
    StructField("relispartition", BooleanType, nullable = false),
    StructField("relpersistence", StringType, nullable = false),
    StructField("relreplident", StringType, nullable = false),
    StructField("reltablespace", IntegerType, nullable = false),
    StructField("reloftype", IntegerType, nullable = false),
    StructField("reltoastrelid", IntegerType, nullable = false),
    StructField("relpages", IntegerType, nullable = false),
    StructField("reltuples", DoubleType, nullable = false),
    StructField("relallvisible", IntegerType, nullable = false),
    StructField("relnatts", IntegerType, nullable = false),
    StructField("relpartbound", StringType, nullable = true)))

  /** pg_attribute schema (one row per column of every visible table). */
  private val pgAttributeSchema = StructType(Seq(
    StructField("attrelid", IntegerType, nullable = false),
    StructField("attname", StringType, nullable = false),
    StructField("atttypid", IntegerType, nullable = false),
    StructField("attstattarget", IntegerType, nullable = false),
    StructField("attlen", IntegerType, nullable = false),
    StructField("attnum", IntegerType, nullable = false),
    StructField("attndims", IntegerType, nullable = false),
    StructField("atttypmod", IntegerType, nullable = false),
    StructField("attbyval", BooleanType, nullable = false),
    StructField("attnotnull", BooleanType, nullable = false),
    StructField("atthasdef", BooleanType, nullable = false),
    StructField("attidentity", StringType, nullable = false),
    StructField("attgenerated", StringType, nullable = false),
    StructField("attisdropped", BooleanType, nullable = false),
    StructField("attislocal", BooleanType, nullable = false),
    StructField("attinhcount", IntegerType, nullable = false),
    StructField("attcollation", IntegerType, nullable = false)))

  /** Register the compat functions and the `pg_catalog` and
    * `information_schema` V2 catalogs on the session. Idempotent and
    * cheap: the functions are registered only where they are missing,
    * so a connection bootstrap or a repeated call on an installed
    * session runs no Catalyst analysis. Reading a catalog table, bare or
    * qualified, needs [[ResolvePgCatalog]] (installed by
    * [[graft.plans.GraftExtensions]]). */
  def registerAll(spark: SparkSession): Unit = {
    registerFunctions(spark)
    // lazily instantiated by the CatalogManager on first pg_catalog.*
    // reference (the reference registers its provider the same way,
    // catalog/src/postgres/mod.rs:25-52); information_schema mirrors
    // DataFusion's information_schema=true (context.rs:33-55)
    spark.conf.set("spark.sql.catalog.pg_catalog",
      classOf[PgCatalogPlugin].getName)
    spark.conf.set("spark.sql.catalog.information_schema",
      classOf[InfoSchemaPlugin].getName)
  }

  /** Register the PG-compat functions unless the session already has
    * them. Some deliberately shadow Spark builtins (`version`,
    * `current_schema`, `current_database`); the builtin entry is
    * dropped first so the override does not log a "replaced a
    * previously registered function" warning on every connection. */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // the last function registered below marks a completed registration
    if (reg.functionExists(FunctionIdentifier("pg_get_viewdef"))) return
    def register(name: String, builder: Seq[Expression] => Expression): Unit = {
      reg.dropFunction(FunctionIdentifier(name))
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    def add(name: String, dt: DataType, arity: Int, fn: AnyRef): Unit =
      register(name, (children: Seq[Expression]) => {
        require(children.size == arity, s"$name expects $arity argument(s)")
        ScalaUDF(fn, dt, children, children.map(_ => None),
          udfName = Some(name), nullable = true, udfDeterministic = true)
      })

    add("version", StringType, 0, () => "PostgreSQL 14.10 on dataclod")
    add("current_schema", StringType, 0, () => "public")
    add("current_database", StringType, 0, () => "postgres")
    add("current_schemas", ArrayType(StringType), 1, (b: Any) => b match {
      case null                 => null
      case true                 => Seq("pg_catalog", "public")
      case false                => Seq("public")
      case _                    => null
    })
    add("format_type", StringType, 2, (oid: Any, tm: Any) => oid match {
      case null => null
      case o => formatType(o.toString.toLong,
        if (tm == null) null else java.lang.Long.valueOf(tm.toString.toLong))
    })
    add("array_upper", LongType, 2, (arr: Any, dim: Any) => (arr, dim) match {
      case (null, _) => null
      case (a: scala.collection.Seq[_], d) =>
        val dl = d.toString.toLong
        if (dl < 1) null
        else if (dl == 1) a.size.toLong
        else throw new UnsupportedOperationException(
          s"array_upper: dimension > 1 not supported, actual: $dl")
      case _ => null
    })
    // psql sends pg_get_expr with 2 or 3 args depending on its version
    register("pg_get_expr", (children: Seq[Expression]) => {
      require(children.size == 2 || children.size == 3,
        "pg_get_expr expects 2 or 3 arguments")
      ScalaUDF((_: Any, _: Any) => "", StringType, children.take(2),
        children.take(2).map(_ => None), udfName = Some("pg_get_expr"),
        nullable = true, udfDeterministic = true)
    })
    add("pg_get_partkeydef", StringType, 1, (_: Any) => null)
    // psql \dn+ / \l render ACL arrays via array_to_string(acl, E'\n');
    // accepts the optional third null-replacement argument too
    register("array_to_string", (children: Seq[Expression]) => {
      require(children.size == 2 || children.size == 3,
        "array_to_string expects 2 or 3 arguments")
      val fn = (arr: Any, sep: Any, nullStr: Any) => (arr, sep) match {
        case (null, _) | (_, null) => null
        case (a: scala.collection.Seq[_], s) =>
          val nr = Option(nullStr).map(_.toString)
          val items = a.flatMap(v =>
            if (v == null) nr else Some(v.toString))
          items.mkString(s.toString)
        case _ => null
      }
      val padded = if (children.size == 3) children
        else children :+ org.apache.spark.sql.catalyst.expressions.Literal(
          null, StringType)
      ScalaUDF(fn, StringType, padded, padded.map(_ => None),
        udfName = Some("array_to_string"), nullable = true,
        udfDeterministic = true)
    })
    // visibility / ownership probes psql's describe paths make — every
    // table we surface lives in the session and is owned by `postgres`
    add("pg_table_is_visible", BooleanType, 1, (_: Any) => true)
    add("pg_tablespace_location", StringType, 1, (_: Any) => "")
    // session-manager probes: no cross-connection pid registry is
    // exposed, so report the PG "no backend" sentinel rather than a
    // fake pid a client might try to cancel
    add("pg_backend_pid", IntegerType, 0, () => 0)
    add("pg_encoding_to_char", StringType, 1, (enc: Any) => enc match {
      case null => null
      case e if e.toString == "6" => "UTF8"
      case _ => ""
    })
    add("pg_get_userbyid", StringType, 1, (_: Any) => "postgres")
    add("pg_relation_is_publishable", BooleanType, 1, (_: Any) => true)
    add("obj_description", StringType, 2, (_: Any, _: Any) => null)
    add("pg_get_viewdef", StringType, 2, (_: Any, _: Any) => null)
  }
}
