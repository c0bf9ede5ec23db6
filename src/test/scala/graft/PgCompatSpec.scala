package graft

import graft.pg.PgCompat
import graft.plans.GraftSqlParser

class PgCompatSpec extends GraftSuite {

  test("transaction keywords are acknowledged no-ops") {
    for (sql <- Seq("BEGIN", "begin transaction;", "COMMIT", "ROLLBACK", "abort", "END"))
      assert(spark.sql(sql).collect().isEmpty, s"$sql should be a no-op")
  }

  test("SET of foreign variables is tolerated") {
    spark.sql("SET extra_float_digits = 3").collect()
    spark.sql("SET application_name = psql").collect()
  }

  test("regclass/oid casts are erased") {
    PgCompat.registerAll(spark)
    assert(GraftSqlParser.eraseUnsupportedCasts("SELECT 'pg_type'::regclass") ==
      "SELECT 'pg_type'")
    assert(GraftSqlParser.eraseUnsupportedCasts("SELECT CAST('x' AS regproc)") ==
      "SELECT 'x'")
    val r = spark.sql("SELECT 'pg_type'::regclass AS c").head()
    assert(r.getString(0) == "pg_type")
  }

  test("pg_catalog and public qualifiers resolve to catalog views") {
    PgCompat.registerAll(spark)
    assert(spark.sql("SELECT count(*) FROM pg_catalog.pg_type").head().getLong(0) == 29)
    assert(spark.sql("SELECT count(*) FROM public.pg_database").head().getLong(0) == 1)
    // bare pg_class is the live catalog, as in PostgreSQL: it equals the
    // pg_catalog-qualified one
    spark.range(1).createOrReplaceTempView("bare_class_probe")
    try {
      val bare = sorted(spark.sql("SELECT * FROM pg_class"))
      assert(bare.exists(_.contains("bare_class_probe")), bare)
      assert(bare == sorted(spark.sql("SELECT * FROM pg_catalog.pg_class")))
    } finally spark.catalog.dropTempView("bare_class_probe")
  }

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("every catalog table answers the same under its bare, public. and pg_catalog. names") {
    PgCompat.registerAll(spark)
    val names = PgCompat.catalogTables.keySet
    assert(names.size == 24 && names("pg_class") && names("pg_attribute"), names)
    for (n <- names.toSeq.sorted) {
      val qualified = sorted(spark.sql(s"SELECT * FROM pg_catalog.$n"))
      assert(sorted(spark.sql(s"SELECT * FROM $n")) == qualified, n)
      assert(sorted(spark.sql(s"SELECT * FROM public.$n")) == qualified, n)
    }
  }

  test("bare pg_attribute resolves to the live catalog") {
    PgCompat.registerAll(spark)
    spark.range(1).selectExpr("id AS attr_probe_col").createOrReplaceTempView("attr_probe")
    try {
      assert(spark.sql("SELECT attname FROM pg_attribute " +
        "WHERE attname = 'attr_probe_col'").count() == 1)
    } finally spark.catalog.dropTempView("attr_probe")
  }

  test("a temp view or CTE named like a catalog table shadows the bare name in its own session only") {
    PgCompat.registerAll(spark)
    val other = spark.newSession()
    PgCompat.registerAll(other)
    spark.sql("CREATE OR REPLACE TEMP VIEW pg_type AS SELECT 1 AS oid")
    try {
      assert(spark.sql("SELECT * FROM pg_type").collect().map(_.getInt(0)).toSeq == Seq(1))
      // the qualified names still reach the catalog table
      assert(spark.sql("SELECT count(*) FROM pg_catalog.pg_type").head().getLong(0) == 29)
      assert(spark.sql("SELECT count(*) FROM public.pg_type").head().getLong(0) == 29)
      assert(other.sql("SELECT count(*) FROM pg_type").head().getLong(0) == 29)
    } finally spark.catalog.dropTempView("pg_type")
    assert(spark.sql("SELECT count(*) FROM pg_type").head().getLong(0) == 29)
    assert(spark.sql("WITH pg_type AS (SELECT 7 AS oid) SELECT oid FROM pg_type")
      .collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("table commands resolve bare and public. catalog names unless a temp view shadows them") {
    PgCompat.registerAll(spark)
    def names(sql: String): Seq[String] = spark.sql(sql).collect().map(_.getString(0)).toSeq
    val columns = spark.table("pg_catalog.pg_type").columns.toSeq
    val described = names("DESCRIBE pg_catalog.pg_type")
    assert(described.take(columns.size) == columns, described)
    assert(names("DESCRIBE pg_type") == described)
    assert(names("DESCRIBE public.pg_type") == described)
    assert(names("SHOW COLUMNS IN pg_type") == columns)
    assert(names("SHOW COLUMNS IN public.pg_type") == columns)
    spark.sql("CREATE OR REPLACE TEMP VIEW pg_type AS SELECT 1 AS shadow_col")
    try {
      assert(names("DESCRIBE pg_type") == Seq("shadow_col"))
      assert(names("SHOW COLUMNS IN pg_type") == Seq("shadow_col"))
      assert(names("DESCRIBE pg_catalog.pg_type") == described)
    } finally spark.catalog.dropTempView("pg_type")
  }

  test("a view over pg_class does not re-enter the pg_class snapshot") {
    PgCompat.registerAll(spark)
    spark.sql("CREATE OR REPLACE TEMP VIEW class_names AS SELECT relname FROM pg_class")
    try {
      assert(spark.sql("SELECT relname FROM pg_class WHERE relname = 'class_names'")
        .count() == 1)
      assert(spark.sql("SELECT * FROM class_names WHERE relname = 'class_names'")
        .count() == 1)
    } finally spark.catalog.dropTempView("class_names")
  }

  test("information_schema lists no catalog table as a user table") {
    PgCompat.registerAll(spark)
    assert(spark.sql("SELECT table_name FROM information_schema.tables " +
      "WHERE table_name LIKE 'pg\\_%'").isEmpty)
  }

  test("pg_catalog.pg_class / pg_attribute snapshot the live catalog") {
    PgCompat.registerAll(spark)
    spark.range(3).selectExpr("id", "cast(id AS string) AS s")
      .createOrReplaceTempView("class_probe")
    try {
      // the \dt shape psql sends (after the parser's client-op rewrites)
      val dt = spark.sql(
        """SELECT n.nspname, c.relname, c.relkind,
          |  pg_catalog.pg_get_userbyid(c.relowner) AS owner
          |FROM pg_catalog.pg_class c
          |LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace
          |WHERE c.relkind IN ('r','p','') AND n.nspname !~ '^pg_toast'
          |  AND pg_catalog.pg_table_is_visible(c.oid)
          |  AND c.relname OPERATOR(pg_catalog.~) '^(class_probe)$' COLLATE pg_catalog.default
          |ORDER BY 1,2""".stripMargin).collect()
      assert(dt.length == 1)
      assert(dt.head.getString(0) == "public" && dt.head.getString(1) == "class_probe")
      assert(dt.head.getString(2) == "r" && dt.head.getString(3) == "postgres")
      // the \d column listing resolves BY OID across statements
      val oid = spark.sql(
        "SELECT oid FROM pg_catalog.pg_class WHERE relname = 'class_probe'")
        .head().getInt(0)
      val cols = spark.sql(
        s"""SELECT a.attname, format_type(a.atttypid, a.atttypmod), a.attnotnull
           |FROM pg_catalog.pg_attribute a
           |WHERE a.attrelid = '$oid' AND a.attnum > 0 AND NOT a.attisdropped
           |ORDER BY a.attnum""".stripMargin).collect()
      assert(cols.map(_.getString(0)).toSeq == Seq("id", "s"))
      assert(cols.map(_.getString(1)).toSeq ==
        Seq("bigint", "character varying"))
      // the emulation views themselves never surface as user tables
      assert(spark.sql(
        "SELECT count(*) FROM pg_catalog.pg_class WHERE relname LIKE 'pg\\_%'")
        .head().getLong(0) == 0)
    } finally spark.catalog.dropTempView("class_probe")
  }

  test("compat functions answer like the reference") {
    PgCompat.registerAll(spark)
    val r = spark.sql(
      "SELECT version(), current_schema(), current_schemas(true), current_schemas(false)").head()
    assert(r.getString(0) == "PostgreSQL 14.10 on dataclod")
    assert(r.getString(1) == "public")
    assert(r.getSeq[String](2) == Seq("pg_catalog", "public"))
    assert(r.getSeq[String](3) == Seq("public"))
  }

  test("format_type covers scalar, parameterized, array and unknown") {
    PgCompat.registerAll(spark)
    val r = spark.sql(
      """SELECT format_type(16, NULL), format_type(1043, 29), format_type(18, 5),
        |  format_type(1186, NULL), format_type(1186, 0), format_type(1015, 10),
        |  format_type(12345, NULL)""".stripMargin).head()
    assert(r.getString(0) == "boolean")
    assert(r.getString(1) == "character varying(25)")
    assert(r.getString(2) == "character(1)")
    assert(r.getString(3) == "interval")
    assert(r.getString(4) == "-")
    assert(r.getString(5) == "character varying(6)[]")
    assert(r.getString(6) == "???")
  }
  test("pg_catalog.* resolves through the V2 catalog, not a rewrite") {
    graft.pg.PgCompat.registerAll(spark)
    val df = spark.sql(
      "SELECT typname FROM pg_catalog.pg_type WHERE oid = 1043")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("varchar"))
    // answered on the driver: a LocalTableScan, no DSv2 scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"), plan)
    // joins across the catalog boundary work
    val n = spark.sql(
      """SELECT count(*) FROM pg_catalog.pg_type t
        |JOIN pg_catalog.pg_namespace n ON t.typnamespace = n.oid""".stripMargin)
      .head().getLong(0)
    assert(n == 29)
    // read-only: writes are rejected
    intercept[Exception] {
      spark.sql("INSERT INTO pg_catalog.pg_type VALUES (1,'x',11,'S',0,0,0,-1)")
    }
  }
  test("A35 evidence: wildcard + colliding alias needs no rewrite") {
    // the reference renames colliding projections to __alias_<name>
    // (postgres_stmt.rs:13-103); Spark's analyzer tolerates duplicate
    // output names and resolves by position, so no rewrite is ported
    val rows = spark.sql(
      "SELECT t.*, upper(lang) AS lang FROM (SELECT 'en' AS lang) t").collect()
    assert(rows.head.getString(0) == "en" && rows.head.getString(1) == "EN")
  }
  test("information_schema snapshots live session tables and columns") {
    graft.pg.PgCompat.registerAll(spark)
    spark.range(3).selectExpr("id", "concat('v', id) AS v")
      .createOrReplaceTempView("info_probe")
    val tables = spark.sql(
      "SELECT table_schema, table_type FROM information_schema.tables " +
      "WHERE table_name = 'info_probe'").collect()
    assert(tables.length == 1 &&
      tables.head.getString(0) == "session" &&
      tables.head.getString(1) == "LOCAL TEMPORARY")
    val cols = spark.sql(
      "SELECT column_name, ordinal_position, data_type " +
      "FROM information_schema.columns WHERE table_name = 'info_probe' " +
      "ORDER BY ordinal_position").collect()
    assert(cols.map(_.getString(0)).toSeq == Seq("id", "v"))
    assert(cols.map(_.getString(2)).toSeq == Seq("bigint", "string"))
    val schemata = spark.sql(
      "SELECT schema_name FROM information_schema.schemata").collect()
    assert(schemata.map(_.getString(0)).contains("default"))
    // the snapshot is live: dropping the view changes the next scan
    spark.catalog.dropTempView("info_probe")
    assert(spark.sql("SELECT * FROM information_schema.tables " +
      "WHERE table_name = 'info_probe'").isEmpty)
  }

  test("information_schema surfaces global temp views with their columns") {
    graft.pg.PgCompat.registerAll(spark)
    spark.range(2).selectExpr("id AS gid", "id * 2 AS dbl")
      .createOrReplaceGlobalTempView("global_probe")
    try {
      val t = spark.sql(
        "SELECT table_schema, table_type FROM information_schema.tables " +
        "WHERE table_name = 'global_probe'").collect()
      assert(t.length == 1 &&
        t.head.getString(0) == "global_temp" &&
        t.head.getString(1) == "GLOBAL TEMPORARY")
      val cols = spark.sql(
        "SELECT column_name FROM information_schema.columns " +
        "WHERE table_name = 'global_probe' ORDER BY ordinal_position").collect()
      assert(cols.map(_.getString(0)).toSeq == Seq("gid", "dbl"))
    } finally spark.catalog.dropGlobalTempView("global_probe")
  }
}
