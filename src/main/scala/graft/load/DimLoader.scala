package graft.load

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.schema.SchemaLoader

/** Static dimension load path — the engine's re-expression of the
  * reference's Cloud Function loader (update_dim_tables_cloud_function/
  * main.py:9-81):
  *
  *   - S8 routing: only `.csv` uploads are loaded; the target table is
  *     the filename stem and its schema lives at `schemas/<stem>.json`
  *     (main.py:28-38).
  *   - S7 load: header row skipped, explicit schema enforced,
  *     WRITE_TRUNCATE semantics == `mode("overwrite")` into the session
  *     catalog (main.py:67-76).
  *   - S12/S13: plain CSV / JSON lookup reads (the generators' merchant
  *     and city lookups, generate_fact_transactions_data.py:41,
  *     generate_dim_cust_data.py:53-54).
  *
  * Dimensions are small by definition (the star schema's fact carries the
  * volume), so a single-task overwrite per upload is the right plan shape
  * at any scale. The reload is NOT atomic for readers: [[loadDim]] drops
  * the table and then writes it, so a query that reads the table while a
  * reload runs can fail (ROADMAP item 3, atomic dimension refresh).
  */
object DimLoader {

  /** Deterministic, content-keyed landing dir for the loader fixtures
    * (ADVICE r11: `Files.createTempDirectory` per invocation accumulated
    * dirs and fd pressure across repeated Verify/Bench/selfcheck runs).
    * Reuses the streaming fixture keying — the dir name hashes the source
    * parquet's identity, so re-runs land on the SAME path and the
    * `mode("overwrite")` writes replace rather than accumulate, while
    * regenerated testdata still gets a fresh fixture.
    */
  private def landingDir(name: String, sfDir: String, sourceTable: String): String =
    graft.streaming.StreamQueries.fixtureDir(s"dim_$name", sfDir, sourceTable)

  /** S8: filename-stem table routing. `dim_customer.csv` → `dim_customer`;
    * anything not ending in .csv is ignored (main.py:28-32).
    */
  def tableFor(path: String): Option[String] = {
    val base = path.split("/").last
    if (base.endsWith(".csv")) Some(base.split("\\.")(0)) else None
  }

  /** S7: one CSV upload → catalog table with truncate semantics. Returns
    * the loaded table name.
    *
    * WRITE_TRUNCATE means "replace whatever exists": the catalog entry is
    * dropped AND a leftover warehouse location from an earlier session is
    * removed (a fresh in-memory catalog does not know about it, so
    * saveAsTable alone would fail with LOCATION_ALREADY_EXISTS), and only
    * then is the new table written. Between the drop and the end of the
    * write the table is missing or partly written: a query that starts
    * planning in that window fails at analysis, and one already reading
    * the old files fails with FILE_NOT_EXIST. The reference's load swaps
    * atomically for its readers; doing the same here is ROADMAP item 3.
    */
  def loadDim(spark: SparkSession, csvPath: String, schemaJson: String): String = {
    val table = tableFor(csvPath).getOrElse(
      throw new IllegalArgumentException(s"not a csv upload: $csvPath"))
    val schema = SchemaLoader.fromJson(schemaJson)
    dropTableAndLocation(spark, table)
    spark.read.option("header", "true").schema(schema).csv(csvPath)
      .write.mode("overwrite").saveAsTable(table)
    table
  }

  /** Drop a catalog table AND any leftover warehouse location from an
    * earlier session (a fresh in-memory catalog does not know about it,
    * so a bare overwrite saveAsTable fails LOCATION_ALREADY_EXISTS).
    */
  def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir"))
    val loc = new File(if (wh.getScheme == "file") wh.getPath else wh.toString, table)
    graft.RunOnce.delete(loc.toPath)
  }

  /** S8: the event-dispatch loop body — load every `.csv` in a landing
    * dir whose schema file exists at `<schemasDir>/<stem>.json`
    * (idempotent: re-dispatch re-truncates). Returns loaded table names.
    */
  def dispatch(spark: SparkSession, landingDir: String, schemasDir: String): Seq[String] = {
    val entries = Option(new File(landingDir).listFiles()).getOrElse(Array.empty)
    entries.toSeq.sortBy(_.getName).flatMap { f =>
      tableFor(f.getName).map { stem =>
        val schemaJson = Files.readString(new File(schemasDir, s"$stem.json").toPath)
        loadDim(spark, f.getAbsolutePath, schemaJson)
      }
    }
  }

  /** SCD1 upsert (MERGE latest-wins): base rows whose key appears in the
    * change batch are REPLACED, new keys are inserted, untouched keys
    * pass through — the incremental alternative to WRITE_TRUNCATE when a
    * dim is too big to reload (the reference's dims are re-published
    * whole; at 100 TB a dim refresh arrives as a change batch). One
    * anti-join shuffle on the key + a union — plus a per-key window over
    * the (small) change batch when a version column disambiguates.
    *
    * CONTRACT: `changes` must carry at most one row per key — pass
    * `versionCol` when a CDC batch can hold several versions of a key
    * and the HIGHEST version must win (ties broken arbitrarily are a
    * caller bug; version columns are unique per key in any sane CDC
    * feed). Null keys cannot merge (SQL null never equals): a null-keyed
    * change row would append unconditionally, so they are rejected by
    * the anti-join contract — keep dim keys NOT NULL upstream.
    */
  def upsert(base: DataFrame, changes: DataFrame, key: String,
      versionCol: Option[String] = None): DataFrame = {
    val latest = versionCol match {
      case Some(v) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col(v).desc)
        changes.withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      case None => changes
    }
    base.join(latest.select(col(key)), Seq(key), "left_anti")
      .unionByName(latest)
  }

  /** S12: plain CSV lookup read. */
  def readCsvLookup(spark: SparkSession, path: String, schemaJson: String): DataFrame =
    spark.read.option("header", "true")
      .schema(SchemaLoader.fromJson(schemaJson)).csv(path)

  /** S13: JSON-lines lookup read. */
  def readJsonLookup(spark: SparkSession, path: String, schemaJson: String): DataFrame =
    spark.read.schema(SchemaLoader.fromJson(schemaJson)).json(path)

  private val nationSchemaJson =
    """[{"name":"n_nationkey","type":"INT64","mode":"REQUIRED"},
      |  {"name":"n_name","type":"STRING","mode":"REQUIRED"},
      |  {"name":"n_regionkey","type":"INT64","mode":"REQUIRED"}]""".stripMargin

  /** Oracle queries: round-trip the nation dim through the real load
    * paths (parquet → CSV/JSON upload → loader) and hand back the loaded
    * table; the oracle reads the parquet source directly, so any loss in
    * routing, schema application, header handling, or truncate semantics
    * breaks the match. The CSV variant is loaded TWICE to prove truncate
    * (a WRITE_APPEND-style bug would double the rows).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dim_load_csv" -> ((s, dir) => {
      val tmp = landingDir("csv", dir, "nation")
      val csvDir = s"$tmp/nation.csv"
      Tables.nation(s, dir).write.mode("overwrite").option("header", "true").csv(csvDir)
      loadDim(s, csvDir, nationSchemaJson)
      val table = loadDim(s, csvDir, nationSchemaJson) // truncate, not append
      s.table(table)
    }),

    "q_dim_load_json" -> ((s, dir) => {
      val tmp = landingDir("json", dir, "nation")
      val jsonDir = s"$tmp/nation_lookup"
      Tables.nation(s, dir).write.mode("overwrite").json(jsonDir)
      readJsonLookup(s, jsonDir, nationSchemaJson)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    // CSV MALFORMED-ROW handling: the batch-CSV analog of the JSON
    // dead-letter branch (U4) — every 10th line carries an unparseable
    // balance ('bad' where a DOUBLE belongs; note PERMISSIVE pads
    // UNDER-LENGTH rows silently, so a type error is what actually
    // trips the corrupt-record column); the read must count them
    // without failing the load, and the parsed rows' exact cents must
    // survive. (DROPMALFORMED would silently lose rows — the count
    // audit is what catches that class.)
    "q_csv_malformed" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{count, expr, lit, sum, when}
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
      val tmp = landingDir("csvbad", dir, "customer")
      Tables.customer(s, dir)
        .select(when(col("c_custkey") % 10 === 0,
            expr("concat_ws(',', c_custkey, c_mktsegment, 'bad')"))
          .otherwise(expr("concat_ws(',', c_custkey, c_mktsegment, c_acctbal)"))
          .as("value"))
        .write.mode("overwrite").text(s"$tmp/landing")
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_mktsegment", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("__graft_corrupt_record", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "__graft_corrupt_record")
        .csv(s"$tmp/landing")
        .groupBy(when(col("__graft_corrupt_record").isNull, "parsed")
          .otherwise("malformed").as("status"))
        .agg(count(lit(1)).as("n"),
          sum(expr("coalesce(CAST(round(c_acctbal * 100) AS BIGINT), 0)"))
            .as("cents"))
    }),

    // Schema EVOLUTION: generation 1 lands without the `value` column,
    // generation 2 adds it; a mergeSchema read must surface the union
    // schema with v1 rows null in the new column — the additive-column
    // migration every long-lived table eventually does. The audit rolls
    // up per generation so any row loss, column loss, or null-backfill
    // bug breaks the exact-cents oracle.
    "q_schema_evolution" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{count, expr, lit, sum, when}
      val tmp = landingDir("schemaevo", dir, "events")
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
      e.filter(col("event_id") % 2 === 0).drop("value")
        .write.mode("overwrite").parquet(s"$tmp/gen=1")
      e.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$tmp/gen=2")
      s.read.option("mergeSchema", "true").parquet(tmp)
        .groupBy(col("gen"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("value").isNull, 1L).otherwise(0L)).as("n_null_value"),
          sum(expr("coalesce(CAST(round(value * 100) AS BIGINT), 0)")).as("cents"))
        .select(col("gen").cast("long").as("gen"), col("n_rows"),
          col("n_null_value"), col("cents"))
    }),

    // ORC round-trip: the third columnar wire format next to parquet
    // (native) and Avro (q_avro_roundtrip) — types survive unchanged, so
    // the source table is the oracle directly.
    "q_dim_load_orc" -> ((s, dir) => {
      val tmp = landingDir("orc", dir, "nation")
      val orcDir = s"$tmp/nation_orc"
      Tables.nation(s, dir).write.mode("overwrite").orc(orcDir)
      s.read.orc(orcDir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    // SCD1 upsert against a deterministic change batch: keys %10==3 get
    // updated attributes, keys %17==5 re-enter as brand-new ids; the
    // oracle reproduces the merged end state relationally.
    "q_dim_upsert" -> ((s, dir) => {
      import org.apache.spark.sql.functions.lit
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
      val updates = cust.filter(col("c_custkey") % 10 === 3)
        .withColumn("c_mktsegment", lit("UPDATED"))
        .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      // insert keys live in a DISJOINT namespace (1e10 + key): a small
      // additive offset collides with real keys at large scale factors,
      // silently breaking the one-row-per-key contract being shown
      val inserts = cust.filter(col("c_custkey") % 17 === 5)
        .select((col("c_custkey") + 10000000000L).as("c_custkey"), col("c_name"),
          lit("INSERTED").as("c_mktsegment"), lit(0.0).as("c_acctbal"))
      upsert(cust, updates.unionByName(inserts), "c_custkey")
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_csv_malformed" ->
      """SELECT 'malformed' AS status, count(*) AS n, CAST(0 AS BIGINT) AS cents
        |FROM customer WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT 'parsed', count(*),
        | CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |FROM customer WHERE c_custkey % 10 <> 0""".stripMargin,

    "q_schema_evolution" ->
      """SELECT CAST(1 AS BIGINT) AS gen, count(*) AS n_rows,
        | count(*) AS n_null_value, CAST(0 AS BIGINT) AS cents
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT 2, count(*), 0,
        | CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |FROM events WHERE event_id % 2 = 1""".stripMargin,

    "q_dim_load_csv" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        | CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation""".stripMargin,
    "q_dim_load_json" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        | CAST(n_regionkey AS BIGINT) AS n_regionkey FROM nation""".stripMargin,

    "q_dim_load_orc" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "q_dim_upsert" ->
      """WITH chg AS (
        |  SELECT c_custkey, c_name, 'UPDATED' AS c_mktsegment,
        |   c_acctbal + 1000.0 AS c_acctbal
        |  FROM customer WHERE c_custkey % 10 = 3
        |  UNION ALL
        |  SELECT c_custkey + 10000000000 AS c_custkey, c_name,
        |   'INSERTED' AS c_mktsegment, 0.0 AS c_acctbal
        |  FROM customer WHERE c_custkey % 17 = 5)
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM customer
        | WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
        |UNION ALL
        |SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM chg""".stripMargin
  )
}
