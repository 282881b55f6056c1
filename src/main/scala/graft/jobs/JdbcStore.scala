package graft.jobs

import java.sql.{Connection, DriverManager, SQLException}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Dedup, Rollup}
import graft.streaming.ProducerLoop

/** EXECUTED JDBC transport for the reference's Postgres state — the
  * relational twin of the parquet-snapshot seam in [[Jobs]] /
  * [[graft.streaming.ProducerLoop]].
  *
  * The reference keeps two relational tables and reaches them over a
  * plain DB-API connection (app/main.py:88-99 `_get_db_conn`):
  *
  *  - `stations` — the catalog, upserted with
  *    `INSERT ... ON CONFLICT (station_id) DO UPDATE SET c =
  *    COALESCE(EXCLUDED.c, stations.c)` (app/main.py:633-648), and read
  *    back filtered `WHERE source = ? AND lat IS NOT NULL AND lon IS NOT
  *    NULL` (app/main.py:63-84 `_get_stations_from_db`);
  *  - `ingestion_cursors` — per-(source, station, pollutant) watermarks,
  *    created on demand (app/main.py:100-117) and advanced with
  *    `ON CONFLICT ... DO UPDATE SET last_observed_at =
  *    GREATEST(old, EXCLUDED)` (app/main.py:240-277), committed only
  *    AFTER the Kafka emit (app/main.py:1342-1347).
  *
  * Spark-first shape, and the one that holds at cluster scale:
  *
  *  1. '''stage''' — the update batch is written by Spark's parallel JDBC
  *     writer into a staging table (every executor opens its own
  *     connection and batches inserts; the driver moves no rows);
  *  2. '''merge''' — ONE server-side ANSI `MERGE INTO target USING stage`
  *     statement applies the COALESCE / GREATEST semantics
  *     transactionally inside the database. No row ever passes through
  *     the driver, and the merge cost is the database's, not a Spark
  *     collect-and-replay loop. This is the standard Spark→RDBMS upsert
  *     pattern (df.write.jdbc has no upsert mode by design).
  *  3. '''read''' — `spark.read.jdbc`; predicate pushdown carries simple
  *     filters into the remote scan, and a numeric/timestamp
  *     `partitionColumn` + bounds splits a big table read across
  *     executors (document-only here: the harness tables are small).
  *
  * ANSI MERGE requires at most one source row per target key (a
  * cardinality violation otherwise), so both upsert entry points
  * pre-dedup the batch in Spark first — `firstWins` for the catalog
  * (the deterministic within-batch rule [[Jobs.catalogRefresh]] already
  * uses) and a per-key `max` for cursors (the reference's in-memory
  * `updates` dict holds exactly the per-key max, app/main.py:230-236).
  *
  * The harness engine is embedded Derby (on Spark's own classpath — it
  * ships Derby for the Hive metastore), chosen because it speaks the
  * same ANSI MERGE / COALESCE / CASE surface. Postgres (15+) accepts the
  * identical statements, so the production swap is the JDBC URL; Derby
  * has no GREATEST builtin, which is why the advance rule is spelled as
  * the portable `CASE WHEN s.ts > t.ts THEN s.ts ELSE t.ts END`.
  * Identifiers are double-quoted lowercase throughout (both the DDL here
  * and Spark's JDBC writer quote identifiers), so Derby's
  * uppercase-folding never bites and read-back column names match the
  * DataFrame originals exactly.
  */
object JdbcStore {

  /** Quoted identifier — all DDL/DML here uses quoted lowercase names so
    * they agree with the identifiers Spark's JDBC writer creates.
    */
  private def q(id: String): String = "\"" + id + "\""

  /** Spark's built-in DerbyDialect maps StringType → CLOB, which (a)
    * cannot sit in a MERGE ON predicate and (b) makes the writer call
    * `setNull(Types.CLOB)` against the VARCHAR stage columns — a Derby
    * type-conversion error. Registered dialects take precedence over the
    * built-ins, so this VARCHAR-first override is the supported Spark
    * extension point, not a fork of the writer.
    */
  private object GraftDerbyDialect extends org.apache.spark.sql.jdbc.JdbcDialect {
    override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
    override def quoteIdentifier(colName: String): String = q(colName)
    override def getJDBCType(dt: DataType): Option[org.apache.spark.sql.jdbc.JdbcType] =
      dt match {
        case StringType =>
          Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
        case BooleanType =>
          Some(org.apache.spark.sql.jdbc.JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
        case _ => None // JdbcUtils common defaults are Derby-compatible here
      }
  }
  org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(GraftDerbyDialect)

  def withConnection[A](url: String)(f: Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn)
    finally conn.close()
  }

  private def execute(conn: Connection, sql: String): Int = {
    val st = conn.createStatement()
    try st.executeUpdate(sql)
    finally st.close()
  }

  /** Spark type → ANSI/Derby column type for DDL (both the target tables
    * created here and the `createTableColumnTypes` hint handed to
    * Spark's writer — without it Spark's DerbyDialect maps StringType to
    * CLOB, which cannot sit in a MERGE ON predicate).
    *
    * String width (r13, ADVICE fix): VALUE columns get Derby's maximum
    * VARCHAR width (32672) so staging long text (a document body)
    * through an upsert cannot hit a silent 22001 truncation error; KEY
    * columns stay at 1024 because they back a PRIMARY KEY index and
    * Derby bounds an index key by roughly half the page size — 1024 is
    * the widest known-safe indexed width, and the reference's key
    * columns (station id, source, pollutant) are all far shorter.
    */
  def sqlType(dt: DataType): String = sqlType(dt, key = false)

  def sqlType(dt: DataType, key: Boolean): String = dt match {
    case StringType     => if (key) "VARCHAR(1024)" else "VARCHAR(32672)"
    case DoubleType     => "DOUBLE"
    case FloatType      => "REAL"
    case LongType       => "BIGINT"
    case IntegerType    => "INTEGER"
    case ShortType      => "SMALLINT"
    case BooleanType    => "BOOLEAN"
    case TimestampType  => "TIMESTAMP"
    case DateType       => "DATE"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case other =>
      throw new IllegalArgumentException(s"no JDBC mapping for $other")
  }

  /** ANSI CREATE TABLE text, shared by [[ensureTable]] and
    * [[plannedUpsertSql]] (whose output the golden-SQL spec pins).
    */
  private def createTableSql(table: String, schema: StructType, keys: Seq[String]): String = {
    val cols = schema.fields
      .map { f =>
        val isKey = keys.contains(f.name)
        val notNull = if (isKey) " NOT NULL" else ""
        s"${q(f.name)} ${sqlType(f.dataType, isKey)}$notNull"
      }
      .mkString(", ")
    val pk = s", PRIMARY KEY (${keys.map(q).mkString(", ")})"
    s"CREATE TABLE ${q(table)} ($cols$pk)"
  }

  /** Run a CREATE TABLE, treating an existing table as success (neither
    * Derby's DDL nor ANSI has IF NOT EXISTS; the reference does the same
    * dance with CREATE TABLE IF NOT EXISTS, app/main.py:104-115).
    * X0Y32 is Derby's already-exists SQLState, 42P07 Postgres's
    * (duplicate_table) — the URL-swap claim covers this dance too.
    */
  private def createIfAbsent(conn: Connection, createSql: String): Unit =
    try execute(conn, createSql)
    catch {
      case e: SQLException if e.getSQLState == "X0Y32" || e.getSQLState == "42P07" => ()
    }

  /** CREATE TABLE if absent. */
  def ensureTable(url: String, table: String, schema: StructType, keys: Seq[String]): Unit =
    withConnection(url)(createIfAbsent(_, createTableSql(table, schema, keys)))

  /** Every statement an upsert against `url` sends, in order — the list
    * [[upsert]] executes, exposed for the golden-SQL portability spec.
    * `advanceTsCol` picks the matched-row rule: None is the COALESCE
    * catalog rule, Some(ts) the advance-only cursor rule. `url` is deliberately
    * UNUSED in construction: ONE ANSI statement set serves every
    * engine, which IS the Derby→Postgres "URL swap" claim, and the spec
    * asserts byte-identity of this output across both URL prefixes so a
    * future engine-conditioned branch cannot land silently.
    */
  private[graft] def plannedUpsertSql(
      url: String,
      table: String,
      stageTable: String,
      schema: StructType,
      keys: Seq[String],
      advanceTsCol: Option[String]
  ): Seq[String] = {
    val _ = url // no dialect branch — see scaladoc
    val columns = schema.fields.map(_.name).toSeq
    val set = advanceTsCol match {
      case Some(ts) => advanceSetClause(ts)
      case None     => coalesceSetClause(columns, keys)
    }
    Seq(
      createTableSql(table, schema, keys),
      mergeSql(table, stageTable, columns, keys, set),
      s"DROP TABLE ${q(stageTable)}"
    )
  }

  def tableExists(url: String, table: String): Boolean =
    withConnection(url) { conn =>
      val md = conn.getMetaData
      // getTables' tableNamePattern is a LIKE pattern — `_` matches any
      // single char, so the raw name "ingestion_cursors" would also
      // match an "ingestionXcursors" table (r13, ADVICE fix). Escaping
      // the pattern is NOT portable: Derby 10.16 reports an empty
      // getSearchStringEscape and treats a backslash (or any escape
      // prefix) literally, so an escaped pattern matches nothing at
      // all. The driver-agnostic exact check: query with the raw name
      // (a superset — wildcards can only over-match) and post-filter
      // the returned rows on exact TABLE_NAME equality.
      val rs = md.getTables(null, null, table, null)
      try {
        var found = false
        while (!found && rs.next()) found = rs.getString("TABLE_NAME") == table
        found
      } finally rs.close()
    }

  /** Parallel executor-side staging write. Overwrite drops + recreates
    * the stage each batch; `createTableColumnTypes` pins VARCHAR (not
    * CLOB) so the stage's key columns are MERGE-comparable.
    */
  private def stage(df: DataFrame, url: String, stageTable: String): Unit = {
    val types = df.schema.fields
      .map(f => s"${f.name} ${sqlType(f.dataType)}")
      .mkString(", ")
    df.write
      .mode(SaveMode.Overwrite)
      .option("createTableColumnTypes", types)
      .format("jdbc")
      .option("url", url)
      .option("dbtable", q(stageTable))
      .save()
  }

  /** The one upsert path: stage `rows` (at most one per key) under a
    * batch-unique table name, then execute exactly [[plannedUpsertSql]]
    * — the target's CREATE (already-exists tolerated), the MERGE, whose
    * affected-row count is returned, and the stage's DROP.
    *
    * The UUID stage suffix means two concurrent upserts into one target
    * cannot race on a shared stage, and the finally-drop means no stage
    * outlives its merge. The drop is best-effort: it swallows NonFatal,
    * so a failed drop cannot mask the upsert's own outcome.
    */
  private def upsert(rows: DataFrame, url: String, table: String, keys: Seq[String], advanceTsCol: Option[String]): Long = {
    val stageTable = table + "_stage_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val Seq(create, merge, drop) = plannedUpsertSql(url, table, stageTable, rows.schema, keys, advanceTsCol)
    stage(rows, url, stageTable)
    withConnection(url) { conn =>
      try {
        createIfAbsent(conn, create)
        execute(conn, merge).toLong
      } finally {
        try execute(conn, drop)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  /** The MERGE of [[plannedUpsertSql]]. Everything in it is ANSI
    * SQL:2003 (MERGE, COALESCE, CASE, quoted identifiers), so it does not
    * depend on the JDBC URL.
    */
  private def mergeSql(
      table: String,
      stageTable: String,
      columns: Seq[String],
      keys: Seq[String],
      setClause: String
  ): String = {
    val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val insertCols = columns.map(q).mkString(", ")
    val insertVals = columns.map(c => s"s.${q(c)}").mkString(", ")
    val matched = if (setClause.nonEmpty) s"WHEN MATCHED THEN UPDATE SET $setClause " else ""
    s"MERGE INTO ${q(table)} t USING ${q(stageTable)} s ON $on " +
      matched +
      s"WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)"
  }

  /** A5's matched-row rule: new non-null wins, null keeps the old value
    * — `COALESCE(s.c, t.c)` per value column, ANSI by construction.
    */
  private def coalesceSetClause(columns: Seq[String], keys: Seq[String]): String =
    columns
      .filterNot(keys.contains)
      .map(c => s"${q(c)} = COALESCE(s.${q(c)}, t.${q(c)})")
      .mkString(", ")

  /** A4/A6's matched-row rule: the cursor only advances. Spelled as the
    * portable CASE, not GREATEST — Derby has no GREATEST builtin and
    * the CASE form is ANSI everywhere (null-safe: a null incumbent is
    * always overtaken, a null update never overtakes).
    */
  private def advanceSetClause(tsCol: String): String = {
    val ts = q(tsCol)
    s"$ts = CASE WHEN t.$ts IS NULL OR s.$ts > t.$ts THEN s.$ts ELSE t.$ts END"
  }

  /** A5 EXECUTED: COALESCE-upsert `updates` into the relational `table`
    * (created on demand) — new non-null wins, null keeps the old value;
    * the exact `ON CONFLICT ... COALESCE(EXCLUDED.c, t.c)` of reference
    * app/main.py:636-645, as stage + one server-side MERGE. Returns the
    * MERGE's affected-row count.
    */
  def coalesceUpsert(updates: DataFrame, url: String, table: String, keys: Seq[String]): Long =
    // ≤1 source row per key (ANSI MERGE cardinality): deterministic
    // first-wins over all columns, same rule as Jobs.catalogRefresh
    upsert(Dedup.firstWins(updates, keys, updates.columns.toSeq), url, table, keys, None)

  /** A4/A6 EXECUTED: GREATEST-merge of per-key watermarks into the
    * relational `table` — the cursor only advances (reference
    * app/main.py:257-270). Derby has no GREATEST builtin, so the advance
    * is the portable CASE (null-safe: a null incumbent is always
    * overtaken, a null update never overtakes — the COALESCE semantics
    * of [[graft.ops.Upsert.greatestMerge]]).
    */
  def greatestUpsert(
      updates: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      tsCol: String
  ): Long = {
    // per-key max inside the batch (the reference's updates-dict rule)
    val deduped = Rollup.maxTsPerKey(updates, keys, tsCol)
      .withColumnRenamed("last_observed_at", tsCol)
      .select(updates.columns.map(col).toIndexedSeq: _*)
    upsert(deduped, url, table, keys, Some(tsCol))
  }

  /** Full-table read-back. For a big table add
    * `partitionColumn`/`lowerBound`/`upperBound`/`numPartitions` so the
    * scan splits across executors; the harness tables are small enough
    * for the single-partition read.
    */
  def readTable(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", q(table))
      .load()

  /** The big-table read shape: split the remote scan into `numParts`
    * range predicates on a numeric/timestamp column so every executor
    * opens its own cursor — `spark.read.jdbc`'s standard partitioned
    * form. On a 100 TB deployment this (plus predicate pushdown) is how
    * a dimension or state table re-enters the cluster without a
    * single-connection bottleneck; bounds come from a cheap server-side
    * MIN/MAX. The partition column name is passed QUOTED so it matches
    * the quoted-lowercase identifiers every table here is created with.
    */
  def readTablePartitioned(
      spark: SparkSession,
      url: String,
      table: String,
      partCol: String,
      lower: Long,
      upper: Long,
      numParts: Int
  ): DataFrame =
    spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", q(table))
      .option("partitionColumn", q(partCol))
      .option("lowerBound", lower.toString)
      .option("upperBound", upper.toString)
      .option("numPartitions", numParts.toString)
      .load()

  /** Server-side MIN/MAX of a numeric column — the cheap bounds query
    * that feeds [[readTablePartitioned]] (one row through the driver;
    * the scaladoc there promises exactly this shape). Returns (0, 1)
    * for an empty table so the partitioned read stays well-formed.
    */
  def columnBounds(url: String, table: String, column: String): (Long, Long) =
    withConnection(url) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(
          s"SELECT MIN(${q(column)}), MAX(${q(column)}) FROM ${q(table)}")
        try {
          if (rs.next() && rs.getObject(1) != null) {
            val (lo, hi) = (rs.getLong(1), rs.getLong(2))
            // Spark's partitioned read requires lower < upper; a
            // single-key table would otherwise violate it. Widening the
            // upper bound is harmless — range partitioning puts rows
            // outside the bounds into the edge partitions regardless.
            (lo, if (hi > lo) hi else lo + 1)
          } else (0L, 1L)
        } finally rs.close()
      } finally st.close()
    }

  /** Free an in-memory Derby database (r13, ADVICE fix): an
    * `jdbc:derby:memory:` DB lives on the JVM heap until explicitly
    * dropped, so every harness execution that creates a fresh one must
    * drop it after materializing its read-back — otherwise Bench reps
    * and dual-SF Verify passes accumulate leaked heap databases for the
    * life of the run. Derby signals a successful drop by THROWING
    * SQLException 08006 from the connect — expected, swallowed. No-op
    * for non-memory URLs.
    */
  def dropInMemoryDerby(url: String): Unit =
    if (url.startsWith("jdbc:derby:memory:")) {
      val base = url.takeWhile(_ != ';')
      try { DriverManager.getConnection(base + ";drop=true"); () }
      catch { case _: SQLException => () }
    }

  /** `_get_stations_from_db` (reference app/main.py:63-84): stations of
    * one source with coordinates present. The filters are simple
    * comparisons, so Spark pushes them into the remote JDBC scan
    * (PushedFilters on the JDBCRelation — spec-pinned).
    */
  def readStations(spark: SparkSession, url: String, source: String): DataFrame =
    readTable(spark, url, "stations")
      .filter(col("source") === source && col("lat").isNotNull && col("lon").isNotNull)

  /** Retention EXECUTED as the server-side DELETE the reference's
    * housekeeping runs against Postgres (app/housekeeping.py:15-17) —
    * the relational twin of [[Jobs.housekeeping]]'s
    * filter-and-republish. Returns deleted-row count.
    */
  def deleteOlderThan(url: String, table: String, tsCol: String, cutoff: java.sql.Timestamp): Long =
    withConnection(url) { conn =>
      val st = conn.prepareStatement(s"DELETE FROM ${q(table)} WHERE ${q(tsCol)} < ?")
      try { st.setTimestamp(1, cutoff); st.executeUpdate().toLong }
      finally st.close()
    }

  /** Read the cursor table if it exists, else the empty frame with the
    * cursor schema — mirrors [[graft.streaming.ProducerLoop.readCursors]]
    * over parquet.
    */
  def readCursors(spark: SparkSession, url: String, table: String, keys: Seq[String]): DataFrame =
    if (tableExists(url, table)) readTable(spark, url, table)
    else ProducerLoop.cursorFrame(spark, keys, Rollup.MaxTs.zero)

  /** One producer micro-batch with the cursor state in the DATABASE:
    * [[graft.streaming.ProducerLoop.processBatch]]'s cycle (same
    * watermark filter, in-batch dedup and envelope emit), with the cursor
    * commit an ACID MERGE instead of a snapshot rewrite.
    * Commit-after-emit (T3, reference app/main.py:1342-1347): the MERGE
    * runs only after the sink append returns, so a crash between the two
    * re-emits the batch next run — at-least-once with downstream dedup,
    * exactly the reference's contract, and the spec exercises exactly
    * that crash window.
    */
  def processBatchJdbc(
      batch: DataFrame,
      keys: Seq[String],
      tsCol: String,
      arrivalCol: String,
      sinkDir: String,
      url: String,
      cursorTable: String = "ingestion_cursors"
  ): Unit = {
    val cursors = readCursors(batch.sparkSession, url, cursorTable, keys)
    ProducerLoop.cycle(batch, keys, tsCol, arrivalCol, sinkDir, cursors) { maxima =>
      greatestUpsert(ProducerLoop.cursorFrame(batch.sparkSession, keys, maxima),
        url, cursorTable, keys, "last_observed_at")
    }
  }
}
