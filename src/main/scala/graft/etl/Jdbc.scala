package graft.etl

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** JDBC warehouse edge (S5/S6): the reference's actual sink is a SQL
  * database via SQLAlchemy (`/root/reference/src/load.py:79-84` append,
  * `:55-58` scan, engine from `/root/reference/src/config.py:16-19`); this
  * is the same surface over `spark.read/write.jdbc`, dialect-parameterized
  * the way the reference resolves sqlite-vs-Postgres from `DATABASE_URL`,
  * and tested against embedded Derby the way the reference tests run
  * in-memory SQLite (`/root/reference/tests/conftest.py:121-137`).
  *
  * The date column crosses the edge as ISO-8601 TEXT (L2 — the reference
  * stores `_to_date_str(date)`, `src/load.py:38,117`): `date_format` on
  * the way out, `to_date` on the way in; inside the engine it is always a
  * real `DateType`.
  *
  * Scale notes: scan and append are Spark's partitioned JDBC I/O (the
  * append runs one batched INSERT stream per partition). The UPDATE leg
  * runs batched prepared statements per partition, one transaction per
  * partition — a single global transaction over distributed writers would
  * need XA; the engine's own warehouse gets atomicity from
  * [[AtomicTable]]'s version-pointer commit instead. An RDBMS edge at
  * 100 TB is for serving aggregates, not the corpus.
  */
object Jdbc {

  val DerbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"
  val FactTable = "fact_economic_observations"
  val DimTable = "dim_series"

  /** Warehouse SQL dialect, resolved from the JDBC URL the way the
    * reference resolves its engine from `DATABASE_URL`
    * (`/root/reference/src/config.py:16-19`: sqlite default, Postgres when
    * the URL says so). A dialect owns exactly the three things that differ
    * across the engines this edge targets: the driver class, the DDL type
    * vocabulary, and how idempotent CREATE is expressed. */
  sealed trait Dialect {
    def name: String
    def driverClass: String
    /** DOUBLE spelling ("DOUBLE PRECISION" is the portable/PG form; Derby
      * accepts only via its own alias list, so each dialect pins its own). */
    def doubleType: String
    /** true → `CREATE TABLE IF NOT EXISTS`; false → bare CREATE with the
      * already-exists SQLState swallowed (Derby has no IF NOT EXISTS). */
    def supportsIfNotExists: Boolean
    /** SQLState meaning "object already exists", for the bare-CREATE path. */
    def existsSqlState: String

    def createTable(table: String, body: String): String =
      if (supportsIfNotExists) s"CREATE TABLE IF NOT EXISTS $table ($body)"
      else s"CREATE TABLE $table ($body)"
  }

  case object Derby extends Dialect {
    val name = "derby"
    val driverClass = DerbyDriver
    val doubleType = "DOUBLE"
    val supportsIfNotExists = false
    val existsSqlState = "X0Y32"
  }

  /** PostgreSQL (`jdbc:postgresql:`). A real deployment puts the pg driver
    * jar on the classpath; in this offline environment JdbcSpec EXECUTES
    * this dialect end-to-end (ensureTables → mergeFact/mergeDim → scan)
    * through a test-scoped `org.postgresql.Driver` double that runs every
    * emitted statement over the real JDBC protocol (see
    * graft.testutil.PgFake — only Postgres's SQL parser is emulated, by
    * translating the two pg-only constructs for embedded Derby).
    * Running the round-trip under an engine that natively implements PG
    * syntax (H2 `MODE=PostgreSQL`, embedded-pg) was evaluated in r7 and
    * re-checked in r9, and is NOT possible here: the build is offline
    * (COURSIER_MODE=offline) and a full scan of ~/.ivy2, the coursier
    * cache, ~/.sbt and /opt/spark/jars finds no H2/pgjdbc jar — the
    * residual closes the first time this builds with network. */
  case object Postgres extends Dialect {
    val name = "postgresql"
    val driverClass = "org.postgresql.Driver"
    val doubleType = "DOUBLE PRECISION"
    val supportsIfNotExists = true
    val existsSqlState = "42P07" // duplicate_table, unused on the INE path
  }

  def dialectOf(url: String): Dialect =
    if (url.startsWith("jdbc:postgresql:")) Postgres
    else if (url.startsWith("jdbc:derby:")) Derby
    else throw new IllegalArgumentException(
      s"unsupported JDBC url (expected jdbc:derby: or jdbc:postgresql:): $url")

  def props(url: String): Properties = {
    val p = new Properties()
    p.setProperty("driver", dialectOf(url).driverClass)
    p
  }

  /** The two warehouse table bodies, parameterized only where dialects
    * differ. Column names are quoted lowercase ("date" and "value" are SQL
    * reserved words; Spark's JDBC writer quotes identifiers the same way —
    * and both Derby and Postgres treat "quoted" identifiers as
    * case-sensitive SQL-standard identifiers). */
  def factDdl(d: Dialect): String = d.createTable(FactTable,
    s""""series_id" VARCHAR(64) NOT NULL,
       |  "series_name" VARCHAR(256) NOT NULL,
       |  "date" VARCHAR(10) NOT NULL,
       |  "value" ${d.doubleType},
       |  "source" VARCHAR(16) NOT NULL,
       |  PRIMARY KEY ("series_id", "date")""".stripMargin)

  def dimDdl(d: Dialect): String = d.createTable(DimTable,
    s""""series_id" VARCHAR(64) NOT NULL PRIMARY KEY,
       |  "series_name" VARCHAR(256) NOT NULL,
       |  "source" VARCHAR(16) NOT NULL""".stripMargin)

  /** DDL (S7, `src/load.py:5-24`): create the two warehouse tables if
    * absent, in the url's dialect. */
  def ensureTables(url: String): Unit = {
    val d = dialectOf(url)
    Class.forName(d.driverClass)
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try {
        for (ddl <- Seq(factDdl(d), dimDdl(d))) {
          try st.executeUpdate(ddl)
          catch { // already exists — idempotent DDL on the bare-CREATE path
            case e: java.sql.SQLException
              if !d.supportsIfNotExists && e.getSQLState == d.existsSqlState => ()
          }
        }
      } finally st.close()
    } finally conn.close()
  }

  /** S6: scan the fact table back into engine types (text date → DateType). */
  def scanFact(spark: SparkSession, url: String): DataFrame =
    spark.read.jdbc(url, FactTable, props(url))
      .select(col("series_id"), col("series_name"),
        to_date(col("date")).as("date"), col("value"), col("source"))

  /** S6: scan the dim table. */
  def scanDim(spark: SparkSession, url: String): DataFrame =
    spark.read.jdbc(url, DimTable, props(url))
      .select(Schemas.dim.fieldNames.map(col): _*)

  /** Date → ISO text at the edge (L2), preserving column order. */
  private def atTextEdge(df: DataFrame): DataFrame =
    df.select(df.columns.map {
      case "date" => date_format(col("date"), "yyyy-MM-dd").as("date")
      case c => col(c)
    }: _*)

  /** S5: plain append (`src/load.py:79-84` `to_sql(if_exists="append")`). */
  def appendFact(df: DataFrame, url: String): Unit =
    atTextEdge(df.select(Schemas.fact.fieldNames.map(col): _*))
      .write.mode(SaveMode.Append).jdbc(url, FactTable, props(url))

  /** Fact upsert against the SQL warehouse, same one-evaluation
    * classification as the parquet path ([[Merge.classifyFact]]): absent
    * keys append via Spark's JDBC writer; changed keys run as batched
    * UPDATEs per partition (`src/load.py:86-103`). Returns the reference's
    * stats dict. */
  def mergeFact(spark: SparkSession, incoming: DataFrame, url: String): Map[String, Long] = {
    ensureTables(url)
    val classified = Merge.classifyFact(incoming, scanFact(spark, url),
      Seq("series_id", "date"), "value")
    val stats = classified.report("insert", "update", "unchanged")
    if (stats("inserted") > 0) appendFact(classified.rowsOf("insert"), url)

    val updates = atTextEdge(
      classified.rowsOf("update").select(Schemas.fact.fieldNames.map(col): _*))
    val driverClass = dialectOf(url).driverClass // resolve on the driver,
    if (stats("updated") > 0) updates.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.hasNext) {
        Class.forName(driverClass) // load inside each executor JVM
        val conn = DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false) // one transaction per partition
          val ps = conn.prepareStatement(
            s"""UPDATE $FactTable SET "value" = ?, "series_name" = ?, "source" = ?
               | WHERE "series_id" = ? AND "date" = ?""".stripMargin)
          try {
            rows.foreach { r =>
              val v = r.get(r.fieldIndex("value"))
              if (v == null) ps.setNull(1, java.sql.Types.DOUBLE)
              else ps.setDouble(1, v.asInstanceOf[Double])
              ps.setString(2, r.getString(r.fieldIndex("series_name")))
              ps.setString(3, r.getString(r.fieldIndex("source")))
              ps.setString(4, r.getString(r.fieldIndex("series_id")))
              ps.setString(5, r.getString(r.fieldIndex("date")))
              ps.addBatch()
            }
            ps.executeBatch()
            conn.commit()
          } finally ps.close()
        } finally conn.close()
      }
    }

    stats
  }

  /** Dim insert-if-absent over JDBC (`src/load.py:108-134`). */
  def mergeDim(spark: SparkSession, incoming: DataFrame, url: String): Map[String, Long] = {
    ensureTables(url)
    val classified = Merge.classifyDim(incoming, scanDim(spark, url), Seq("series_id"))
    val stats = classified.report("insert", "unchanged")
    if (stats("inserted") > 0)
      classified.rowsOf("insert").select(Schemas.dim.fieldNames.map(col): _*)
        .write.mode(SaveMode.Append).jdbc(url, DimTable, props(url))
    stats
  }
}
