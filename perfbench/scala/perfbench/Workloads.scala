package perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.{LocalDate, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.etl.{AtomicTable, Pipeline}
import graft.ingest.FileSeriesSource
import graft.model.Schemas

/** A workload: repeated set-up (the first load users pay once), then
  * rounds of a fixed list of ops, then the checks' raw material. */
trait Workload {
  def setupReps: Int
  def setup(rep: Int): Map[String, Any]
  def hasRound(r: Int): Boolean
  def round(r: Int, traced: Boolean): Seq[Map[String, Any]]
  /** Runs after the timed region: dumps for the checks, storage. */
  def finish(): Map[String, Any]
}

/** `etl_daily`: `Pipeline.run` backfills an empty warehouse, then runs
  * day after day over generated FRED/BLS payloads (one op per day). */
final class EtlDaily(spark: SparkSession, inputs: Path, work: Path, trace: Option[Trace])
    extends Workload {
  private val spec = Json.read(inputs.resolve("series.json"))
  private def pairs(key: String): Seq[(String, String)] =
    spec(key).asInstanceOf[Seq[Seq[String]]].map(p => (p(0), p(1)))
  private val fred = pairs("fred")
  private val bls = pairs("bls")
  private val baseDate = LocalDate.parse(spec("base_date").toString)
  private val days = spec("days").toString.toInt
  private val perRound = spec("days_per_round").toString.toInt
  val setupReps: Int = spec("setup_reps").toString.toInt
  private var layoutRoot: Path = _
  private var firstRoundBytes = 0L

  private def layout(root: Path) = Pipeline.Layout(
    root.resolve("state").toString, root.resolve("raw").toString,
    root.resolve("warehouse").toString)

  private def report(r: Pipeline.RunReport): Map[String, Any] = Map(
    "fact" -> r.factStats, "dim" -> r.dimStats, "skipped" -> r.skippedSeries)

  private def runDay(day: Int): Pipeline.RunReport = {
    val today = baseDate.plusDays(day.toLong)
    Pipeline.run(spark, new FileSeriesSource(inputs.resolve(f"day$day%03d")),
      layout(layoutRoot), fred, bls, today, today.atTime(12, 0).toInstant(ZoneOffset.UTC))
  }

  def setup(rep: Int): Map[String, Any] = {
    layoutRoot = work.resolve(s"etl/rep$rep")
    val t0 = Clock.now()
    val r = runDay(0)
    Map("seconds" -> (Clock.now() - t0), "report" -> report(r))
  }

  def hasRound(r: Int): Boolean = (r + 1) * perRound <= days

  def round(r: Int, traced: Boolean): Seq[Map[String, Any]] = {
    val ops = (1 to perRound).map { i =>
      val day = r * perRound + i
      val before = if (traced) Disk.bytes(layoutRoot) else 0L
      val rec = OpRunner.run(r, "etl_daily", trace) {
        val rep = trace.fold(runDay(day))(_.span("etl.run")(runDay(day)))
        Map("day" -> day, "report" -> report(rep))
      }
      if (traced) rec + ("bytes_written" -> (Disk.bytes(layoutRoot) - before)) else rec
    }
    if (r == 0) firstRoundBytes = Disk.bytes(layoutRoot) // backfill + one round
    ops
  }

  def finish(): Map[String, Any] = {
    val dumps = work.resolve("dumps")
    val l = layout(layoutRoot)
    AtomicTable.read(spark, l.factPath, Schemas.fact).coalesce(1)
      .write.parquet(dumps.resolve("etl_fact").toString)
    spark.read.parquet(l.dimPath).coalesce(1).write.parquet(dumps.resolve("etl_dim").toString)
    Map("storage_bytes" -> firstRoundBytes)
  }
}

/** `query_ops`: rounds over registry queries, each op
  * `SparkEntry.queries(name)(spark, dir)` then `collect()`.
  *
  * Every round reads the input tables through a new directory of hard
  * links. The staged builds inside `queries.*` are memoized per directory
  * string, so each op pays its own build, as a user running the query once
  * does; the round's staged tables are measured and deleted after it.
  */
final class QueryRounds(spark: SparkSession, inputs: Path, work: Path, trace: Option[Trace],
    names: Seq[String]) extends Workload {
  private val tables = inputs.resolve("tables")
  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
  private val setupRows = mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
  private var storage = 0L
  val setupReps = 1

  private def freshDir(tag: String): String = {
    val d = work.resolve(s"alias/$tag")
    Files.createDirectories(d)
    Files.list(tables).forEach(f => Files.createLink(d.resolve(f.getFileName), f))
    d.toString
  }

  private def runOps(r: Int, dir: String, keep: Boolean): Seq[Map[String, Any]] = names.map { name =>
    var rows: Array[Row] = null
    var schema: org.apache.spark.sql.types.StructType = null
    var constructS, execS = 0.0
    val rec = OpRunner.run(r, name, trace) {
      val t0 = Clock.now()
      val df = trace.fold(SparkEntry.queries(name)(spark, dir))(
        _.span("queries.construct")(SparkEntry.queries(name)(spark, dir)))
      val t1 = Clock.now()
      rows = trace.fold(df.collect())(_.span("queries.exec")(df.collect()))
      schema = df.schema
      constructS = t1 - t0
      execS = Clock.now() - t1
      Map.empty[String, Any]
    }
    spark.catalog.clearCache()
    if (rows == null) rec
    else {
      if (keep) setupRows(name) = (rows, schema)
      rec ++ Map("rows" -> rows.length, "fingerprint" -> Fingerprint.of(schema.fieldNames.toSeq, rows),
        "construct_s" -> constructS, "exec_s" -> execS)
    }
  }

  /** Bytes the round's staged tables occupy; then deletes them. */
  private def stagedBytesThenClear(): Long = {
    val b = Disk.bytes(tmp)
    Files.list(tmp).iterator().asScala.toList.foreach(Disk.delete)
    b
  }

  def setup(rep: Int): Map[String, Any] = {
    val dir = freshDir("setup")
    val t0 = Clock.now()
    val ops = runOps(-1, dir, keep = true)
    val seconds = Clock.now() - t0
    stagedBytesThenClear()
    Map("seconds" -> seconds, "ops" -> ops)
  }

  def hasRound(r: Int): Boolean = true

  def round(r: Int, traced: Boolean): Seq[Map[String, Any]] = {
    val ops = runOps(r, freshDir(s"r$r"), keep = false)
    val bytes = stagedBytesThenClear()
    if (r == 0) storage = bytes
    ops
  }

  def finish(): Map[String, Any] = {
    val dumps = work.resolve("dumps")
    for ((name, (rows, schema)) <- setupRows)
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.parquet(dumps.resolve(name).toString)
    val oracle = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Json.write(dumps.resolve("oracle_sql.json"), oracle)
    Map("storage_bytes" -> storage)
  }
}
