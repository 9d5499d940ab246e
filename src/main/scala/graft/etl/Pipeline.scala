package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDate}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.{Normalize, SeriesSource, State}
import graft.model.Schemas
import graft.model.Schemas.ExtractionState

/** The 3-phase pipeline driver (O1-O3, `/root/reference/src/main.py:18-74`)
  * re-expressed Spark-first: extract is driver-side HTTP + raw-zone
  * snapshots + state commits; transform builds one lazy fact plan that
  * load evaluates exactly once, in one checkpointed dedupe + classify
  * ([[Merge.classifyFact]]). Phase failures abort the run with a
  * phase-tagged error; a single bad FRED series is skipped, not fatal
  * (O2, `src/main.py:41-47`).
  */
object Pipeline {

  final case class RunReport(
      factStats: Map[String, Long],
      dimStats: Map[String, Long],
      skippedSeries: Seq[String])

  final case class Layout(stateDir: String, rawDir: String, warehouseDir: String) {
    def factPath: String = s"$warehouseDir/fact_economic_observations"
    def dimPath: String = s"$warehouseDir/dim_series"
  }

  /** Extract one FRED series: fetch (with offset pushdown), hash-compare,
    * snapshot, advance state (`src/extract.py:69-122`). Returns the raw
    * JSON whether or not it changed — transform always runs
    * (`src/extract.py:102`). */
  def extractFred(seriesId: String, source: SeriesSource, store: State.Store,
      rawDir: Path, today: LocalDate, now: Instant): String = {
    val prev = store.load("fred", seriesId)
    val json = source.fetchFred(seriesId, prev.flatMap(_.lastObservationDate))
    val obs = State.fredObservations(json)
    val hash = State.contentHash(obs)
    if (!prev.exists(_.lastHash == hash)) {
      Files.createDirectories(rawDir)
      Files.writeString(rawDir.resolve(
        s"FRED_${seriesId}_${today.toString.replace('-', '_')}.json"), json)
    }
    val newest = State.lastObservationDate(obs)
    store.save(ExtractionState("fred", seriesId,
      State.advanceOffset(prev.flatMap(_.lastObservationDate), newest),
      hash, now.toString))
    json
  }

  /** Extract the BLS batch: whole-response hash, app-level status check
    * distinct from transport errors (`src/extract.py:129-175`). */
  def extractBls(seriesIds: Seq[String], source: SeriesSource, store: State.Store,
      rawDir: Path, today: LocalDate, now: Instant, startYear: Int, endYear: Int): String = {
    val json = source.fetchBls(seriesIds, startYear, endYear)
    if (!json.contains("\"REQUEST_SUCCEEDED\""))
      throw new RuntimeException(s"BLS API error: status not REQUEST_SUCCEEDED")
    val hash = State.contentHash(json)
    val prev = store.load("bls", "batch")
    if (!prev.exists(_.lastHash == hash)) {
      Files.createDirectories(rawDir)
      Files.writeString(rawDir.resolve(
        s"BLS_batch_${today.toString.replace('-', '_')}.json"), json)
    }
    store.save(ExtractionState("bls", "batch", None, hash, now.toString))
    json
  }

  /** Load phase: join-based MERGE into the transactional parquet warehouse
    * (AtomicTable), rewriting ONLY the source partitions that actually
    * changed — the R1 hash-skip idea applied at the storage layer: a
    * one-series revision must not rewrite the other sources' terabytes.
    * Stats, changed sources and upserted rows all come from the one
    * checkpointed [[Merge.classifyFact]]. The commit is AtomicTable's
    * single version-pointer rename, matching the reference's
    * one-transaction MERGE (`src/load.py:86-103`). */
  def mergeFact(spark: SparkSession, incoming: DataFrame, factPath: String): Map[String, Long] = {
    val existing = AtomicTable.read(spark, factPath, Schemas.fact)
    val keys = Seq("series_id", "date")
    val classified = Merge.classifyFact(incoming, existing, keys, "value")
    // unchanged partitions are neither read again nor rewritten
    val sources = classified.counts.keySet.collect { case (s, a) if a != "unchanged" => s }
    val changed = col("source").isInCollection(sources)
    if (sources.nonEmpty)
      AtomicTable.replacePartitions(spark, factPath, Merge.upsert(existing.filter(changed),
        classified.rows.filter(changed).drop("action"), keys), "source")
    classified.report("insert", "update", "unchanged")
  }

  /** Dim load: insert-if-absent, append-only (`src/load.py:108-134`). */
  def mergeDim(spark: SparkSession, incoming: DataFrame, dimPath: String): Map[String, Long] = {
    val existing =
      if (Files.exists(Paths.get(dimPath))) spark.read.parquet(dimPath)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.dim)
    val classified = Merge.classifyDim(incoming, existing, Seq("series_id"))
    val stats = classified.report("insert", "unchanged")
    if (stats("inserted") > 0)
      classified.rowsOf("insert").write.mode(SaveMode.Append).parquet(dimPath)
    stats
  }

  /** Full run: extract → transform → load with the reference's failure
    * semantics (phase-tagged abort, per-series skip). */
  def run(spark: SparkSession, source: SeriesSource, layout: Layout,
      fredSeries: Seq[(String, String)], blsSeries: Seq[(String, String)],
      today: LocalDate, now: Instant,
      blsStartYear: Int = 2021): RunReport = {

    val store = State.Store(layout.stateDir)
    val rawDir = Paths.get(layout.rawDir)

    // Phase 1: extract (driver-side; BLS aborts the phase, FRED series skip)
    var skipped = List.empty[String]
    val fredJsons: Seq[(String, String, String)] =
      try {
        fredSeries.flatMap { case (name, id) =>
          try Some((id, name, extractFred(id, source, store, rawDir, today, now)))
          catch {
            case NonFatal(_) => skipped ::= id; None
          }
        }
      } catch {
        case NonFatal(e) => throw new RuntimeException("Pipeline failed during extract", e)
      }
    val blsJson =
      try extractBls(blsSeries.map(_._2), source, store, rawDir, today, now,
        blsStartYear, today.getYear)
      catch {
        case NonFatal(e) => throw new RuntimeException("Pipeline failed during extract", e)
      }

    // Phase 2: transform (lazy plan construction only)
    val (fact, dim) =
      try {
        val fredFrames = fredJsons.map { case (id, name, json) =>
          Normalize.fredObservations(Normalize.readFredJson(spark, json), id, name)
        }
        val blsFrame = Normalize.blsBatch(Normalize.readBlsJson(spark, blsJson), blsSeries)
        val fact = Transforms.combineFactTables(fredFrames :+ blsFrame)
        val dim = Transforms.buildDimSeries(spark, fredSeries, blsSeries)
        (fact, dim)
      } catch {
        case NonFatal(e) => throw new RuntimeException("Pipeline failed during transform", e)
      }

    // Phase 3: load (the only Spark actions in the run)
    try {
      val factStats = mergeFact(spark, fact, layout.factPath)
      val dimStats = mergeDim(spark, dim, layout.dimPath)
      RunReport(factStats, dimStats, skipped.reverse)
    } catch {
      case NonFatal(e) => throw new RuntimeException("Pipeline failed during load", e)
    }
  }
}
