package graft.etl

import java.nio.file.Files
import java.time.{Instant, LocalDate}

import graft.SparkSuite
import graft.ingest.{FileSeriesSource, Fixtures, SeriesSource}

/** End-to-end offline pipeline runs against canned payloads in temp dirs —
  * the Spark analog of `/root/reference/tests/test_main.py` +
  * `tests/test_load.py` integration behavior. */
class PipelineSpec extends SparkSuite {

  private val fredSeries = Seq("UNRATE" -> "UNRATE")
  private val today = LocalDate.parse("2024-03-15")
  private val now = Instant.parse("2024-03-15T12:00:00Z")

  private def freshLayout(): (Pipeline.Layout, java.nio.file.Path) = {
    val base = Files.createTempDirectory("graft-pipe")
    val payloads = base.resolve("payloads")
    Files.createDirectories(payloads)
    Files.writeString(payloads.resolve("fred_UNRATE.json"), Fixtures.fredPayload)
    Files.writeString(payloads.resolve("bls.json"), Fixtures.blsPayload)
    (Pipeline.Layout(
      s"$base/state", s"$base/raw", s"$base/warehouse"), payloads)
  }

  test("first run inserts everything; rerun is fully unchanged (idempotent)") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    val r1 = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r1.factStats("inserted") === 9) // 3 FRED + 6 BLS
    assert(r1.factStats("updated") === 0)
    assert(r1.dimStats("inserted") === 3) // 1 FRED + 2 BLS series
    assert(r1.skippedSeries.isEmpty)

    val r2 = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r2.factStats("unchanged") === 9)
    assert(r2.factStats("inserted") === 0 && r2.factStats("updated") === 0)
    assert(r2.dimStats("inserted") === 0 && r2.dimStats("unchanged") === 3)
  }

  test("value revision becomes an update; null persists as null") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)

    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      Fixtures.fredPayload.replace("\"5.2\"", "\"5.9\""))
    val r2 = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r2.factStats("updated") === 1)
    assert(r2.factStats("unchanged") === 8)

    val fact = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
    val revised = fact.filter("series_id = 'UNRATE' AND date = DATE'2024-03-01'")
      .collect().head
    assert(revised.getDouble(3) === 5.9)
    assert(fact.filter("series_id = 'UNRATE' AND value IS NULL").count() === 1)
  }

  test("raw snapshots land once per content hash; state advances watermark") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    val raws = Files.list(java.nio.file.Paths.get(layout.rawDir)).toArray.map(_.toString)
    assert(raws.exists(_.endsWith("FRED_UNRATE_2024_03_15.json")))
    assert(raws.exists(_.endsWith("BLS_batch_2024_03_15.json")))

    val store = graft.ingest.State.Store(layout.stateDir)
    assert(store.load("fred", "UNRATE").get.lastObservationDate === Some("2024-03-01"))

    // unchanged rerun on a later day: no new snapshot (hash-skip)
    val later = LocalDate.parse("2024-03-16")
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, later, now)
    val raws2 = Files.list(java.nio.file.Paths.get(layout.rawDir)).toArray.map(_.toString)
    assert(!raws2.exists(_.contains("2024_03_16")))
  }

  test("fact warehouse is source-partitioned and prunes on source filters") {
    val (layout, payloads) = freshLayout()
    Pipeline.run(spark, new FileSeriesSource(payloads), layout,
      fredSeries, Fixtures.blsSeriesMap, today, now)
    val m = AtomicTable.manifest(java.nio.file.Paths.get(layout.factPath)).get
    assert(m.partitions.keySet === Set("FRED", "BLS"))
    val scan = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
      .filter("source = 'FRED'")
    val plan = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      "source#\\d+ = FRED".r.findFirstIn(plan).isDefined,
      s"expected partition pruning in:\n$plan")
    assert(scan.count() === 3)
  }

  test("a FRED-only revision rewrites only the FRED partition") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    def partFiles(source: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(layout.factPath)
      val dir = root.resolve(AtomicTable.manifest(root).get.partitions(source).head)
      Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    }
    val blsBefore = partFiles("BLS")
    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      Fixtures.fredPayload.replace("\"5.2\"", "\"6.1\""))
    val r = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r.factStats("updated") === 1)
    assert(partFiles("BLS") === blsBefore,
      "BLS partition files must be byte-identical (carried by reference)")
    val fred = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
      .filter("source = 'FRED' AND date = DATE'2024-03-01'").collect()
    assert(fred.head.getDouble(fred.head.fieldIndex("value")) === 6.1)
  }

  test("one day revising a FRED and a BLS series rewrites both partitions in one commit") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    val root = java.nio.file.Paths.get(layout.factPath)
    val before = AtomicTable.manifest(root).get
    Files.writeString(payloads.resolve("fred_UNRATE.json"),
      Fixtures.fredPayload.replace("\"5.2\"", "\"5.9\""))
    Files.writeString(payloads.resolve("bls.json"),
      Fixtures.blsPayload.replace("\"34.85\"", "\"35.10\""))
    val r = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(r.factStats === Map("inserted" -> 0L, "updated" -> 2L, "unchanged" -> 7L))
    val after = AtomicTable.manifest(root).get
    assert(after.version === before.version + 1)
    for (source <- Seq("FRED", "BLS"))
      assert(after.partitions(source) !== before.partitions(source),
        s"the $source partition must be rewritten")
    val fact = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
    def value(id: String) = fact.filter(s"series_id = '$id' AND date = DATE'2024-03-01'")
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(value("UNRATE") === Seq(5.9))
    assert(value("CES0500000003") === Seq(35.10))

    val rerun = Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    assert(rerun.factStats === Map("inserted" -> 0L, "updated" -> 0L, "unchanged" -> 9L))
    assert(AtomicTable.currentVersion(root) === Some(after.version),
      "a no-change rerun must not commit")
  }

  test("a crash before the version swap leaves the table at the old version") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    Pipeline.run(spark, src, layout, fredSeries, Fixtures.blsSeriesMap, today, now)
    def snapshot(): Seq[String] =
      AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
        .collect().map(_.toString).sorted.toSeq
    val before = snapshot()
    val v1 = AtomicTable.currentVersion(java.nio.file.Paths.get(layout.factPath))

    // stage a revision but die at the worst moment: data durable, manifest
    // written, version pointer NOT yet swapped
    val revised = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
      .filter("source = 'FRED'")
      .withColumn("value", org.apache.spark.sql.functions.lit(99.9))
    val boom = intercept[RuntimeException] {
      AtomicTable.replacePartitions(spark, layout.factPath, revised, "source",
        beforeCommit = () => throw new RuntimeException("boom: killed mid-commit"))
    }
    assert(boom.getMessage.contains("killed mid-commit"))
    assert(AtomicTable.currentVersion(java.nio.file.Paths.get(layout.factPath)) === v1)
    assert(snapshot() === before, "reader must still see the pre-crash version")

    // the retry commits cleanly; the crashed attempt's never-referenced
    // staging dir is reclaimed by the explicit age-gated vacuum (post-r7
    // gc deletes only once-committed dirs, so a CONCURRENT writer's
    // in-flight staging can never be destroyed — WriterRaceSpec)
    AtomicTable.replacePartitions(spark, layout.factPath, revised, "source")
    val after = AtomicTable.read(spark, layout.factPath, graft.model.Schemas.fact)
    assert(after.filter("source = 'FRED' AND value = 99.9").count() === 3)
    assert(after.filter("source = 'BLS'").count() === 6, "BLS partition untouched")
    val root = java.nio.file.Paths.get(layout.factPath)
    AtomicTable.vacuum(root, olderThanMs = 0L)
    val referenced = AtomicTable.manifest(root).get.partitions.values.flatten.toSet
    val onDisk = Files.list(root.resolve("data")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .flatMap(t => Files.list(t).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(Files.isDirectory(_))
        .map(p => s"data/${t.getFileName}/${p.getFileName}"))
    assert(onDisk.toSet === referenced, "GC must leave only referenced partition dirs")
  }

  test("a failing FRED series is skipped, not fatal; BLS failure aborts") {
    val (layout, payloads) = freshLayout()
    val src = new FileSeriesSource(payloads)
    val r = Pipeline.run(spark, src,
      layout, Seq("UNRATE" -> "UNRATE", "MISSING" -> "NOPE"),
      Fixtures.blsSeriesMap, today, now)
    assert(r.skippedSeries === Seq("NOPE"))
    assert(r.factStats("inserted") === 9) // UNRATE + BLS still loaded

    val badBls = new SeriesSource {
      def fetchFred(id: String, start: Option[String]): String = Fixtures.fredPayload
      def fetchBls(ids: Seq[String], sy: Int, ey: Int): String =
        """{"status": "REQUEST_NOT_PROCESSED", "Results": {"series": []}}"""
    }
    val (layout2, _) = freshLayout()
    val e = intercept[RuntimeException] {
      Pipeline.run(spark, badBls, layout2, fredSeries, Fixtures.blsSeriesMap, today, now)
    }
    assert(e.getMessage.contains("extract"))
  }
}
