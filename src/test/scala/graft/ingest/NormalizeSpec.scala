package graft.ingest

import graft.SparkSuite

/** Port of the reference's transform tests
  * (`/root/reference/tests/test_transform.py`) against the Spark
  * normalizers. */
class NormalizeSpec extends SparkSuite {

  private def fred = Normalize.fredObservations(
    Normalize.readFredJson(spark, Fixtures.fredPayload), "UNRATE", "UNRATE")

  private def bls = Normalize.blsBatch(
    Normalize.readBlsJson(spark, Fixtures.blsPayload), Fixtures.blsSeriesMap)

  test("FRED: exact column contract and row count") {
    assert(fred.columns.toSeq === Normalize.factColumns)
    assert(fred.count() === 3)
  }

  test("FRED: '.' missing marker becomes null; numbers parse as double") {
    val rows = fred.orderBy("date").collect()
    assert(rows(0).getDouble(3) === 5.0)
    assert(rows(1).isNullAt(3))
    assert(rows(2).getDouble(3) === 5.2)
  }

  test("FRED: response metadata fields do not survive normalization") {
    assert(!fred.columns.exists(_.startsWith("realtime")))
  }

  test("FRED: literal stamping of id/name/source") {
    val r = fred.collect().head
    assert(r.getString(0) === "UNRATE" && r.getString(1) === "UNRATE" &&
      r.getString(4) === "FRED")
  }

  test("BLS: two series x three observations explode to 6 rows") {
    assert(bls.columns.toSeq === Normalize.factColumns)
    assert(bls.count() === 6)
  }

  test("BLS: date synthesized first-of-month from year+period") {
    val dates = bls.orderBy("date", "series_id").collect().map(_.getDate(2).toString)
    assert(dates === Array("2024-01-01", "2024-01-01", "2024-02-01",
      "2024-02-01", "2024-03-01", "2024-03-01"))
  }

  test("BLS: most-recent-first input comes out oldest-first") {
    val first = bls.collect().head
    assert(first.getDate(2).toString === "2024-01-01")
  }

  test("BLS: reverse-map lookup with fallback to id for unknown series") {
    val names = bls.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(names("CUUR0000SA0") === "CPI_URBAN")
    assert(names("CES0500000003") === "AVG_WAGES")
    val unknown = Normalize.blsBatch(
      Normalize.readBlsJson(spark, Fixtures.blsPayload), Seq("CPI_URBAN" -> "CUUR0000SA0"))
    val fallback = unknown.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fallback("CES0500000003") === "CES0500000003")
  }

  test("BLS: '-' missing marker becomes null") {
    val df = Normalize.blsBatch(
      Normalize.readBlsJson(spark, Fixtures.blsMissingPayload), Fixtures.blsSeriesMap)
    assert(df.collect().head.isNullAt(3))
  }

  // a raw frame of several documents spread over several partitions: the
  // interleaved dates make any per-partition sort come out unordered, so
  // only a sort over the whole frame passes
  private def spread(docs: Seq[String], schema: org.apache.spark.sql.types.StructType) = {
    import spark.implicits._
    val raw = spark.read.schema(schema).json(spark.sparkContext.parallelize(docs, 2).toDS())
    assert(raw.rdd.glom().collect().count(_.nonEmpty) === 2)
    raw
  }

  test("FRED: multi-document, multi-partition input still comes out oldest-first") {
    def doc(dates: String*) = dates.map(d => s"""{"date": "$d", "value": "1.0"}""")
      .mkString("""{"observations": [""", ", ", "]}")
    val raw = spread(Seq(doc("2024-03-01", "2024-01-01"), doc("2024-04-01", "2024-02-01")),
      graft.model.Schemas.fredResponse)
    val dates = Normalize.fredObservations(raw, "X", "X").collect().map(_.getDate(2).toString)
    assert(dates.toSeq === Seq("2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01"))
  }

  test("BLS: multi-document, multi-partition input is ordered by (date, series_id)") {
    def doc(id: String, periods: String*) = periods
      .map(p => s"""{"year": "2024", "period": "$p", "value": "1.0"}""")
      .mkString(s"""{"Results": {"series": [{"seriesID": "$id", "data": [""", ", ", "]}]}}")
    val raw = spread(Seq(doc("S2", "M03", "M01"), doc("S1", "M02", "M01")),
      graft.model.Schemas.blsResponse)
    val keys = Normalize.blsBatch(raw, Seq.empty).collect()
      .map(r => (r.getDate(2).toString, r.getString(0)))
    assert(keys.toSeq === Seq(("2024-01-01", "S1"), ("2024-01-01", "S2"),
      ("2024-02-01", "S1"), ("2024-03-01", "S2")))
  }
}
