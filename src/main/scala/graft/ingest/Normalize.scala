package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Schemas

/** Source normalizers: raw API JSON → the canonical 5-column fact frame
  * `(series_id, series_name, date, value, source)`.
  *
  * Re-expresses `/root/reference/src/transform.py` as lazy DataFrame plans:
  * T1/T6 nested explodes, T2 date cast, T3 null-on-error numeric cast
  * (FRED "." and BLS "-" markers → null), T4 literal stamping, T5 column
  * order, T7 date-from-parts, T8 reverse-map lookup with fallback, T10
  * oldest-first ordering. All built-ins — the plans stay fully inside
  * whole-stage codegen and Catalyst prunes the unused raw fields at the
  * scan. A raw frame is one API response, so T10 sorts it within a single
  * partition (`coalesce(1)`): a total order with no sampling job and no
  * shuffle.
  */
object Normalize {

  val factColumns: Seq[String] =
    Seq("series_id", "series_name", "date", "value", "source")

  /** Parse a raw FRED `series/observations` response.
    * (`src/transform.py:4-30`; fixture FIXTURES.md A1.) */
  def fredObservations(raw: DataFrame, seriesId: String, seriesName: String): DataFrame =
    raw.coalesce(1).select(explode(col("observations")).as("o"))
      .select(
        lit(seriesId).as("series_id"),
        lit(seriesName).as("series_name"),
        to_date(col("o.date"), "yyyy-MM-dd").as("date"),
        expr("try_cast(o.value AS double)").as("value"), // "." -> null
        lit("FRED").as("source"))
      .sortWithinPartitions("date")

  /** Parse a raw BLS v2 batch response for all requested series.
    * (`src/transform.py:33-70`; fixture FIXTURES.md A2.) BLS data arrives
    * most-recent-first and is re-sorted oldest-first; dates are synthesized
    * first-of-month from year + "Mxx" period; unknown seriesIDs fall back
    * to the id as the name (`src/transform.py:60`). */
  def blsBatch(raw: DataFrame, seriesMap: Seq[(String, String)]): DataFrame = {
    val idToName = typedlit(seriesMap.map(_.swap).toMap)
    raw.coalesce(1)
      .select(explode(col("Results.series")).as("s"))
      .select(col("s.seriesID").as("series_id"), explode(col("s.data")).as("d"))
      .select(
        col("series_id"),
        coalesce(element_at(idToName, col("series_id")), col("series_id"))
          .as("series_name"),
        make_date(
          expr("try_cast(d.year AS int)"),
          expr("try_cast(substring(d.period, 2, 2) AS int)"),
          lit(1)).as("date"),
        expr("try_cast(d.value AS double)").as("value"), // "-" -> null
        lit("BLS").as("source"))
      .sortWithinPartitions("date", "series_id")
  }

  /** Read one raw JSON document string into a typed single-row frame. */
  def readFredJson(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.fredResponse).json(Seq(json).toDS)
  }

  def readBlsJson(spark: SparkSession, json: String): DataFrame = {
    import spark.implicits._
    spark.read.schema(Schemas.blsResponse).json(Seq(json).toDS)
  }
}
