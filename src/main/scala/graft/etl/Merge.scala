package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-based MERGE — the Spark re-expression of the reference's row-loop
  * upsert (`/root/reference/src/load.py:42-134`). The reference pulls the
  * whole target table into a Python dict and classifies row-by-row (its
  * acknowledged scaling cliff, `src/load.py:121-122`); here classification
  * is one left-outer join and the new target state is an anti-join ∪
  * incoming, both shuffle-partitioned on the merge keys — at 100 TB these
  * become sort-merge joins co-partitioned by key, with no driver-side state.
  */
object Merge {

  /** ε for value-change detection (`/root/reference/src/load.py:35`).
    * "Unchanged" is ε-approximate, not bitwise — documented divergence-free
    * with the reference. */
  val Epsilon = 1e-9

  /** Null-safe ε-equality (L1, `src/load.py:27-35`): both-null → equal,
    * one-null → unequal (a null-valued abs() comparison is null → falls
    * through to the update branch), else |a−b| < ε. */
  def valueUnchanged(a: Column, b: Column): Column =
    (a.isNull && b.isNull) || (abs(a - b) < lit(Epsilon))

  /** Classify each incoming row against existing state on `keys`:
    * absent → insert, ε-equal value → unchanged, else update
    * (L3, `src/load.py:68-77`). Only `valueCol` drives the decision; an
    * update still rewrites every other column (reference `src/load.py:92`)
    * — encoded in [[upsert]] where the incoming row wins wholesale. */
  def classify(incoming: DataFrame, existing: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame = {
    val ex = existing.select(
      keys.map(col) ++ Seq(col(valueCol).as("_existing_value"), lit(1).as("_present")): _*)
    incoming.join(ex, keys, "left_outer")
      .withColumn("action",
        when(col("_present").isNull, lit("insert"))
          .when(valueUnchanged(col(valueCol), col("_existing_value")), lit("unchanged"))
          .otherwise(lit("update")))
      .drop("_existing_value", "_present")
  }

  /** Per-action counts — the run report of `src/load.py:53,105`. */
  def stats(classified: DataFrame): DataFrame =
    classified.groupBy("action").agg(count(lit(1)).as("n"))

  /** New target state: rows of `existing` not matched by `incoming`, plus
    * all of `incoming` (update-wins, insert included). Equivalent to
    * MERGE INTO ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *.
    * Written with mode("overwrite") by the caller; on Delta/Iceberg this
    * would be a native MERGE INTO. */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.join(incoming, keys, "left_anti")
      .unionByName(incoming.select(existing.columns.map(col): _*))

  /** Dim insert-if-absent (L4, `src/load.py:108-134`): new rows only;
    * existing rows are never overwritten. The one anti-join in the
    * reference. */
  def insertIfAbsent(incoming: DataFrame, existing: DataFrame,
      keys: Seq[String]): DataFrame =
    incoming.join(existing, keys, "left_anti")

  /** A classified batch evaluated once: the rows (with `action`) eagerly
    * checkpointed, and their count per (source, action) from one collect
    * over the checkpoint — stats and written rows share one evaluation. */
  final case class Classified(rows: DataFrame, counts: Map[(String, String), Long]) {
    /** Per-action counts summed over sources, under the run report's names
      * (`src/load.py:53,105`); an action with no rows reports 0. */
    def report(actions: String*): Map[String, Long] = actions.map { a =>
      Map("insert" -> "inserted", "update" -> "updated").getOrElse(a, a) ->
        counts.collect { case ((_, `a`), n) => n }.sum
    }.toMap

    def rowsOf(action: String): DataFrame =
      rows.filter(col("action") === action).drop("action")
  }

  private def evaluate(classified: DataFrame): Classified = {
    val rows = classified.localCheckpoint(eager = true)
    val counts = rows.groupBy("source", "action").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    Classified(rows, counts)
  }

  /** The fact load's classification, shared by the parquet and JDBC
    * sinks: dedupe `incoming` last-wins on `keys` (largest value first,
    * nulls last) and [[classify]] it against `existing`, evaluated once. */
  def classifyFact(incoming: DataFrame, existing: DataFrame, keys: Seq[String],
      valueCol: String): Classified =
    evaluate(classify(lastWinsByKey(incoming, keys, col(valueCol).desc_nulls_last),
      existing, keys, valueCol))

  /** The dim load's [[insertIfAbsent]], evaluated once: [[classify]] on a
    * value that never changes, so a key absent from `existing` is an
    * insert and every other row is unchanged (never overwritten). */
  def classifyDim(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): Classified =
    evaluate(classify(incoming.withColumn("_v", lit(0.0)),
      existing.select(keys.map(col) :+ lit(0.0).as("_v"): _*), keys, "_v").drop("_v"))

  /** Reference risk #6 (SURVEY.md §7.4): duplicate keys inside one incoming
    * batch would violate the reference's PK; we resolve last-wins by an
    * explicit order before merging. */
  def lastWinsByKey(df: DataFrame, keys: Seq[String], order: Column*): DataFrame =
    df.withColumn("_rn",
        row_number().over(Window.partitionBy(keys.map(col): _*).orderBy(order: _*)))
      .filter(col("_rn") === 1).drop("_rn")
}
