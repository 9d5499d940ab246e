package graft.ingest

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.model.Schemas.ExtractionState

/** Ingest-reliability operators (SURVEY.md §2.2) — deliberately driver-side
  * state machinery, NOT shoehorned into Catalyst: the state is O(series
  * count) and plays the role of a streaming checkpoint/offset commit.
  *
  * R1 content hash (`/root/reference/src/extract.py:20-23`): sha-256 over a
  * canonical (key-sorted) JSON serialization, so hashes are independent of
  * payload key order. R2 incremental offset, R3 retry with exponential
  * backoff, R4 watermark-style offset advance with empty-batch
  * preservation.
  */
object State {

  private val mapper = new ObjectMapper()

  /** Recursively key-sort a JSON tree (objects only; array order is
    * semantic and preserved). */
  private def canonicalize(node: JsonNode): JsonNode = node match {
    case obj: ObjectNode =>
      val sorted = mapper.createObjectNode()
      obj.properties().asScala.toSeq.sortBy(_.getKey).foreach { e =>
        sorted.set[JsonNode](e.getKey, canonicalize(e.getValue))
      }
      sorted
    case arr if arr.isArray =>
      val out = mapper.createArrayNode()
      arr.elements().asScala.foreach(e => out.add(canonicalize(e)))
      out
    case other => other
  }

  /** R1: hex sha-256 of the canonical serialization of a JSON document
    * (key-order independent — `tests/test_extract.py:29-31`). */
  def contentHash(json: String): String = contentHash(mapper.readTree(json))

  /** [[contentHash]] of an already-parsed document. */
  def contentHash(node: JsonNode): String = {
    val canonical = mapper.writeValueAsString(canonicalize(node))
    MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }

  /** The `observations` array of a FRED response, parsed once — the
    * reference hashes only the observations, not response metadata
    * (`src/extract.py:97`). A response without the array reads as empty. */
  def fredObservations(json: String): JsonNode =
    Option(mapper.readTree(json).get("observations")).getOrElse(mapper.createArrayNode())

  /** Date of the last (newest) observation; None when there is none. */
  def lastObservationDate(obs: JsonNode): Option[String] =
    if (!obs.isArray || obs.size() == 0) None
    else Option(obs.get(obs.size() - 1).get("date")).map(_.asText)

  /** R3: retry with exponential backoff — `attempts` tries, sleeping
    * base·2^i between them, retrying only when `retryOn` matches; other
    * exceptions propagate immediately (`src/extract.py:49-62`). */
  def retry[T](attempts: Int = 3, baseDelayMs: Long = 1000,
      retryOn: Throwable => Boolean = _ => true,
      sleep: Long => Unit = Thread.sleep)(f: => T): T = {
    var i = 0
    while (true) {
      try return f
      catch {
        case e: Throwable if retryOn(e) && i < attempts - 1 =>
          sleep(baseDelayMs * (1L << i))
          i += 1
        case e: Throwable => throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** R4: advance the stored offset to the newest observation date; an
    * empty batch preserves the previous offset
    * (`src/extract.py:108-113`, `tests/test_extract.py:249-265`). */
  def advanceOffset(prev: Option[String], newestInBatch: Option[String]): Option[String] =
    newestInBatch.orElse(prev)

  /** Per-series KV state persisted as one small JSON file per series —
    * `{source}_{id}_metadata.json` (`src/extract.py:26-39`). State is
    * O(series count); plain driver I/O, no Spark job. */
  final class Store(dir: Path) {
    Files.createDirectories(dir)

    private def fileFor(source: String, seriesId: String): Path =
      dir.resolve(s"${source.toLowerCase}_${seriesId}_metadata.json")

    def load(source: String, seriesId: String): Option[ExtractionState] = {
      val f = fileFor(source, seriesId)
      if (!Files.exists(f)) None
      else {
        val node = mapper.readTree(Files.readString(f))
        Some(ExtractionState(
          source, seriesId,
          Option(node.get("last_observation_date")).filterNot(_.isNull).map(_.asText),
          Option(node.get("last_hash")).map(_.asText).getOrElse(""),
          Option(node.get("last_updated")).map(_.asText).getOrElse("")))
      }
    }

    def save(state: ExtractionState): Unit = {
      val node = mapper.createObjectNode()
      state.lastObservationDate match {
        case Some(d) => node.put("last_observation_date", d)
        case None => node.putNull("last_observation_date")
      }
      node.put("last_hash", state.lastHash)
      node.put("last_updated", state.lastUpdated)
      Files.writeString(fileFor(state.source, state.seriesId),
        mapper.writeValueAsString(node))
    }
  }

  object Store {
    def apply(dir: String): Store = new Store(Paths.get(dir))
  }
}
