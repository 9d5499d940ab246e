package graft.ingest

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas.ExtractionState

/** Port of the reference's extract-layer state tests
  * (`/root/reference/tests/test_extract.py`). */
class StateSpec extends AnyFunSuite {

  test("content hash is deterministic and differs across payloads") {
    val a = State.contentHash("""{"x": 1, "y": [1, 2]}""")
    assert(a === State.contentHash("""{"x": 1, "y": [1, 2]}"""))
    assert(a !== State.contentHash("""{"x": 2, "y": [1, 2]}"""))
    assert(a.length === 64)
  }

  test("content hash is key-order independent but array-order sensitive") {
    assert(State.contentHash("""{"x": 1, "y": 2}""") ===
      State.contentHash("""{"y": 2, "x": 1}"""))
    assert(State.contentHash("""{"y": [1, 2]}""") !==
      State.contentHash("""{"y": [2, 1]}"""))
  }

  test("retry: retries matching errors with exponential backoff, then succeeds") {
    var calls = 0
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = State.retry(attempts = 3, baseDelayMs = 1000,
      retryOn = _.isInstanceOf[java.io.IOException], sleep = delays += _) {
      calls += 1
      if (calls < 3) throw new java.io.IOException("transient")
      "ok"
    }
    assert(out === "ok" && calls === 3)
    assert(delays.toSeq === Seq(1000L, 2000L))
  }

  test("retry: non-matching exception propagates immediately") {
    var calls = 0
    intercept[IllegalArgumentException] {
      State.retry(attempts = 3, retryOn = _.isInstanceOf[java.io.IOException],
        sleep = _ => ()) {
        calls += 1
        throw new IllegalArgumentException("fatal")
      }
    }
    assert(calls === 1)
  }

  test("retry: exhausting attempts rethrows the last error") {
    var calls = 0
    intercept[java.io.IOException] {
      State.retry(attempts = 3, sleep = _ => ()) {
        calls += 1
        throw new java.io.IOException("always")
      }
    }
    assert(calls === 3)
  }

  test("offset advance: empty batch preserves previous value") {
    assert(State.advanceOffset(Some("2024-02-01"), None) === Some("2024-02-01"))
    assert(State.advanceOffset(Some("2024-02-01"), Some("2024-03-01")) === Some("2024-03-01"))
    assert(State.advanceOffset(None, None) === None)
  }

  test("store round-trips state; missing file loads as None") {
    val dir = Files.createTempDirectory("graft-state")
    val store = State.Store(dir.toString)
    assert(store.load("fred", "UNRATE") === None)
    val st = ExtractionState("fred", "UNRATE", Some("2024-02-01"), "abc123", "2024-03-01T00:00:00Z")
    store.save(st)
    assert(store.load("fred", "UNRATE") === Some(st))
    store.save(st.copy(lastObservationDate = None))
    assert(store.load("fred", "UNRATE").get.lastObservationDate === None)
  }

  test("FRED observations extraction isolates the array for hashing") {
    val node = State.fredObservations(Fixtures.fredPayload)
    val obs = node.toString
    assert(obs.startsWith("[") && obs.contains("2024-01-01"))
    assert(!obs.contains("Percent")) // response metadata not hashed
    // hashing the parsed array equals hashing its serialized text
    assert(State.contentHash(node) === State.contentHash(obs))
    assert(State.lastObservationDate(node) === Some("2024-03-01"))
  }
}
