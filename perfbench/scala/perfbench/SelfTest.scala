package perfbench

/** Drives [[OpRunner]] with one op that throws and one that returns, and
  * prints both records as JSON; test_perfbench.py checks that the throw
  * became a failed op with no latency. Needs no Spark session. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val thrown = OpRunner.run(0, "throws", None) {
      throw new IllegalStateException("deliberate failure")
    }
    val fine = OpRunner.run(0, "returns", None)(Map("rows" -> 1))
    val out = java.nio.file.Paths.get(args(0))
    Json.write(out, Seq(thrown, fine))
  }
}
