package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.Row

/** Runs one op fail-closed: a throw becomes a failed record with no
  * latency, never a fast timing. Checks against expected output happen
  * after the clock stops (here for fingerprints, in run.py for reports). */
object OpRunner {
  private var nextOp = 0L

  /** Wall and process CPU seconds spent inside [[run]] so far. A round's
    * time is their growth over the round, so what the benchmark does
    * between ops (input directories, fingerprints, disk walks, cleanup)
    * is not counted. */
  var insideWall = 0.0
  var insideCpu = 0.0

  def run(round: Int, name: String, trace: Option[Trace])(
      body: => Map[String, Any]): Map[String, Any] = {
    nextOp += 1
    val op = nextOp
    val (wall0, cpu0) = (Clock.now(), Clock.cpu())
    trace.foreach(_.beginOp(op))
    val start = Clock.now()
    val result =
      try Right(trace.fold(body)(_.span("op")(body)))
      catch { case e: Throwable => Left(e) }
    val end = Clock.now()
    val layers = trace.map(_.endOp()).getOrElse(Map.empty)
    insideWall += Clock.now() - wall0
    insideCpu += Clock.cpu() - cpu0
    val base = Map("op" -> op, "round" -> round, "name" -> name, "layers" -> layers)
    result match {
      case Right(detail) => base ++ detail ++ Map("ok" -> true, "latency_s" -> (end - start))
      case Left(e) =>
        System.err.println(s"[perfbench] op $name failed: $e")
        base ++ Map("ok" -> false, "error" -> e.toString.take(500))
    }
  }
}

/** Order-insensitive fingerprint of a collected result: columns taken in
  * name order, each row rendered canonically, rows sorted, then hashed. */
object Fingerprint {
  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN => "NaN"
    case f: Float if f.isNaN => "NaN"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case other => other.toString
  }

  def of(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(columns).mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString.take(32)
  }
}

object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(path: Path, value: Any): Unit =
    Files.writeString(path, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(value))
  def read(path: Path): Map[String, Any] =
    mapper.readValue(Files.readString(path), classOf[Map[String, Any]])
}

object Disk {
  /** Bytes of regular files under `p` (0 when absent). */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try {
        var total = 0L
        s.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
        total
      } finally s.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try {
      val all = mutable.ArrayBuffer.empty[Path]
      s.forEach(all += _)
      all.reverseIterator.foreach(Files.deleteIfExists)
    } finally s.close()
  }
}
