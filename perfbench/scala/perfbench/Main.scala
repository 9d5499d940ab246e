package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one closed-loop client over one workload.
  * `run.py` generates the inputs, launches this, and turns the record it
  * writes into metrics and correctness verdicts.
  *
  * Usage: perfbench.Main --workload W --inputs DIR --work DIR --out FILE
  *          --rounds R --trace 0|1 --cores N [--queries q1,q2,...]
  *
  * Set-up repeats the workload's first load `setupReps` times, then `R`
  * timed rounds run. A round's wall and CPU time is the time spent inside
  * its ops ([[OpRunner]]), not the benchmark's own work between them.
  * With `--trace 1` odd rounds are traced and even rounds are not, so one
  * process measures both and the gap is the tracing overhead.
  */
object Main {
  /** Peak resident memory outside the Java heap, in MB: the process's peak
    * resident set (VmHWM) minus the committed heap. run.py fixes the heap
    * and pre-touches it, so it is resident in full from the start and the
    * difference is metaspace, code cache, thread stacks and native buffers.
    * Heap use is `jvm.heap_peak_mb` in traced runs. */
  private def offHeapRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    val hwm = line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    hwm - java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val inputs = Paths.get(args("inputs")).toAbsolutePath
    val work = Paths.get(args("work")).toAbsolutePath
    val nRounds = args("rounds").toInt
    val traceMode = args("trace") == "1"
    val cores = args("cores")
    Files.createDirectories(work.resolve("dumps"))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = Clock.now()
    val trace = if (traceMode) Some(new Trace(spark)) else None

    try {
      val w: Workload = workload match {
        case "etl_daily" => new EtlDaily(spark, inputs, work, trace)
        case "query_ops" => new QueryRounds(spark, inputs, work, trace, args("queries").split(",").toSeq)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val setup = (0 until w.setupReps).map(w.setup)

      val timedStart = Clock.now()
      val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
      var r = 0
      while (r < nRounds && w.hasRound(r)) {
        val traced = traceMode && r % 2 == 1
        trace.foreach(_.enabled = traced)
        val (wall0, cpu0) = (OpRunner.insideWall, OpRunner.insideCpu)
        val ops = w.round(r, traced)
        val wall = OpRunner.insideWall - wall0
        val cpu = OpRunner.insideCpu - cpu0
        trace.foreach(_.enabled = false)
        rounds += Map("round" -> r, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu, "ops" -> ops)
        r += 1
      }
      val timedEnd = Clock.now()
      val finish = w.finish()

      Json.write(Paths.get(args("out")), Map(
        "workload" -> workload,
        "cores" -> cores.toInt,
        "session_ready" -> sessionReady,
        "timed_start" -> timedStart,
        "timed_end" -> timedEnd,
        "setup" -> setup,
        "rounds" -> rounds,
        "finish" -> finish,
        "heap_peak_mb" -> trace.map(_.heapPeakMb).getOrElse(0.0),
        "offheap_rss_mb" -> offHeapRssMb(),
        "spans" -> trace.map(_.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end))).getOrElse(Nil)))
    } finally spark.stop()
  }
}
