package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.Engine
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload on a session from `graft.Engine.session`
  * and writes `result.json` into the work directory. The Python front end
  * (`perfbench/run.py`) generates the inputs, launches this main, checks
  * the outputs and prints the metrics.
  *
  * Usage: Main <workload> <seconds> <trace 0|1> <inputDir> <workDir> <cores>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seconds, traceFlag, inputDir, workDir, cores) = args
    val trace = new Trace(traceFlag == "1")
    val run = new Run(seconds.toDouble, trace, inputDir, workDir, cores)
    val out = workload match {
      case "catalog" => CatalogRun(run)
      case "stream-small" => StreamRun(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Json.write(Paths.get(workDir, "result.json"), out ++ run.common())
    if (trace.enabled) {
      val lines = new StringBuilder
      trace.spans.forEach(s =>
        lines ++= s"""{"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}""" + "\n")
      Files.write(Paths.get(workDir, "spans.jsonl"), lines.toString.getBytes(StandardCharsets.UTF_8))
    }
    run.spark.stop()
    // streaming and RocksDB threads must not hold the JVM open
    sys.exit(0)
  }
}

/** State shared by both runners: the session, the probe and common metrics. */
final class Run(
    val seconds: Double, val trace: Trace,
    val inputDir: String, val workDir: String, val cores: String) {
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val spark: SparkSession = trace("session:build") {
    val s = Engine.session("perfbench", cores)
    Engine.tuneLogging()
    s
  }
  val probe: Option[Probe] = if (trace.enabled) Some(new Probe(spark, trace)) else None
  private val hostJobs = mutable.Map.empty[String, mutable.Buffer[Double]]
  var setupS = 0.0

  /** Empty jobs of 1 and of `cores` partitions: the host's fixed per-job and
    * per-task cost, sampled at the start and at the end of a traced run. */
  def hostProbe(): Unit = if (trace.enabled) {
    val sc = spark.sparkContext
    for ((name, parts) <- Seq("host.job1_ms" -> 1, "host.jobN_ms" -> cores.toInt); _ <- 1 to 5) {
      val t0 = System.nanoTime()
      trace(s"host:$name")(sc.parallelize(Seq.empty[Int], parts).foreach(_ => ()))
      hostJobs.getOrElseUpdate(name, mutable.Buffer.empty) += (System.nanoTime() - t0) / 1e6
    }
  }

  def markReady(): Unit =
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def common(): Map[String, Any] = {
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> rss,
      "host" -> hostJobs.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap,
      "trace_record_ms" -> trace.recordMs,
      "probe_callback_ms" -> probe.map(_.callbackMs).getOrElse(0.0))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s(s.size / 2) + s((s.size - 1) / 2)) / 2
    }
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case p: Product => render(p.productIterator.toSeq)
    case other => str(other.toString)
  }

  def write(path: java.nio.file.Path, v: Any): Unit =
    Files.write(path, render(v).getBytes(StandardCharsets.UTF_8))
}
