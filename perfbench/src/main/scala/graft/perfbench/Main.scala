package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Every digit the double carries; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: Path, work: Path, out: Path,
                      cores: Int, queries: Seq[String])

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", Paths.get(get("data")), Paths.get(get("work")),
      Paths.get(get("out")), m.getOrElse("cores", "4").toInt,
      m.get("queries").toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
  }
}

/** What one run measured. `e2e` and `layers` are name → value; `notes`
  * explain each failed operation. */
final class Outcome {
  var attempted = 0
  var failed = 0
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val notes = mutable.ArrayBuffer.empty[String]

  def fail(note: String): Unit = { failed += 1; notes += note }

  /** Counts one operation; a thrown exception marks it failed. */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        None
    }
  }

  def toJson: String = {
    val metrics = (e2e ++ layers).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    s"""{"attempted":$attempted,"failed":$failed,"metrics":{${metrics.mkString(",")}},""" +
      s""""notes":[${notes.map(Json.str).mkString(",")}]}"""
  }
}

/** Entry point of one benchmark run:
  * {{{
  * graft.perfbench.Main --workload extract|query_mix|cdc_merge --seed N
  *   --seconds S --trace 0|1 --data <tables dir> --work <work dir>
  *   --out <result.json> [--cores 4] [--queries q1,q2,…]
  * }}}
  * Sets up (session, fixture, warm-up), measures passes of the workload
  * for `--seconds`, checks every output outside the timed region, and
  * writes the metrics to `--out`. `run.py` wraps it. */
object Main {

  /** Session start, as the program itself builds one. */
  def session(cores: Int): SparkSession = {
    val s = graft.Sessions.local(cores.toString)
    s.sparkContext.setLogLevel("WARN")
    s.conf.set("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    s
  }

  /** Driver heap still in use after a forced collection, in MiB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val trace = if (a.trace) Some(new Trace) else None
    Trace.active = trace
    val workload: Workload = a.workload match {
      case "extract" => new ExtractWorkload(a)
      case "query_mix" => new QueryMixWorkload(a)
      case "cdc_merge" => new CdcWorkload(a)
      case other => sys.error(s"unknown workload: $other")
    }
    val out = workload.run(trace)
    Files.write(a.out, out.toJson.getBytes(StandardCharsets.UTF_8))
    trace.foreach(_.writeJsonl(a.out.resolveSibling(s"trace-${a.workload}-${a.seed}.jsonl")))
    workload.finish()
  }
}
