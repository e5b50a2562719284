package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

/** One operation of a run: what it was, how long it took, whether it
  * threw, and the fields its checker needs. */
final case class Op(kind: String, phase: String, ms: Double, error: Option[String],
                    fields: Seq[(String, String)])

/** State shared by every workload: session, tracer, operation log. */
final class Run(val spark: SparkSession, val tracer: Tracer, opts: Map[String, String]) {
  val seed: Long = opts.getOrElse("seed", "0").toLong
  val work: String = opts("work")
  /** A sizing argument of the workload, set by the launcher. */
  def int(name: String): Int = opts(name).toInt
  def string(name: String): String = opts(name)
  val jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  private var timedStartNs = 0L
  private var timedEndNs = 0L
  var setupS: Double = Double.NaN
  private val marks = mutable.ArrayBuffer.empty[(String, Double)]

  /** Note how far into the run (seconds since JVM start) a step ended. */
  def mark(name: String): Unit =
    marks += (name -> (System.currentTimeMillis() - jvmStartMs) / 1000.0)

  /** Called right before the first timed operation. */
  def startTimed(): Unit = {
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    timedStartNs = System.nanoTime()
  }
  def endTimed(): Unit = timedEndNs = System.nanoTime()
  def runS: Double = (timedEndNs - timedStartNs) / 1e9

  /** Run one operation, recording its latency and any exception.
    * Only `body` is timed; `fields` then turns its result into what
    * the checker reads. */
  def op[T](kind: String, phase: String)(body: => T)(fields: T => Seq[(String, String)]): Op = {
    val t0 = System.nanoTime()
    val result =
      try Right(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] $kind ($phase) failed: $e")
          e.printStackTrace()
          Left(Option(e.getMessage).getOrElse(e.toString).take(500))
      }
    val ms = (System.nanoTime() - t0) / 1e6
    val o = result match {
      case Right(v) => Op(kind, phase, ms, None, fields(v))
      case Left(err) => Op(kind, phase, ms, Some(err), Seq.empty)
    }
    ops += o
    o
  }

  def path(rel: String): String = s"$work/$rel"

  def resultJson(extra: Seq[(String, String)]): String = Json.obj(Seq(
    "setup_s" -> Json.num(setupS),
    "marks" -> Json.obj(marks.toSeq.map { case (k, v) => k -> Json.num(v) }),
    "run_s" -> Json.num(runS),
    "ops" -> Json.arr(ops.toSeq.map { o =>
      Json.obj(Seq("kind" -> Json.str(o.kind), "phase" -> Json.str(o.phase),
        "ms" -> Json.num(o.ms), "error" -> o.error.map(Json.str).getOrElse("null")) ++ o.fields)
    }),
    "spans" -> (if (tracer.enabled) tracer.toJson else "null")) ++ extra)
}

/** Entry point: `graftbench.Main --workload W --seed N --trace 0|1
  * --work DIR` plus the workload's sizing arguments. Reads its inputs
  * from and writes `result.json` to DIR; the launcher (run.py) checks
  * the outputs and prints the metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    if (workload == "train") return Train.run(opts("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.GraftSession.local(cores, "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, new Tracer(spark, opts.get("trace").contains("1")), opts)
    run.mark("session")
    val extra = workload match {
      case "pubsub" => Pubsub.run(run)
      case "index" => Index.run(run)
      case "registry" => Registry.run(run)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    Files.writeString(Paths.get(run.path("result.json")), run.resultJson(extra))
    spark.stop()
  }
}
