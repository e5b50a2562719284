package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row}

import graft.SparkEntry

/** `registry`: warm executions of composed batch operators from
  * `SparkEntry.queries` over the launcher's generated tables
  * (`in/tables`), each as a fresh DataFrame whose every row is
  * collected. The operators are the launcher's comma-separated
  * `--operators`. */
object Registry {

  private def digest(rows: Array[Row]): String =
    MessageDigest.getInstance("MD5")
      .digest(rows.map(_.toString).sorted.mkString("\n").getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def run(run: Run): Seq[(String, String)] = {
    val spark = run.spark
    val dataDir = run.path("in/tables")
    val operators = run.string("operators").split(",").toSeq
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(run.path("oracle_sql.json")),
      Json.obj(operators.map(n => n -> Json.str(oracle(n)))))

    /** Write an execution's collected rows for the oracle check. */
    def save(name: String, n: Int, df: DataFrame, rows: Array[Row]): String = {
      val rel = s"registry/$name/$n"
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.parquet(run.path(rel))
      rel
    }
    val firstDigest = scala.collection.mutable.Map.empty[String, String]
    var execs = 0
    def execute(name: String, phase: String): Op = {
      val span = if (phase == "timed") s"registry.$name" else s"registry.$name.first"
      run.op(name, phase) {
        run.tracer.span(span) {
          val df = run.tracer.eager(queries(name)(spark, dataDir))
          (df, df.collect())
        }
      } { case (df, rows) =>
        // the first execution's rows always go to the oracle check; a
        // later one's only when they differ from the first's
        val d = digest(rows)
        execs += 1
        val out =
          if (firstDigest.get(name).contains(d)) "null"
          else Json.str(save(name, execs, df, rows))
        firstDigest.getOrElseUpdate(name, d)
        Seq("rows" -> rows.length.toString, "digest" -> Json.str(d), "output" -> out)
      }
    }

    operators.foreach(execute(_, "warmup"))
    val r = new SplittableRandom(run.seed)
    run.startTimed()
    (0 until run.int("rounds")).foreach { _ =>
      val order = operators.toArray
      for (i <- order.indices.reverse) {
        val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
      }
      order.foreach(execute(_, "timed"))
    }
    run.endTimed()
    Seq.empty
  }
}
