package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import graft.dsl._
import graft.queries.{AnnGeometry, Similarity}
import graft.queries.Similarity.IvfPqIndex

/** `index`: build an IVF-PQ index over a clustered corpus, publish it,
  * and serve probe batches from the loaded artifact while absorbing
  * drifted vectors (republished as new versions) and compacting once.
  * The corpus, probe and drift batches are the launcher's `in/`. */
object Index {
  val K = 5
  val geo: AnnGeometry = AnnGeometry(nProbe = 2, nCentroids = 16)

  def run(run: Run): Seq[(String, String)] = {
    val spark = run.spark
    // probe batch 0 warms up the serve plan; the timed phase serves
    // probe batches 1 to n, absorbs drift batch 0 after batch n / 2,
    // then compacts and serves batch n again
    val n = run.int("batches")
    def input(rel: String, batch: Int): DataFrame =
      spark.read.parquet(run.path(s"in/$rel/batch=$batch"))

    var version = 1
    def vdir(v: Int): String = run.path(s"index/v$v")
    val built = run.tracer.span("similarity.build") {
      spark.read.parquet(run.path("in/corpus")).ivfPqIndex(geo = geo)
    }
    var ix: IvfPqIndex = run.tracer.span("similarity.save") {
      Similarity.saveIvfPqIndex(built, vdir(1), 1L)
      Similarity.loadIvfPqIndex(spark, vdir(1))
    }
    run.mark("published")

    def serve(batch: Int, phase: String): Op = run.op("serve", phase) {
      run.tracer.span(if (phase == "timed") "similarity.serve" else "setup.serve") {
        ix.serve(input("probes", batch), geo = geo, k = K).collect()
      }
    } { rows =>
      Seq("version" -> version.toString, "batch" -> batch.toString,
        "rows" -> Json.arr(rows.toSeq.map(r =>
          Json.arr(Seq(r.getLong(0).toString, r.getLong(1).toString,
            r.getLong(2).toString, Json.num(r.getDouble(3)))))))
    }
    /** Replace the served index with `next`, republished as the next
      * version and read back, as a serving fleet would pick it up. */
    def republish(next: IvfPqIndex): Unit = {
      Similarity.saveIvfPqIndex(next, vdir(version + 1), version + 1L)
      ix = Similarity.loadIvfPqIndex(spark, vdir(version + 1))
      version += 1
    }
    def absorb(batch: Int, phase: String): Op = run.op("absorb", phase) {
      run.tracer.span(if (phase == "timed") "similarity.absorb" else "setup.absorb") {
        republish(ix.absorb(input("drift", batch)))
      }
    } { _ => Seq("version" -> version.toString, "batch" -> batch.toString) }
    def compact(phase: String): Op = run.op("compact", phase) {
      run.tracer.span(if (phase == "timed") "similarity.compact" else "setup.compact") {
        republish(Similarity.compactIndex(ix,
          ix.cents.select(col("cell"), lit("compact").as("action"))))
      }
    } { _ => Seq("version" -> version.toString) }

    // warm-up: the serve plan only. The first absorb and the
    // compaction run cold in the timed phase, as in a serving process
    // that republishes for the first time.
    serve(0, "warmup")

    run.startTimed()
    (1 to n).foreach { b =>
      serve(b, "timed")
      if (b == n / 2) absorb(0, "timed")
    }
    compact("timed")
    serve(n, "timed")
    run.endTimed()
    Seq("k" -> K.toString, "n_probe" -> geo.nProbe.toString)
  }
}
