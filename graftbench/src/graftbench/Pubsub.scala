package graftbench

import graft.streaming.{DataPrep, Publisher, Subscriber}

/** `pubsub`: publish a round of generated text messages, then drain it
  * through `DataPrep.curateMonitored` over `Subscriber.subscribe`. One
  * checkpoint, one digest store and one cells directory serve every
  * round, so the dedup store grows round by round. Round r's messages
  * are the launcher's `in/round=r`. */
object Pubsub {
  def run(run: Run): Seq[(String, String)] = {
    val spark = run.spark
    val warm = run.int("warm-rounds")
    val rounds = warm + run.int("rounds")

    val topic = run.path("topic")
    def round(r: Int, phase: String): Op = run.op("round", phase) {
      val prefix = if (phase == "timed") "streaming" else "setup"
      val p0 = System.nanoTime()
      run.tracer.span(s"$prefix.publish") {
        Publisher.publish(spark.read.parquet(run.path(s"in/round=$r")), topic)
      }
      val p1 = System.nanoTime()
      val progress = run.tracer.span(s"$prefix.drain") {
        val q = DataPrep.curateMonitored(Subscriber.subscribe(spark, topic),
          run.path("curated"), run.path("cells"), run.path("hstore"), run.path("ckpt"))
        q.awaitTermination()
        q.recentProgress
      }
      (prefix, progress, (p1 - p0) / 1e6, (System.nanoTime() - p1) / 1e6)
    } { case (prefix, progress, publishMs, drainMs) =>
      Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
        "query_planning_ms" -> "queryPlanning").foreach { case (name, key) =>
        run.tracer.add(s"$prefix.drain", name,
          progress.map(p => Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)).sum)
      }
      Seq("round" -> r.toString,
        "batch_ids" -> Json.arr(progress.toSeq.map(_.batchId.toString)),
        "publish_ms" -> Json.num(publishMs), "drain_ms" -> Json.num(drainMs))
    }
    (0 until warm).foreach(round(_, "warmup"))
    run.startTimed()
    (warm until rounds).foreach(round(_, "timed"))
    run.endTimed()
    Seq.empty
  }
}
