package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timed batch calls into the service path's public transforms, on the
  * workload's own records (traced runs only, before the window):
  * decode (`Pipeline.route`), enrich (`IngestPipeline.enrich`) and render
  * (`Pipeline.toBulkNdjsonKeyed`), each run to a noop sink; per-layer time
  * is the difference between consecutive prefixes of the chain. The
  * render query's Catalyst phases give the `plan.*` numbers. */
object Probes {
  private def noopMs(df: DataFrame): Double = {
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e6
  }

  /** The probes' input: the first requests, up to ~50k documents. */
  def sample(reqs: Seq[Request]): Seq[Request] = {
    val k = reqs.map(_.docIds.size).scanLeft(0)(_ + _).tail.indexWhere(_ >= 50000)
    if (k < 0) reqs else reqs.take(k + 1)
  }

  def run(spark: SparkSession, frame0: DataFrame, geoDir: String): Map[String, Double] = {
    val frame = frame0.persist()
    val docs = Inputs.docs(frame).count().toDouble
    def best(df: => DataFrame): Double = (1 to 2).map(_ => noopMs(df)).min
    val decode = best(Inputs.docs(frame))
    val enrich = best(Inputs.enriched(frame, geoDir))
    val render = best(Inputs.rendered(frame, geoDir))
    val qe = Inputs.rendered(frame, geoDir).queryExecution
    qe.executedPlan
    val phases = qe.tracker.phases
    def phaseS(p: String): Double = phases.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    frame.unpersist()
    Map(
      "decode.us_per_doc" -> decode * 1000.0 / docs,
      "enrich.us_per_doc" -> math.max(0.0, enrich - decode) * 1000.0 / docs,
      "render.us_per_doc" -> math.max(0.0, render - enrich) * 1000.0 / docs,
      "plan.construct_s" -> phaseS("analysis"),
      "plan.optimize_s" -> phaseS("optimization"),
      "plan.physical_s" -> phaseS("planning"))
  }
}
