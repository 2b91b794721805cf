package graftbench

import org.apache.spark.sql.SparkSession

/** Turns listener totals into the per-layer metrics shared by every
  * workload; `n` divides totals into per-pass (batch) or per-run
  * (stream) values. */
object Layers {
  def fill(res: Result, l: LayerListener, p: PhaseListener, n: Double): Unit = {
    val mb = 1048576.0
    val m = res.layers
    m("sources.jobs") = l.sourceJobs / n
    m("sources.job_s") = l.sourceJobMs / 1e3 / n
    m("catalyst.actions") = p.actions / n
    m("catalyst.analysis_s") = p.phaseMs("analysis") / 1e3 / n
    m("catalyst.optimization_s") = p.phaseMs("optimization") / 1e3 / n
    m("catalyst.planning_s") = p.phaseMs("planning") / 1e3 / n
    m("sched.jobs") = l.jobs / n
    m("sched.stages") = l.stages / n
    m("sched.tasks") = l.tasks / n
    m("sched.queue_s") = l.queueMs / 1e3 / n
    m("exec.run_s") = l.runMs / 1e3 / n
    m("exec.cpu_s") = l.cpuNs / 1e9 / n
    m("exec.gc_s") = l.gcMs / 1e3 / n
    m("exec.input_mb") = l.inputBytes / mb / n
    m("exec.shuffle_read_mb") = l.shuffleReadBytes / mb / n
    m("exec.shuffle_write_mb") = l.shuffleWriteBytes / mb / n
    m("exec.spill_mb") = l.spillBytes / mb / n
    m("exec.skew_p90") = if (l.skew.isEmpty) 1.0 else Main.percentile(l.skew.toSeq, 0.9)
  }

  /** Busy share of the executor slots over a wall-clock window. */
  def busy(l: LayerListener, wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else l.runMs / 1e3 / (wallS * cores)

  /** Median time of one `Tables.load` (listing plus schema inference)
    * over every input table, repeated. */
  def loadProbe(spark: SparkSession, dir: String): Double = {
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
    val ts = for (_ <- 1 to 3; t <- tables) yield {
      val t0 = System.nanoTime()
      graft.sources.Tables.load(spark, dir, t).schema
      (System.nanoTime() - t0) / 1e9
    }
    Main.median(ts)
  }
}
