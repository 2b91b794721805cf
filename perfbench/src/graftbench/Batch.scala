package graftbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop batch workloads: one client runs a frozen gate list in a
  * seeded order, consuming each complete result into a digest that is
  * checked against the golden digest. */
object Batch {
  val WarmPasses = 1

  final case class Gate(name: String, golden: String)

  def readPlan(path: String): Seq[Gate] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(n, g) = l.split("\t", 2)
      Gate(n, g)
    }.toSeq

  def order(plan: Seq[Gate], seed: Long, pass: Int): Seq[Gate] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(plan)

  final class Ctx(val cfg: Config, val res: Result, val tracer: Tracer) {
    var traced = false
    var buildNs = 0L
    var consumeNs = 0L
    var scratchFrames = 0L
    var scratchBytes = 0L
    val digests = mutable.LinkedHashMap.empty[String, String]
  }

  def run(cfg: Config, res: Result): Unit = {
    val plan = readPlan(cfg.plan)
    val queries = graft.SparkEntry.queries
    val unknown = plan.map(_.name).filterNot(queries.contains)
    require(unknown.isEmpty, s"gates not declared by SparkEntry.queries: ${unknown.mkString(",")}")
    val ctx = new Ctx(cfg, res, new Tracer(cfg.runId))
    var passNo = 0

    // Set-up: session start plus one untimed pass, repeated; every
    // repeat stops the previous session and starts a new one, so each
    // sample includes session start and the stores memoized per
    // session are built again. Untimed passes run the frozen list in its
    // own order: the order the cold JVM first sees the gates in shapes
    // what the JIT compiles, and a seeded order there moved the pass time
    // of whole runs by up to 20%. Only the timed passes are seeded.
    var spark: SparkSession = null
    var firstTouch = Map.empty[String, Double]
    ctx.tracer.enabled = cfg.trace
    for (k <- 0 until Main.Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      ctx.tracer.span("setup", 0L) { setupId =>
        spark = Main.session(cfg)
        val times = ctx.tracer.span("pass", setupId) { id => pass(spark, plan, queries, ctx, id) }
        if (k == 0) firstTouch = times
      }
      passNo += 1
      res.add("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    ctx.tracer.enabled = false
    // The first pass after set-up still runs up to 15% slower while the
    // JIT warms up; an untimed pass first keeps the timed ones steadier.
    for (_ <- 0 until WarmPasses) {
      pass(spark, plan, queries, ctx, 0L)
      passNo += 1
    }
    val baseStorage = Listeners.storage(spark.sparkContext)._1

    val untraced = timedPasses(spark, plan, queries, ctx, passNo, "")
    passNo += untraced.size

    if (cfg.trace) {
      val sc = spark.sparkContext
      val layer = new LayerListener(ctx.tracer)
      val phases = new PhaseListener
      sc.addSparkListener(layer)
      spark.listenerManager.register(phases)
      ctx.traced = true
      ctx.tracer.enabled = true
      val traced = timedPasses(spark, plan, queries, ctx, passNo, "t.")
      ctx.tracer.enabled = false
      ctx.traced = false
      Listeners.settle()
      sc.removeSparkListener(layer)
      spark.listenerManager.unregister(phases)

      val steadyByGate = traced.flatMap(_._2).groupBy(_._1).map { case (g, ts) => g -> Main.median(ts.map(_._2)) }
      val touch = firstTouch.collect { case (g, t) if steadyByGate.contains(g) => t - steadyByGate(g) }
      val n = traced.size.toDouble
      res.norm = n
      Layers.fill(res, layer, phases, n)
      res.layers("exec.busy_frac") = Layers.busy(layer, traced.map(_._1).sum, cfg.cores)
      res.layers("operators.build_s") = ctx.buildNs / 1e9 / n
      res.layers("operators.build_jobs") = layer.phaseJobs("build") / n
      res.layers("operators.consume_s") = ctx.consumeNs / 1e9 / n
      res.layers("core.first_touch_s") = if (touch.isEmpty) 0.0 else touch.sum / touch.size
      res.layers("core.scratch_frames") = ctx.scratchFrames / n
      res.layers("core.scratch_mb") = ctx.scratchBytes / 1048576.0 / n
      val resident = Listeners.storage(sc)._1
      res.layers("core.resident_mb") = resident / 1048576.0
      res.layers("core.resident_growth_mb") = (resident - baseStorage) / 1048576.0
      res.layers("sources.load_s") = Layers.loadProbe(spark, cfg.dataDir)
      res.info("traced_pass_s") = traced.map(_._1)
      res.info("untraced_pass_s") = untraced.map(_._1)
      res.spans = ctx.tracer.toJson
    }
    if (cfg.recordGolden) res.info("digests") = ctx.digests
    res.add("heap_live_mb", Main.liveHeapMb())
    spark.stop()
  }

  /** Passes in a closed loop while the next pass, at the mean pass time
    * so far, still ends within `seconds` (always at least one pass). */
  private def timedPasses(spark: SparkSession, plan: Seq[Gate],
                          queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
                          ctx: Ctx, firstPass: Int, prefix: String): Seq[(Double, Map[String, Double])] = {
    val out = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    val t0 = System.nanoTime()
    while (out.isEmpty ||
        (System.nanoTime() - t0) / 1e9 + out.map(_._1).sum / out.size <= ctx.cfg.seconds) {
      val p0 = System.nanoTime()
      val times = ctx.tracer.span("pass", 0L) { id =>
        pass(spark, order(plan, ctx.cfg.seed, firstPass + out.size), queries, ctx, id)
      }
      val dt = (System.nanoTime() - p0) / 1e9
      ctx.res.add(prefix + "pass_s", dt)
      out += (dt -> times)
    }
    // A gate's latency is its median over the timed passes, weighted by
    // the passes it ran in: a short host stall then moves one sample of a
    // gate, not which gate the percentile lands on.
    out.flatMap(_._2).groupBy(_._1).foreach { case (_, ts) =>
      ctx.res.addWeighted(prefix + "lat", Main.median(ts.map(_._2).toSeq), ts.size.toLong)
    }
    out.toSeq
  }

  /** One pass in the given order; returns the time of every gate that ran
    * to a correct, complete result. */
  private def pass(spark: SparkSession, gates: Seq[Gate],
                   queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
                   ctx: Ctx, parent: Long): Map[String, Double] = {
    val sc = spark.sparkContext
    val times = mutable.LinkedHashMap.empty[String, Double]
    gates.foreach { gate =>
      ctx.res.attempted += 1
      ctx.tracer.span("gate", parent) { gateId =>
        try {
          val buildId = ctx.tracer.newId()
          sc.setLocalProperty(Tracer.SpanProp, buildId.toString)
          sc.setLocalProperty(Tracer.PhaseProp, "build")
          val t0 = System.nanoTime()
          val df = queries(gate.name)(spark, ctx.cfg.dataDir)
          val t1 = System.nanoTime()
          ctx.tracer.record(buildId, gateId, "build", t0, t1)
          val consumeId = ctx.tracer.newId()
          sc.setLocalProperty(Tracer.SpanProp, consumeId.toString)
          sc.setLocalProperty(Tracer.PhaseProp, "consume")
          val rows = df.collect()
          val digest = Digest.of(df.schema, rows)
          val t2 = System.nanoTime()
          ctx.tracer.record(consumeId, gateId, "consume", t1, t2)
          if (ctx.traced) { ctx.buildNs += t1 - t0; ctx.consumeNs += t2 - t1 }
          ctx.digests(gate.name) = digest
          if (ctx.cfg.recordGolden || digest == gate.golden) times(gate.name) = (t2 - t0) / 1e9
          else ctx.res.fail("digest_mismatch", gate.name, s"got $digest want ${gate.golden}")
        } catch {
          case e: Throwable => ctx.res.fail("thrown", gate.name, s"${e.getClass.getName}: ${e.getMessage}")
        } finally {
          sc.setLocalProperty(Tracer.SpanProp, null)
          sc.setLocalProperty(Tracer.PhaseProp, null)
          if (ctx.traced) {
            val (b0, n0) = Listeners.storage(sc)
            graft.core.Scratch.release()
            val (b1, n1) = Listeners.storage(sc)
            ctx.scratchFrames += math.max(0, n0 - n1)
            ctx.scratchBytes += math.max(0L, b0 - b1)
          } else graft.core.Scratch.release()
        }
      }
    }
    times.toMap
  }
}

/** One-off gate classification used to freeze the batch gate lists: runs
  * every candidate twice, each time in a fresh session so per-session
  * store memos miss, and reports whether the gate left persisted data or
  * files behind (it reads a shared store), whether it threw, and both
  * result digests (a gate whose digest differs is not repeatable). */
object Select {
  def run(cfg: Config, res: Result): Unit = {
    val plan = Batch.readPlan(cfg.plan)
    val queries = graft.SparkEntry.queries
    val base = Main.session(cfg)
    // stores land in java.io.tmpdir, the warehouse, or `target/` under the working directory
    val roots = Seq(System.getProperty("java.io.tmpdir"), Paths.get(cfg.workDir, "warehouse").toString,
      Paths.get(cfg.workDir, "target").toString)
    def files(): Set[String] = roots.flatMap { r =>
      Option(new java.io.File(r).listFiles()).toSeq.flatten.map(_.getPath)
    }.toSet
    val out = plan.map { g =>
      val runs = (0 until 2).map { _ =>
        base.catalog.clearCache()
        val spark = base.newSession()
        val (rdds0, files0) = (spark.sparkContext.getPersistentRDDs.size, files())
        val t0 = System.nanoTime()
        val r = try {
          val df = queries(g.name)(spark, cfg.dataDir)
          Right(Digest.of(df.schema, df.collect()))
        } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}".take(300)) }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Scratch.release()
        val store = spark.sparkContext.getPersistentRDDs.size > rdds0 || (files() -- files0).nonEmpty
        (r, dt, store)
      }
      Map("gate" -> g.name, "store" -> runs.exists(_._3),
        "thrown" -> runs.collectFirst { case (Left(e), _, _) => e },
        "digests" -> runs.collect { case (Right(d), _, _) => d },
        "seconds" -> runs.map(_._2))
    }
    res.info("select") = out
    base.stop()
  }
}
