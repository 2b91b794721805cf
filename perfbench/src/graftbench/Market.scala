package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.core.Model.{Alert, Transaction}
import graft.operators.UpbitWire
import graft.streaming.{FraudDetection, Streams, WireIngest}

/** Seeded open-loop market generator. Each tick is one delivery to each
  * stream; the generator is a pure function of the seed and the tick
  * sequence, so the same seed yields the same frames and transactions.
  * Event time is a synthetic clock (`EpochMs + tick * TickMs`) that
  * advances at wall-clock rate, so it never runs backwards across
  * micro-batches. */
final class MarketGen(seed: Long) {
  import MarketGen._
  private val r = new scala.util.Random(seed)
  private var seq = 0L
  private val redeliver = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, String)]]
  /** Every distinct frame, in first-delivery order. */
  val originals = mutable.ArrayBuffer.empty[(Long, String)]
  val txnsAll = mutable.ArrayBuffer.empty[Transaction]
  var deliveries = 0L
  var validDeliveries = 0L
  private val validFrames = mutable.Set.empty[String]

  /** The history a long-running pipeline would already hold: one
    * delivery, stamped before tick 0, of [[HistoryFrames]] frames and of
    * [[HistoryTxns]] small transactions on uniformly drawn accounts, so
    * the store and the keyed state start at a realistic size. */
  def history(): (Seq[(Long, String)], Seq[Transaction]) = {
    val ts = EpochMs - TickMs
    val frames = deliver(-1, ts, HistoryFrames)
    val txns = Seq.fill(HistoryTxns)(Transaction(
      HotAccounts + r.nextInt(Accounts - HotAccounts), ts, math.round((0.01 + r.nextDouble() * 0.99) * 100) / 100.0))
    txnsAll ++= txns
    (frames, txns)
  }

  def tick(i: Int): (Seq[(Long, String)], Seq[Transaction]) = {
    val ts = EpochMs + i.toLong * TickMs
    val frames = deliver(i, ts, TradesPerTick)
    val txns = Seq.fill(TxnsPerTick)(Transaction(account(), ts, amount()))
    txnsAll ++= txns
    (frames, txns)
  }

  private def deliver(i: Int, ts: Long, n: Int): Seq[(Long, String)] = {
    val frames = mutable.ArrayBuffer.empty[(Long, String)]
    for (_ <- 0 until n) {
      val (f, valid) = frame(ts)
      val rec = (ts, f)
      frames += rec
      originals += rec
      if (valid) validFrames += f
      // the history's re-deliveries stay in the history: scheduled onto
      // the first ticks they made the first timed batch ten times larger
      // than the rest, long enough to overrun its trigger
      if (r.nextDouble() < DupShare) {
        if (i < 0) frames += rec
        else redeliver.getOrElseUpdate(i + 1 + r.nextInt(3), mutable.ArrayBuffer.empty) += rec
      }
    }
    redeliver.remove(i).foreach(frames ++= _)
    deliveries += frames.size
    validDeliveries += frames.count(f => validFrames.contains(f._2))
    frames.toSeq
  }

  private def account(): Long =
    if (r.nextDouble() < HotShare) r.nextInt(HotAccounts) else HotAccounts + r.nextInt(Accounts - HotAccounts)

  private def amount(): Double = {
    val u = r.nextDouble()
    val a = if (u < SmallShare) 0.01 + r.nextDouble() * 0.99
      else if (u < SmallShare + LargeShare) 500.0 + r.nextDouble() * 1000.0
      else 1.01 + r.nextDouble() * 498.0
    math.round(a * 100) / 100.0
  }

  /** One Upbit trade frame; returns it with whether the wire parser
    * must accept it. */
  private def frame(ts: Long): (String, Boolean) = {
    seq += 1
    val code = Codes(r.nextInt(Codes.size))
    val price = math.round((1000 + r.nextDouble() * 99000) * 100) / 100.0
    val vol = math.round(r.nextDouble() * 10 * 1e4) / 1e4
    val side = if (r.nextBoolean()) "ASK" else "BID"
    val kind = if (r.nextDouble() < MalformedShare) 1 + r.nextInt(6) else 0
    def js(fields: (String, Any)*): String = fields.map {
      case (k, s: String) => s"\"$k\":\"$s\""
      case (k, v) => s"\"$k\":$v"
    }.mkString("{", ",", "}")
    val base = Seq("code" -> code, "trade_price" -> price, "trade_volume" -> vol,
      "ask_bid" -> side, "prev_closing_price" -> price, "change" -> "RISE",
      "change_price" -> 1.5, "sequential_id" -> seq)
    kind match {
      case 0 => (js(("type" -> "trade") +: base :+ ("trade_timestamp" -> ts): _*), true)
      case 1 => (js(("type" -> "orderbook") +: base :+ ("trade_timestamp" -> ts): _*), false)
      case 2 => (js(("type" -> "trade") +: base.tail :+ ("trade_timestamp" -> ts): _*), false)
      case 3 => (js(("type" -> "trade") +: base: _*), false)
      case 4 => (js(("type" -> "trade") +: base :+ ("trade_timestamp" -> ts): _*).dropRight(7), false)
      case 5 => (js(Seq("type" -> "trade", "code" -> code, "ask_bid" -> " bid ",
        "change" -> "fall", "sequential_id" -> seq, "trade_timestamp" -> ts): _*), true)
      case _ => (js(("type" -> "trade") +: base :+ ("timestamp" -> ts): _*), true)
    }
  }
}

/** Where each value comes from is in README.md ("Stream generator"). */
object MarketGen {
  val EpochMs = 1730200000000L // the Upbit trade fixture's timestamp (FIXTURES.md §3)
  // offered rate: 100 frames/s and 150 transactions/s, set by
  // measurement with the trigger below (README.md)
  val TickMs = 40
  val TradesPerTick = 2
  val TxnsPerTick = 3
  // starting store and keyed-state size (state.rows, recon.files_listed)
  val HistoryFrames = 20000
  val HistoryTxns = 30000
  // key skew (state.rows, exec.skew_p90): half the transactions on 500 accounts
  val Accounts = 200000
  val HotAccounts = 500
  val HotShare = 0.5
  // amounts below FraudDetection.SmallAmount set a flag (state.rows);
  // amounts at or above LargeAmount raise alerts
  val SmallShare = 0.35
  val LargeShare = 0.10
  val DupShare = 0.10 // sink.dedup_ratio
  val MalformedShare = 0.08 // ingest.valid_ratio
  val Codes: IndexedSeq[String] = (0 until 60).map(i => f"KRW-C$i%02d")
}

/** stream-market: ingest and detect queries on one session, fed by the
  * open-loop generator, with periodic reconciliation reads of the store. */
object Market {
  // At the offered rate an ingest batch takes about 1.0 s and a detect
  // batch about 0.55 s on a 4-core host, run side by side, so each query
  // is busy at most half its trigger and a host slowdown of 1.7x still
  // does not make a batch overrun it.
  val TriggerMs = 2000L
  val ReconPeriodMs = TriggerMs
  // Each set-up runs this many back-to-back micro-batches of one
  // trigger's worth of ticks: the timed batches that follow then run on
  // warm code, where one large batch left them 2x slower at the start of
  // the window than at its end.
  val WarmBatches = 4
  val TicksPerTrigger = (TriggerMs / MarketGen.TickMs).toInt

  final case class Progress(query: String, batchId: Long, startMs: Long, durationMs: Long,
                            startOffset: Long, endOffset: Long, rows: Long,
                            phases: Map[String, Long], stateRows: Long, stateBytes: Long,
                            stateCommitMs: Long, lateDropped: Long)

  final class ProgressListener extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[Progress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def off(s: String): Long = if (s == null || s == "null") -1L else s.trim.toLong
      val src = p.sources.headOption
      val st = p.stateOperators
      events.add(Progress(p.name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.batchDuration, src.map(s => off(s.startOffset)).getOrElse(-1L),
        src.map(s => off(s.endOffset)).getOrElse(-1L), p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        st.map(_.commitTimeMs).sum, st.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  /** One pair of running queries over fresh stores. */
  final class Pipeline(spark: SparkSession, dir: Path, tracer: Tracer, triggerMs: Long) {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val store: String = dir.resolve("store").toString
    val trades = MemoryStream[(Long, String)]
    val txns = MemoryStream[Transaction]
    val alerts = new ConcurrentLinkedQueue[Alert]
    @volatile var appendNs = 0L
    /** (query, batch id, start, end) of every sink call, in nanoTime. */
    val sinkCalls = new ConcurrentLinkedQueue[(String, Long, Long, Long)]

    private def chain(batch: DataFrame): Dataset[graft.core.Model.Trade] = {
      val parsed = UpbitWire.parseTrades(batch, "frame", "Upbit", col("ts_ms") + 5)
      Streams.tradesFromProtoRecords(Streams.tradeProtoRecords(parsed))
    }

    var ingest: StreamingQuery = _
    var detect: StreamingQuery = _

    /** Start both queries; data added before this is their first batch. */
    def start(): Unit = {
      ingest = trades.toDF().toDF("ts_ms", "frame").writeStream
        .queryName("ingest")
        .option("checkpointLocation", dir.resolve("ckpt-ingest").toString)
        .trigger(Trigger.ProcessingTime(triggerMs))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          spark.sparkContext.setLocalProperty(Tracer.PhaseProp, "stream")
          Streams.idempotentAppend(chain(batch).toDF(), Seq("code", "sequentialId"), store)
          val t1 = System.nanoTime()
          appendNs += t1 - t0
          sinkCalls.add(("ingest", id, t0, t1))
          ()
        }.start()

      detect = FraudDetection.detectStream(txns.toDS()).writeStream
        .queryName("detect")
        .option("checkpointLocation", dir.resolve("ckpt-detect").toString)
        .trigger(Trigger.ProcessingTime(triggerMs))
        .foreachBatch { (batch: Dataset[Alert], id: Long) =>
          val t0 = System.nanoTime()
          spark.sparkContext.setLocalProperty(Tracer.PhaseProp, "stream")
          batch.collect().foreach(alerts.add)
          sinkCalls.add(("detect", id, t0, System.nanoTime()))
          ()
        }.start()
    }

    /** Wait until both queries have committed stream offset `off` (the
      * `off + 1`-th delivery). Polling the last progress avoids
      * `processAllAvailable`, which returns only after a later, empty
      * trigger and so would add up to a trigger interval. */
    def awaitCommitted(off: Long): Unit = Seq(ingest, detect).foreach { q =>
      def done = Option(q.lastProgress).exists(_.sources.exists(s =>
        s.endOffset != null && s.endOffset != "null" && s.endOffset.trim.toLong >= off))
      while (!done) {
        q.exception.foreach(e => throw e)
        if (!q.isActive) throw new IllegalStateException(s"query ${q.name} stopped")
        Thread.sleep(5)
      }
    }
    def stop(): Unit = { ingest.stop(); detect.stop() }

    /** One-shot batch run of the unique frames through the same chain. */
    def batchStore(frames: Seq[(Long, String)]): DataFrame = {
      val path = dir.resolve("store-batch").toString
      Streams.idempotentAppend(chain(frames.toDF("ts_ms", "frame")).toDF(), Seq("code", "sequentialId"), path)
      WireIngest.readTradeStore(spark, path)
    }
  }

  def run(cfg: Config, res: Result): Unit = {
    val tracer = new Tracer(cfg.runId)
    val work = Paths.get(cfg.workDir)
    var spark: SparkSession = null
    val listener = new ProgressListener
    // every set-up starts a new session, like batch-short's
    for (k <- 0 until Main.Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Main.session(cfg)
      spark.streams.addListener(listener)
      val p = new Pipeline(spark, Files.createDirectories(work.resolve(s"warm-$k")), tracer, 0L)
      val gen = new MarketGen(1000L + k) // the same warm-up traffic in every run, as in batch-short
      p.start()
      for (b <- 0 until WarmBatches) {
        val ticks = (b * TicksPerTrigger until (b + 1) * TicksPerTrigger).map(gen.tick)
        p.trades.addData(ticks.flatMap(_._1))
        p.txns.addData(ticks.flatMap(_._2))
        p.awaitCommitted(b)
      }
      p.stop()
      res.add("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    listener.events.clear()
    val base = Listeners.storage(spark.sparkContext)._1

    val plain = measure(spark, cfg, res, tracer, listener, work.resolve("run"), "", traced = false)
    if (cfg.trace) {
      listener.events.clear()
      val sc = spark.sparkContext
      val layer = new LayerListener(tracer)
      val phases = new PhaseListener
      sc.addSparkListener(layer)
      spark.listenerManager.register(phases)
      tracer.enabled = true
      val t = measure(spark, cfg, res, tracer, listener, work.resolve("run-traced"), "t.", traced = true)
      tracer.enabled = false
      Listeners.settle()
      sc.removeSparkListener(layer)
      spark.listenerManager.unregister(phases)
      Layers.fill(res, layer, phases, 1.0)
      val m = res.layers
      m ++= t.layers
      m("exec.busy_frac") = Layers.busy(layer, t.wallS, cfg.cores)
      m("recon.jobs") = if (t.reconReads == 0) 0.0 else layer.phaseJobs("recon").toDouble / t.reconReads
      val resident = Listeners.storage(sc)._1
      m("core.resident_mb") = resident / 1048576.0
      m("core.resident_growth_mb") = (resident - base) / 1048576.0
      m("sources.load_s") = 0.0
      res.info("untraced_trigger_s_per_event") = plain.triggerS / math.max(1L, plain.events)
      res.info("traced_trigger_s_per_event") = t.triggerS / math.max(1L, t.events)
      res.spans = tracer.toJson
    }
    res.add("heap_live_mb", Main.liveHeapMb())
    spark.stop()
  }

  final case class Measured(events: Long, triggerS: Double, wallS: Double, reconReads: Int,
                            layers: Map[String, Double])

  private def measure(spark: SparkSession, cfg: Config, res: Result, tracer: Tracer,
                      listener: ProgressListener, dir: Path, prefix: String,
                      traced: Boolean): Measured = {
    Files.createDirectories(dir)
    val p = new Pipeline(spark, dir, tracer, TriggerMs)
    val gen = new MarketGen(cfg.seed)
    val nTicks = math.max(1, (cfg.seconds * 1000 / MarketGen.TickMs).toInt)
    val due = new Array[Long](nTicks)
    val frameCounts = new Array[Long](nTicks)
    // the history is offset 0 of both streams, committed before timing starts
    val (histFrames, histTxns) = gen.history()
    p.trades.addData(histFrames)
    p.txns.addData(histTxns)
    p.start()
    p.awaitCommitted(0)
    Listeners.settle()
    listener.events.clear()
    val histEvents = gen.deliveries + gen.txnsAll.size
    val runStartNs = System.nanoTime()
    val runId = tracer.newId()
    // Spark fires processing-time triggers on multiples of the interval
    // since the epoch; starting the schedule just after one keeps the
    // phase between ticks and triggers the same in every run.
    val t0 = ((System.currentTimeMillis() + 200) / TriggerMs + 1) * TriggerMs + 50
    @volatile var genDone = false
    var maxLateMs = 0L

    val generator = new Thread(() => {
      for (i <- 0 until nTicks) {
        due(i) = t0 + i.toLong * MarketGen.TickMs
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val (frames, txns) = gen.tick(i)
        frameCounts(i) = frames.size
        p.trades.addData(frames)
        p.txns.addData(txns)
        maxLateMs = math.max(maxLateMs, System.currentTimeMillis() - due(i))
      }
      genDone = true
    }, "market-generator")

    val recon = new ConcurrentLinkedQueue[(Double, Long, Int)] // (seconds, rows, files)
    val reconThread = new Thread(() => {
      spark.sparkContext.setLocalProperty(Tracer.PhaseProp, "recon")
      // reads run mid-way between trigger boundaries, like a reconciliation
      // loop that is not synchronised with the micro-batches
      var next = t0 + ReconPeriodMs / 2
      while (!genDone) {
        val wait = next - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        next += ReconPeriodMs
        val files = partFiles(p.store)
        if (files > 0 && !genDone) {
          res.attempted += 1
          val r0 = System.nanoTime()
          try {
            val rows = WireIngest.readTradeStore(spark, p.store).groupBy("code")
              .agg(count(lit(1)).as("n"), sum("trade_volume").as("v")).collect()
            val r1 = System.nanoTime()
            tracer.record(tracer.newId(), runId, "recon", r0, r1)
            recon.add(((r1 - r0) / 1e9, rows.map(_.getLong(1)).sum, files))
          } catch {
            case e: Throwable => res.fail("thrown", "recon", s"${e.getClass.getName}: ${e.getMessage}")
          }
        }
      }
    }, "market-recon")

    generator.start()
    reconThread.start()
    generator.join()
    reconThread.join()
    p.awaitCommitted(nTicks)
    val endNs = System.nanoTime()
    p.stop()
    Listeners.settle()
    tracer.record(runId, 0L, "run", runStartNs, endNs)

    // correctness: store against a one-shot batch run of the unique
    // frames, alerts against the batch detector over all transactions
    val streamed = WireIngest.readTradeStore(spark, p.store)
    val storeDigest = Digest.of(streamed.schema, streamed.collect())
    val expected = p.batchStore(gen.originals.toSeq)
    val expectedDigest = Digest.of(expected.schema, expected.collect())
    res.attempted += 1
    if (storeDigest != expectedDigest)
      res.fail("wrong_output", "ingest-store", s"stream $storeDigest batch $expectedDigest")
    import spark.implicits._
    val alertSchema = Encoders.product[Alert].schema
    val wantAlerts = FraudDetection.detectBatch(gen.txnsAll.toSeq.toDS()).collect()
    val gotAlerts = p.alerts.asScala.toSeq
    res.attempted += 1
    val toRow = (a: Alert) => org.apache.spark.sql.Row(a.accountId, a.amount, a.timestamp, a.message)
    val (gotD, wantD) = (Digest.of(alertSchema, gotAlerts.map(toRow)), Digest.of(alertSchema, wantAlerts.toSeq.map(toRow)))
    if (gotD != wantD) res.fail("wrong_output", "detect-alerts", s"stream $gotD batch $wantD")
    // recon reads see a growing store: counts never fall and never pass the final count
    val finalRows = streamed.count()
    val reads = recon.asScala.toSeq
    reads.map(_._2).sliding(2).foreach {
      case Seq(a, b) if b < a => res.fail("wrong_output", "recon", s"count fell $a -> $b")
      case _ =>
    }
    if (reads.exists(_._2 > finalRows)) res.fail("wrong_output", "recon", "count above final store")

    // A tick is done when both queries have committed the batch holding
    // it (offset i + 1; offset 0 is the history). Its latency, from its
    // due time, counts once for each event it delivered.
    val progress = listener.events.asScala.toSeq
    def commits(q: String): IndexedSeq[Long] = {
      val b = progress.filter(x => x.query == q && x.endOffset > x.startOffset).sortBy(_.batchId)
      var bi = 0
      (0 until nTicks).map { i =>
        while (bi < b.size && b(bi).endOffset < i + 1) bi += 1
        if (bi < b.size) b(bi).startMs + b(bi).durationMs else Long.MaxValue
      }
    }
    val (ingestCommit, detectCommit) = (commits("ingest"), commits("detect"))
    val doneAt = (0 until nTicks).map(i => math.max(ingestCommit(i), detectCommit(i)))
    for (i <- 0 until nTicks) {
      if (doneAt(i) == Long.MaxValue) res.fail("wrong_output", "stream", s"tick $i never committed")
      else res.addWeighted(prefix + "lat", (doneAt(i) - due(i)) / 1e3, frameCounts(i) + MarketGen.TxnsPerTick)
    }
    val active = progress.filter(_.rows > 0)
    // one trigger cycle: an ingest batch plus a detect batch
    def medianTrigger(q: String) = Main.median(active.filter(_.query == q).map(_.durationMs / 1e3))
    res.add(prefix + "pass_s", medianTrigger("ingest") + medianTrigger("detect"))
    val events = gen.deliveries + gen.txnsAll.size - histEvents
    val triggerS = progress.map(_.phases.getOrElse("triggerExecution", 0L)).sum / 1e3

    if (traced) {
      for (b <- progress) {
        val s = tracer.wallMsToNs(b.startMs)
        val tid = tracer.newId()
        tracer.record(tid, runId, "trigger", s, tracer.wallMsToNs(b.startMs + b.durationMs))
        // progress gives phase durations, not start times: lay them out in
        // execution order from the trigger start
        var at = s
        for (ph <- Seq("latestOffset", "getBatch", "walCommit", "queryPlanning", "addBatch", "commitOffsets")) {
          val d = b.phases.getOrElse(ph, 0L) * 1000000L
          if (d > 0) {
            val pid = tracer.newId()
            tracer.record(pid, tid, ph, at, at + d)
            if (ph == "addBatch") p.sinkCalls.asScala.filter(c => c._1 == b.query && c._2 == b.batchId)
              .foreach(c => tracer.record(tracer.newId(), pid, "sink", c._3, c._4))
          }
          at += d
        }
      }
    }
    def ph(k: String*): Double = progress.map(b => k.map(b.phases.getOrElse(_, 0L)).sum).sum / 1e3
    val detectLast = progress.filter(_.query == "detect").sortBy(_.batchId).lastOption
    // backlog: events due but not yet committed, sampled at each tick's due time
    var backlog = 0L
    for (j <- 0 until nTicks) {
      var q = 0L
      var i = j
      while (i >= 0 && j - i < 2000) { if (doneAt(i) > due(j)) q += frameCounts(i) + MarketGen.TxnsPerTick; i -= 1 }
      backlog = math.max(backlog, q)
    }
    val stored = finalRows.toDouble
    val layers = Map(
      "stream.trigger_s" -> triggerS,
      "stream.plan_s" -> ph("queryPlanning"),
      "stream.add_batch_s" -> ph("addBatch"),
      "stream.offsets_s" -> ph("latestOffset", "getBatch"),
      "stream.wal_s" -> ph("walCommit", "commitOffsets"),
      "stream.rows_per_batch" -> (if (active.isEmpty) 0.0 else active.map(_.rows).sum.toDouble / active.size),
      "stream.busy_eps" -> (if (triggerS > 0) events / triggerS else 0.0),
      "state.rows" -> detectLast.map(_.stateRows.toDouble).getOrElse(0.0),
      "state.mb" -> detectLast.map(_.stateBytes / 1048576.0).getOrElse(0.0),
      "state.commit_s" -> progress.map(_.stateCommitMs).sum / 1e3,
      "state.late_dropped" -> progress.map(_.lateDropped).sum.toDouble,
      "sink.append_s" -> p.appendNs / 1e9,
      "sink.files_written" -> partFiles(p.store).toDouble,
      "sink.dedup_ratio" -> (if (gen.validDeliveries == 0) 0.0 else stored / gen.validDeliveries),
      "ingest.valid_ratio" -> (if (gen.deliveries == 0) 0.0 else gen.validDeliveries.toDouble / gen.deliveries),
      "gen.late_s" -> maxLateMs / 1e3,
      "gen.backlog_max" -> backlog.toDouble,
      "recon.files_listed" -> (if (reads.isEmpty) 0.0 else reads.map(_._3).sum.toDouble / reads.size),
      "recon.p50_s" -> Main.median(reads.map(_._1)))
    res.attempted += progress.size
    Measured(events, triggerS, (endNs - runStartNs) / 1e9, reads.size, layers)
  }

  private def partFiles(store: String): Int = {
    val d = new java.io.File(store)
    if (!d.isDirectory) 0 else d.listFiles().count(f => f.getName.startsWith("part-"))
  }
}
