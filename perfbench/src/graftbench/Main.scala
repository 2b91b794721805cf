package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    dataDir: String,
    workDir: String,
    plan: String,
    out: String,
    recordGolden: Boolean) {
  val runId = s"$workload-$seed-${System.currentTimeMillis()}"
}

/** Everything one run measured, written as one JSON object for `run.py`
  * to turn into metrics. Timing samples are kept raw so the percentile
  * rule lives in one place. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** (value, weight) samples: one entry stands for `weight` operations. */
  val weighted = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Long)]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Any]
  /** Divisor that turns traced-window totals into per-unit values. */
  var norm = 1.0
  var spans: Seq[Map[String, Any]] = Nil

  def add(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  def addWeighted(key: String, v: Double, w: Long): Unit =
    weighted.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += (v -> w)

  def fail(kind: String, what: String, detail: String): Unit = {
    failed += 1
    if (failures.size < 200) failures += Map("kind" -> kind, "what" -> what, "detail" -> detail.take(300))
  }

  def toJson: String = Json.write(Map(
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
    "samples" -> samples, "weighted" -> weighted, "layers" -> layers,
    "info" -> info, "norm" -> norm, "spans" -> spans))
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cfg = Config(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      cores = kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      dataDir = kv.getOrElse("data", ""),
      workDir = kv("work"),
      plan = kv.getOrElse("plan", ""),
      out = kv("out"),
      recordGolden = kv.getOrElse("record-golden", "0") == "1")
    val res = new Result
    cfg.workload match {
      case "batch-short" => Batch.run(cfg, res)
      case "stream-market" => Market.run(cfg, res)
      case "select" => Select.run(cfg, res)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(cfg.out), res.toJson)
  }

  /** The engine's own session defaults, with every directory Spark
    * writes kept inside the run's work directory. */
  def session(cfg: Config): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${cfg.cores}]", math.max(cfg.cores, 4))
      .config("spark.sql.warehouse.dir", Paths.get(cfg.workDir, "warehouse").toString)
      .config("spark.local.dir", Paths.get(cfg.workDir, "local").toString)
      .config("spark.sql.streaming.checkpointLocation", Paths.get(cfg.workDir, "ckpt").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Live heap after a full collection, in MiB: the least of three
    * readings, each after a full collection, since Spark's own threads
    * may still be allocating when one is taken. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }
}
