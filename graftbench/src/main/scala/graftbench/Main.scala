package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload run reports: metrics by name with their unit, the
  * operation counts behind `failed_ratio`, the output checks, and free-form
  * facts (sizes, sample counts) for the reader.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def fact(name: String, value: Any): Unit = info(name) = value.toString
  def check(name: String, ok: Boolean, detail: String): Boolean = {
    checks += ((name, ok, detail)); ok
  }

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def num(d: Double) =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def toJson: String = {
    val m = metrics.map { case (k, (v, u)) => s"${q(k)}: {\"value\": ${num(v)}, \"unit\": ${q(u)}}" }
    val c = checks.map { case (k, ok, d) => s"{\"name\": ${q(k)}, \"ok\": $ok, \"detail\": ${q(d)}}" }
    val i = info.map { case (k, v) => s"${q(k)}: ${q(v)}" }
    s"""{"attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}},""" +
      s""" "checks": [${c.mkString(", ")}], "info": {${i.mkString(", ")}}}"""
  }
}

/** Marks the end of set-up: the moment the first timed op starts. */
final class SetupClock {
  @volatile var doneMs = 0L
  def done(): Unit = if (doneMs == 0L) doneMs = System.currentTimeMillis()
}

/** Run settings shared by the workloads. `size` is the workload's scale
  * knob (records, rows/s, or unused), `work` a working directory owned by
  * this run, `data` the input tables (query_mix). Each workload calls
  * `setup.done()` just before its first timed op.
  */
final case class Ctx(seed: Long, seconds: Double, trace: Boolean, size: Long,
                     work: String, data: String, tracer: Tracer, setup: SetupClock)

trait Workload {
  /** Work done once after the session exists. */
  def warmUp(spark: SparkSession, ctx: Ctx): Unit
  /** The timed loop, the output checks and (when tracing) the layer metrics. */
  def run(spark: SparkSession, ctx: Ctx, res: Result): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Benchmark entry point: one workload per JVM.
  *
  * usage: graftbench.Main --workload <etl_batch|stream_dedup|query_mix>
  *   --seed N --seconds S --trace 0|1 --size N --work DIR --data DIR
  *   --out FILE [--spans FILE]
  *
  * The session comes from `GraftSession.local` with no `spark.graft.*`
  * setting, so the shipped defaults are what is measured. `setup_s` runs
  * from JVM start to the start of the first timed op: session, warm-up,
  * table resolution and the workload's untimed warm-up ops.
  */
object Main {
  def peakRssMiB: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = a("workload") match {
      case "etl_batch" => EtlBatch
      case "stream_dedup" => StreamDedup
      case "query_mix" => QueryMix
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val tracer = new Tracer
    val ctx = Ctx(a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a.getOrElse("size", "0").toLong, a("work"), a.getOrElse("data", ""), tracer,
      new SetupClock)
    val res = new Result

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.local("graftbench")
    val sessionMs = System.currentTimeMillis()
    workload.warmUp(spark, ctx)
    res.fact("session_s", (sessionMs - jvmStartMs) / 1000.0)
    res.fact("warmup_s", (System.currentTimeMillis() - sessionMs) / 1000.0)
    res.fact("cores", GraftSession.cpus)
    res.fact("heap_mb", Runtime.getRuntime.maxMemory / (1 << 20))
    res.fact("seed", ctx.seed)

    if (ctx.trace) spark.sparkContext.addSparkListener(tracer.listener)
    try {
      workload.run(spark, ctx, res)
      val setupS = if (ctx.setup.doneMs > 0L) (ctx.setup.doneMs - jvmStartMs) / 1000.0 else Double.NaN
      res.metric("setup_s", setupS, "s")
    } finally {
      res.metric("jvm.peak_rss_mb", peakRssMiB, "MiB")
      if (ctx.trace) {
        tracer.drain(spark.sparkContext)
        val t = tracer.total
        res.metric("spark.jobs", t.jobs, "count")
        res.metric("spark.stages", t.stages, "count")
        res.metric("spark.task_s", t.taskMs / 1000.0, "s")
        res.metric("spark.gc_s", t.gcMs / 1000.0, "s")
        res.metric("spark.shuffle_write_mb", t.shuffleWriteBytes / 1048576.0, "MiB")
        res.metric("spark.spill_mb", t.spillBytes / 1048576.0, "MiB")
        a.get("spans").foreach(tracer.writeJsonl)
      }
      Files.writeString(Paths.get(a("out")), res.toJson)
      spark.stop()
    }
  }
}
