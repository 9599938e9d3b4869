package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.config.{Duration, FieldMapping}
import graft.harness.{Metrics, TestExecutor}
import graft.operators.{Dedup, EventGenerator, MappingProjection}

/** etl_batch: the paper's pipeline as `graft.Main single` runs it —
  * `TestExecutor.runVariant` (generate → duplicate injection → topic hop →
  * windowed keep-first dedup → projection → parquet sink → read-back count)
  * at duplication rate 0.1, an 8h window and `num_processes` = cores.
  *
  * `ctx.size` is the base record count; the seed adds 0-10,989 records so
  * every seed gives its own input. Each run's sink is checked against the
  * generator's unique set after the timed loop. The traced run also times a
  * ladder: each prefix of the same plan materialized by a `noop` write, so a
  * stage's self time is its prefix's time minus the previous prefix's.
  */
object EtlBatch extends Workload {
  val DupRate = 0.1
  val Window = "8h"
  val GenSeed = 42L // TestExecutor.runVariant generates with this seed
  val WarmRecords = 20000L
  val WarmOps = 2
  val MinOps = 3
  val LadderReps = 2

  val mapping: Seq[FieldMapping] = Seq(
    FieldMapping("event_id", "event_id", "uuid"),
    FieldMapping("user_id", "user_id", "uuid"),
    FieldMapping("created_at", "created_at", "datetime"),
    FieldMapping("name", "user_name", "string"),
    FieldMapping("email", "user_email", "string"))

  def records(ctx: Ctx): Long = ctx.size + 11L * math.floorMod(ctx.seed, 1000L)

  def variant(records: Long): Map[String, Any] = Map(
    "num_processes" -> GraftSession.cpus, "total_records" -> records,
    "duplication_rate" -> DupRate, "deduplication_window" -> Window)

  def warmUp(spark: SparkSession, ctx: Ctx): Unit = {
    val r = new TestExecutor("warmup", s"${ctx.work}/results", spark)
      .runVariant("warmup", variant(WarmRecords), s"${ctx.work}/etl/warmup")
    require(r.resultSuccess.contains(true), "warm-up variant failed its count check")
  }

  /** (rows, distinct event ids, order-free content hash) of a sink-shaped frame. */
  def fingerprint(df: DataFrame): (Long, Long, BigDecimal) = {
    val h = xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), countDistinct(col("event_id")), sum(h)).head()
    (r.getLong(0), r.getLong(1), BigDecimal(r.getDecimal(2)))
  }

  def run(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    val tracer = ctx.tracer
    val sent = records(ctx)
    val unique = Metrics.uniqueOf(sent, DupRate)
    val cfg = variant(sent)
    val ex = new TestExecutor("graftbench", s"${ctx.work}/results", spark)
    val untraced = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val sinks = ArrayBuffer.empty[(String, Boolean)]

    // Full-size ops first, untimed: op time still falls by a quarter over
    // the first runs of the plan at this size (JIT, heap sizing). Their
    // sinks are checked too.
    (0 until WarmOps).foreach { w =>
      val dir = s"${ctx.work}/etl/warm$w"
      sinks += ((dir, ex.runVariant(s"warm$w", cfg, dir).resultSuccess.contains(true)))
    }

    // The timed loop. A traced run alternates untraced and traced ops so
    // the two medians give the tracing overhead from one JVM.
    ctx.setup.done()
    val start = System.nanoTime()
    var i = 0
    while (i < MinOps || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val on = ctx.trace && i % 2 == 1
      tracer.enabled = on
      val dir = s"${ctx.work}/etl/op$i"
      val t0 = System.nanoTime()
      val r = tracer.span("harness.runVariant", op = i) { ex.runVariant(s"op$i", cfg, dir) }
      val s = (System.nanoTime() - t0) / 1e9
      tracer.enabled = false
      (if (on) traced else untraced) += s
      sinks += ((dir, r.resultSuccess.contains(true)))
      i += 1
    }

    // Output checks, outside the timed region: every op's sink.
    val expected = fingerprint(MappingProjection(
      EventGenerator.generate(spark, unique, GenSeed, GraftSession.cpus), mapping))
    sinks.foreach { case (dir, countOk) =>
      val got = fingerprint(spark.read.parquet(dir))
      val ok = res.check(s"etl_sink ${dir.split('/').last}",
        countOk && got._1 == unique && got._2 == got._1 && got == expected,
        s"rows=${got._1} distinct=${got._2} unique=$unique fingerprint_match=${got == expected}")
      res.attempted += 1
      if (!ok) res.failed += 1
    }

    val opS = Stats.median(untraced.toSeq)
    res.metric("throughput", sent / opS, "1/s")
    res.metric("latency_p50_ms", opS * 1000, "ms")
    res.fact("records_sent", sent)
    res.fact("records_unique", unique)
    res.fact("timed_ops", untraced.size + traced.size)
    res.fact("op_s", untraced.map(x => f"$x%.3f").mkString(" "))

    if (ctx.trace) {
      res.metric("trace.overhead_ms", (Stats.median(traced.toSeq) - opS) * 1000, "ms")
      ladder(spark, ctx, res, sent, unique)
    }
  }

  /** Traced: materialize each prefix of runVariant's plan, built from the
    * public operators the same way runVariant builds it, then write and read
    * back the full plan as runVariant does (parquet write, parquet count).
    */
  private def ladder(spark: SparkSession, ctx: Ctx, res: Result,
                     sent: Long, unique: Long): Unit = {
    val tracer = ctx.tracer
    val duplicates = Metrics.duplicatesOf(sent, DupRate)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val names = Seq("operators.generate", "operators.inject", "harness.topic",
      "operators.dedup", "operators.project", "sources.sink", "harness.verify")
    val reps = (0 until LadderReps).map { rep =>
      tracer.enabled = true
      val op = 1000L + rep
      val ids = ArrayBuffer.empty[Long]
      def step(name: String)(body: => Unit): Unit = tracer.span(name, op) {
        ids += tracer.current; body
      }
      tracer.span("harness.ladder", op) {
        val gen = EventGenerator.generate(spark, unique, GenSeed, GraftSession.cpus)
        val all = gen.unionAll(gen.where(col("row_id") < duplicates))
        val topic = all.repartition(spark.sparkContext.defaultParallelism, col("event_id"))
        val deduped = Dedup.tumbling(topic, Seq("event_id"), to_timestamp(col("created_at")),
          Duration.parse(Window).millis, col("row_id"))
        val projected = MappingProjection(deduped, mapping)
        step(names(0))(noop(gen))
        step(names(1))(noop(all))
        step(names(2))(noop(topic))
        step(names(3))(noop(deduped))
        step(names(4))(noop(projected))
        val dir = s"${ctx.work}/etl/ladder$rep"
        step(names(5))(projected.write.mode("overwrite").parquet(dir))
        step(names(6))(require(spark.read.parquet(dir).count() == unique))
      }
      tracer.enabled = false
      tracer.drain(spark.sparkContext)
      val byId = tracer.all.map(s => s.id -> s).toMap
      val cum = ids.map(id => byId(id).durNs / 1e9)
      val dedupWork = tracer.workOf(ids(3))
      (cum, dedupWork.shuffleWriteRecords.toDouble / sent)
    }
    // prefix k's self time = its time minus prefix k-1's; the sink step's
    // base is the projection prefix; verify is timed on its own
    def stage(k: Int): Double = Stats.median(reps.map { case (cum, _) =>
      if (k == 0 || k == 6) cum(k) else cum(k) - cum(k - 1)
    })
    names.indices.foreach(k => res.metric(s"${names(k)}_s", stage(k), "s"))
    res.metric("operators.dedup_shuffle_rows_per_input", Stats.median(reps.map(_._2)), "ratio")
  }
}
