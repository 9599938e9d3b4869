package graftbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.config._
import graft.operators.{EventGenerator, MappingProjection}
import graft.sources.IdempotentParquetSink
import graft.streaming.StreamingPipeline

/** stream_dedup: an open-loop `rate` source at `ctx.size` rows/s through
  * `StreamingPipeline.transform` (watermarked dedup with an 8h window, then
  * the mapping projection) and `StreamingPipeline.sink` with a 1 s trigger
  * into `IdempotentParquetSink`.
  *
  * Every 11th row (value % 11 == 10) repeats the key of the row emitted
  * two seconds earlier, so each duplicate's original sits at least one
  * batch before it. Keys and user ids come from the generator's
  * `EventGenerator.uuidCol` expressions under the run's seed.
  *
  * Batches that start in the first [[WarmupS]] seconds are not measured;
  * then the run measures `ctx.seconds` of batches. A batch's latency runs
  * from its trigger time (the 1 s boundary it was due at) to its commit.
  */
object StreamDedup extends Workload {
  val TriggerMs = 1000L
  // batch times still fall by a quarter over the first ~8 s of a query
  val WarmupS = 8.0
  val WarmRecords = 20000L
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  val cfg: PipelineConfig = PipelineConfig(
    pipelineId = "graftbench_stream",
    sourceSchema = Seq(SchemaField("event_id", "string"), SchemaField("user_id", "string"),
      SchemaField("created_at", "string")),
    dedup = DedupConfig(enabled = true, idField = "event_id", timeWindow = Duration.parse("8h")),
    join = None,
    sink = SinkConfig("events", maxBatchSize = 5000, maxDelayTime = Duration(TriggerMs),
      tableMapping = Seq(
        FieldMapping("event_id", "event_id", "uuid"),
        FieldMapping("user_id", "user_id", "uuid"),
        FieldMapping("created_at", "created_at", "datetime"))))

  /** Rows whose key repeats an earlier row, among values [0, n). */
  def duplicatesBelow(n: Long, lag: Long): Long = if (n <= lag) 0L else n / 11 - lag / 11

  def events(spark: SparkSession, rate: Long, seed: Long): DataFrame = {
    val lag = 2L * rate
    val v = col("value")
    val key = when(pmod(v, lit(11L)) === 10 && v >= lag, v - lag).otherwise(v)
    spark.readStream.format("rate").option("rowsPerSecond", rate.toString).load()
      .select(
        EventGenerator.uuidCol(key, seed, "eid").as("event_id"),
        EventGenerator.uuidCol(key, seed, "uid").as("user_id"),
        date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss").as("created_at"),
        col("timestamp").as("ts"))
  }

  def warmUp(spark: SparkSession, ctx: Ctx): Unit =
    MappingProjection(EventGenerator.generate(spark, WarmRecords, ctx.seed), cfg.sink.tableMapping)
      .write.format("noop").mode("overwrite").save()

  private def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  def run(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    val tracer = ctx.tracer
    val rate = ctx.size
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)

    // batchId -> (span id, start, end) of the sink write, on the span clock
    val writes = new ConcurrentHashMap[Long, (Long, Long, Long)]()
    val root = s"${ctx.work}/stream/sink"
    val sink = new IdempotentParquetSink(root)
    val out = StreamingPipeline.transform(events(spark, rate, ctx.seed), cfg, "ts")
    val query = StreamingPipeline.sink(out, cfg, s"${ctx.work}/stream/checkpoint") {
      (batch, batchId) =>
        // a traced run traces odd batches only, so even ones give the
        // untraced latency for the overhead figure
        val on = ctx.trace && batchId % 2 == 1
        val sc = batch.sparkSession.sparkContext
        val id = tracer.newId()
        if (on) sc.setLocalProperty(tracer.Prop, id.toString)
        val t0 = tracer.now
        try sink.writeBatch(batch, batchId)
        finally sc.setLocalProperty(tracer.Prop, null)
        writes.put(batchId, (id, t0, tracer.now))
    }.start()

    val started = System.currentTimeMillis()
    Thread.sleep((WarmupS * 1000).toLong)
    ctx.setup.done()
    val measureStart = ctx.setup.doneMs
    Thread.sleep((ctx.seconds * 1000).toLong)
    val measureEnd = System.currentTimeMillis()
    query.stop()
    query.awaitTermination()
    Thread.sleep(500) // let the last progress events arrive
    spark.streams.removeListener(listener)
    query.exception.foreach(e => throw e)

    val ran = progress.asScala.toSeq.filter(p => p.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).map(_._2.head).toSeq.sortBy(_.batchId)
    def startMs(p: StreamingQueryProgress) = Instant.parse(p.timestamp).toEpochMilli
    def lagMs(p: StreamingQueryProgress) = startMs(p) - startMs(p) / TriggerMs * TriggerMs
    def latencyMs(p: StreamingQueryProgress) = (lagMs(p) + dur(p, "triggerExecution")).toDouble
    val measured = ran.filter { p =>
      startMs(p) >= measureStart && startMs(p) + dur(p, "triggerExecution") <= measureEnd &&
        p.numInputRows > 0
    }
    require(measured.nonEmpty, "no micro-batch completed inside the measured window")

    // Output check: the committed epochs hold exactly the distinct keys of
    // the rows the committed batches read, with no repeated event_id.
    val rowsIn = ran.map(_.numInputRows).sum
    val lag = 2L * rate
    val dups = duplicatesBelow(rowsIn, lag)
    val got = spark.read.option("basePath", root)
      .parquet(ran.map(p => s"$root/epoch=${p.batchId}"): _*)
      .agg(count(lit(1)), countDistinct(col("event_id"))).head()
    val (rows, distinct) = (got.getLong(0), got.getLong(1))
    val ok = res.check("stream_sink", rows == rowsIn - dups && distinct == rows,
      s"batches=${ran.size} rows_in=$rowsIn injected_dups=$dups sink_rows=$rows " +
        s"distinct_event_ids=$distinct")
    res.attempted = measured.size
    res.failed = if (ok) 0 else measured.size

    val lat = measured.map(latencyMs)
    val busyS = measured.map(p => dur(p, "triggerExecution")).sum / 1000.0
    res.metric("throughput", measured.map(_.numInputRows).sum / busyS, "1/s")
    res.metric("latency_p50_ms", Stats.median(lat), "ms")
    res.fact("rate_rows_per_s", rate)
    res.fact("batches_measured", measured.size)
    res.fact("batches_committed", ran.size)
    res.fact("latency_p90_ms", f"${Stats.quantile(lat, 0.9)}%.1f (n=${lat.size})")
    res.fact("batch_ms", measured.map(p => s"${lagMs(p)}+${dur(p, "triggerExecution")}").mkString(" "))
    res.fact("warmup_s", (measureStart - started) / 1000.0)

    if (ctx.trace) layers(ctx, res, ran, measured, writes, rowsIn - rows, dups, lagMs, latencyMs)
  }

  private def layers(ctx: Ctx, res: Result, ran: Seq[StreamingQueryProgress],
                     measured: Seq[StreamingQueryProgress],
                     writes: ConcurrentHashMap[Long, (Long, Long, Long)],
                     suppressed: Long, injected: Long,
                     lagMs: StreamingQueryProgress => Long,
                     latencyMs: StreamingQueryProgress => Double): Unit = {
    val tracer = ctx.tracer
    def p50(f: StreamingQueryProgress => Double) = Stats.median(measured.map(f))
    def state(p: StreamingQueryProgress) = p.stateOperators.headOption
    res.metric("streaming.planning_ms_p50", p50(p => dur(p, "queryPlanning").toDouble), "ms")
    res.metric("streaming.offset_log_ms_p50",
      p50(p => (dur(p, "latestOffset") + dur(p, "walCommit") + dur(p, "commitOffsets")).toDouble), "ms")
    res.metric("sources.batch_write_ms_p50", Stats.median(measured.flatMap(p =>
      Option(writes.get(p.batchId)).map { case (_, a, b) => (b - a) / 1e6 })), "ms")
    res.metric("streaming.state_update_ms_p50",
      p50(p => state(p).map(_.allUpdatesTimeMs.toDouble).getOrElse(0.0)), "ms")
    res.metric("streaming.state_commit_ms_p50",
      p50(p => state(p).map(_.commitTimeMs.toDouble).getOrElse(0.0)), "ms")
    val last = state(ran.last)
    res.metric("streaming.state_rows_end", last.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count")
    res.metric("streaming.state_mb_end", last.map { s =>
      (s.memoryUsedBytes + Option(s.customMetrics.get("rocksdbSstFileSize")).map(_.longValue)
        .getOrElse(0L)) / 1048576.0
    }.getOrElse(0.0), "MiB")
    val tenth = math.max(1, measured.size / 10)
    res.metric("streaming.batch_ms_drift",
      Stats.median(measured.takeRight(tenth).map(latencyMs)) /
        Stats.median(measured.take(tenth).map(latencyMs)), "ratio")
    res.metric("streaming.schedule_lag_ms_max", measured.map(lagMs).max.toDouble, "ms")
    res.metric("streaming.late_rows_dropped",
      ran.flatMap(state).map(_.numRowsDroppedByWatermark).sum.toDouble, "count")
    res.metric("streaming.dup_suppressed_ratio",
      if (injected == 0) 0.0 else suppressed.toDouble / injected, "ratio")
    val (traced, plain) = measured.partition(_.batchId % 2 == 1)
    res.metric("trace.overhead_ms",
      Stats.median(traced.map(latencyMs)) - Stats.median(plain.map(latencyMs)), "ms")

    // Spans for the traced batches: the batch, its phases laid end to end
    // in MicroBatchExecution's order, and the sink write inside addBatch.
    ran.filter(_.batchId % 2 == 1).foreach { p =>
      val start = tracer.fromEpochMs(Instant.parse(p.timestamp).toEpochMilli)
      val batch = tracer.record("streaming.batch", 0L, p.batchId, start,
        start + dur(p, "triggerExecution") * 1000000L)
      var t = start
      Phases.foreach { ph =>
        val end = t + dur(p, ph) * 1000000L
        val id = tracer.record(s"streaming.$ph", batch, p.batchId, t, end)
        if (ph == "addBatch") Option(writes.get(p.batchId)).foreach { case (wid, a, b) =>
          tracer.record("sources.writeBatch", id, p.batchId, a, b, wid)
        }
        t = end
      }
    }
  }
}
