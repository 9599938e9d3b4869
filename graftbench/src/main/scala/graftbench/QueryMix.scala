package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}

/** query_mix: one client runs a fixed list of registry queries in a closed
  * loop over the engine's sf 0.01 test tables (`ctx.data`). The seed fixes
  * the order of the queries within a pass. Each query is timed from the
  * registry call to the end of a `noop` write of every output column.
  *
  * The shared half rebuilds shingles and LSH bands that the default
  * configuration does not share between queries; the independent
  * half is scan, join, window and planning work. Persisted blocks are
  * dropped after each pass, so every pass starts cold and sharing within a
  * pass still shows.
  */
object QueryMix extends Workload {
  val Shared = Seq("d02_ngram_jaccard", "d12_greedy_band_dedup", "s02_ann_lsh")
  val Independent = Seq("q01_pricing_summary", "r22_spearman_drift", "j20_range_enrich")
  val All: Seq[String] = Shared ++ Independent
  // Untimed noop passes after the first. The two passes after the cold one
  // run 15-30 % slower than later ones while the JIT compiles the planner
  // and the kernels; timed there, a run measures how far the JIT got.
  val WarmPasses = 2
  val MinPasses = 3

  def warmUp(spark: SparkSession, ctx: Ctx): Unit =
    Tables.names.foreach(n => Tables(spark, ctx.data, n))

  def run(spark: SparkSession, ctx: Ctx, res: Result): Unit = {
    val tracer = ctx.tracer
    val registry = SparkEntry.queries
    // planning phases of every query execution, as Spark's own tracker saw
    // them; only those inside a traced span are kept (see layers)
    val planned = new ConcurrentLinkedQueue[QueryExecution]()
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    if (ctx.trace) spark.listenerManager.register(qeListener)
    val order = new scala.util.Random(ctx.seed).shuffle(All)
    res.fact("order", order.mkString(" "))

    // Pass 0 compiles the plans; it writes every output to parquet with its
    // oracle SQL for the launcher's DuckDB compare. It and the warm passes
    // after it are not timed.
    val outDir = s"${ctx.work}/mix_out"
    def pass(p: Int, dump: Boolean = false): Seq[(String, Double, Boolean)] = {
      val out = order.zipWithIndex.map { case (q, i) =>
        // a traced run traces each query in every other pass, half of them
        // in odd passes and half in even ones, so warm-up cancels out of the
        // traced-minus-untraced overhead
        val on = p > 0 && ctx.trace && (p + i) % 2 == 0
        tracer.enabled = on
        val t0 = System.nanoTime()
        tracer.span("queries.query", p * 100L + i) {
          val df = tracer.span("queries.build")(registry(q)(spark, ctx.data))
          tracer.span("queries.execute") {
            if (dump) df.write.mode("overwrite").parquet(s"$outDir/$q")
            else df.write.format("noop").mode("overwrite").save()
          }
        }
        (q, (System.nanoTime() - t0) / 1e9, on)
      }
      tracer.enabled = false
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      out
    }

    val t0 = System.nanoTime()
    pass(0, dump = true)
    res.fact("check_pass_s", f"${(System.nanoTime() - t0) / 1e9}%.3f")
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), All.map { q =>
      val sql = oracles.getOrElse(q, "")
      "\"" + q + "\": \"" + sql.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    }.mkString("{", ",\n", "}"))

    val warm = (1 to WarmPasses).map(_ => pass(0).map(_._2).sum)
    res.fact("warm_pass_s", warm.map(x => f"$x%.3f").mkString(" "))

    val runs = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    ctx.setup.done()
    val start = System.nanoTime()
    var p = 1
    while (p <= MinPasses || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      runs ++= pass(p)
      p += 1
    }
    spark.listenerManager.unregister(qeListener)

    res.attempted = runs.size
    res.fact("passes", p - 1)
    res.fact("pass_s", runs.grouped(All.size).map(g => f"${g.map(_._2).sum}%.3f").mkString(" "))

    val plain = runs.filterNot(_._3)
    val med = All.map(q => q -> Stats.median(plain.filter(_._1 == q).map(_._2).toSeq)).toMap
    val total = med.values.sum
    res.metric("throughput", All.size / total, "1/s")
    res.metric("latency_p50_ms", Stats.median(med.values.toSeq) * 1000, "ms")
    res.fact("mix_shared_s", f"${Shared.map(med).sum}%.3f")
    res.fact("mix_independent_s", f"${Independent.map(med).sum}%.3f")
    res.fact("query_s", All.map(q => f"$q=${med(q)}%.3f").mkString(" "))
    res.fact("query_runs_s", All.map(q =>
      s"$q=" + runs.filter(_._1 == q).map(r => f"${r._2}%.3f").mkString(",")).mkString(" "))

    if (ctx.trace) layers(spark, ctx, res, runs.toSeq, med, planned.asScala.toSeq)
  }

  private def layers(spark: SparkSession, ctx: Ctx, res: Result,
                     runs: Seq[(String, Double, Boolean)], med: Map[String, Double],
                     planned: Seq[QueryExecution]): Unit = {
    val tracer = ctx.tracer
    tracer.drain(spark.sparkContext)
    // hang each tracked planning phase under the build or execute span whose
    // interval holds it (eager materializations plan inside the build call)
    val spans = tracer.all
    val inner = spans.filter(s => s.name == "queries.build" || s.name == "queries.execute")
    planned.foreach { qe =>
      val phases = qe.tracker.phases
      Seq("optimization" -> "plans.optimize", "planning" -> "plans.physical").foreach {
        case (phase, name) => phases.get(phase).foreach { ph =>
          val (a, b) = (tracer.fromEpochMs(ph.startTimeMs), tracer.fromEpochMs(ph.endTimeMs))
          inner.find(s => s.startNs <= a + 1000000L && b <= s.endNs + 1000000L).foreach { s =>
            tracer.record(name, s.id, s.op, math.max(a, s.startNs), math.min(b, s.endNs))
          }
        }
      }
    }
    val all = tracer.all
    val kids = tracer.children
    val tracedPasses = runs.filter(_._3).size.toDouble / All.size
    def perPass(name: String) =
      all.filter(_.name == name).map(s => tracer.selfNs(s, kids)).sum / 1e9 / tracedPasses
    res.metric("queries.build_s", perPass("queries.build"), "s")
    res.metric("plans.optimize_s", perPass("plans.optimize"), "s")
    res.metric("plans.physical_s", perPass("plans.physical"), "s")
    res.metric("queries.execute_s", perPass("queries.execute"), "s")
    res.metric("queries.input_mb", tracer.total.inputBytes / 1048576.0 / tracedPasses, "MiB")
    // block updates carry no span, so this one is per pass over all passes
    // of the run, the untimed ones included
    val passes = runs.size / All.size + 1 + WarmPasses
    res.metric("queries.materialized_mb", tracer.materializedBytes / 1048576.0 / passes, "MiB")
    res.metric("mix.shared_s", Shared.map(med).sum, "s")
    res.metric("mix.independent_s", Independent.map(med).sum, "s")
    All.foreach(q => res.metric(s"q.$q.s", med(q), "s"))
    val (t, u) = runs.partition(_._3)
    def passS(xs: Seq[(String, Double, Boolean)]) =
      All.map(q => Stats.median(xs.filter(_._1 == q).map(_._2))).sum
    res.metric("trace.overhead_ms", (passS(t) - passS(u)) * 1000, "ms")
  }
}
