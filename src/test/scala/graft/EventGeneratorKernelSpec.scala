package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.functions.{Md5Bucket, Md5Uuid}
import graft.operators.EventGenerator

/** Golden parity for the generator's template kernels: `Md5Uuid` and
  * `Md5Bucket` must equal the composable md5/substring/conv/pmod
  * expressions they replaced — the generator's portable definition, which
  * the DuckDB oracle (q12) still evaluates — bit for bit, on the
  * interpreted and the codegen path.
  */
class EventGeneratorKernelSpec extends SparkSpecBase {
  import spark.implicits._

  private val Seeds = Seq(42L, 7L, 1L)
  // tag -> bucket count the generator uses it with (uuid tags get 16 too)
  private val Tags = Seq("eid" -> 16, "uid" -> 16, "fn" -> 16, "ln" -> 16, "dom" -> 4)

  private def refUuid(id: Column, prefix: String): Column = {
    val h = md5(concat(lit(prefix), id.cast("string")))
    concat(
      substring(h, 1, 8), lit("-"),
      substring(h, 9, 4), lit("-4"),
      substring(h, 14, 3), lit("-"),
      substring(h, 17, 4), lit("-"),
      substring(h, 21, 12))
  }

  private def refBucket(id: Column, prefix: String, n: Int): Column =
    pmod(conv(substring(md5(concat(lit(prefix), id.cast("string"))), 1, 8), 16, 10)
      .cast("long"), lit(n.toLong))

  /** The generator frame exactly as it was built from the composable form. */
  private def refGenerate(numRecords: Long, seed: Long): DataFrame = {
    def pick(vals: Seq[String], id: Column, tag: String): Column =
      element_at(array(vals.map(lit): _*),
        (refBucket(id, s"$tag:$seed:", vals.size) + 1).cast("int"))
    val id = col("id")
    val first = pick(EventGenerator.FirstNames, id, "fn")
    val last = pick(EventGenerator.LastNames, id, "ln")
    spark.range(0, numRecords, 1, 4).select(
      refUuid(id, s"eid:$seed:").as("event_id"),
      refUuid(id, s"uid:$seed:").as("user_id"),
      concat(first, lit(" "), last).as("name"),
      concat(first, lit("."), last, lit(id), lit("@"),
        pick(EventGenerator.Domains, id, "dom")).as("email"),
      date_format(timestamp_seconds(lit(1700000000L) + id),
        "yyyy-MM-dd HH:mm:ss").as("created_at"),
      id.as("row_id"))
  }

  // 100k dense ids, a block straddling 2^31 and 2^32, the long extremes,
  // negatives and a null. The edge ids are computed off a range rather than
  // read from a local Seq: a projection over a local relation is evaluated
  // on the driver by the optimizer and would never reach generated code.
  private def ids: DataFrame = {
    val edgeVals = Seq(lit(-1L), lit(-42L), lit(-2147483649L), lit(Long.MinValue),
      lit(Long.MaxValue), lit(Int.MaxValue.toLong), lit(1L << 32), lit(null).cast("long"))
    val edge = spark.range(0, edgeVals.size, 1, 1)
      .select(element_at(array(edgeVals: _*), (col("id") + 1).cast("int")).as("id"))
    spark.range(0, 100000, 1, 4).toDF("id")
      .union(spark.range((1L << 31) - 500, (1L << 31) + 500).toDF("id"))
      .union(spark.range((1L << 32) - 100, (1L << 32) + 100).toDF("id"))
      .union(edge)
  }

  /** Rows where any kernel column differs from its reference (null-safe),
    * one query per seed so each stage's generated code stays small.
    */
  private def mismatches(): Long = {
    val id = col("id")
    Seeds.map { seed =>
      val diffs = Tags.map { case (tag, n) =>
        val prefix = s"$tag:$seed:"
        not(Md5Uuid(id, prefix) <=> refUuid(id, prefix)) ||
          not(Md5Bucket(id, prefix, n) <=> refBucket(id, prefix, n))
      }
      ids.filter(diffs.reduce(_ || _)).count()
    }.sum
  }

  private def withConf[A](kv: (String, String)*)(f: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("Md5Uuid/Md5Bucket equal the composable md5 form on the codegen path") {
    assert(ids.count() == 100000 + 1000 + 200 + 8)
    val plan = ids.select(Md5Uuid(col("id"), "eid:42:")).queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]), plan.toString)
    assert(mismatches() == 0)
  }

  test("Md5Uuid/Md5Bucket equal the composable md5 form on the interpreted path") {
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val plan = ids.select(Md5Uuid(col("id"), "eid:42:")).queryExecution.executedPlan
      assert(!plan.exists(_.isInstanceOf[WholeStageCodegenExec]), plan.toString)
      assert(mismatches() == 0)
    }
  }

  test("null id in, null out; goldens from an independent md5") {
    // expected values from Python's hashlib over the same prefix + id
    val rows = Seq[java.lang.Long](null, 0L, -1L, 1L << 31).toDF("id")
      .select(Md5Uuid(col("id"), "eid:42:"), Md5Bucket(col("id"), "eid:42:", 4),
        Md5Bucket(col("id"), "dom:42:", 4))
      .collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1) && rows(0).isNullAt(2))
    assert(rows(1).getString(0) == "81a1403f-5811-4f64-e710-687ab84b3987")
    assert(rows(1).getLong(1) == 0x81a1403fL % 4)
    assert(rows(2).getString(0) == "257bda6f-97a9-40ad-e803-2fc654b2257f")
    assert(rows(2).getLong(1) == 0x257bda6fL % 4)
    assert(rows(3).getLong(2) == 0x1dfb82e8L % 4)
  }

  test("EventGenerator.generate equals the composable-form frame row for row") {
    Seq(42L, 7L).foreach { seed =>
      val got = EventGenerator.generate(spark, 50000L, seed, numPartitions = 3)
      val ref = refGenerate(50000L, seed)
      assert(got.schema == ref.schema, s"${got.schema} != ${ref.schema}")
      assert(got.count() == 50000L)
      assert(got.exceptAll(ref).count() == 0 && ref.exceptAll(got).count() == 0,
        s"seed $seed: kernel frame differs from the md5 SQL form")
    }
  }
}
