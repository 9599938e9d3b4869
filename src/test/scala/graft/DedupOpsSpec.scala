package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{MinHashLSH, SimHash}

class DedupOpsSpec extends SparkSpecBase {
  import spark.implicits._

  test("SimHash aggregator: identical docs share a signature; disjoint docs differ") {
    val docs = Seq(
      (1L, Seq("spark", "query", "table", "join")),
      (2L, Seq("spark", "query", "table", "join")),
      (3L, Seq("zebra", "yak", "xylophone", "walrus"))
    ).toDF("doc_id", "toks")
    val sig = SimHash.signatures(docs, col("doc_id"), col("toks"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(2L), "identical token bags ⇒ identical simhash")
    assert(sig(1L) != sig(3L))
    assert(sig.values.forall(v => v >= 0 && v < (1L << 60)), "60-bit range")
  }

  test("SimHash.pairsWithin(banded) equals brute-force hamming filter") {
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val sig = SimHash.signatures(docs, col("doc_id"), col("toks")).cache()
    val banded = SimHash.pairsWithin(sig, maxHamming = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = sig.as("a").join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("h"))
      .filter(col("h") <= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == brute, "pigeonhole banding must find exactly the brute-force pairs")
    sig.unpersist()
  }

  test("MinHashLSH: exact copies always collide and verify at jaccard 1.0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDuplicates(docs, col("doc_id"), col("text"),
      shingleN = 3, k = 8, r = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("MinHashLSH on testdata finds planted near-dups (subset of exact jaccard pairs)") {
    val docs = Tables.documents(spark, sf("sf0.001"))
    val lsh = MinHashLSH.nearDuplicates(docs, col("doc_id"), col("text"), 3, 8, 2, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact all-pairs jaccard for ground truth
    val sh = docs.select(col("doc_id"),
      TextFunctions.wordShingles(col("text"), 3).as("s3"))
    val exact = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        TextFunctions.jaccard(col("a.s3"), col("b.s3")).as("j"))
      .filter(col("j") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "every LSH-verified pair is a true near-dup")
    assert(exact.isEmpty || lsh.nonEmpty, "LSH finds at least some planted pairs")
  }

  test("MinHashSig equals the composable array_min(transform) formula") {
    import graft.functions.MinHashSig
    val M32 = 4294967296L
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"),
        graft.functions.ShingleHashes(TextFunctions.tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val both = docs.select(col("doc_id"),
      MinHashSig(col("sh"), 8).as("native"),
      array((0 until 8).map(j => array_min(transform(col("sh"), s =>
        (s % M32 + lit(j.toLong) * shiftright(s, 28).bitwiseOR(lit(1L))) % M32))): _*)
        .as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0,
      "the native one-pass expression must match the reference formula exactly")
  }

  test("SortedPairs equals the composable flatten/transform/slice pair formula") {
    import graft.functions.SortedPairs
    // the exact expression the round-19 kernel replaced (r26/d26/d10/d02
    // group-pair generation): every ordered (a(i), a(j)) i < j as structs
    val composed = flatten(transform(col("ds"), (x, i) =>
      transform(slice(col("ds"), (i + lit(2)).cast("int"), size(col("ds"))),
        y => struct(x.as("pa"), y.as("pb")))))
    val groups = Seq(
      Seq(1L, 2L, 3L, 4L),      // 6 pairs
      Seq(7L),                  // singleton -> none
      Seq.empty[Long],          // empty -> none
      Seq(5L, 5L, 9L)           // duplicates preserved as the multiset
    ).toDF("ds")
    val both = groups.select(SortedPairs(col("ds")).as("native"),
      composed.as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0,
      "the kernel must emit the identical pair array (values AND order)")
    // and through codegen + explode + agg, the multiset is unchanged
    val agg = groups.select(explode(SortedPairs(col("ds"))).as("p"))
      .groupBy(col("p.pa"), col("p.pb")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(agg((1L, 2L)) == 1 && agg((3L, 4L)) == 1 && agg((5L, 5L)) == 1 &&
      agg((5L, 9L)) == 2 && agg.values.sum == 9)
  }

  test("SortedPairs rejects array<int> and nullable elements at analysis") {
    import graft.functions.SortedPairs
    import org.apache.spark.sql.AnalysisException
    // getLong over int slots or null slots would pair garbage silently; the
    // input type check turns both into analysis errors
    val ints = Seq(Seq(1, 2, 3)).toDF("ds")
    assert(ints.schema("ds").dataType.catalogString == "array<int>")
    intercept[AnalysisException](ints.select(SortedPairs(col("ds"))))
    val nullable = Seq(Seq[java.lang.Long](1L, null, 3L)).toDF("ds")
    assert(nullable.schema("ds").dataType.catalogString == "array<bigint>")
    val e = intercept[AnalysisException](nullable.select(SortedPairs(col("ds"))))
    assert(e.getMessage.contains("containsNull"), e.getMessage)
    // the call sites' input shape still analyzes: sorted, null-free longs
    val ok = Seq(Seq(3L, 1L, 2L)).toDF("ds")
      .select(SortedPairs(sort_array(col("ds"))).as("p"))
    assert(ok.collect().head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1))) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("WinnowFingerprints equals the composable transform/array_min/slice formula") {
    import graft.functions.WinnowFingerprints
    val w = 4
    val ws = TextFunctions.tokens(col("text"))
    val m = size(ws)
    val grams = transform(sequence(lit(1), m - 2), i =>
      md5(concat_ws(" ", element_at(ws, i.cast("int")),
        element_at(ws, (i + 1).cast("int")),
        element_at(ws, (i + 2).cast("int")))))
    val composed = when(m >= lit(w + 2),
      array_distinct(transform(sequence(lit(1), m - lit(2 + w - 1)),
        p => array_min(slice(grams, p.cast("int"), lit(w))))))
      .otherwise(array().cast("array<string>"))
    val both = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"),
        WinnowFingerprints(TextFunctions.tokens(col("text")), 3, w).as("native"),
        composed.as("composed"))
    assert(both.filter(col("native") =!= col("composed")).count() == 0,
      "the one-pass kernel must match the composable winnowing formula exactly")
  }

  test("WinnowFingerprints: short docs yield empty, and selection is per-row") {
    import graft.functions.WinnowFingerprints
    val docs = Seq((1L, "a b c"), (2L, "a b c d e"), (3L, "a b c d e f"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      WinnowFingerprints(TextFunctions.tokens(col("text")), 3, 4).as("fps"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty, "m < w + 2 ⇒ no full window ⇒ empty")
    assert(out(2L).isEmpty, "5 tokens → 3 grams < w=4 windows ⇒ empty")
    assert(out(3L).size == 1, "6 tokens → 4 grams → exactly one window minimum")
    val plan = docs.select(
      WinnowFingerprints(TextFunctions.tokens(col("text")), 3, 4).as("fps"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"),
      "fingerprint selection is a pure projection — no shuffle, no explode")
  }

  test("PositionalShingleHashes: positional multiset refines ShingleHashes' set") {
    import graft.functions.{PositionalShingleHashes, ShingleHashes}
    val both = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"),
        size(TextFunctions.tokens(col("text"))).as("m"),
        PositionalShingleHashes(TextFunctions.tokens(col("text")), 3).as("posh"),
        ShingleHashes(TextFunctions.tokens(col("text")), 3).as("sh"))
    // positional length is exactly m - n + 1 (multiplicity preserved) ...
    assert(both.filter(col("m") >= 3 &&
      size(col("posh")) =!= col("m") - 2).count() == 0)
    // ... and its distinct set is ShingleHashes (same digest, same order)
    assert(both.filter(array_distinct(col("posh")) =!= col("sh")).count() == 0,
      "first-occurrence-deduped positional hashes must equal ShingleHashes")
  }

  test("MinHash signatures are per-row: no shuffle, no explode") {
    import graft.functions.ShingleHashes
    val docs = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), ShingleHashes(TextFunctions.tokens(col("text")), 3).as("sh"))
    val sig = MinHashLSH.signatures(docs, col("doc_id"), col("sh"), 8)
    val plan = sig.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      "a doc's signature depends only on its own shingles — nothing may shuffle")
    assert(!plan.contains("Generate"),
      "per-row array_min(transform(...)), not explode + groupBy")
    assert(!plan.contains("HashAggregate"), "no aggregation stage")
  }
}
