package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning: exact dups collapse to their min id,
  * near-dup groups keep only their min id, unrelated docs survive —
  * on a planted fixture where every class is known by construction.
  */
class CorpusDedupSpec extends SparkSpec {
  import spark.implicits._

  test("clean: exact dups, near-dup chains, and unique docs partition correctly") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while seventeen astronauts debate orbital mechanics near the window"
    val docs = Seq(
      1L -> base,                       // near-dup group {1, 2, 11}
      2L -> (base + " tail"),           // near-dup of 1
      11L -> base,                      // EXACT dup of 1 -> dropped in stage 1
      3L -> "completely unrelated text about maritime navigation charts and the tides of the northern sea during equinox storms",
      4L -> "another disjoint document entirely concerned with sourdough fermentation timing hydration ratios and crumb structure",
      5L -> "completely unrelated text about maritime navigation charts and the tides of the northern sea during equinox storms"
    ).toDF("doc_id", "text")            // 5 is an exact dup of 3
    val kept = CorpusDedup.clean(docs, "doc_id", "text", threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    // 11 drops (exact dup of 1), 5 drops (exact dup of 3),
    // 2 drops (near-dup of 1), groups keep min ids 1 and 3, 4 survives
    assert(kept === Set(1L, 3L, 4L))
    for (bad <- Seq(0.0, 1.5))
      intercept[IllegalArgumentException](
        CorpusDedup.clean(docs, "doc_id", "text", threshold = bad))
  }

  test("decontaminate: only docs sharing an n-gram run with the benchmark are flagged") {
    val leak = "four score and seven years ago our fathers brought forth"
    val bench = Seq(
      100L -> s"benchmark question about history $leak on this continent",
      101L -> "an unrelated eval prompt regarding photosynthesis chemistry pathways"
    ).toDF("doc_id", "text")
    val train = Seq(
      1L -> s"a training document that quotes $leak verbatim in the middle",
      2L -> "clean training text with no overlap against any benchmark at all here",
      3L -> s"another leaky one, $leak, twice even: $leak"
    ).toDF("doc_id", "text")
    val flagged = CorpusDedup.decontaminate(train, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet === Set(1L, 3L), s"got $flagged")
    // the leak sentence has 10 tokens -> 6 distinct 5-grams; doc 3's
    // doubled quote still counts each gram once (distinct)
    assert(flagged(1L) === 6L && flagged(3L) === 6L)
  }

  test("decontaminateBloom ≡ decontaminate on planted leaks and on real docs") {
    val leak = "four score and seven years ago our fathers brought forth"
    val bench = Seq(
      100L -> s"benchmark question about history $leak on this continent",
      101L -> "an unrelated eval prompt regarding photosynthesis chemistry pathways"
    ).toDF("doc_id", "text")
    val train = Seq(
      1L -> s"a training document that quotes $leak verbatim in the middle",
      2L -> "clean training text with no overlap against any benchmark at all here",
      3L -> s"another leaky one, $leak, twice even: $leak"
    ).toDF("doc_id", "text")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(toSet(CorpusDedup.decontaminateBloom(train, bench, "doc_id", "text", n = 5)) ===
      toSet(CorpusDedup.decontaminate(train, bench, "doc_id", "text", n = 5)))
    // real documents table, the q41/q53 split: identical contamination map
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val tr = docs.filter(pmod(col("doc_id"), lit(20)) =!= 0)
    val be = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
    val plain = toSet(CorpusDedup.decontaminate(tr, be, "doc_id", "text", n = 5))
    assert(toSet(CorpusDedup.decontaminateBloom(tr, be, "doc_id", "text", n = 5)) === plain)
    assert(plain.nonEmpty, "fixture must actually contain contamination")
  }

  test("decontaminateBloom: bloom probe reaches the plan; empty bench is empty, not an NPE") {
    val train = Seq(1L -> "alpha beta gamma delta epsilon zeta").toDF("doc_id", "text")
    val bench = Seq(100L -> "alpha beta gamma delta epsilon zeta").toDF("doc_id", "text")
    val plan = CorpusDedup.decontaminateBloom(train, bench, "doc_id", "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), s"probe missing from plan:\n$plan")
    val emptyBench = bench.filter(col("doc_id") < 0)
    assert(CorpusDedup.decontaminateBloom(train, emptyBench, "doc_id", "text", n = 5)
      .count() === 0L)
  }

  test("clean preserves all original columns on kept rows") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta", "en", 8),
                   (2L, "alpha beta gamma delta epsilon zeta eta theta", "en", 8))
      .toDF("doc_id", "text", "lang", "n")
    val kept = CorpusDedup.clean(docs, "doc_id", "text")
    assert(kept.columns.toSeq === Seq("doc_id", "text", "lang", "n"))
    assert(kept.select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("dedupParagraphs: hand trace across all four stages") {
    val sep = "\n\n"
    val p1 = "the quick brown fox jumps over the lazy dog tonight"
    val p3 = "the quick brown fox jumps over the lazy dog" // near-dup of p1
    val p2 = "shared boilerplate paragraph that appears in several documents"
    val p4 = "a wholly unrelated paragraph on sourdough fermentation and hydration"
    val u1 = "unique alpha paragraph for ordering checks"
    val u2 = "unique omega paragraph for ordering checks"
    val u5 = "novel paragraph that only document two carries forward"
    val docs = Seq(
      1L -> (p1 + sep + p2),         // both survive (first occurrences)
      2L -> (p2 + sep + p3 + sep + u5), // p2 exact-dropped, p3 near-dropped vs p1, u5 kept
      3L -> p4,                      // untouched
      4L -> (p2 + sep + p2),         // both occurrences exact-dropped -> doc omitted
      5L -> (u1 + sep + p2 + sep + u2) // keeps u1, u2 in order
    ).toDF("doc_id", "text")
    val got = CorpusDedup.dedupParagraphs(docs, "doc_id", "text", sep,
        threshold = 0.6)
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> (p1 + sep + p2),
      2L -> u5,
      3L -> p4,
      5L -> (u1 + sep + u2)))
  }

  test("dedupParagraphs keeps the FIRST occurrence corpus-wide, by (doc, idx)") {
    val sep = "\n\n"
    val shared = "identical paragraph planted at different positions across docs"
    val docs = Seq(
      7L -> ("leading context paragraph seven" + sep + shared),
      8L -> (shared + sep + "trailing context paragraph eight")
    ).toDF("doc_id", "text")
    val got = CorpusDedup.dedupParagraphs(docs, "doc_id", "text", sep)
      .as[(Long, String)].collect().toMap
    // (7, 1) precedes (8, 0) in (doc, idx) order -> doc 7 keeps it
    assert(got(7L) === "leading context paragraph seven" + sep + shared)
    assert(got(8L) === "trailing context paragraph eight")
  }

  test("contaminationFraction: verbatim copy scores 1.0, clean doc 0.0, partial in between") {
    val quote = "four score and seven years ago our fathers brought forth a new nation"
    val bench = Seq(100L -> quote).toDF("doc_id", "text")
    val train = Seq(
      1L -> quote,                                         // verbatim copy
      2L -> "zzqx jvwk pfmt hqzn wxyv bkrd lsgc mjpt qvnf", // disjoint junk
      3L -> (quote + " entirely novel continuation stretching well beyond the quoted region with many extra words")
    ).toDF("doc_id", "text")
    val got = CorpusDedup.contaminationFraction(train, bench, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L)._3 === 1.0, s"verbatim copy must score 1.0: ${got(1L)}")
    assert(got(2L)._3 === 0.0, s"disjoint doc must score 0.0: ${got(2L)}")
    assert(got(3L)._3 > 0.0 && got(3L)._3 < 1.0,
      s"partial quote must score strictly between: ${got(3L)}")
    // sanity: hit count never exceeds fingerprint count
    got.values.foreach { case (n, h, _) => assert(h <= n) }
  }

  test("cleanAgainst: batch dedups against the corpus and within itself; corpus untouched") {
    val x = "the quick brown fox jumps over the lazy dog again and again " +
      "while seventeen astronauts debate orbital mechanics near the window"
    val y = "completely unrelated text about maritime navigation charts and " +
      "the tides of the northern sea during equinox storms"
    val z = "a wholly novel batch document concerned with sourdough " +
      "fermentation timing hydration ratios and crumb structure development"
    val corpus = Seq(1L -> x, 2L -> y).toDF("doc_id", "text")
    val batch = Seq(
      10L -> x,               // exact dup of corpus 1 -> drop
      11L -> (y + " tail"),   // near-dup of corpus 2 -> drop
      12L -> z,               // novel -> KEEP
      13L -> z,               // batch-internal exact dup of 12 -> drop
      14L -> (z + " extra")   // batch-internal near-dup of 12 -> drop
    ).toDF("doc_id", "text")
    val kept = CorpusDedup.cleanAgainst(corpus, batch, "doc_id", "text",
        threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(12L))
    // matches the batch rows of clean(corpus ∪ batch) — the semantics
    // contract (corpus ids precede batch ids)
    val full = CorpusDedup.clean(corpus.unionByName(batch), "doc_id", "text",
        threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === full.filter(_ >= 10L))
    for (bad <- Seq(0.0, 1.5))
      intercept[IllegalArgumentException](
        CorpusDedup.cleanAgainst(corpus, batch, "doc_id", "text", threshold = bad))
  }

  test("dedupParagraphs plan: no cartesian product, no single-partition stage") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), concat_ws("\n\n", col("text"), col("text")).as("text"))
    val plan = CorpusDedup.dedupParagraphs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs stage leaked:\n$plan")
    assert(!plan.contains("SinglePartition"), s"single-partition stage:\n$plan")
  }
}
