package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** MinHash-LSH / SimHash near-dup detection: seeded recall against the
  * exact n-gram-Jaccard oracle on a synthetic corpus with planted
  * near-duplicates.
  */
class NearDupSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic corpus: `nBase` random-word docs plus, for every 4th
    * doc, a near-dup copy with one token substituted (high Jaccard) —
    * all seeded/deterministic.
    */
  private def corpus(nBase: Int, docLen: Int = 40, seed: Int = 7): DataFrame = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    val rng = new scala.util.Random(seed)
    val base = (0 until nBase).map { i =>
      (i.toLong, Array.fill(docLen)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dups = base.filter(_._1 % 4 == 0).map { case (id, text) =>
      val toks = text.split(" ")
      toks(rng.nextInt(toks.length)) = "REPLACED"
      (id + 100000L, toks.mkString(" "))
    }
    (base ++ dups).toDF("doc_id", "text")
  }

  test("minhash signature: deterministic, fixed length, null for short docs") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "xx")).toDF("doc_id", "text")
    val sigs = df.select(
      NearDup.minhashSignature(TextOps.wordShingles(org.apache.spark.sql.functions.col("text"), 3), 16, 42L).as("sig"))
      .collect().map(r => Option(r.getAs[Seq[Long]]("sig")))
    assert(sigs(0).get.length === 16)
    assert(sigs(0) === sigs(1))      // identical text -> identical signature
    assert(sigs(2).isEmpty)          // < n tokens -> null signature
  }

  test("LSH near-dup pairs: full recall of planted near-dups, verified Jaccard") {
    val df = corpus(40).cache()
    val exact = NearDup.exactJaccardPairs(df, "doc_id", "text", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size >= 10, s"oracle found only ${exact.size} planted pairs")
    val lsh = NearDup.nearDupPairs(df, "doc_id", "text", threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // verification makes precision exact; recall must cover the oracle
    assert(lsh === exact, s"LSH ${lsh.size} pairs vs exact ${exact.size}")
    // the zero-shingle pre-filter is output-neutral only for threshold > 0
    for (bad <- Seq(0.0, 1.5))
      intercept[IllegalArgumentException](
        NearDup.nearDupPairs(df, "doc_id", "text", threshold = bad))
    df.unpersist()
  }

  test("verify stage reads the shingle checkpoint: one tokenize pass in the plan") {
    // r18 optimization pin: the shingle table is localCheckpoint-ed,
    // so the executed verify plan must contain no live tokenize/
    // signature expressions — both verify join sides and the band
    // stage sit below checkpoints. A MinHashSig or wordShingles
    // splitter reappearing here means a subtree is being re-evaluated
    // per consumer again.
    val df = corpus(30)
    val plan = NearDup.nearDupPairs(df, "doc_id", "text", threshold = 0.7)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("MinHashSig"), "signature recomputed above checkpoint")
    assert(!plan.toLowerCase.contains("array_distinct"),
      "shingle sets recomputed above the checkpoint")
  }

  test("near-dup groups: connected components keyed by min id") {
    val df = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),   // near-dup pair (identical)
      (3L, "a b c d e f g z"),                            // chains to 1,2
      (9L, "p q r s t u v w")                             // singleton
    ).toDF("doc_id", "text")
    val groups = NearDup.nearDupGroups(df, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(groups.keySet === Set(1L, 2L, 3L))
    assert(groups.values.toSet === Set(1L))  // min id is the representative
  }

  test("simhash: identical docs distance 0; near-dups within 3; unrelated far") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "the quick brown fox jumps over the lazy cat again and again today"),
      (4L, "completely unrelated words zebra xylophone quantum mechanics rainbow")
    ).toDF("doc_id", "text")
    val pairs = NearDup.simhashPairs(df, "doc_id", "text", maxDist = 3)
      .as[(Long, Long, Int)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    assert(pairs((1L, 2L)) === 0)
    assert(pairs.get((1L, 3L)).forall(_ <= 3))
    assert(!pairs.contains((1L, 4L)))
  }

  test("candidate generation is seed-deterministic") {
    val df = corpus(20).cache()
    val a = NearDup.candidatePairs(df, "doc_id", "text").as[(Long, Long)].collect().toSet
    val b = NearDup.candidatePairs(df, "doc_id", "text").as[(Long, Long)].collect().toSet
    assert(a === b)
    df.unpersist()
  }
}
