package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE merge-rule TRAINING — the tokenizer-build step of a
  * training-data pipeline (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"). Closes the gap
  * [[Bpe]] documents at its `TableMerges` tier: that table is a
  * deterministic SYNTHETIC vocab exercising the 50k-scale broadcast
  * encoder; this object LEARNS merges from raw corpus text.
  *
  * Shape, and why it scales: classic BPE trains on the word-frequency
  * DICTIONARY, not the corpus — [[wordCounts]] is the single
  * corpus-sized pass (one map-side-combinable hash aggregation), and
  * the K-round greedy loop touches only that vocab-scale table. At
  * 100 TB the dictionary is heavy-tail bounded (frequency-floor it
  * with `minCount` if unbounded user-generated text pushes it up);
  * each round is one distributed pair-count over the dictionary plus
  * a 1-row argmax collect — K bounded jobs, never a corpus rescan.
  *
  * Determinism (cross-engine, the oracle re-derives the merges in
  * DuckDB): pure integer pair counts; argmax tie-break is
  * (count DESC, left ASC, right ASC) under binary string order —
  * identical in Spark (UTF8 binary) and DuckDB (memcmp). Pair
  * extraction and merge application use [[Bpe]]'s delimited
  * `|a||b|` → `|ab|` replace device, so "count adjacent occurrences,
  * then left-to-right non-overlapping replace" means the same thing
  * in both engines.
  *
  * Learned tables are CONSISTENT by construction (each operand is a
  * base char or the output of an earlier merge — it was a live symbol
  * when selected), so [[Bpe.symbolsWith]]'s one-ascending-pass replay
  * is exactly greedy lowest-rank-first encoding (the theorem
  * [[BpeVocab]] documents).
  */
object BpeTrain {

  /** One learned merge: 0-based rank, operands, and the pair count
    * that won the argmax at selection time (the training evidence the
    * governance queries report).
    */
  final case class LearnedMerge(rank: Long, a: String, b: String, cnt: Long)

  /** The word-frequency dictionary: (word, cnt), one corpus pass.
    * Same corpus contract as [[Bpe.symbols]]: reserved delimiter
    * chars `|` / `#` fail loudly.
    */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val text = col(textCol)
    val guarded = when(text.rlike("[|#]"),
      raise_error(concat(lit("BpeTrain: text contains reserved delimiter | or #: "), text)))
      .otherwise(text)
    docs.select(explode(TextOps.tokens(guarded)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
  }

  /** Additive merge of two word-frequency dictionaries — the
    * SUFFICIENT-STATISTIC maintenance of the tokenizer trainer
    * (the index-maintenance discipline applied to [[wordCounts]]):
    * counts add, vocabularies union, the base corpus is never
    * re-read. A tokenizer refresh after an ingest batch is
    * mergeDicts + [[learnMerges]] over the vocab-scale dictionary
    * alone. mergeDicts(wordCounts(a), wordCounts(b)) ≡
    * wordCounts(a ∪ b) (BpeTrainSpec-pinned).
    */
  def mergeDicts(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))

  /** Adjacent symbol pairs of the dictionary under `merges`, weighted
    * by word count: (a, b, c). One distributed pass over the
    * dictionary — the per-round statistic of the greedy loop, exposed
    * for specs.
    */
  def pairCounts(wordCounts: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val sym = Bpe.symbolsOfWord(merges, col("word"))
    wordCounts
      .withColumn("syms", split(sym.substr(lit(2), length(sym) - 2), "\\|\\|"))
      .filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> named_struct('a', syms[i-1], 'b', syms[i]))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("cnt")).as("c"))
  }

  /** Learn up to `k` merges greedily from a (word, cnt) dictionary —
    * SIZE-GATED plan choice: at or below `localCutoff`
    * dictionary rows the greedy loop runs DRIVER-SIDE over the
    * collected table ([[learnMergesLocal]]) — ONE Spark job total
    * instead of k pair-count jobs, which is what makes a 50k-merge
    * production vocabulary feasible (50k sequential distributed
    * rounds are not; the dictionary is vocab-scale by construction
    * and heavy-tail bounded, so it fits a driver comfortably at the
    * default cutoff) — above it, the per-round distributed loop
    * ([[learnMergesDistributed]]) runs unchanged. Identical labels by
    * construction and by pin: BpeTrainProps checks BOTH paths against
    * an independent in-memory reference on random corpora, and
    * BpeTrainSpec pins them equal on a non-ASCII corpus (the
    * tie-break's UTF-8-byte-order edge).
    */
  def learnMerges(wordCounts: DataFrame, k: Int,
                  localCutoff: Long = 1L << 20): Seq[LearnedMerge] = {
    require(k >= 1, s"learnMerges: k=$k")
    val wc = wordCounts.localCheckpoint()
    if (wc.count() <= localCutoff)
      learnMergesLocal(
        wc.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq, k)
    else distributedLoop(wc, k) // already checkpointed — no second write
  }

  /** The at-scale distributed loop: each round is one pair-count over
    * the (checkpointed) dictionary plus a 1-row argmax collect; each
    * round re-derives the current symbol strings by folding the
    * merges learned so far into the projection (k ≤ a few dozen on
    * this path — re-deriving beats k checkpoint writes; a larger k
    * belongs on the gated local path).
    */
  def learnMergesDistributed(wordCounts: DataFrame, k: Int): Seq[LearnedMerge] = {
    require(k >= 1, s"learnMerges: k=$k")
    distributedLoop(wordCounts.localCheckpoint(), k)
  }

  /** The round loop over an ALREADY-materialized dictionary. */
  private def distributedLoop(wc: DataFrame, k: Int): Seq[LearnedMerge] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[LearnedMerge]
    var exhausted = false
    while (out.length < k && !exhausted) {
      val top = pairCounts(wc, out.toSeq.map(m => (m.a, m.b)))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else out += LearnedMerge(out.length.toLong,
        top(0).getString(0), top(0).getString(1), top(0).getLong(2))
    }
    out.toSeq
  }

  /** `x <binary> y` under UTF-8 byte order — UTF8String's comparison
    * (and DuckDB's memcmp). Java String order would diverge on
    * supplementary characters (UTF-16 surrogates sort below high BMP
    * code points), so the local path compares raw UTF-8 bytes.
    */
  private def byteLt(x: String, y: String): Boolean = {
    val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
    var i = 0
    while (i < a.length && i < b.length) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    a.length < b.length
  }

  /** Driver-side greedy loop over a collected dictionary — the exact
    * semantics of the distributed rounds: initial symbols are CODE
    * POINTS (the `(.)` regex unit in both engines), pair counts sum
    * EVERY adjacent index, the argmax breaks ties by (count DESC,
    * a ASC, b ASC) under UTF-8 byte order, and the merge applies
    * non-overlapping left-to-right (the `|a||b|` → `|ab|` string
    * replace). Stops early when no adjacent pair remains.
    */
  def learnMergesLocal(dict: Seq[(String, Long)], k: Int): Seq[LearnedMerge] = {
    require(k >= 1, s"learnMergesLocal: k=$k")
    def codePoints(w: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.result()
    }
    var words: Vector[(Vector[String], Long)] = dict.iterator
      .filter(_._1.nonEmpty).map { case (w, c) => codePoints(w) -> c }.toVector
    val out = scala.collection.mutable.ArrayBuffer.empty[LearnedMerge]
    var done = false
    while (out.length < k && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, cnt) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + cnt)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        var best: ((String, String), Long) = null
        counts.foreach { e =>
          if (best == null || e._2 > best._2 ||
            (e._2 == best._2 && (byteLt(e._1._1, best._1._1) ||
              (e._1._1 == best._1._1 && byteLt(e._1._2, best._1._2)))))
            best = e
        }
        val ((a, b), c) = best
        out += LearnedMerge(out.length.toLong, a, b, c)
        words = words.map { case (syms, cnt) =>
          if (syms.length < 2) (syms, cnt)
          else {
            val merged = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                merged += a + b; i += 2 // non-overlapping left-to-right
              } else { merged += syms(i); i += 1 }
            }
            (merged.result(), cnt)
          }
        }
      }
    }
    out.toSeq
  }
}
