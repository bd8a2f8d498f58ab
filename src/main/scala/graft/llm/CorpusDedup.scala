package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus cleaning — the composition an LLM data pipeline
  * actually runs before training: exact dedup, then fuzzy near-dup
  * group dedup, returning the KEPT rows of the input.
  *
  * Stage 1 (exact): content-hash keep-first (`md5(text)` groups, min
  * id wins) — one hash-keyed shuffle, removes byte-identical copies
  * so the LSH stage only ever sees one representative per exact class
  * (the skew guard NearDup documents).
  * Stage 2 (fuzzy): MinHash-LSH candidates, exact-Jaccard verified,
  * connected components over the verified pair graph
  * (`PropertyGraph.pairComponents`: one collect, a driver union-find)
  * — every group keeps its minimum id, the rest drop.
  *
  * Scale shape: stage 1 shuffles (hash, id) pairs; stage 2 is the
  * proven q27/q36 pipeline (ids-only bucket join, O(candidates)
  * verification, CC over the near-dup pair graph only); the final
  * keep-filter is two id-keyed semi/anti joins. Nothing here ever
  * materializes a pair space or moves document text except the one
  * verification join.
  */
object CorpusDedup {

  /** Kept rows of `df` after exact + near-dup dedup (all original
    * columns preserved).
    */
  def clean(df: DataFrame, idCol: String, textCol: String,
            threshold: Double = 0.8, shingleN: Int = 3,
            numHashes: Int = 64, bands: Int = 16,
            seed: Long = 42L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // stage 1: exact content dedup, min id per hash class
    val keepExact = df
      .select(col(idCol), md5(col(textCol)).as("__h"))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
    // materialized once (r19): the exact-kept rows feed the near-dup
    // stage's shingle pass AND the final anti-join — each used to
    // re-run the scan + md5 keep-first semi-join
    val kept = df.join(keepExact, Seq(idCol), "left_semi").localCheckpoint()
    // stage 2: near-dup groups over the exact-kept set; drop everything
    // that is not its group's minimum id
    val drop = NearDup
      .nearDupGroups(kept, idCol, textCol, threshold, shingleN, numHashes, bands, seed)
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as(idCol))
    kept.join(drop, Seq(idCol), "left_anti")
  }

  /** INCREMENTAL corpus dedup — the continuous-ingest form of
    * [[clean]]: a new `batch` is deduplicated against an
    * already-clean `corpus` AND within itself, returning the kept
    * batch rows. The corpus is never rewritten and — the scale point —
    * never re-paired against itself: batch band rows probe the
    * (persistable — `NearDup.bandTable`) corpus band index, so pair
    * candidates all touch the batch and per-ingest cost is
    * O(batch + matches), not O(corpus²) or even O(corpus).
    *
    * Semantics (q68's oracle recomputes them exactly): a batch doc
    * drops if its content hash already exists in the corpus, if it is
    * not the min-id holder of its batch hash class, or if its near-dup
    * component (over verified pairs touching ≥1 batch doc) contains a
    * corpus doc or a smaller batch id. Equivalently: the batch rows of
    * `clean(corpus ∪ batch)` — provided corpus ids precede batch ids
    * (the contract: assign ingest batches ascending id ranges) and the
    * corpus is itself clean (each prior ingest's output, by
    * induction).
    */
  def cleanAgainst(corpus: DataFrame, batch: DataFrame,
                   idCol: String, textCol: String,
                   threshold: Double = 0.8, shingleN: Int = 3,
                   numHashes: Int = 64, bands: Int = 16,
                   seed: Long = 42L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // exact stage: batch keep-first, minus hashes the corpus already has
    val cHashes = corpus.select(md5(col(textCol)).as("__h")).distinct()
    val keptIds = batch
      .select(col(idCol), md5(col(textCol)).as("__h"))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .join(cHashes, Seq("__h"), "left_anti")
      .select(col(idCol))
    // materialized once: the exact-kept batch feeds the band table,
    // the shingle verification, and the final anti-join — without the
    // checkpoint each reference replays the whole batch subtree (an
    // ingest batch is bounded by contract, so this is O(batch) cache)
    val keptExact = batch.join(keptIds, Seq(idCol), "left_semi")
      .localCheckpoint()
    // near-dup stage: batch bands probe corpus + batch bands — every
    // candidate pair has a batch side; corpus-corpus pairs are never
    // generated (the corpus is clean: its internal near-dups are gone)
    val probeDocs = keptExact.select(col(idCol), col(textCol))
    val baseDocs = corpus.select(col(idCol), col(textCol))
    // tokenize each side ONCE (r19): the checkpointed distinct shingle
    // sets feed the band construction AND the verify joins — bandTable
    // used to run its own scan + wordShingles pass per side on top of
    // the union the verify tokenized (MinHash over the multiset equals
    // MinHash over the set; zero-shingle docs leave the band rows, but
    // any pair they formed verified to jaccard 0 and was dropped, so
    // the output is identical).
    val ssProbe = NearDup.shingleSets(probeDocs, idCol, textCol, shingleN)
      .localCheckpoint()
    val ssBase = NearDup.shingleSets(baseDocs, idCol, textCol, shingleN)
      .localCheckpoint()
    val bp = NearDup.bandRowsOfSets(ssProbe, numHashes, bands, seed)
      .localCheckpoint()
    val pool = NearDup.bandRowsOfSets(ssBase, numHashes, bands, seed)
      .unionByName(bp)
    val cands = bp.as("l")
      .join(pool.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.__id") =!= col("r.__id"))
      .select(least(col("l.__id"), col("r.__id")).as("id_a"),
        greatest(col("l.__id"), col("r.__id")).as("id_b"))
      .distinct()
    // exact-Jaccard verification — shingles joined back by id, only
    // candidate pairs pay the set intersection (NearDup's contract)
    val sh = ssBase.unionByName(ssProbe).withColumnRenamed("__id", "__sid")
    val pairs = cands
      .join(sh.withColumnRenamed("__sid", "id_a").withColumnRenamed("__sh", "__sha"), Seq("id_a"))
      .join(sh.withColumnRenamed("__sid", "id_b").withColumnRenamed("__sh", "__shb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        NearDup.jaccardDistinct(col("__sha"), col("__shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val drop = graft.graph.PropertyGraph.pairComponents(pairs)
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as(idCol))
    keptExact.join(drop, Seq(idCol), "left_anti")
  }

  /** Paragraph-granularity dedup — the missing rung between the
    * line-level boilerplate gate (`TextOps.removeBoilerplate`) and the
    * whole-document stages above: pre-training corpora repeat
    * paragraphs/passages *within and across* otherwise-distinct
    * documents (mirrored articles, quoted passages, templated
    * sections), and document-level dedup never sees them.
    *
    * Semantics (engine-reproducible, the q62 oracle recomputes all
    * four stages exactly in SQL):
    *  1. split each document on `sep` into ordered paragraphs
    *     (`(doc, idx, para)`);
    *  2. EXACT stage: for each distinct paragraph text, only the
    *     first occurrence corpus-wide survives — min `(doc, idx)`
    *     per `md5(para)` class (keep-first, like [[clean]]'s stage 1
    *     but at paragraph granularity);
    *  3. NEAR-DUP stage: MinHash-LSH + exact-Jaccard-verify + CC over
    *     the surviving paragraphs (the proven q27/q36 machinery,
    *     paragraph id = `doc * maxParas + idx`); every group keeps
    *     its minimum paragraph id, the rest drop;
    *  4. reassemble: per document, surviving paragraphs re-join with
    *     `sep` in original order. Documents left with no surviving
    *     paragraph are omitted (they carried no novel text).
    *
    * Scale shape: the explode multiplies row count but not bytes
    * (paragraphs partition the text); stage 2 shuffles
    * `(hash, doc, idx)` triples with map-side combine, then an
    * id-keyed semi-join; stage 3 is ids-only banded LSH exactly as at
    * document level; reassembly is one doc-keyed shuffle whose
    * payload is the kept text itself. Nothing pairs paragraphs
    * all-against-all and no stage widens beyond O(text).
    */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n\n", threshold: Double = 0.6,
                      shingleN: Int = 3, numHashes: Int = 48,
                      bands: Int = 16, seed: Long = 42L,
                      maxParas: Int = 1024): DataFrame = {
    // 1. ordered paragraph explode
    val paras = df.select(col(idCol).cast("long").as("__doc"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep))).as(Seq("__idx", "__para")))
    // 2. exact keep-first corpus-wide: min (doc, idx) per content hash
    val keyed = paras.withColumn("__h", md5(col("__para")))
    val firsts = keyed.groupBy(col("__h"))
      .agg(min(struct(col("__doc"), col("__idx"))).as("__first"))
      .select(col("__h"), col("__first.__doc").as("__doc"),
        col("__first.__idx").as("__idx"))
    val survExact = keyed.join(firsts, Seq("__h", "__doc", "__idx"), "left_semi")
      // paragraph id for the LSH stage; the guard keeps the encoding
      // injective (a doc with >= maxParas paragraphs would alias ids)
      .withColumn("__pid",
        when(col("__idx") >= maxParas, raise_error(concat(
          lit(s"dedupParagraphs: document "), col("__doc"),
          lit(s" has >= $maxParas paragraphs — raise maxParas"))))
          .otherwise(col("__doc") * maxParas + col("__idx")))
      // materialized once (r18): three consumers — the LSH band pass,
      // the verify shingle pass, and the final anti-join/reassembly —
      // each used to replay the explode + keep-first subtree
      .localCheckpoint()
    // 3. near-dup groups over surviving paragraphs; drop non-representatives
    val dropNear = NearDup
      .nearDupGroups(survExact, "__pid", "__para", threshold, shingleN,
        numHashes, bands, seed)
      .filter(col("id") =!= col("keep_id"))
      .select(col("id").as("__pid"))
    val kept = survExact.join(dropNear, Seq("__pid"), "left_anti")
    // 4. reassemble in original paragraph order
    kept.groupBy(col("__doc"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__idx"), col("__para")))),
          s => s.getField("__para")),
        sep).as(textCol))
      .select(col("__doc").as(idCol), col(textCol))
  }

  /** Benchmark decontamination — the n-gram overlap scan every
    * pre-training pipeline runs against its eval sets (the GPT-3-style
    * 13-gram check, n configurable): a training doc is contaminated if
    * it shares any word n-gram with any benchmark doc. Returns
    * `(idCol, n_overlap_grams)` for contaminated training docs only —
    * anti-join the result to scrub, or inspect the counts to audit.
    *
    * Scale shape: both sides explode to (id, gram) rows; the benchmark
    * side collapses to DISTINCT grams (benchmarks are tiny next to the
    * corpus, so the distinct set broadcasts or hash-joins cheaply);
    * the join is keyed on the gram itself — exact, engine-reproducible
    * — and only matching grams reach the per-doc count. Nothing ever
    * pairs docs with docs.
    */
  def decontaminate(train: DataFrame, bench: DataFrame,
                    idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val benchGrams = bench
      .select(explode(TextOps.wordShingles(col(textCol), n)).as("__gram"))
      .distinct()
    train
      .select(col(idCol), explode(TextOps.wordShingles(col(textCol), n)).as("__gram"))
      .join(benchGrams, Seq("__gram"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__gram")).as("n_overlap_grams"))
  }

  /** BENCHMARK-side leak report — [[decontaminate]] looked at from the
    * eval owner's seat: for every benchmark item, how much of it has
    * leaked into the training corpus (leaked-gram coverage) and how
    * many distinct train documents touch it — the table that decides
    * which eval items are compromised and must be retired, not merely
    * which train docs to drop. Scale shape mirrors decontaminate's:
    * both sides explode to (id, gram) rows, the join is gram-keyed,
    * and the (bench, gram, train) row count is bounded by actual
    * leakage (the benchmark side is tiny by contract). Items with no
    * leak are kept with zeros — an all-clean report must say so
    * explicitly, not by absence.
    */
  def benchmarkLeaks(train: DataFrame, bench: DataFrame,
                     idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val bg = bench.select(col(idCol).as("bench_id"),
        explode(TextOps.wordShingles(col(textCol), n)).as("__gram"))
      .distinct()
    val tg = train.select(col(idCol).as("train_id"),
        explode(TextOps.wordShingles(col(textCol), n)).as("__gram"))
      .distinct()
    val sizes = bg.groupBy(col("bench_id")).agg(count(lit(1)).as("n_grams"))
    val leaks = bg.join(tg, Seq("__gram"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("__gram")).as("n_leaked"),
        countDistinct(col("train_id")).as("n_train_docs"))
    sizes.join(leaks, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        round(coalesce(col("n_leaked"), lit(0L)).cast("double")
          / col("n_grams"), 9).as("leak_frac"))
  }

  /** Contamination FRACTION scoring — [[decontaminate]]'s boolean
    * flag, graduated: real decontamination pipelines set removal
    * thresholds on the contaminated share of a document, not on "any
    * overlap at all" (one shared n-gram flags a doc that quotes a
    * single sentence the same as a verbatim benchmark copy). Score =
    * |doc winnowing fingerprints ∩ benchmark fingerprint set| /
    * |doc fingerprints| — winnowing (q38's k-gram/window sketch)
    * rather than raw n-grams because its guarantee is POSITIONAL:
    * any shared normalized substring of length ≥ k+w-1 contributes a
    * shared fingerprint, so the fraction tracks how much of the
    * document's CONTENT is benchmark material, at ~1/w the volume of
    * full gram sets.
    *
    * Returns `(idCol, n_fps, n_hit, contamination)` for every train
    * doc with at least one fingerprint; `contamination` rounds to 9
    * places (the oracle-stable convention).
    *
    * Scale shape: the benchmark side collapses to a distinct
    * fingerprint set (tiny vs the corpus — broadcast-able; at bloom
    * scale, [[decontaminateBloom]]'s probe pattern applies verbatim
    * to fingerprints); the train side explodes fingerprints once,
    * joins on the fingerprint value, and aggregates per doc — one
    * keyed shuffle, no doc-doc pairing.
    */
  def contaminationFraction(train: DataFrame, bench: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 8, w: Int = 4): DataFrame = {
    // ONE winnowing pass, checkpointed: the first cut filtered on
    // size(fps) > 0 and kept the array — the filter pushed the whole
    // winnowing expression into the scan and each of the two consumers
    // re-evaluated it there (the q156 generate-filter pathology, found
    // in the round-15 plan sweep). Exploded fingerprint rows are
    // corpus/w-sized — exactly the fingerprint index a real pipeline
    // persists anyway. posexplode_outer so no size filter can be
    // inferred; fingerprint-less docs drop with the null row, same
    // contract as before.
    val fps = train.select(col(idCol),
        posexplode_outer(TextOps.winnowingFingerprints(col(textCol), k, w))
          .as(Seq("__i", "__fp")))
      .filter(col("__fp").isNotNull)
      .select(col(idCol), col("__fp"))
      .localCheckpoint()
    val benchFps = bench
      .select(posexplode_outer(TextOps.winnowingFingerprints(col(textCol), k, w))
        .as(Seq("__i", "__fp")))
      .filter(col("__fp").isNotNull)
      .select(col("__fp")).distinct()
    // fingerprint arrays are distinct by construction (winnowing
    // selection dedups), so one row per (doc, matching fingerprint)
    val hits = fps
      .join(benchFps, Seq("__fp"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    fps.groupBy(col(idCol)).agg(count(lit(1)).as("n_fps"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_fps"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_fps").cast("double"), 9).as("contamination"))
  }

  /** Scale variant of [[decontaminate]] for when the benchmark's
    * distinct gram set is too big to broadcast as exact strings (many
    * eval suites × long n-grams): a bloom filter over `xxhash64` of
    * the grams (~1.2 MB per million grams at 1% fpp) rides the probe
    * expression to every executor, and train grams that cannot overlap
    * die INSIDE the codegen'd scan stage — the exact gram join that
    * follows (it removes bloom false positives; false negatives are
    * impossible) sees ~overlaps + fpp × |corpus grams| rows instead of
    * every gram of the corpus. Output is IDENTICAL to
    * [[decontaminate]] — DecontaminateBloomSpec asserts it.
    */
  def decontaminateBloom(train: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String, n: Int = 13,
                         fpp: Double = 0.01): DataFrame = {
    val benchGrams = bench
      .select(explode(TextOps.wordShingles(col(textCol), n)).as("__gram"))
      .distinct()
    graft.operators.BloomJoin.inner(
        train.select(col(idCol),
          explode(TextOps.wordShingles(col(textCol), n)).as("__gram")),
        benchGrams, Seq("__gram"), fpp = fpp)
      .groupBy(col(idCol))
      .agg(countDistinct(col("__gram")).as("n_overlap_grams"))
  }
}
