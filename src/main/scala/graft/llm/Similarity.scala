package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`ARRAY<FLOAT>`):
  * brute-force cosine top-k as the exact baseline, plus two sub-linear
  * scale paths — random-hyperplane LSH bucketing and an IVF
  * (inverted-file / coarse-quantizer) index.
  *
  * All vector math is built-in array expressions (`zip_with` +
  * `aggregate`) in Double precision — codegen'd, deterministic
  * left-to-right accumulation, no UDFs.
  *
  * Scale shape: brute force is queries × corpus (only sane when one
  * side broadcasts); LSH replaces it with an equi-join on bucket
  * signatures; IVF with an equi-join on centroid ids probed per query.
  * Both avoid ever shuffling the full pair space.
  */
object Similarity {

  /** dot(a, b) in Double — the native codegen'd `VecDot` expression
    * (bit-identical to the `aggregate(zip_with(...))` composition it
    * replaced: per-element Double widening, left-to-right sum).
    */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val na = l2Norm(a); val nb = l2Norm(b)
    when(na === 0 || nb === 0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  /** Exact brute-force cosine top-k: for every query row, the k most
    * similar corpus rows (self-match excluded by id). The query side is
    * broadcast — the intended use is "a batch of probe vectors against
    * a huge corpus", which scans the corpus ONCE for all queries;
    * ranking is a per-query window (shuffle keyed by query id).
    *
    * Ties and float determinism: ranking orders by similarity ROUNDED
    * to 9 decimals, then corpus id — a total order that both Spark and
    * external oracles reproduce bit-identically.
    *
    * Output: (query_id, neighbor_id, cos_sim, rank).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val sim = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 9).as("cos_sim"))
    // bounded-heap pre-trim below the per-query rank window: the query
    // batch is contract-bounded (low cardinality), so a bare window
    // would sort each query's full candidate set in one task at scale
    graft.operators.TopK.rankedTopKDesc(sim, "query_id", "cos_sim", "neighbor_id", k)
  }

  /** Exact re-ranking of an ANN shortlist — the second stage every
    * production ANN service runs: the approximate index (IVF, LSH,
    * IVF-PQ) returns a generous candidate list (`k' ≫ k`), and only
    * those candidates' FULL vectors are read and scored exactly, fixing
    * quantization/bucketing error where it matters (the top of the
    * list) at O(candidates) cost instead of a corpus rescan.
    *
    * `candidates` needs (query_id, neighbor_id) — any upstream ANN
    * output here fits. Scale shape: the candidate ids equi-join the
    * corpus on the id (only candidate rows' vectors move — at 10^10
    * vectors this is the whole point), query vectors broadcast
    * (driver-sized probe contract, as everywhere in this family), and
    * the exact score + per-query rank window follow `bruteForceTopK`'s
    * total order exactly — so rerank(full candidate set) ≡ brute force
    * (SimilaritySpec pins it).
    */
  def rerankExact(candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
                  k: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val cand = candidates.select(col("query_id"), col("neighbor_id"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val sim = cand
      .join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 9).as("cos_sim"))
    // bounded-heap pre-trim below the per-query rank window: the query
    // batch is contract-bounded (low cardinality), so a bare window
    // would sort each query's full candidate set in one task at scale
    graft.operators.TopK.rankedTopKDesc(sim, "query_id", "cos_sim", "neighbor_id", k)
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1) for
    * (plane j, dimension d) — computed DRIVER-SIDE, replicating what
    * the Column expression `(pmod(xxhash64(lit(seed), j, d), 2000000)
    * .cast("double") / 1e6) - 1` evaluates to (same catalyst XXH64,
    * same fold order, same pmod), so signatures are bit-identical to
    * the expression-per-row formulation this replaced — but the matrix
    * is built ONCE (inside `functions.HyperplaneBuckets`, or as a
    * 16 KB literal in the builtin twins) instead of being re-derived
    * with numPlanes × dim hash expressions on EVERY row.
    */
  private[llm] def planeComponent(j: Int, d: Int, seed: Long): Double =
    graft.functions.HyperplaneBuckets.planeComponent(j, d, seed)

  private def planeMatrix(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] =
    Seq.tabulate(numPlanes)(j => Seq.tabulate(dim)(d => planeComponent(j, d, seed)))

  /** Random-hyperplane LSH signature: bit j = sign(v · r_j) for
    * `numPlanes` pseudo-random hyperplanes. P(bits agree) =
    * 1 − angle/π — signatures Hamming-close ⇔ vectors cosine-close.
    * `dim` sizes the precomputed plane matrix (vectors must have
    * exactly `dim` elements).
    */
  def hyperplaneSignature(vec: Column, numPlanes: Int, seed: Long, dim: Int): Column = {
    // one long holds the bits; shiftleft past 63 wraps mod 64 in Java,
    // silently aliasing plane j onto plane j-64
    require(numPlanes >= 1 && numPlanes <= 64,
      s"hyperplaneSignature: numPlanes must be in [1, 64], got $numPlanes")
    val planes = typedlit(planeMatrix(numPlanes, dim, seed))
    aggregate(
      sequence(lit(0), lit(numPlanes - 1)),
      lit(0L),
      (acc, j) => acc.bitwiseOR(
        when(
          aggregate(zip_with(vec, element_at(planes, j.cast("int") + 1),
            (x, p) => x.cast("double") * p),
            lit(0.0), (s, v) => s + v) > 0,
          call_function("shiftleft", lit(1L), j.cast("int"))).otherwise(lit(0L))))
  }

  /** Vector dimensionality: the caller-declared `dim` when positive,
    * else probed from the first row — one LIMIT-1 job at plan-build
    * time, so the signature's plane matrix can be a driver-built
    * literal. Pass `dim` at call sites where the embedding width is a
    * data-contract constant; the probe is the generic-DataFrame
    * fallback only.
    */
  private def resolveDim(df: DataFrame, vecCol: String, dim: Int): Int =
    if (dim > 0) dim
    else df.select(size(col(vecCol)).as("__d")).head().getInt(0)

  /** LSH-bucketed approximate top-k: corpus and queries are bucketed by
    * band slices of the hyperplane signature (a pair is a candidate if
    * ANY band matches); exact cosine is computed only for candidates,
    * ranked per query.
    *
    * Recall/cost dials: more bands → higher recall, more candidates;
    * `multiProbe` additionally probes, per band, every bucket ONE bit
    * flip away from the query's (a near-miss neighbor disagrees on
    * exactly one plane far more often than on several) — query-side
    * bucket rows grow ×(1 + bits), the corpus index is untouched.
    * Output schema matches `bruteForceTopK`.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              numPlanes: Int = 32, bands: Int = 8, seed: Long = 42L,
              multiProbe: Boolean = false, dim: Int = 0): DataFrame = {
    require(numPlanes % bands == 0)
    val bits = numPlanes / bands
    // Bucket tables carry IDS ONLY — the candidate join and the
    // distinct-pair dedup shuffle 3 small ints per row instead of two
    // full embedding vectors; vectors are joined back just for the
    // surviving candidates (query side broadcast, corpus side keyed by
    // id — AQE broadcasts the candidate set when it is the small side).
    val planeDim = resolveDim(corpus, vecCol, dim)
    def bucketed(df: DataFrame, id: String, probe: Boolean): DataFrame = {
      // native per-band buckets (one FMA pass over the precomputed
      // plane matrix); posexplode yields (band, bucket) — identical
      // values to slicing the single-long signature, since bit jj of
      // bucket b is the sign of plane b*bits + jj
      val buckets = graft.functions.HyperplaneBuckets(
        col(vecCol), numPlanes, bands, seed, planeDim)
      val base = df.select(col(idCol).as(id), posexplode(buckets).as(Seq("band", "bucket")))
      if (!probe) base
      else base.select(col(id), col("band"),
        explode(concat(
          array(col("bucket")),
          transform(sequence(lit(0), lit(bits - 1)),
            j => col("bucket").bitwiseXOR(
              call_function("shiftleft", lit(1L), j.cast("int")))))).as("bucket"))
    }
    val c = bucketed(corpus, "neighbor_id", probe = false)
    val q = bucketed(queries, "query_id", probe = multiProbe)
    val cands = c.join(q, Seq("band", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val sim = cands
      .join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 9).as("cos_sim"))
    // bounded-heap pre-trim below the per-query rank window: the query
    // batch is contract-bounded (low cardinality), so a bare window
    // would sort each query's full candidate set in one task at scale
    graft.operators.TopK.rankedTopKDesc(sim, "query_id", "cos_sim", "neighbor_id", k)
  }

  /** Lloyd's k-means over an embedding column — trains the IVF coarse
    * quantizer (cosine geometry, like `ivfTopK`'s assignment). The
    * centroid set is driver-resident by design — the FAISS shape: a
    * coarse quantizer is k × dim values (MBs at 10⁴ centroids), and
    * keeping it a literal makes per-iteration assignment a PURE
    * PROJECTION:
    *  - assignment: argmax over the norm-scaled centroid literal (the
    *    row's norm is constant across centroids, so argmax of
    *    dot(v, c/|c|) ≡ argmax of cosine) — zero shuffle, vectors
    *    never leave their partitions;
    *  - update: posexplode to (centroid, dim, x) and aggregate — the
    *    only shuffle, carrying k × dim partial sums after map-side
    *    combine, independent of corpus size.
    * `trainFraction` < 1 trains the quantizer on a seeded sample —
    * standard practice at very large n (a coarse quantizer fitted on a
    * 1% sample is statistically the same index, and Lloyd iterations
    * stop costing iters × full-corpus scans); the sample is
    * localCheckpoint'd once so every iteration reads the materialized
    * sample, not a re-filtered corpus scan. The ASSIGNMENT of corpus
    * rows to the trained centroids (in `ivfTopK`) is unchanged and
    * always covers the full corpus.
    * Double sums across partitions make low-order centroid bits run-
    * dependent — fine for an index structure (results are verified by
    * exact distance anyway).
    *
    * @return k centroids (empty clusters keep their previous centroid)
    */
  def kmeansCentroids(df: DataFrame, k: Int, iters: Int,
                      vecCol: String = "embedding", seed: Long = 42L,
                      trainFraction: Double = 1.0): Array[Array[Double]] = {
    require(k >= 1 && iters >= 0)
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction must be in (0, 1], got $trainFraction")
    val vecD = col(vecCol).cast("array<double>")
    // seeded hash-sample init (the numCentroids smallest hashes win)
    def init(d: DataFrame): Array[Array[Double]] = d
      .select(vecD.as("__v"), xxhash64(lit(seed), col(vecCol).cast("array<string>")).as("__r"))
      .orderBy(col("__r")).limit(k)
      .collect().map(_.getSeq[Double](0).toArray)
    var train =
      if (trainFraction >= 1.0) df.select(col(vecCol))
      else df.select(col(vecCol))
        .sample(withReplacement = false, trainFraction, seed)
        .localCheckpoint()
    var cents: Array[Array[Double]] = init(train)
    // A Bernoulli sample of a tiny input can come back with fewer rows
    // than k (or none) — fall back to the full corpus rather than abort
    // downstream with an opaque empty-candidate error. At scale the
    // sample is millions of rows and this branch never fires.
    if (cents.length < k && trainFraction < 1.0) {
      train.unpersist(blocking = false)
      train = df.select(col(vecCol))
      cents = init(train)
    }
    require(cents.nonEmpty,
      s"kmeansCentroids: input '$vecCol' has no rows to train $k centroids on")
    for (_ <- 1 to iters) {
      val normed = cents.map { c =>
        val n = math.sqrt(c.map(x => x * x).sum)
        if (n == 0) c else c.map(_ / n)
      }
      // native argmax over the normalized centroid set (one primitive
      // double loop; the builtin fold is kept as `argmaxDotGeneric`,
      // value equality asserted in KmeansNativeSpec)
      val bestIdx = graft.functions.ArgmaxDot(col("__v"),
        normed.map(_.toSeq).toSeq)
      // The assignment must be BARRIERED before the explode: higher-
      // order functions evaluate interpreted, and a Project collapsed
      // into the Generate re-runs the whole argmax once per EXPLODED
      // row (dim× the work — measured 13 s/iteration vs 0.3 s on the
      // sf0.1 sample). localCheckpoint materializes (centroid, vector)
      // once per row; it also keeps the per-iteration plans flat.
      // ArgmaxDot codes malformed vectors (wrong length / null element)
      // as -1; drop them like Pq.encode/indexIvfPq do, instead of
      // letting the driver-side accumulate crash on acc(-1)
      val assigned = train.select(vecD.as("__v"))
        .select(bestIdx.as("__c"), col("__v"))
        .filter(col("__c") =!= -1)
        .localCheckpoint()
      val sums = assigned
        .select(col("__c"), posexplode(col("__v")).as(Seq("__d", "__x")))
        .groupBy(col("__c"), col("__d"))
        .agg(sum(col("__x")).as("__s"), count(lit(1)).as("__n"))
        .collect()
      assigned.unpersist(blocking = false)
      val next = cents.map(_.clone())
      val counts = Array.fill(cents.length)(0L)
      val acc = Array.fill(cents.length)(new Array[Double](cents.head.length))
      sums.foreach { r =>
        val c = r.getInt(0); val d = r.getInt(1)
        acc(c)(d) = r.getDouble(2); counts(c) = r.getLong(3)
      }
      for (c <- cents.indices if counts(c) > 0)
        next(c) = acc(c).map(_ / counts(c))
      cents = next
    }
    if (trainFraction < 1.0) train.unpersist(blocking = false)
    cents
  }

  /** IVF (inverted-file) approximate top-k.
    *
    * Index build: `numCentroids` vectors are hash-sampled from the
    * corpus as coarse centroids (deterministic under seed); every
    * corpus vector is assigned to its nearest centroid — one broadcast
    * join against the (small by construction) centroid set.
    * Query: each query probes its `nProbe` nearest centroids and brute
    * forces only those inverted lists — the classic FAISS IVF-Flat
    * shape, expressed as two broadcast joins + one equi-join on
    * centroid id.
    *
    * At 100 TB the centroid set stays driver/broadcast-sized (√n rule
    * says ~10⁴–10⁵ centroids for 10⁹–10¹⁰ vectors — MBs), the
    * assignment scan is embarrassingly parallel, and the probe join is
    * keyed on centroid id, skew-bounded by list sizes.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              numCentroids: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              kmeansIters: Int = 0, trainFraction: Double = 1.0): DataFrame = {
    // Centroids: seeded hash-sample of corpus rows (the numCentroids
    // smallest hashes win — one small TakeOrdered), optionally refined
    // by `kmeansIters` Lloyd iterations (tighter inverted lists →
    // better recall at the same nProbe; `trainFraction` < 1 fits them
    // on a seeded sample — the full corpus is still assigned below).
    val cents =
      if (kmeansIters > 0) {
        val spark = corpus.sparkSession
        import spark.implicits._
        kmeansCentroids(corpus, numCentroids, kmeansIters, vecCol, seed, trainFraction)
          .zipWithIndex.toSeq
          .map { case (v, i) => (i.toLong, v.toSeq) }
          .toDF("centroid_id", "__centv")
      } else corpus
        .select(col(idCol).as("centroid_id"), col(vecCol).as("__centv"),
          xxhash64(lit(seed), col(idCol)).as("__r"))
        .orderBy(col("__r"), col("centroid_id")).limit(numCentroids)
        .drop("__r")
    ivfTopKImpl(corpus, queries, cents, k, idCol, vecCol, nProbe)
  }

  /** IVF top-k with CALLER-SUPPLIED coarse centroids `(centroid_id,
    * vector)` — the separated form of `ivfTopK`'s index build: a real
    * deployment trains/owns its quantizer and serves many query batches
    * against it, and a quantizer that is a deterministic function of the
    * data (e.g. a pinned id set) makes the ENTIRE probe path — rounded-
    * cosine assignment, top-nProbe probe selection, inverted-list join,
    * exact re-scoring — recomputable by an independent engine, which is
    * how q76 oracle-checks the production nProbe < numCentroids setting
    * that q33's trained quantizer can't expose to SQL.
    */
  def ivfTopKWithCentroids(corpus: DataFrame, queries: DataFrame,
                           centroids: DataFrame, k: Int,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           centroidIdCol: String = "centroid_id",
                           centroidVecCol: String = "embedding",
                           nProbe: Int = 4): DataFrame =
    ivfTopKImpl(corpus, queries,
      centroids.select(col(centroidIdCol).as("centroid_id"),
        col(centroidVecCol).as("__centv")),
      k, idCol, vecCol, nProbe)

  private def ivfTopKImpl(corpus: DataFrame, queries: DataFrame,
                          cents: DataFrame, k: Int, idCol: String,
                          vecCol: String, nProbe: Int): DataFrame = {
    // Centroid assignment carries IDS ONLY and aggregates MAP-SIDE: the
    // broadcast crossJoin's numCentroids candidate rows per input row
    // collapse in the partial HashAggregate before any exchange, so the
    // shuffle moves one (id, centroid) pair per row — not the
    // rows × centroids window input the round-3 plan shuffled (10¹³
    // rows at 10⁹ vectors × 10⁴ centroids). Ordering matches the old
    // window (__d desc, centroid_id asc) via a lexicographic max_by key.
    def assigned(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), col(vecCol).as("__v"))
        .crossJoin(broadcast(cents))
        .select(col(id), col("centroid_id"),
          struct(round(cosine(col("__v"), col("__centv")), 9).as("d"),
            (-col("centroid_id")).as("nc")).as("__ord"))
    // corpus: nearest centroid only — max_by collapses to one value
    val cAssigned = assigned(corpus, "neighbor_id")
      .groupBy(col("neighbor_id"))
      .agg(max_by(col("centroid_id"), col("__ord")).as("centroid_id"))
    // queries: nProbe nearest — sort the (small) per-query candidate
    // list in the aggregate; the query batch is the small side by
    // contract, so the collect_list buffers stay tiny
    val qAssigned = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("centroid_id"),
        round(cosine(col("__v"), col("__centv")), 9).as("__d"))
      .groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct((-col("__d")).as("nd"),
        col("centroid_id").as("cid")))), 1, nProbe).as("__probes"))
      .select(col("query_id"), explode(col("__probes.cid")).as("centroid_id"))
    // candidate (query, corpus) pairs: each corpus row lives in exactly
    // one inverted list, so a pair appears at most once — no dedup
    // needed. The probe list is (queries × nProbe) rows of two ids —
    // broadcast it, so the inverted-list join never shuffles the corpus
    // assignment; the verify join's shape is left to AQE (candIds is
    // broadcast-sized in probe mode, corpus-sized in exact mode).
    val candIds = broadcast(qAssigned).join(cAssigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val sim = candIds
      .join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("__qv"), col("__cv")), 9).as("cos_sim"))
    // bounded-heap pre-trim below the per-query rank window: the query
    // batch is contract-bounded (low cardinality), so a bare window
    // would sort each query's full candidate set in one task at scale
    graft.operators.TopK.rankedTopKDesc(sim, "query_id", "cos_sim", "neighbor_id", k)
  }

  /** Incremental SemDeDup — [[semDedupClustered]] at ingest time (the
    * q68/q142/q157/q162 discipline): a NEW embedding batch is assigned
    * against the FROZEN centroids and deduplicated against the
    * PERSISTED corpus decision table without recomputing any corpus
    * assignment. A batch vector is dropped iff
    *   (a) some corpus vector in its cluster sits at rounded cosine ≥
    *       `tau` (corpus ids precede fresh batch ids by the ingest
    *       contract, so every corpus mate is a smaller id), or
    *   (b) some SMALLER-id batch vector in its cluster does.
    * This is provably [[semDedupClustered]] over (corpus ∪ batch)
    * restricted to the batch ids: corpus keep-decisions only reference
    * smaller (hence corpus) ids, so they are unchanged by the append —
    * which is exactly what the oracle recomputes.
    *
    * Inputs: `corpusAsg` = the persisted (vec_id, cluster_id) table
    * (the decision table [[semDedupClustered]] emitted); `corpusVecs`
    * = the raw embedding table — vectors cannot be summarized away,
    * but only mates of clusters the BATCH TOUCHES are scored (the
    * cluster equi-join prunes the rest), and no corpus × centroid
    * work ever re-runs. The batch side (ids + vectors) broadcasts into
    * the mate scan so the corpus-sized mate table never shuffles —
    * ingest appends are bounded increments by contract; a batch too
    * large to broadcast folds in as ascending-id chunks, each merged
    * into the decision state before the next — exact, because the
    * drop rule references corpus ids and SMALLER batch ids only.
    * As in [[semDedupClustered]], the call itself runs a Spark job on
    * `centroids` (`foldedCentroids`' non-empty check), and an uncached
    * centroid plan is evaluated twice.
    * Returns (vec_id, cluster_id, keep) for the batch ids.
    */
  def semDedupAppend(batch: DataFrame, corpusAsg: DataFrame,
                     corpusVecs: DataFrame, centroids: DataFrame,
                     tau: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     centroidIdCol: String = "centroid_id",
                     centroidVecCol: String = "embedding",
                     blocks: Int = 8): DataFrame = {
    require(blocks >= 1, "blocks must be positive")
    val vecD = col(vecCol).cast("array<double>")
    // batch-only assignment against the frozen centroids — the same
    // per-row nearest-centroid fold as [[semDedupAssign]] (identical
    // decision, zero shuffles); batch-sized, checkpointed WITH the
    // vectors and sub-blocks — it feeds the corpus-mate scan, the
    // in-batch scan and the verdict, and the first cut re-joined the
    // raw batch per consumer
    val bWith = batch.select(col(idCol).as("vec_id"), vecD.as("__v"))
      .crossJoin(broadcast(
        foldedCentroids(centroids, centroidIdCol, centroidVecCol)))
      .select(col("vec_id"), col("__v"),
        nearestCentroid(col("__v")).as("cluster_id"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("__b"))
      .localCheckpoint()
    val bAsg = bWith.select(col("vec_id"), col("cluster_id"))
    // (a) vs corpus: mates come by the cluster equi-join — the batch
    // side broadcasts, and the corpus DECISION table is semi-joined to
    // the batch's touched clusters BEFORE the vector join, so corpus
    // vectors of untouched clusters never enter a join at all (the
    // first cut joined corpusAsg ⋈ corpusVecs corpus × corpus first —
    // two corpus-sized Exchanges — and only then pruned by cluster)
    val touched = bAsg.select(col("cluster_id")).distinct()
    val cMates = corpusAsg
      .join(broadcast(touched), Seq("cluster_id"), "left_semi")
      .select(col("vec_id").as("__cmid"), col("cluster_id"))
      .join(corpusVecs.select(col(idCol).as("__cmid"), vecD.as("__cv")),
        Seq("__cmid"))
    val dupVsCorpus = broadcast(bWith).join(cMates, Seq("cluster_id"))
      .filter(round(cosine(col("__v"), col("__cv")), 9) >= lit(tau))
      .select(col("vec_id")).distinct()
    // (b) within the batch: the triangle-blocked device; dropped = the
    // larger id of any within-cluster pair
    val dupInBatch = blockedCellPairs(
      bWith.select(col("vec_id").as("__id"), col("__v"),
        col("cluster_id").as("__c"), col("__b")),
      tau, blocks)
      .select(col("id_b").as("vec_id")).distinct()
    bAsg.join(dupVsCorpus.unionByName(dupInBatch).distinct()
        .withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        not(coalesce(col("__dup"), lit(false))).as("keep"))
  }

  /** The recall-curve device (round-16 verdict item 6): IVF top-k at
    * SEVERAL probe settings from ONE assignment and ONE scoring pass.
    * Sweeping nProbe by calling [[ivfTopKWithCentroids]] per setting
    * re-assigns the corpus and re-scores every probed candidate once
    * PER SETTING (the q154 drift: 5 branches × the pre-trim exchange);
    * here the corpus assignment, the per-query centroid ranking (one
    * ordered list, probe_rank ≤ max nProbe), and the candidate cosines
    * are computed once — the scored table is checkpointed and each
    * setting is a filter `probe_rank <= np` + the usual pre-trimmed
    * rank window. Identical results to the per-setting calls: ranking
    * within the np-restricted candidate set equals scoring that set
    * directly (the restriction commutes with row_number).
    *
    * Scale: the scored table is (contract-bounded query batch) × its
    * probed inverted lists — the same size the LARGEST single setting
    * already scores; the checkpoint trades its recompute across
    * settings. Returns (n_probe, query_id, neighbor_id, cos_sim, rank).
    */
  def ivfTopKCurve(corpus: DataFrame, queries: DataFrame,
                   centroids: DataFrame, k: Int, nProbes: Seq[Int],
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   centroidIdCol: String = "centroid_id",
                   centroidVecCol: String = "embedding"): DataFrame = {
    require(nProbes.nonEmpty && nProbes.forall(_ >= 1))
    val maxProbe = nProbes.max
    val cents = centroids.select(col(centroidIdCol).as("centroid_id"),
      col(centroidVecCol).as("__centv"))
    // corpus: nearest centroid only, ids move (the ivfTopKImpl device)
    val cAssigned = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(cents))
      .select(col("neighbor_id"), col("centroid_id"),
        struct(round(cosine(col("__v"), col("__centv")), 9).as("d"),
          (-col("centroid_id")).as("nc")).as("__ord"))
      .groupBy(col("neighbor_id"))
      .agg(max_by(col("centroid_id"), col("__ord")).as("centroid_id"))
    // queries: ONE ordered probe list up to the largest setting —
    // identical ordering to ivfTopKImpl's slice (d desc, cid asc)
    val qProbes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__v"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("centroid_id"),
        round(cosine(col("__v"), col("__centv")), 9).as("__d"))
      .groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct((-col("__d")).as("nd"),
        col("centroid_id").as("cid")))), 1, maxProbe).as("__probes"))
      .select(col("query_id"), posexplode(col("__probes")))
      .select(col("query_id"), (col("pos") + 1).as("probe_rank"),
        col("col.cid").as("centroid_id"))
    val candIds = broadcast(qProbes).join(cAssigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("probe_rank"))
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val sim = candIds
      .join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("probe_rank"),
        round(cosine(col("__qv"), col("__cv")), 9).as("cos_sim"))
      .localCheckpoint() // scored once, filtered once per setting
    nProbes.map { np =>
      graft.operators.TopK.rankedTopKDesc(
          sim.filter(col("probe_rank") <= np).drop("probe_rank"),
          "query_id", "cos_sim", "neighbor_id", k)
        .select(lit(np).as("n_probe"), col("query_id"), col("neighbor_id"),
          col("cos_sim"), col("rank"))
    }.reduce(_ unionByName _)
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed self-join
    * (any shared band → candidate) with exact cosine verification at
    * `tau` — the embedding-space analog of MinHash near-dup detection
    * (catches semantic duplicates exact/fuzzy text hashing misses).
    * Returns `(id_a, id_b, cos_sim)`, id_a < id_b. O(candidates), the
    * pair space never materializes.
    */
  def cosinePairs(df: DataFrame, tau: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  numPlanes: Int = 32, bands: Int = 8, seed: Long = 42L,
                  dim: Int = 0): DataFrame = {
    require(numPlanes % bands == 0)
    val bits = numPlanes / bands
    require(bits <= 64, s"bits per band $bits exceeds a long")
    // Per-band buckets from the native HyperplaneBuckets expression
    // (each band's bucket is its own long, so numPlanes may exceed 64 —
    // more planes = finer buckets = fewer false candidates, and the
    // precomputed plane matrix makes the extra planes nearly free; the
    // builtin twin `cosineBandBucketsGeneric` is kept as the
    // equivalence oracle). Index carries ids only (the checkpoint and
    // the self-join never touch vectors); vectors join back per
    // surviving candidate pair.
    val buckets = graft.functions.HyperplaneBuckets(
      col(vecCol), numPlanes, bands, seed, resolveDim(df, vecCol, dim))
    val bucketed = df
      .select(col(idCol).as("__id"), posexplode(buckets).as(Seq("band", "bucket")))
      .localCheckpoint() // one signature scan feeds both join sides
    val candIds = bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = df.select(col(idCol).as("__vid"), col(vecCol).as("__v"))
    candIds
      .join(vecs.withColumnRenamed("__vid", "id_a").withColumnRenamed("__v", "__va"), Seq("id_a"))
      .join(vecs.withColumnRenamed("__vid", "id_b").withColumnRenamed("__v", "__vb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("__va"), col("__vb")), 9).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }

  /** Builtin-composition twin of the k-means assignment argmax the
    * native `ArgmaxDot` replaced — kept as the equivalence oracle
    * (KmeansNativeSpec): fold a (best dot, index) struct over the
    * candidate literal, strict `>` so the first maximum keeps ties,
    * -1 when every dot is null (length mismatch / null element).
    */
  private[llm] def argmaxDotGeneric(vec: Column, cands: Seq[Seq[Double]]): Column = {
    val centsLit = typedlit(cands)
    // both branches cast to one named struct type — aliases inside
    // lambda bodies are stripped, which otherwise breaks CASE typing
    val ordType = "struct<d:double,i:int>"
    aggregate(
      sequence(lit(0), lit(cands.length - 1)),
      struct(lit(Double.MinValue), lit(-1)).cast(ordType),
      (acc, j) => {
        val d = aggregate(zip_with(vec,
          element_at(centsLit, j.cast("int") + 1), (x, c) => x * c),
          lit(0.0), (s, v) => s + v)
        when(d > acc.getField("d"), struct(d, j.cast("int")).cast(ordType))
          .otherwise(acc)
      }).getField("i")
  }

  /** Builtin-composition twin of the per-band bucket computation the
    * native `HyperplaneBuckets` replaced in `cosinePairs`/`lshTopK` —
    * kept as the equivalence oracle (HyperplaneNativeSpec): returns
    * `array<struct<band int, bucket bigint>>` over the literal plane
    * matrix, interpreted zip_with/aggregate dots.
    */
  private[llm] def cosineBandBucketsGeneric(vec: Column, numPlanes: Int,
      bands: Int, seed: Long, dim: Int): Column = {
    val bits = numPlanes / bands
    val planes = typedlit(planeMatrix(numPlanes, dim, seed))
    val vecD = vec.cast("array<double>")
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.cast("int").as("band"),
        aggregate(sequence(lit(0), lit(bits - 1)), lit(0L),
          (acc, jj) => acc.bitwiseOR(
            when(
              aggregate(zip_with(vecD,
                element_at(planes, (b * bits + jj + 1).cast("int")),
                (x, p) => x * p), lit(0.0), (s, v) => s + v) > 0,
              call_function("shiftleft", lit(1L), jj.cast("int")))
              .otherwise(lit(0L)))).as("bucket")))
  }

  /** Embedding near-dup GROUPS: connected components over `cosinePairs`,
    * min id as representative — the "which rows to drop" form.
    */
  def cosineDupGroups(df: DataFrame, tau: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      numPlanes: Int = 32, bands: Int = 8, seed: Long = 42L,
                      dim: Int = 0): DataFrame = {
    graft.graph.PropertyGraph.pairComponents(
      cosinePairs(df, tau, idCol, vecCol, numPlanes, bands, seed, dim))
  }

  /** SemDeDup-style semantic near-duplicate pairs (public recipe:
    * Abbas et al. 2023, arXiv:2303.09540): spherical k-means cells
    * bound the pair space instead of `cosinePairs`' random LSH
    * buckets. Cells are LEARNED, so they track data density, and
    * within a cell the check is exact all-pairs cosine — no
    * band-collision recall loss for pairs that land together; `k`
    * tunes the budget (cells of ~n/k rows ⇒ ~n²/k pair work).
    * Cross-cell near-dups are missed BY DESIGN — that is the SemDeDup
    * trade; SemDedupSpec measures recall against the exact pair set,
    * and the k=1 degeneracy (one cell ⇒ exact all-pairs, the q47
    * lossless-PQ trick) is DuckDB-oracle-checked as q60.
    *
    * Scale shape: centroids train on a (sampled) driver-resident
    * literal; assignment is a zero-shuffle native-argmax projection;
    * the (id, cell) index is checkpointed once and the cell-keyed
    * self-join ships ids only; vectors join back per candidate pair.
    */
  def semanticPairs(df: DataFrame, tau: Double, k: Int,
                    iters: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    seed: Long = 42L, trainFraction: Double = 1.0,
                    blocks: Int = 8): DataFrame = {
    require(blocks >= 1, "blocks must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val cents = kmeansCentroids(df, k, iters, vecCol, seed, trainFraction)
    val normed: Seq[Seq[Double]] = cents.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      (if (n == 0) c else c.map(_ / n)).toSeq
    }.toSeq
    val vecD = col(vecCol).cast("array<double>")
    val assigned = df
      .select(col(idCol).as("__id"), vecD.as("__v"),
        graft.functions.ArgmaxDot(vecD, normed).as("__c"),
        pmod(xxhash64(col(idCol)), lit(blocks)).cast("int").as("__b"))
      .localCheckpoint() // one assignment scan feeds both join sides
    blockedCellPairs(assigned, tau, blocks)
  }

  /** Triangle-blocked within-cell pair scan with INLINE verify, shared
    * by [[semanticPairs]] and [[semDedupClustered]]. `assigned` must
    * carry (__id, __v, __c cell, __b block ∈ [0, blocks)). Two forces
    * shape this plan:
    *  - a cell is ONE join key, so a naive self-join runs a hot
    *    cell's entire pair space in a single task (k=1, the oracle
    *    mode, is the extreme: every row in one cell). Each row hashes
    *    into one of `blocks` sub-blocks and candidates join on
    *    (cell, block-pair) over the i <= j triangle, spreading a cell
    *    over blocks(blocks+1)/2 keys — explicitly repartitioned so
    *    AQE's input-size heuristic (which sees the small index, not
    *    the quadratic pair output) cannot coalesce them back into one
    *    partition.
    *  - the pair space is QUADRATIC in the cell size, so shipping id
    *    pairs to a separate vector join-back shuffles O(pairs) rows;
    *    carrying the vectors through the triangle join instead ships
    *    (blocks+1)/2 × the LINEAR vector table and emits only the
    *    ≥ tau survivors — cheaper whenever cells exceed a few rows.
    * Each unordered pair survives exactly once: an (i, j) pair with
    * i < j appears only with the i-side row on the left; i == j rows
    * orient by id. Returns (id_a, id_b, cos_sim), id_a < id_b.
    */
  private def blockedCellPairs(assigned: DataFrame, tau: Double,
                               blocks: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val blockPairs = (for (i <- 0 until blocks; j <- i until blocks)
      yield (i, j)).toDF("__bi", "__bj")
    val shufflePartitions =
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    val l2 = assigned.join(broadcast(blockPairs), col("__b") === col("__bi"))
      .select(col("__id").as("__ida"), col("__v").as("__va"),
        col("__c"), col("__bi"), col("__bj"))
      .repartition(shufflePartitions, col("__c"), col("__bi"), col("__bj"))
    val r2 = assigned.join(broadcast(blockPairs), col("__b") === col("__bj"))
      .select(col("__id").as("__idb"), col("__v").as("__vb"),
        col("__c"), col("__bi"), col("__bj"))
      .repartition(shufflePartitions, col("__c"), col("__bi"), col("__bj"))
    l2.join(r2, Seq("__c", "__bi", "__bj"))
      .filter(col("__bi") < col("__bj") || col("__ida") < col("__idb"))
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        // cosine is symmetric, so the id orientation is irrelevant
        round(cosine(col("__va"), col("__vb")), 9).as("cos_sim"))
      .filter(col("cos_sim") >= tau)
  }

  /** SemDeDup at CLUSTER granularity with caller-supplied centroids —
    * the published 100 TB recipe's decision table (Abbas et al. 2023):
    * assign every vector to its nearest centroid (rounded cosine,
    * smallest-centroid ties — the q76 pinned-quantizer device, so with
    * centroids that are a deterministic function of the data the WHOLE
    * decision is recomputable by an independent engine), then within
    * each cluster drop a vector iff a SMALLER-id cluster-mate sits at
    * rounded cosine ≥ `tau` — the deterministic keep-first
    * representative rule (a vector is dropped iff it is the larger id
    * of some within-cluster near-dup pair). Closes the granularity gap
    * between doc-hash dedup (q19) and pairwise bucketed cosine (q60):
    * the quadratic term is bounded by the CLUSTER size, never global.
    *
    * Scale shape: assignment is a broadcast crossJoin collapsing
    * map-side (ids only move); the within-cluster pair scan reuses the
    * triangle-blocked device (no one-task-per-cluster sort, no global
    * pairing — the plan pairs per (cluster, block, block) key).
    * Building the plan is eager: `foldedCentroids`' non-empty check
    * runs a Spark job on `centroids` when this is called, and an
    * uncached centroid plan is evaluated twice (that probe, then the
    * fold itself) — cache an expensive centroid table first.
    * Returns (vec_id, cluster_id, keep).
    */
  def semDedupClustered(df: DataFrame, centroids: DataFrame, tau: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        centroidIdCol: String = "centroid_id",
                        centroidVecCol: String = "embedding",
                        blocks: Int = 8): DataFrame = {
    val (asg, withV) = semDedupAssign(df, centroids, idCol, vecCol,
      centroidIdCol, centroidVecCol, blocks)
    val dropped = blockedCellPairs(withV, tau, blocks)
      .select(col("id_b").as("vec_id")).distinct()
    asg.join(dropped.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        not(coalesce(col("__dup"), lit(false))).as("keep"))
  }

  /** Per-row nearest-centroid fold over a 1-row folded centroid table
    * (the q99 device): `array_max` over the SAME (round9-cosine,
    * −centroid_id) struct order the previous `max_by` aggregate
    * compared — identical selection (ties at 9 decimals still resolve
    * to the smallest centroid id; the negated-id field is unique, so
    * the max is unambiguous), but computed per ROW, so the n·k
    * crossJoin rows, the vec_id re-aggregation Exchange and the vector
    * join-back all disappear. Shared by [[semDedupAssign]] and the
    * batch side of [[semDedupAppend]].
    */
  private def foldedCentroids(centroids: DataFrame, centroidIdCol: String,
                              centroidVecCol: String): DataFrame = {
    // Empty centroids would NOT produce an empty result downstream: the
    // global agg still emits one row with an empty array, nearestCentroid
    // folds to NULL and every input row would come back cluster_id=NULL,
    // keep=true — silently different semantics from the crossJoin+max_by
    // shape this replaced (which returned nothing). Fail loudly instead
    // (ADVICE r18).
    require(!centroids.isEmpty,
      "foldedCentroids: the centroid table is empty — SemDeDup assignment needs >= 1 centroid")
    centroids
      .select(col(centroidIdCol).as("centroid_id"),
        col(centroidVecCol).cast("array<double>").as("__centv"))
      .agg(sort_array(collect_list(struct(col("centroid_id").as("id"),
        col("__centv").as("v")))).as("__cents"))
  }

  private def nearestCentroid(v: Column): Column =
    -array_max(transform(col("__cents"), c =>
      struct(round(cosine(v, c.getField("v")), 9).as("d"),
        (-c.getField("id")).as("nc")))).getField("nc")

  /** The shared pinned-centroid assignment stage of the SemDeDup
    * family: ONE corpus scan computes (vec_id, vector, cluster_id,
    * sub-block) with zero shuffles — the centroids arrive as a 1-row
    * broadcast array and the nearest-centroid decision is a per-row
    * fold — and is checkpointed once for its three consumers (both
    * triangle-scan sides + the verdict join). Returns (asg = (vec_id,
    * cluster_id) projection, withV = the pair-scan input). The first
    * cut ran a n·k crossJoin into a vec_id re-aggregation and joined
    * the vectors back per pair-scan side — two extra Exchanges and a
    * double-evaluated corpus join, measured as the bulk of
    * q167/q178's assignment cost.
    */
  private def semDedupAssign(df: DataFrame, centroids: DataFrame,
                             idCol: String, vecCol: String,
                             centroidIdCol: String, centroidVecCol: String,
                             blocks: Int): (DataFrame, DataFrame) = {
    require(blocks >= 1, "blocks must be positive")
    val vecD = col(vecCol).cast("array<double>")
    val assigned = df.select(col(idCol).as("vec_id"), vecD.as("__v"))
      .crossJoin(broadcast(
        foldedCentroids(centroids, centroidIdCol, centroidVecCol)))
      .select(col("vec_id"), col("__v"),
        nearestCentroid(col("__v")).as("cluster_id"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("__b"))
      .localCheckpoint() // one scan+assign; three consumers
    val asg = assigned.select(col("vec_id"), col("cluster_id"))
    val withV = assigned.select(col("vec_id").as("__id"), col("__v"),
      col("cluster_id").as("__c"), col("__b"))
    (asg, withV)
  }

  /** SemDeDup THRESHOLD SWEEP — the τ tuning table (the q154 dial for
    * the semantic-dedup family): ONE pinned-centroid assignment and
    * ONE triangle-blocked within-cluster pair scan at min(taus) feed
    * every threshold's verdict. A vector is dropped at τ iff its MAX
    * cosine over smaller-id cluster-mates ≥ τ, so the per-vector max
    * table (near-dup-sized, checkpointed) answers all τ at once.
    * Returns (tau, n_dropped, n_kept, drop_frac), one row per τ.
    */
  def semDedupSweep(df: DataFrame, centroids: DataFrame, taus: Seq[Double],
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    centroidIdCol: String = "centroid_id",
                    centroidVecCol: String = "embedding",
                    blocks: Int = 8): DataFrame = {
    require(taus.nonEmpty, "at least one tau")
    val spark = df.sparkSession
    import spark.implicits._
    val (asg, withV) = semDedupAssign(df, centroids, idCol, vecCol,
      centroidIdCol, centroidVecCol, blocks)
    val mx = blockedCellPairs(withV, taus.min, blocks)
      .groupBy(col("id_b")).agg(max(col("cos_sim")).as("__mx"))
      .localCheckpoint() // near-dup-sized; feeds every τ's count
    val tausDf = taus.toDF("tau")
    val drops = mx.crossJoin(broadcast(tausDf))
      .filter(col("__mx") >= col("tau"))
      .groupBy(col("tau")).agg(count(lit(1)).as("n_dropped"))
    val tot = asg.agg(count(lit(1)).as("__tot"))
    tausDf.join(drops, Seq("tau"), "left").crossJoin(tot)
      .select(col("tau"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("__tot") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
        round(coalesce(col("n_dropped"), lit(0L)).cast("double") /
          col("__tot"), 9).as("drop_frac"))
  }

  /** Semantic near-dup GROUPS: connected components over
    * `semanticPairs`, min id as representative — `cosineDupGroups`'
    * learned-cell sibling.
    */
  def semanticDupGroups(df: DataFrame, tau: Double, k: Int,
                        iters: Int = 2,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        seed: Long = 42L, trainFraction: Double = 1.0): DataFrame = {
    graft.graph.PropertyGraph.pairComponents(
      semanticPairs(df, tau, k, iters, idCol, vecCol, seed,
        trainFraction))
  }

  /** Recall@k of an approximate result against the exact one: fraction
    * of (query, neighbor) pairs in the exact top-k that the approx
    * result also returned. Test/monitoring utility.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): Double = {
    val total = exact.count()
    if (total == 0) 1.0
    else exact.select("query_id", "neighbor_id")
      .join(approx.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"), "left_semi")
      .count().toDouble / total
  }
}
