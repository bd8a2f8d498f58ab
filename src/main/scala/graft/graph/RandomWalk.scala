package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** G5 — UniformRandomWalk / UnsupervisedSampler parity
  * (models/unsupervised.py:43-46: `UnsupervisedSampler(G, nodes=nodes,
  * length=5, number_of_walks=1)`).
  *
  * Walks are built iteratively: `length-1` adjacency joins, each step
  * picking `neighbors[xxhash64(seed, walkId, step, cur) mod degree]` —
  * declarative, deterministic under any partitioning, no UDFs. A walk
  * ends early at a neighbor-less node (only possible at an isolated
  * start, since traversal follows undirected adjacency).
  *
  * Training pairs follow the reference sampler's shape: positives
  * `(walk[0], walk[i]) i=1..len-1` labeled 1; one global negative per
  * positive labeled 0, drawn ∝ degree^0.75 like the reference sampler
  * (word2vec's unigram smoothing) via a distributed sampling table —
  * each positive-degree node appears `round(w_i/W · T)` times in a
  * zipWithIndex'd table of size T ≈ 10·|V|, and a seeded hash picks
  * table rows.
  *
  * Scale: `length-1` shuffle joins against adjacency; walk state is
  * (ids + fixed-length array), linear in |V|·length; the sampling
  * table is O(10·|V|) rows of 2 longs, built distributed (explode +
  * zipWithIndex — per-partition offsets via a count job). Only two
  * scalar aggregates (total weight, table size) touch the driver.
  *
  * `localPairs` is the same sampler over one partition's in-memory
  * adjacency: the client task samples its own corpus from the bundle it
  * loaded, as each reference client runs `UnsupervisedSampler` over its
  * own partition graph (models/unsupervised.py:43-46,54-56).
  */
object RandomWalk {

  /** One walk per (start × walkIdx): `(walk_id LONG, walk ARRAY<LONG>)`
    * where `walk(0)` is the start node and |walk| ≤ length.
    */
  def uniformWalks(g: PropertyGraph, length: Int, nWalks: Int, seed: Long): DataFrame = {
    require(length >= 1 && nWalks >= 1)
    val spark = g.nodes.sparkSession
    val adjacency = g.adjacency()
    // walk_id encodes (start, walkIdx) deterministically
    var state = g.nodeIds
      .crossJoin(spark.range(nWalks).select(col("id").as("w")))
      .select((col("id") * nWalks + col("w")).as("walk_id"),
        col("id").as("cur"), array(col("id")).as("walk"))
    var prev: DataFrame = null
    for (step <- 1 until length) {
      val next = state
        .join(adjacency.withColumnRenamed("id", "cur"), Seq("cur"), "left")
        .withColumn("__next",
          when(col("cur").isNull || col("neighbors").isNull || size(col("neighbors")) === 0, lit(null))
            .otherwise(element_at(col("neighbors"),
              (pmod(xxhash64(lit(seed), col("walk_id"), lit(step), col("cur")),
                size(col("neighbors"))) + 1).cast("int"))))
        .select(col("__next").as("cur"),
          col("walk_id"),
          when(col("__next").isNull, col("walk"))
            .otherwise(concat(col("walk"), array(col("__next")))).as("walk"))
        // cut lineage every step: without this the plan compounds one
        // join per step and Catalyst analysis cost grows superlinearly
        // (round-3 verdict observed 127M-char plan strings). Walk state
        // is (2 ids + a ≤length array) per row — cheap to materialize.
        .localCheckpoint()
      if (prev != null) prev.unpersist(blocking = false)
      prev = state
      state = next
    }
    state.select(col("walk_id"), col("walk"))
  }

  /** UnsupervisedSampler pairs: `(target, context, label)` — positives
    * from walk co-occurrence, equal-count degree^0.75 negatives.
    */
  def unsupervisedPairs(g: PropertyGraph, length: Int, nWalks: Int,
                        seed: Long): DataFrame = {
    val walks = uniformWalks(g, length, nWalks, seed)
    val pos = walks
      .select(col("walk_id"), element_at(col("walk"), 1).as("target"),
        posexplode(slice(col("walk"), 2, length - 1)).as(Seq("__i", "context")))
      .select(col("walk_id"), col("__i"), col("target"), col("context"),
        lit(1).as("label"))
    // negatives: same (walk_id, slot) identity; context drawn from the
    // sampling table via a seeded hash index. localCheckpoint, not
    // cache: a cache entry is pinned in the CacheManager until an
    // unpersist nobody here could issue (the plan escapes to the
    // caller), while checkpoint blocks are released by the
    // ContextCleaner once the plan is GC'd — Par.mapAll runs one of
    // these per partition, and the orphaned ~10·|V|-row entries
    // accumulated for the session lifetime
    val table = negativeTable(g).localCheckpoint()
    val tableN = table.count()
    val neg = pos
      .select(col("walk_id"), col("__i"), col("target"),
        pmod(xxhash64(lit(seed + 17), col("walk_id"), col("__i")), lit(tableN)).as("__idx"))
      .join(table, Seq("__idx"))
      .select(col("walk_id"), col("__i"), col("target"), col("context"),
        lit(0).as("label"))
    pos.unionByName(neg).select("target", "context", "label")
  }

  /** Negative-sampling table `(__idx, context)`: each positive-degree
    * node appears `max(1, round(deg^0.75 / W · T))` times (T ≈ 10·|V|)
    * so a uniform index draw realizes the smoothed distribution. Ordered
    * before zipWithIndex → deterministic under any partitioning.
    */
  private[graph] def negativeTable(g: PropertyGraph): DataFrame = {
    val spark = g.nodes.sparkSession
    import spark.implicits._
    val deg = g.degrees.filter(col("degree") > 0)
      .select(col("id"), pow(col("degree").cast("double"), lit(Smoothing)).as("__w"))
    val totalW = deg.agg(sum(col("__w"))).head().getDouble(0)
    val targetSize = math.max(1000L, 10L * deg.count())
    deg
      .select(col("id").as("context"),
        greatest(lit(1L),
          round(col("__w") / totalW * targetSize).cast("long")).as("__copies"))
      .orderBy("context")
      .select(col("context"), explode(sequence(lit(1L), col("__copies"))))
      .select("context")
      .rdd.map(_.getLong(0)).zipWithIndex().map(_.swap).toDF("__idx", "context")
  }

  /** `unsupervisedPairs` over one partition held in memory, sorted by
    * (target, context, label) — the order the bundle loader hands the
    * trainer. `adjacency` maps a node to its neighbours in ascending
    * order (with multiplicity), as `PropertyGraph.adjacency` builds them;
    * walks start at every id in `nodeIds`. The pairs equal the
    * DataFrame sampler's row for row: the same `xxhash64` chains through
    * catalyst's own `XXH64`, the same `pmod` picks and the same
    * degree^0.75 table, rounded HALF_UP as Spark's `round` does.
    */
  def localPairs(nodeIds: Iterable[Long], adjacency: Map[Long, Array[Long]],
                 length: Int, nWalks: Int, seed: Long): Array[(Long, Long, Int)] = {
    require(length >= 1 && nWalks >= 1)
    val ids = nodeIds.toArray.sorted
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    // (walk_id, slot, target) of each positive: its negative's hash key
    val slots = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
    for (start <- ids; w <- 0 until nWalks) {
      val walkId = start * nWalks + w
      var cur = start
      var step = 1
      while (step < length && adjacency.get(cur).exists(_.nonEmpty)) {
        val nbrs = adjacency(cur)
        val h = XXH64.hashLong(cur, XXH64.hashInt(step,
          XXH64.hashLong(walkId, XXH64.hashLong(seed, HashSeed))))
        cur = nbrs(Math.floorMod(h, nbrs.length.toLong).toInt)
        pairs += ((start, cur, 1))
        slots += ((walkId, step - 1, start))
        step += 1
      }
    }
    if (slots.nonEmpty) {
      val table = localNegativeTable(ids, adjacency)
      for ((walkId, slot, target) <- slots) {
        val h = XXH64.hashInt(slot,
          XXH64.hashLong(walkId, XXH64.hashLong(seed + 17, HashSeed)))
        pairs += ((target, table(Math.floorMod(h, table.length.toLong).toInt), 0))
      }
    }
    pairs.toArray.sorted
  }

  /** `negativeTable`'s rows in `__idx` order, from in-memory degrees. */
  private def localNegativeTable(sortedIds: Array[Long],
                                 adjacency: Map[Long, Array[Long]]): Array[Long] = {
    val weighted = sortedIds.flatMap { id =>
      adjacency.get(id).filter(_.nonEmpty)
        .map(nbrs => id -> StrictMath.pow(nbrs.length.toDouble, Smoothing))
    }
    val totalW = weighted.map(_._2).sum
    val targetSize = math.max(1000L, 10L * weighted.length)
    weighted.flatMap { case (id, w) =>
      val copies = java.math.BigDecimal.valueOf(w / totalW * targetSize)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue
      Array.fill(math.max(1L, copies).toInt)(id)
    }
  }

  /** word2vec's unigram smoothing exponent, as the reference sampler. */
  private val Smoothing = 0.75

  /** `xxhash64`'s default seed in Spark SQL. */
  private val HashSeed = 42L
}
