package graft.fed

import org.apache.spark.sql.SparkSession

import graft.fed.FedAvg.Weights
import graft.sources.{GraftLogger, WeightsIO}

/** §2.9 — the model contract the federation loop trains against
  * (README.md:23-52: initialize / set_weights / get_weights / fit /
  * evaluate / gen_embeddings). A FedModel instance lives INSIDE one
  * executor task and owns one partition's in-memory training state —
  * the reference's one-partition-per-process design (mem.py sizes it).
  */
trait FedModel extends Serializable {
  /** FedAvg weight n_i (A4 — reference returns it from initialize,
    * models/supervised.py:106-107). */
  def numExamples: Long
  def getWeights: Weights
  def setWeights(w: Weights): Unit
  /** Train locally for `epochs`; returns the updated weights. */
  def fit(epochs: Int): Weights
  /** Named eval metrics (loss/acc/precision/recall/auc...). */
  def evaluate(): Map[String, Double]
}

/** §3.1 — the federated round loop, Spark-native.
  *
  * The reference's TCP server/client pair (fl_server.py:134-172,
  * fl_client.py:119-175) is deployment plumbing around a simple
  * computation: R rounds of { send global weights to all clients; each
  * trains E epochs locally; server FedAvgs the results }. In Spark the
  * driver IS the server: per round it broadcasts the global weights,
  * runs one task per partition (the client), collects the per-client
  * `(n_i, W_i)` pairs, folds FedAvg, and checkpoints — identical
  * algebra, no sockets/pickle (documented deviation, SURVEY §7.4-5).
  *
  * Scale: weights are KB–MB (broadcast-friendly); clients train
  * data-local inside tasks; the collect moves `clients × model-size`,
  * same as the reference's network traffic.
  */
object Federation {

  final case class RoundLog(round: Int, totalExamples: Long,
                            clientMetrics: Seq[(String, Map[String, Double])])

  /** `finalMetrics`: per-client evaluation of the FINAL global weights
    * — the reference client's on-STOP evaluate + F1
    * (fl_client.py:129-142).
    * `clientRebuilds`: buildClient invocations BEYOND the initial one
    * per partition — >0 means Spark evicted a cached client mid-session
    * and optimizer state was silently reset (weights stay correct).
    * Always 0 for `runScheduled`, whose per-round rebuild is the design.
    */
  final case class Result(weights: Weights, history: Seq[RoundLog],
                          finalMetrics: Seq[(String, Map[String, Double])],
                          clientRebuilds: Long = 0L)

  /** @param buildClient constructs/loads a partition's model ON AN
    *   EXECUTOR (must be a serializable closure; typically reads the
    *   partition's node/edge files from shared storage). Built ONCE,
    *   by round 1's pass (or the final pass when `rounds` is 0):
    *   clients live in a persisted RDD across rounds — like the
    *   reference's long-lived client processes (fl_client.py:119-175),
    *   only the weights travel per round; partition data is not
    *   re-loaded and optimizer state persists. (If an executor is lost,
    *   Spark recomputes the partition — the client reloads with fresh
    *   optimizer slots; deterministic, weights-correct fallback.)
    * @param initial    round-0 global weights (the reference server
    *   builds a throwaway model just for these, fl_server.py:211-212)
    * @param weightsDir if set, checkpoint `weights_graphID_{gid}_V{r}`
    *   per round (S9 parity, fl_server.py:79-80; `_` where the
    *   reference writes `:`, which Hadoop parses as a URI scheme)
    * @param unweighted true = A2 aggregation, every client counts once
    *   (`np.mean`, fl_server_unsupervised.py:58-67 — the unsupervised
    *   server's rule); false = A1 example-count-weighted FedAvg
    * @param onStop the client's on-STOP step after its final evaluate:
    *   it runs in the same task of the final pass, on the persisted
    *   client that holds the final global weights, and receives the
    *   client as `buildClient` typed it. The unsupervised client embeds
    *   its nodes and writes its CSV there
    *   (fl_client_unsupervised.py:117-122). No-op by default.
    */
  def run[P: scala.reflect.ClassTag, M <: FedModel](spark: SparkSession,
             partitions: Seq[P],
             buildClient: P => M,
             initial: Weights,
             rounds: Int,
             epochs: Int,
             graphId: String = "0",
             weightsDir: Option[String] = None,
             unweighted: Boolean = false,
             logger: GraftLogger = GraftLogger.stdout(),
             onStop: (P, M) => Unit = (_: P, _: M) => ()): Result = {
    val sc = spark.sparkContext
    // counts buildClient invocations: growth past partitions.size means
    // Spark evicted a cached client and rebuilt it with fresh optimizer
    // slots — weights stay correct, but the "optimizer state persists"
    // contract degraded; surface it instead of absorbing it silently
    val builds = sc.longAccumulator("graft.clientBuilds")
    // round 1's pass builds every client (bundle load) and caches it;
    // later passes read the cached client
    val clients = sc.parallelize(partitions, partitions.size)
      .map { p => builds.add(1L); (p, buildClient(p)) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    val res = federate(spark, clients, initial, rounds, epochs, graphId,
      weightsDir, unweighted, logger, onStop)
    clients.unpersist(blocking = false)
    val rebuilds = builds.value - partitions.size
    if (rebuilds > 0) logger.info(s"WARNING: $rebuilds client(s) were " +
      "rebuilt (cache eviction) — optimizer state reset")
    res.copy(clientRebuilds = rebuilds)
  }

  /** §3.2 — the SCHEDULED variant (fl_client_shed.py:151-206 +
    * fl_server_shed.py:61-93): partitions are packed into groups under
    * a RAM budget (`MemCost.pack` — the reference's `mem.py` admission
    * model); per round, each GROUP is one executor task that trains its
    * partitions SEQUENTIALLY — a fresh model per partition per round,
    * exactly as the shed client builds and discards models
    * (fl_client_shed.py:166-193) — and FedAvg runs over the
    * PER-PARTITION `(n_p, W_p)` pairs, not per-group, matching
    * fl_server_shed's accumulate loop.
    *
    * Scale: group parallelism × per-group sequential training bounds
    * peak memory at `budgetGB` per task; the per-round rebuild is the
    * POINT here (memory is released between partitions, the reference's
    * `del` + `gc.collect()`), unlike `run`'s persistent clients.
    */
  def runScheduled[P: scala.reflect.ClassTag](spark: SparkSession,
             partitions: Seq[P],
             cost: P => Double,
             budgetGB: Double,
             buildClient: P => FedModel,
             initial: Weights,
             rounds: Int,
             epochs: Int,
             graphId: String = "0",
             weightsDir: Option[String] = None,
             logger: GraftLogger = GraftLogger.stdout()): Result = {
    val groups = MemCost.pack(partitions, budgetGB)(cost)
    logger.info(s"scheduled federation: ${partitions.size} partitions in " +
      s"${groups.size} groups under $budgetGB GB")
    // unpersisted: every pass over it (each round, the final eval)
    // rebuilds the models; the lazy iterator keeps at most one
    // partition's model alive per task at a time (the budget contract)
    val clients = spark.sparkContext.parallelize(groups, groups.size)
      .flatMap(_.iterator.map(p => (p, buildClient(p))))
    federate(spark, clients, initial, rounds, epochs, graphId, weightsDir,
      unweighted = false, logger, (_: P, _: FedModel) => ())
  }

  /** The round loop both entry points share: per round, broadcast the
    * global weights → every client in `clients` sets them, evaluates
    * and fits → collect the `(n_i, W_i)` updates and fold FedAvg on the
    * driver → destroy the broadcast → checkpoint → `RoundLog`; then the
    * on-STOP pass of the final global model: every client evaluates it
    * (fl_client.py:129-142) and runs `onStop` in the same task.
    * Clients report under `p.toString`.
    */
  private def federate[P, M <: FedModel](spark: SparkSession,
                       clients: org.apache.spark.rdd.RDD[(P, M)],
                       initial: Weights, rounds: Int, epochs: Int,
                       graphId: String, weightsDir: Option[String],
                       unweighted: Boolean, logger: GraftLogger,
                       onStop: (P, M) => Unit): Result = {
    val sc = spark.sparkContext
    var global = initial
    val history = Seq.newBuilder[RoundLog]
    val t0 = System.nanoTime()
    for (round <- 1 to rounds) {
      val bc = sc.broadcast(global)
      val updates = clients.map { case (p, client) =>
        client.setWeights(bc.value)
        val before = client.evaluate()
        val w = client.fit(epochs)
        (p.toString, client.numExamples, w, before)
      }.collect().toSeq
      global =
        if (unweighted) FedAvg.mean(updates.map(_._3))
        else FedAvg.weighted(updates.map(u => (u._2, u._3)))
      bc.destroy()
      weightsDir.foreach { dir =>
        WeightsIO.save(spark, global, s"$dir/weights_graphID_${graphId}_V$round")
      }
      val log = RoundLog(round, updates.map(_._2).sum, updates.map(u => (u._1, u._4)))
      history += log
      logger.info(s"Training cycle $round done; clients=${updates.size}, " +
        s"examples=${log.totalExamples}")
    }
    val bcFinal = sc.broadcast(global)
    val finalMetrics = clients.map { case (p, client) =>
      client.setWeights(bcFinal.value)
      val metrics = client.evaluate()
      onStop(p, client)
      (p.toString, metrics)
    }.collect().toSeq
    bcFinal.destroy()
    logger.info(f"Federation finished: $rounds rounds in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    Result(global, history.result(), finalMetrics)
  }
}
