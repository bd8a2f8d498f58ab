package graft.fed

import org.apache.spark.sql.SparkSession

import graft.etl.MergePipeline
import graft.graph.PropertyGraph
import graft.ml.{BundleIO, LocalGraphSage, SageHyperParams, SageLinkModel}
import graft.sources.GraftLogger

/** CLI entry point for a full supervised federated GraphSAGE training
  * session — the reference's `fl_server.py` + N × `fl_client.py`
  * deployment collapsed into one Spark driver program (SURVEY §3.1
  * restatement; README.md:86-98's example run shape):
  *
  *   runMain graft.fed.FedTrain <storeDir> <graphId> <pids> <rounds>
  *       <epochs> <outDir>
  *   e.g.  /root/reference/data 4 0,1 3 2 /tmp/fed-out
  *
  * Pipeline: merge.py-parity ETL per partition → distributed bundle
  * write (splits + storage; driver holds only paths) → throwaway model
  * for round-0 weights (fl_server.py:211-212) → R federated rounds
  * (broadcast → task-local train → FedAvg → checkpoint) → final
  * evaluation, whose per-partition metrics are logged and returned.
  */
object FedTrain {

  final case class SessionResult(result: Federation.Result,
                                 refs: Seq[BundleIO.BundleRef])

  /** Programmatic form used by the CLI and the end-to-end spec. */
  def runSession(spark: SparkSession, storeDir: String, graphId: String,
                 pids: Seq[String], rounds: Int, epochs: Int, outDir: String,
                 hp: SageHyperParams = SageHyperParams(),
                 logger: GraftLogger = GraftLogger.stdout()): SessionResult = {
    // 1. ETL: merge raw local/central stores into canonical node/edge
    //    tables (merge.py parity), then split + persist bundles.
    //    Partitions are independent, so their ETL (dominated by the
    //    double edge-split's iterative jobs) submits Spark jobs
    //    CONCURRENTLY from driver threads — Spark's scheduler
    //    interleaves the small per-partition jobs instead of running
    //    P serial critical paths. Each future touches only its own
    //    partition's paths and cached graph; results keep pid order.
    val refs = graft.util.Par.mapAll(pids) { pid =>
      val m = MergePipeline.merge(spark, storeDir, storeDir, graphId, pid)
      val g = PropertyGraph(m.nodes, m.edges).cache()
      try BundleIO.write(spark, s"$outDir/bundles", s"${graphId}_$pid", g,
        seed = hp.seed)
      finally g.unpersist()
    }
    require(refs.map(_.numFeatures).distinct.size == 1,
      s"partitions disagree on feature count: $refs")

    // 2. Round-0 weights from a throwaway model (fl_server.py:211-212 —
    //    the server builds a model solely to obtain initial weights).
    val init = new LocalGraphSage(hp, Map.empty, Map.empty, refs.head.numFeatures)
      .initializeWeights()

    // 3. Federated rounds; per-round checkpoints under outDir/weights.
    val result = Federation.run(spark, refs,
      (r: BundleIO.BundleRef) => SageLinkModel.fromRef(r, hp),
      init, rounds, epochs, graphId,
      weightsDir = Some(s"$outDir/weights"), logger = logger)

    result.finalMetrics.foreach { case (name, m) =>
      logger.info(s"final[$name]: " + m.toSeq.sortBy(_._1)
        .map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    }
    SessionResult(result, refs)
  }

  /** Scheduled variant (fl_client_shed/fl_server_shed): partitions
    * packed under `budgetGB` by the mem.py cost model, per-group
    * sequential training.
    */
  def runScheduledSession(spark: SparkSession, storeDir: String, graphId: String,
                          pids: Seq[String], rounds: Int, epochs: Int,
                          outDir: String, budgetGB: Double,
                          hp: SageHyperParams = SageHyperParams(),
                          logger: GraftLogger = GraftLogger.stdout()): Federation.Result = {
    val withCost = graft.util.Par.mapAll(pids) { pid =>
      val m = MergePipeline.merge(spark, storeDir, storeDir, graphId, pid)
      val g = PropertyGraph(m.nodes, m.edges).cache()
      try {
        val ref = BundleIO.write(spark, s"$outDir/bundles", s"${graphId}_$pid", g,
          seed = hp.seed)
        // bill the partition's REAL feature width — the cost model's
        // nFeatures default is Cora's 1433, which under-admits any
        // wider-featured graph straight into the OOM this budget exists
        // to prevent
        val cost = MemCost.ramGB(g.numNodes, g.numEdges, ref.numFeatures)
        (ref, cost)
      } finally g.unpersist()
    }
    val init = new LocalGraphSage(hp, Map.empty, Map.empty,
      withCost.head._1.numFeatures).initializeWeights()
    Federation.runScheduled(spark, withCost,
      cost = (p: (BundleIO.BundleRef, Double)) => p._2,
      budgetGB = budgetGB,
      buildClient = (p: (BundleIO.BundleRef, Double)) => SageLinkModel.fromRef(p._1, hp),
      initial = init, rounds = rounds, epochs = epochs, graphId = graphId,
      weightsDir = Some(s"$outDir/weights"), logger = logger)
  }

  private val Modes = Set("supervised", "unsupervised", "nograd", "scheduled")

  /** CLI mirroring the reference's four deployment variants:
    *   runMain graft.fed.FedTrain [mode] <storeDir> <gid> <pids>
    *       <rounds> <epochs> <outDir> [budgetGB]
    * mode ∈ supervised (default; fl_server+fl_client) | unsupervised
    * (fl_*_unsupervised) | nograd (distributed_nograd) | scheduled
    * (fl_*_shed, budgetGB applies).
    */
  def main(args: Array[String]): Unit = {
    val (mode, rest) =
      if (args.nonEmpty && Modes(args(0))) (args(0), args.drop(1))
      else ("supervised", args)
    val storeDir = rest.lift(0).getOrElse("/root/reference/data")
    val graphId = rest.lift(1).getOrElse("4")
    val pids = rest.lift(2).getOrElse("0,1").split(",").toSeq
    val rounds = rest.lift(3).map(_.toInt).getOrElse(3)
    val epochs = rest.lift(4).map(_.toInt).getOrElse(2)
    val outDir = rest.lift(5).getOrElse("/tmp/graft-fed")
    val budgetGB = rest.lift(6).map(_.toDouble).getOrElse(5.0)
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, app = s"graft-$mode")
    spark.sparkContext.setLogLevel("WARN")
    def graphs(): Seq[(String, PropertyGraph)] = pids.map { pid =>
      val m = MergePipeline.merge(spark, storeDir, storeDir, graphId, pid)
      pid -> PropertyGraph(m.nodes, m.edges).cache()
    }
    try mode match {
      case "supervised" =>
        runSession(spark, storeDir, graphId, pids, rounds, epochs, outDir)
      case "unsupervised" =>
        graft.ml.UnsupervisedPipeline.runFederated(
          spark, graphs(), graphId, rounds, epochs, outDir)
      case "nograd" =>
        graft.ml.UnsupervisedPipeline.run(
          spark, graphs(), graphId, epochs, outDir)
      case "scheduled" =>
        runScheduledSession(spark, storeDir, graphId, pids, rounds, epochs,
          outDir, budgetGB)
    } finally spark.stop()
  }
}
