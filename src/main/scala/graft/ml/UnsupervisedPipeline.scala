package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.ConcatEmbeddings
import graft.fed.Federation
import graft.graph.PropertyGraph
import graft.sources.{GraftLogger, GraphIO}

/** The unsupervised embedding producers:
  *
  *  - `run` — ZERO-federation baseline (distributed_nograd.py:19-34):
  *    each partition trains independently on its walk-pair corpus and
  *    writes `embeddings_nograd_{gid}_{pid}.csv`.
  *  - `runFederated` — the federated variant (fl_server_unsupervised +
  *    fl_client_unsupervised): R rounds of walk-pair training with the
  *    UNWEIGHTED model mean (A2, fl_server_unsupervised.py:58-67),
  *    then every client runs the FINAL global encoder over its nodes
  *    and writes `embeddings_{gid}_{pid}.csv`
  *    (fl_client_unsupervised.py:117-122).
  *
  * Both feed ConcatEmbeddings (concat_embeddings.py:12-28) to
  * concatenate + keep-first-dedup the per-partition tables.
  *
  * Execution shape: one Spark task per partition loads its bundle
  * (data-local), samples its walk-pair corpus from it, trains, and
  * writes its own embeddings CSV straight from the task; rows never
  * pass through a DataFrame or a driver collect. In `runFederated` the
  * clients persist across rounds, and the CSV is written in the
  * federation's final pass (`Federation.run`'s `onStop`), in the task
  * that evaluates the final global weights — no second bundle load.
  * `run` trains and writes in one one-task job per partition. Then one
  * one-task job concatenates the CSVs. Weights (KB–MB) are the only
  * thing the driver holds.
  */
object UnsupervisedPipeline {

  /** One partition's unsupervised bundle (graph + walk spec, with the
    * reference's walk length and count; the client samples its pairs at
    * load). Partitions are independent and bundle writes are
    * order-canonical, so both pipelines call this from concurrent driver
    * threads (same rationale as FedTrain's ETL).
    */
  private def writeBundle(spark: SparkSession, graphId: String, outDir: String,
                          hp: SageHyperParams, pid: String, g: PropertyGraph): BundleIO.BundleRef =
    BundleIO.writeUnsupervised(spark, s"$outDir/bundles", s"${graphId}_$pid", g, seed = hp.seed)

  /** One partition's train + emit as a SINGLE one-task Spark job: the
    * task loads its bundle (data-local), trains, and writes its own
    * `embeddings_{tag}_{gid}_{pid}.csv` straight from the task —
    * exactly the reference client's topology (the client process trains
    * and writes its partition's CSV locally,
    * fl_client_unsupervised.py:117-122). No DataFrame round-trip, no
    * driver collect; the driver only coordinates.
    */
  private def trainAndEmitOne(spark: SparkSession, pid: String,
                              ref: BundleIO.BundleRef,
                              train: SageLinkModel => Unit,
                              hp: SageHyperParams, graphId: String,
                              tag: String, outDir: String): Unit = {
    val dim = hp.layerSizes._2
    val csv = s"$outDir/embeddings_${tag}_${graphId}_$pid.csv"
    spark.sparkContext.parallelize(Seq(ref), 1).foreach { r =>
      val model = SageLinkModel.fromRef(r, hp)
      train(model)
      // r.hadoopConf = the driver's conf, shipped inside the ref — the
      // task-direct write sees the same spark.hadoop.* settings
      GraphIO.writeEmbeddingsCsvFromTask(csv, dim,
        model.genEmbeddings(model.nodeIds).iterator, r.hadoopConf)
    }
  }

  /** Zero-federation baseline. @return concatenated (id, embedding). */
  def run(spark: SparkSession, parts: Seq[(String, PropertyGraph)],
          graphId: String, epochs: Int, outDir: String,
          hp: SageHyperParams = SageHyperParams.unsupervised,
          logger: GraftLogger = GraftLogger.stdout()): DataFrame = {
    val t0 = System.nanoTime()
    // fused per-partition chains: a partition's training job starts the
    // moment ITS bundle is written, instead of barriering every
    // partition's ETL before any training starts — partitions are
    // independent, so there is nothing to wait for
    graft.util.Par.mapAll(parts) { case (pid, g) =>
      val ref = writeBundle(spark, graphId, outDir, hp, pid, g)
      trainAndEmitOne(spark, pid, ref,
        m => { m.initialize(); m.fit(epochs); () }, hp, graphId, "nograd", outDir)
    }
    val out = ConcatEmbeddings.run(spark, outDir, "nograd", graphId,
      parts.map(_._1), hp.layerSizes._2)
    logger.info(f"unsupervised nograd: trained ${parts.size} partitions, " +
      f"dim=${hp.layerSizes._2} (bundle+train+emit ${(System.nanoTime() - t0) / 1e9}%.1f s)")
    out
  }

  /** Federated unsupervised training + embedding generation.
    * @return (federation result, concatenated (id, embedding))
    */
  def runFederated(spark: SparkSession, parts: Seq[(String, PropertyGraph)],
                   graphId: String, rounds: Int, epochs: Int, outDir: String,
                   hp: SageHyperParams = SageHyperParams.unsupervised,
                   logger: GraftLogger = GraftLogger.stdout()): (Federation.Result, DataFrame) = {
    val refs = graft.util.Par.mapAll(parts) { case (pid, g) =>
      pid -> writeBundle(spark, graphId, outDir, hp, pid, g)
    }
    val init = new LocalGraphSage(hp, Map.empty, Map.empty,
      refs.head._2.numFeatures).initializeWeights()
    val dim = hp.layerSizes._2
    val result = Federation.run(spark, refs,
      (r: (String, BundleIO.BundleRef)) => SageLinkModel.fromRef(r._2, hp),
      init, rounds, epochs, graphId,
      weightsDir = Some(s"$outDir/weights"),
      unweighted = true, // A2: the unsupervised server's np.mean
      logger = logger,
      // on STOP every client runs the FINAL global encoder over its nodes
      onStop = (r: (String, BundleIO.BundleRef), m: SageLinkModel) =>
        GraphIO.writeEmbeddingsCsvFromTask(s"$outDir/embeddings_fed_${graphId}_${r._1}.csv",
          dim, m.genEmbeddings(m.nodeIds).iterator, r._2.hadoopConf))
    (result, ConcatEmbeddings.run(spark, outDir, "fed", graphId, refs.map(_._1), dim))
  }
}
