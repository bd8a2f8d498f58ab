package graft.ml

import graft.fed.FedAvg.Weights
import graft.fed.FedModel

/** One partition's in-memory training state — everything one federated
  * client needs. Built TASK-SIDE by `BundleIO.load` from the bundle's
  * storage directory (the reference client loads the same data from its
  * local CSVs, fl_client.py:194-208); the driver only ever holds
  * `BundleIO.BundleRef` paths. Splitting + persistence is
  * `BundleIO.write` — the reference's double split
  * (models/supervised.py:67-77): test p off the full graph, train p off
  * the residual; samplers see only the train-residual adjacency.
  *
  * Scale: a bundle is one graph PARTITION, which fits in task memory by
  * the system's own design (mem.py's admission model; the shed variant
  * exists precisely to keep it that way).
  */
final case class PartitionBundle(
    name: String,
    features: Map[Long, Array[Float]],
    adjacency: Map[Long, Array[Long]],
    trainExamples: Array[(Long, Long, Int)],
    testExamples: Array[(Long, Long, Int)],
    numFeatures: Int) extends Serializable

/** The supervised federated client (fl_client.py semantics): GraphSAGE
  * link prediction over one partition bundle. `numExamples` is the
  * train-example count the server weighs FedAvg with (A4,
  * fl_client.py:204-208).
  */
final class SageLinkModel(bundle: PartitionBundle, hp: SageHyperParams)
    extends FedModel {

  private val sage = new LocalGraphSage(hp, bundle.features, bundle.adjacency,
    bundle.numFeatures)

  def initialize(): Weights = sage.initializeWeights()
  def numExamples: Long = bundle.trainExamples.length.toLong
  def getWeights: Weights = sage.getWeights
  def setWeights(w: Weights): Unit = sage.setWeights(w)
  def fit(epochs: Int): Weights = {
    sage.fit(bundle.trainExamples, epochs)
    sage.getWeights
  }
  /** `train_*` and `test_*` metrics. An unsupervised bundle's one pair
    * array serves as both, so it is scored once: `evaluate` is a pure
    * function of the weights and the examples, so both keys get the
    * values a second scoring would give.
    */
  def evaluate(): Map[String, Double] = {
    val train = sage.evaluate(bundle.trainExamples)
    val test =
      if (bundle.testExamples eq bundle.trainExamples) train
      else sage.evaluate(bundle.testExamples)
    train.map { case (k, v) => s"train_$k" -> v } ++ test.map { case (k, v) => s"test_$k" -> v }
  }
  def genEmbeddings(nodes: Array[Long]): Array[(Long, Array[Float])] =
    sage.genEmbeddings(nodes)

  def nodeIds: Array[Long] = bundle.features.keys.toArray.sorted
}

object SageLinkModel {
  /** Task-side client factory: load the bundle from storage (data-local
    * read, no driver involvement) and wrap it in a model — the
    * `buildClient` closure the federation loop ships to executors.
    */
  def fromRef(ref: BundleIO.BundleRef, hp: SageHyperParams): SageLinkModel =
    new SageLinkModel(BundleIO.load(ref), hp)
}
