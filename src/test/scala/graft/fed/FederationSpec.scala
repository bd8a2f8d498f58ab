package graft.fed

import graft.SparkSpec
import graft.fed.FedAvg.Weights
import graft.sources.{LayerTensor, WeightsIO}

/** §3.1 round-loop semantics with a deterministic toy model (the
  * reference validates its protocol the same way — misc/server.py +
  * misc/client.py federate a toy linear model). Each "client" shifts
  * every weight by a fixed client-specific delta per fit, so the global
  * weight evolution is hand-computable.
  */
object FederationSpec {
  /** w' = w + delta (per epoch); numExamples = n. Serializable, lives
    * inside the executor task like a real client.
    */
  final class ShiftModel(val numExamples: Long, delta: Float) extends FedModel {
    private var weights: Weights = Nil
    def getWeights: Weights = weights
    def setWeights(w: Weights): Unit = weights = w
    def fit(epochs: Int): Weights = {
      weights = weights.map(t =>
        LayerTensor(t.layer, t.shape, t.values.map(_ + delta * epochs)))
      weights
    }
    def evaluate(): Map[String, Double] =
      Map("mean_w" -> weights.map(_.values.sum.toDouble).sum)
  }
}

class FederationSpec extends SparkSpec {
  import FederationSpec.ShiftModel

  private val init: Weights = Seq(LayerTensor(0, Seq(2), Array(0f, 10f)))

  test("two clients, two rounds: global weights follow the hand-computed FedAvg trace") {
    // clients: (n=2, delta=+1), (n=6, delta=+3); epochs=1
    // round: w -> (2*(w+1) + 6*(w+3)) / 8 = w + 2.5
    val res = Federation.run(spark,
      partitions = Seq(("a", 2L, 1f), ("b", 6L, 3f)),
      buildClient = (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 2, epochs = 1)
    assert(res.weights.head.values.toSeq === Seq(5.0f, 15.0f))
    assert(res.history.map(_.round) === Seq(1, 2))
    assert(res.history.head.totalExamples === 8L)
    assert(res.history.head.clientMetrics.size === 2)
    assert(res.finalMetrics.size === 2)
    // the cached clients must have survived the whole session: any
    // rebuild means optimizer state was silently reset mid-training
    assert(res.clientRebuilds === 0L)
  }

  test("epochs scale the local shift; round logs carry client metrics") {
    val res = Federation.run(spark,
      partitions = Seq(("solo", 4L, 0.5f)),
      buildClient = (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 1, epochs = 4)
    assert(res.weights.head.values.toSeq === Seq(2.0f, 12.0f)) // +0.5*4
    val metrics = res.history.head.clientMetrics
    assert(metrics.size === 1 && metrics.head._2.contains("mean_w"))
    // evaluate() ran BEFORE fit: 0 + 10
    assert(metrics.head._2("mean_w") === 10.0)
  }

  test("unweighted flag uses the A2 model mean regardless of client sizes") {
    // weighted would give w + 2.5/round (see first test); unweighted:
    // w -> ((w+1) + (w+3))/2 = w + 2 per round
    val res = Federation.run(spark,
      partitions = Seq(("a", 2L, 1f), ("b", 6L, 3f)),
      buildClient = (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 2, epochs = 1, unweighted = true)
    assert(res.weights.head.values.toSeq === Seq(4.0f, 14.0f))
  }

  test("per-round weight checkpoints are written and loadable (S9 parity)") {
    val dir = java.nio.file.Files.createTempDirectory("fed-w").toString
    Federation.run(spark,
      partitions = Seq(("a", 1L, 1f)),
      buildClient = (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 3, epochs = 1,
      graphId = "4", weightsDir = Some(dir))
    val r2 = WeightsIO.load(spark, s"$dir/weights_graphID_4_V2")
    assert(r2.head.values.toSeq === Seq(2.0f, 12.0f))
    val r3 = WeightsIO.load(spark, s"$dir/weights_graphID_4_V3")
    assert(r3.head.values.toSeq === Seq(3.0f, 13.0f))
  }

  test("a re-run into an existing weightsDir overwrites its checkpoints") {
    val dir = java.nio.file.Files.createTempDirectory("fed-rerun").toString
    def session(): Federation.Result = Federation.run(spark,
      partitions = Seq(("a", 2L, 1f), ("b", 6L, 3f)),
      buildClient = (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 2, epochs = 1,
      graphId = "4", weightsDir = Some(dir))
    session()
    val again = session()
    val v2 = WeightsIO.load(spark, s"$dir/weights_graphID_4_V2")
    assert(v2.head.values.toSeq === Seq(5.0f, 15.0f))
    assert(v2.head.values.toSeq === again.weights.head.values.toSeq)
  }

  test("memory cost model matches mem.py example estimates (A5)") {
    // mem.py:32 — (1452 n, 2383 e) and (1432 n, 2593 e) ≈ 2.06 GB RAM
    assert(math.abs(MemCost.ramGB(1452, 2383) - 2.06) < 0.01)
    assert(math.abs(MemCost.ramGB(1432, 2593) - 2.06) < 0.01)
    // packing: budget fits two CORA partitions per group at 5 GB
    val parts = Seq(("p0", 2.06), ("p1", 2.06), ("p2", 2.06))
    val groups = MemCost.pack(parts, budgetGB = 5.0)(_._2)
    assert(groups.map(_.size).sorted === Seq(1, 2))
  }
}
