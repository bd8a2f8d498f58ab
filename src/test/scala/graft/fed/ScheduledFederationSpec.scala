package graft.fed

import graft.SparkSpec
import graft.fed.FedAvg.Weights
import graft.sources.LayerTensor

/** §3.2 scheduled federation (fl_client_shed.py:151-206 +
  * fl_server_shed.py:61-93): memory-budget packing, sequential
  * per-group training, FedAvg over PER-PARTITION updates — traced
  * against hand-computed values with the deterministic ShiftModel.
  */
class ScheduledFederationSpec extends SparkSpec {
  import FederationSpec.ShiftModel

  private val init: Weights = Seq(LayerTensor(0, Seq(2), Array(0f, 10f)))

  // four partitions, 2.0 GB each: budget 4.5 packs them into 2 groups
  private val parts = Seq(
    ("p0", 1L, 1f), ("p1", 3L, 2f), ("p2", 2L, 3f), ("p3", 2L, 4f))

  test("2 groups x 2 partitions: per-partition FedAvg matches the hand trace") {
    // per round (epochs=1):
    //   w -> (1*(w+1) + 3*(w+2) + 2*(w+3) + 2*(w+4)) / 8 = w + 21/8
    val res = Federation.runScheduled(spark, parts,
      cost = (_: (String, Long, Float)) => 2.0, budgetGB = 4.5,
      buildClient = (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 2, epochs = 1)
    assert(res.weights.head.values.toSeq === Seq(0f + 2 * 21f / 8, 10f + 2 * 21f / 8))
    assert(res.history.map(_.round) === Seq(1, 2))
    // ALL FOUR partitions report individually every round (per-partition
    // accumulation, fl_server_shed.py:61-88) even though tasks = 2 groups
    res.history.foreach { log =>
      assert(log.clientMetrics.map(_._1).toSet ===
        Set("(p0,1,1.0)", "(p1,3,2.0)", "(p2,2,3.0)", "(p3,2,4.0)"))
      assert(log.totalExamples === 8L)
    }
    assert(res.finalMetrics.size === 4)
  }

  test("scheduled and flat federation agree on the global weights") {
    val flat = Federation.run(spark, parts,
      (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 2, epochs = 1)
    val shed = Federation.runScheduled(spark, parts,
      cost = (_: (String, Long, Float)) => 2.0, budgetGB = 4.5,
      buildClient = (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 2, epochs = 1)
    assert(flat.weights.head.values.toSeq === shed.weights.head.values.toSeq)
  }

  test("scheduled CORA session: mem.py-costed groups train end to end") {
    val outDir = java.nio.file.Files.createTempDirectory("shed-cora").toString
    // CORA partitions cost ~2.06 GB each (mem.py example); budget 5 GB
    // packs both into ONE group trained sequentially in one task
    val res = FedTrain.runScheduledSession(spark, "/root/reference/data", "4",
      Seq("0", "1"), rounds = 1, epochs = 1, outDir, budgetGB = 5.0)
    assert(res.history.size === 1)
    assert(res.history.head.clientMetrics.size === 2) // per-partition FedAvg inputs
    assert(res.history.head.totalExamples > 600)
    assert(res.finalMetrics.forall(_._2.contains("test_auc")))
    val w1 = graft.sources.WeightsIO.load(spark, s"$outDir/weights/weights_graphID_4_V1")
    assert(w1.nonEmpty)
  }

  test("oversized partition gets its own group instead of being dropped") {
    val res = Federation.runScheduled(spark, Seq(("big", 5L, 1f), ("small", 1L, 1f)),
      cost = (p: (String, Long, Float)) => if (p._1 == "big") 99.0 else 1.0,
      budgetGB = 4.0,
      buildClient = (p: (String, Long, Float)) => new ShiftModel(p._2, p._3),
      initial = init, rounds = 1, epochs = 1)
    assert(res.history.head.clientMetrics.size === 2) // both trained
    assert(res.history.head.totalExamples === 6L)
  }
}
