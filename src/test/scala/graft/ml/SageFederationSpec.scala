package graft.ml

import graft.SparkSpec
import graft.fed.{FedTrain, Federation}
import graft.sources.WeightsIO

/** The end-to-end supervised federated run on the reference's own CORA
  * fixtures — MergePipeline → BundleIO.write → Federation.run with
  * SageLinkModel, 2 partitions (graph 4), the composition the system
  * exists for (fl_server.py:134-172 + fl_client.py:119-175;
  * README.md:86-98's 2-client example). One session, every assertion
  * downstream of it.
  */
class SageFederationSpec extends SparkSpec {

  private val rounds = 3
  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("sage-fed").toString
  private lazy val session: FedTrain.SessionResult =
    FedTrain.runSession(spark, "/root/reference/data", "4", Seq("0", "1"),
      rounds = rounds, epochs = 2, outDir = outDir,
      hp = SageHyperParams()) // reference supervised defaults

  test("global weights change round over round") {
    val w3 = session.result.weights // materialize the lazy session first
    val w1 = WeightsIO.load(spark, s"$outDir/weights/weights_graphID_4_V1")
    val w2 = WeightsIO.load(spark, s"$outDir/weights/weights_graphID_4_V2")
    def flat(w: graft.fed.FedAvg.Weights): Seq[Float] = w.flatMap(_.values.toSeq)
    assert(flat(w1) !== flat(w2))
    assert(flat(w2) !== flat(w3))
  }

  test("both clients participate every round with reference-scale example counts") {
    val hist = session.result.history
    assert(hist.map(_.round) === (1 to rounds))
    hist.foreach { log =>
      assert(log.clientMetrics.map(_._1).toSet === Set("4_0", "4_1"))
      // each partition: ~2550 pos+neg train examples (p=0.1 double split
      // of ~2800 edges -> ~255 pos + 255 neg); both summed here
      assert(log.totalExamples > 600 && log.totalExamples < 1400,
        s"round ${log.round}: ${log.totalExamples} examples")
    }
  }

  test("final model beats chance on the held-out edge split (AUC > 0.5)") {
    val aucs = session.result.finalMetrics.map { case (name, m) => name -> m("test_auc") }
    aucs.foreach { case (name, auc) =>
      assert(auc > 0.55, s"client $name test AUC $auc not above chance")
    }
  }

  test("round logs carry the full Keras metric set plus derived F1") {
    val metrics = session.result.history.head.clientMetrics.head._2
    val want = Set("loss", "binary_accuracy", "precision", "recall", "auc", "f1")
    assert(want.flatMap(k => Seq(s"train_$k", s"test_$k")).subsetOf(metrics.keySet))
  }

  test("per-round checkpoints load and the last equals the returned weights") {
    val last = WeightsIO.load(spark, s"$outDir/weights/weights_graphID_4_V$rounds")
    val got = session.result.weights
    last.zip(got).foreach { case (a, b) =>
      assert(a.shape === b.shape)
      assert(a.values.toSeq === b.values.toSeq)
    }
  }

  test("bundles loaded task-side match the written partition shapes") {
    val b = BundleIO.load(session.refs.head)
    assert(b.numFeatures === 1433)
    assert(b.features.size === 1451)        // merged p0 node count
    assert(b.trainExamples.nonEmpty && b.testExamples.nonEmpty)
    // labels are balanced pos/neg by construction
    assert(b.trainExamples.count(_._3 == 1) === b.trainExamples.count(_._3 == 0))
    assert(b.testExamples.count(_._3 == 1) === b.testExamples.count(_._3 == 0))
    // adjacency covers only residual-graph nodes; ids resolve in features
    b.adjacency.keys.take(100).foreach(id => assert(b.features.contains(id)))
  }
}
