package graft.ml

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LayerTensor

/** G6–G10 math checks. The load-bearing test is the numerical gradient
  * check — it validates the entire hand-derived backprop (concat
  * mean-aggregator, relu, linear head, L2 normalize, BCE+sigmoid).
  */
class GraphSageSpec extends AnyFunSuite {

  private val nF = 3
  private def tinySage(dropout: Double = 0.0, seed: Long = 42) = {
    // ring of 6 nodes with distinct features
    val rng = new scala.util.Random(1)
    val feats = (0L to 5L).map(i => i -> Array.fill(nF)(rng.nextFloat())).toMap
    val adj = (0L to 5L).map(i => i -> Array(((i + 5) % 6), ((i + 1) % 6))).toMap
    new LocalGraphSage(
      SageHyperParams(numSamples = (3, 2), layerSizes = (4, 4),
        batchSize = 4, learningRate = 1e-2, dropout = dropout, seed = seed),
      feats, adj, nF)
  }

  private val examples = Array((0L, 1L, 1), (2L, 3L, 1), (0L, 3L, 0), (1L, 4L, 0))

  test("numerical gradient check validates the full backprop") {
    val sage = tinySage()
    sage.initializeWeights()
    def gradsAt(): (Double, Seq[Array[Double]]) =
      sage.computeGrads(examples, new java.util.Random(7))
    val (_, analytic) = gradsAt()
    val w0 = sage.getWeights
    val eps = 1e-3
    var checked = 0
    for (layer <- w0.indices) {
      val nVals = w0(layer).values.length
      val probes = Seq(0, nVals / 2, nVals - 1).distinct
      for (idx <- probes) {
        def lossWith(delta: Double): Double = {
          val perturbed = w0.zipWithIndex.map { case (t, l) =>
            if (l != layer) t
            else {
              val vs = t.values.clone()
              vs(idx) = (vs(idx) + delta).toFloat
              LayerTensor(t.layer, t.shape, vs)
            }
          }
          sage.setWeights(perturbed)
          val (loss, _) = gradsAt()
          loss
        }
        val numeric = (lossWith(eps) - lossWith(-eps)) / (2 * eps)
        val ana = analytic(layer)(idx)
        val tol = math.max(1e-4, 0.02 * math.max(math.abs(numeric), math.abs(ana)))
        assert(math.abs(numeric - ana) <= tol,
          s"layer $layer idx $idx: numeric=$numeric analytic=$ana")
        checked += 1
      }
    }
    sage.setWeights(w0)
    assert(checked >= 18)
  }

  test("fit reduces training loss on the tiny graph") {
    val sage = tinySage()
    sage.initializeWeights()
    val losses = sage.fit(examples, epochs = 30)
    assert(losses.head > losses.last,
      s"loss did not decrease: ${losses.head} -> ${losses.last}")
  }

  test("weights round-trip exactly through get/set (layer order, shapes)") {
    val sage = tinySage()
    val w = sage.initializeWeights()
    assert(w.map(_.layer) === Seq(0, 1, 2, 3, 4, 5))
    assert(w(0).shape === Seq(nF, 2)) // W1_self: F x d1/2
    assert(w(2).shape === Seq(4))     // b1: d1
    assert(w(3).shape === Seq(4, 2))  // W2_self: d1 x d2/2
    val sage2 = tinySage()
    sage2.setWeights(w)
    val w2 = sage2.getWeights
    w.zip(w2).foreach { case (a, b) =>
      assert(a.values.toSeq === b.values.toSeq)
      assert(a.shape === b.shape)
    }
  }

  test("predict and evaluate are deterministic; evaluate exposes the Keras metric set") {
    val sage = tinySage()
    sage.initializeWeights()
    sage.fit(examples, epochs = 3)
    val m1 = sage.evaluate(examples)
    val m2 = sage.evaluate(examples)
    assert(m1 === m2)
    assert(m1.keySet === Set("loss", "binary_accuracy", "precision", "recall", "auc", "f1"))
    // F1 consistent with its P/R (fl_client.py:132-137 derivation)
    val f1 = m1("f1")
    if (m1("precision") + m1("recall") == 0.0) assert(f1.isNaN)
    else assert(math.abs(f1 - 2 * m1("precision") * m1("recall")
      / (m1("precision") + m1("recall"))) < 1e-12)
    assert(m1("auc") >= 0.0 && m1("auc") <= 1.0)
  }

  test("genEmbeddings: every node, dimension d2, L2-normalized (F4)") {
    val sage = tinySage()
    sage.initializeWeights()
    val embs = sage.genEmbeddings(Array(0L, 1L, 2L, 3L, 4L, 5L))
    assert(embs.length === 6)
    embs.foreach { case (_, v) =>
      assert(v.length === 4)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      assert(math.abs(norm - 1.0) < 1e-4, s"norm $norm")
    }
    // deterministic
    val again = sage.genEmbeddings(Array(0L, 1L, 2L, 3L, 4L, 5L))
    assert(embs.map(_._2.toSeq).toSeq === again.map(_._2.toSeq).toSeq)
  }

  test("training with dropout still learns (stochastic path exercised)") {
    val sage = tinySage(dropout = 0.1)
    sage.initializeWeights()
    // per-epoch losses on a 4-example fixture are noisy under dropout;
    // compare first-10 vs last-10 means (robust across seeds)
    val losses = sage.fit(examples, epochs = 100)
    assert(losses.takeRight(10).sum / 10 < losses.take(10).sum / 10,
      s"dropout training did not reduce smoothed loss: $losses")
  }
}
