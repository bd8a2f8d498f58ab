package graft.ml

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PropertyGraph

/** `LocalGraphSage.fit` pinned bit for bit on a seeded 512-feature
  * graph: the per-epoch losses and a digest of the trained weights'
  * float bits, for the supervised profile (dropout 0.1) and the
  * unsupervised one. The values were recorded while `fit` still had two
  * loops, a serial one that the supervised profile ran (512·5 products)
  * and a prepare-ahead one that the unsupervised profile ran (512·128),
  * so they pin that the one loop trains both profiles unchanged.
  */
class FitLoopSpec extends AnyFunSuite {
  import FitLoopSpec._

  private val supervised = SageHyperParams(seed = 11L)
  private val unsupervised = SageHyperParams.unsupervised.copy(seed = 11L)

  test("supervised profile: per-epoch losses and weight digest are pinned") {
    val (losses, digest) = fitOnce(supervised, epochs = 3)
    assert(losses === SupervisedLosses, s"losses $losses")
    assert(digest === SupervisedDigest, f"digest 0x$digest%016xL")
  }

  test("unsupervised profile: per-epoch losses and weight digest are pinned") {
    val (losses, digest) = fitOnce(unsupervised, epochs = 2)
    assert(losses === UnsupervisedLosses, s"losses $losses")
    assert(digest === UnsupervisedDigest, f"digest 0x$digest%016xL")
  }

  test("clients of both profiles fitting concurrently stay bit-identical") {
    // two clients of each profile fit on their own threads at once, as
    // a session's client tasks do in one executor JVM, eight times over
    for (rep <- 1 to 8) {
      val runs = Seq(supervised, supervised, unsupervised, unsupervised).map { hp =>
        val epochs = if (hp eq supervised) 3 else 2
        var out: Either[Throwable, (Seq[Double], Long)] = null
        val t = new Thread(() => out = try Right(fitOnce(hp, epochs)) catch { case e: Throwable => Left(e) })
        t.start()
        (hp, t, () => out)
      }
      runs.foreach { case (hp, t, result) =>
        t.join()
        val (losses, digest) = result().fold(e => throw e, identity)
        val (pinnedLosses, pinnedDigest) =
          if (hp eq supervised) (SupervisedLosses, SupervisedDigest)
          else (UnsupervisedLosses, UnsupervisedDigest)
        assert(losses === pinnedLosses, s"rep $rep: losses $losses")
        assert(digest === pinnedDigest, f"rep $rep: digest 0x$digest%016xL")
      }
    }
  }
}

object FitLoopSpec {
  val SupervisedLosses: Seq[Double] = Seq(0.7085159869597571, 0.608854116621775, 0.5727043707139461)
  val SupervisedDigest: Long = 0x456af2c8cbdaa50aL
  val UnsupervisedLosses: Seq[Double] = Seq(0.7045234866664435, 0.5922188180184494)
  val UnsupervisedDigest: Long = 0x233bc5e132933b2bL

  private val NumFeatures = 512
  private val Nodes = 160

  /** Each node holds 8 to 23 nonzero features of mixed sign. */
  private val features: Map[Long, Array[Float]] = {
    val rng = new scala.util.Random(5)
    (0L until Nodes).map { v =>
      val f = new Array[Float](NumFeatures)
      (0 until 8 + rng.nextInt(16)).foreach(_ => f(rng.nextInt(NumFeatures)) = rng.nextFloat() * 2 - 1)
      v -> f
    }.toMap
  }

  /** A ring with chords (i -> i+1, i -> i+9) plus one random edge a node. */
  private val edges: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(6)
    (0 until Nodes).flatMap { i =>
      Seq(i -> (i + 1) % Nodes, i -> (i + 9) % Nodes, i -> rng.nextInt(Nodes))
    }.collect { case (s, t) if s != t => (s.toLong, t.toLong) }
  }

  /** The first 120 edges as positives, and as many random pairs as negatives. */
  private val examples: Array[(Long, Long, Int)] = {
    val rng = new scala.util.Random(7)
    val pos = edges.take(120).map { case (s, t) => (s, t, 1) }
    val neg = pos.map { case (s, _, _) => (s, rng.nextInt(Nodes).toLong, 0) }
    (pos ++ neg).toArray
  }

  /** A fresh client's per-epoch losses and the digest of its trained weights. */
  def fitOnce(hp: SageHyperParams, epochs: Int): (Seq[Double], Long) = {
    val sage = new LocalGraphSage(hp, features, PropertyGraph.localAdjacency(edges), NumFeatures)
    sage.initializeWeights()
    val losses = sage.fit(examples, epochs)
    (losses, digest(sage.getWeights.flatMap(_.values)))
  }

  /** FNV-1a over the values' raw float bits, one 32-bit word each. */
  def digest(values: Seq[Float]): Long =
    values.foldLeft(0xcbf29ce484222325L) { (h, v) =>
      (h ^ (java.lang.Float.floatToRawIntBits(v) & 0xffffffffL)) * 0x100000001b3L
    }
}
