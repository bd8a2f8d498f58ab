package graft.ml

import breeze.linalg.DenseMatrix
import org.scalatest.funsuite.AnyFunSuite

/** The dense layer-1 path that [[SparseCols]] replaced: feature-major
  * (numFeatures × n) input matrices filled column by column, inverted
  * dropout drawn per dense element, and Breeze GEMMs for the products.
  */
object DenseLayer1Oracle {
  /** Column j := Σ_t s_t · features(v_t) over `members(j)` in order; the
    * sentinel -1 and nodes without a feature row add nothing.
    */
  def inputs(features: Map[Long, Array[Float]], numFeatures: Int,
             members: Seq[Seq[(Long, Double)]]): DenseMatrix[Double] = {
    val m = DenseMatrix.zeros[Double](numFeatures, members.size)
    members.zipWithIndex.foreach { case (col, j) =>
      col.foreach { case (v, s) =>
        if (v != -1L) features.get(v).foreach { f =>
          var c = 0
          while (c < numFeatures) { m.data(j * numFeatures + c) += s * f(c); c += 1 }
        }
      }
    }
    m
  }

  def dropout(m: DenseMatrix[Double], keep: Double, rng: java.util.Random): Unit = {
    val d = m.data
    var i = 0
    while (i < d.length) { if (rng.nextDouble() < keep) d(i) /= keep else d(i) = 0.0; i += 1 }
  }

  /** `x.t * w + bias` (w is numFeatures × h). */
  def forward(x: DenseMatrix[Double], w: DenseMatrix[Double], bias: Array[Double]): DenseMatrix[Double] = {
    val z = x.t * w
    DenseMatrix.tabulate(z.rows, z.cols)((j, c) => z(j, c) + bias(c))
  }

  /** `x * dH`: the weight gradient, numFeatures × h. */
  def backward(x: DenseMatrix[Double], dH: DenseMatrix[Double]): DenseMatrix[Double] = x * dH
}

class SparseLayerSpec extends AnyFunSuite {

  private val nF = 7
  private val h = 3
  // non-binary and negative values; node 2's row is all zero; node 99 has
  // no feature row
  private val features: Map[Long, Array[Float]] = Map(
    0L -> Array(0.5f, 0f, -1.25f, 0f, 0f, 3f, 0f),
    1L -> Array(0f, 2f, 0f, 0f, -0.75f, 0f, 1f),
    2L -> Array.fill(nF)(0f),
    3L -> Array(1f, 1f, 0f, 0f, 0f, 0f, 0.125f),
    4L -> Array(-2.5f, 0f, 0.3f, 7f, 0f, -0.1f, 0f))
  private val rows = features.map { case (v, f) => v -> SparseRow(f, nF) }

  /** Each column's (node, scale) terms: single rows, then neighbor means
    * over multisets that include -1, the all-zero node and node 99.
    */
  private val members: Seq[Seq[(Long, Double)]] = {
    def mean(ms: (Long, Int)*): Seq[(Long, Double)] = {
      val k = ms.map(_._2).sum
      ms.map { case (v, c) => (v, c.toDouble / k) }
    }
    Seq(0L, 1L, 2L, -1L, 99L, 3L, 4L).map(v => Seq(v -> 1.0)) ++ Seq(
      mean(0L -> 2, 1L -> 1, -1L -> 3),
      mean(2L -> 1, 99L -> 1),
      mean(-1L -> 4),
      mean(3L -> 1, 0L -> 1, 1L -> 1, 4L -> 2),
      mean(4L -> 3, 4L -> 2, 0L -> 5))
  }

  private def sparse(): SparseCols = {
    val b = new SparseColsBuilder(nF, rows)
    members.foreach { col => col.foreach { case (v, s) => b.add(v, s) }; b.endCol() }
    b.result()
  }

  private def toDense(x: SparseCols): DenseMatrix[Double] = {
    val m = DenseMatrix.zeros[Double](nF, x.nCols)
    (0 until x.nCols).foreach { j =>
      (x.ptr(j) until x.ptr(j + 1)).foreach(p => m(x.idx(p), j) = x.vals(p))
    }
    m
  }

  /** |a − b| within 1e-12 of the sum of the terms' magnitudes. */
  private def assertClose(a: Double, b: Double, scale: Double, what: String): Unit =
    assert(math.abs(a - b) <= 1e-12 * math.max(scale, Double.MinPositiveValue), s"$what: $a vs $b")

  private val rng = new scala.util.Random(3)
  private val w = DenseMatrix.fill(nF, h)(rng.nextDouble() * 2 - 1)
  private val wFeatureMajor = Array.tabulate(nF * h)(i => w(i / h, i % h))
  private val bias = Array.fill(2 * h)(rng.nextDouble() - 0.5)

  Seq(0.0, 0.3).foreach { dropout =>
    test(s"sparse layer-1 inputs and products equal the dense oracle (dropout $dropout)") {
      val x = sparse()
      val dense = DenseLayer1Oracle.inputs(features, nF, members)
      if (dropout > 0) {
        x.dropout(1.0 - dropout, nF, new java.util.Random(11))
        DenseLayer1Oracle.dropout(dense, 1.0 - dropout, new java.util.Random(11))
      }
      // columns ascending, and every stored value is the dense entry
      (0 until x.nCols).foreach { j =>
        val col = x.idx.slice(x.ptr(j), x.ptr(j + 1))
        assert(col.toSeq === col.sorted.toSeq, s"column $j")
      }
      assert(toDense(x).data.toSeq === dense.data.toSeq)
      assert(x.ptr(3) === x.ptr(2), "the all-zero row stores nothing")
      assert(x.ptr(5) === x.ptr(3), "-1 and a node without features store nothing")

      // forward, into the neighbor half of a [self | neigh] output
      val out = DenseMatrix.zeros[Double](x.nCols, 2 * h)
      x.forward(wFeatureMajor, h, bias, out, h)
      val want = DenseLayer1Oracle.forward(dense, w, bias.drop(h))
      val scale = DenseLayer1Oracle.forward(breeze.numerics.abs(dense), breeze.numerics.abs(w),
        bias.drop(h).map(math.abs))
      for (j <- 0 until x.nCols; c <- 0 until h) {
        assertClose(out(j, h + c), want(j, c), scale(j, c), s"forward ($j,$c)")
        assert(out(j, c) === 0.0, "the self half is untouched")
      }

      // weight gradient from the neighbor half of dH, added to existing values
      val dH = DenseMatrix.fill(x.nCols, 2 * h)(rng.nextDouble() * 2 - 1)
      val g0 = Array.fill(nF * h)(rng.nextDouble())
      val g = g0.clone()
      x.backward(dH, h, h, g)
      val dHn = dH(::, h until 2 * h).copy
      val gWant = DenseLayer1Oracle.backward(dense, dHn)
      val gScale = DenseLayer1Oracle.backward(breeze.numerics.abs(dense), breeze.numerics.abs(dHn))
      for (l <- 0 until nF; c <- 0 until h)
        assertClose(g(l * h + c), g0(l * h + c) + gWant(l, c), g0(l * h + c) + gScale(l, c),
          s"gradient ($l,$c)")
    }
  }

  test("dropout draws one number per dense element, as the dense mask did") {
    val x = sparse()
    val r = new java.util.Random(5)
    x.dropout(0.8, nF, r)
    val ref = new java.util.Random(5)
    (1 to x.nCols * nF).foreach(_ => ref.nextDouble())
    assert(r.nextLong() === ref.nextLong())
  }
}
