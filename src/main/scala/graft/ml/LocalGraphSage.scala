package graft.ml

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.fed.FedAvg.Weights
import graft.sources.LayerTensor
import graft.util.Par

/** Hyperparameters — defaults mirror the reference's supervised model
  * (models/supervised.py:50-63): samples [20,10], layers [10,10],
  * batch 20, Adam lr 1e-2, dropout 0.1. The unsupervised profile
  * (models/unsupervised.py:29-46) is layers [256,256], samples [25,10],
  * batch 16 (walk length 5, 1 walk per node), lr 1e-3.
  */
final case class SageHyperParams(
    numSamples: (Int, Int) = (20, 10),
    layerSizes: (Int, Int) = (10, 10),
    batchSize: Int = 20,
    learningRate: Double = 1e-2,
    dropout: Double = 0.1,
    seed: Long = 42L) {
  require(layerSizes._1 % 2 == 0 && layerSizes._2 % 2 == 0,
    "layer sizes must be even (self/neighbor concat halves)")
}

object SageHyperParams {
  /** The reference's unsupervised profile (models/unsupervised.py:29-46):
    * samples [25,10], layers [256,256], batch 16, Adam 1e-3, no dropout;
    * walk corpus = length-5 walks, 1 per node.
    */
  val unsupervised: SageHyperParams = SageHyperParams(
    numSamples = (25, 10), layerSizes = (256, 256), batchSize = 16,
    learningRate = 1e-3, dropout = 0.0)
  val unsupervisedWalkLength = 5
  val unsupervisedNumWalks = 1
}

/** G6–G10 — a 2-layer mean-aggregator GraphSAGE link-prediction model,
  * trained with hand-derived gradients + Adam (Spark has no autodiff;
  * SURVEY §7.4-1). One instance owns ONE graph partition's in-memory
  * state and runs inside a single executor task — the reference's
  * one-partition-per-process design (mem.py sizes the partition to fit).
  *
  * Forward semantics (StellarGraph MeanAggregator,
  * models/supervised.py:52-63 / models/unsupervised.py:63-67):
  * per layer `h = act(concat(W_self·x_self, W_neigh·mean(x_neighbors)) + b)`,
  * relu on layer 1, linear on layer 2, then row-wise L2 normalization;
  * link score = `sigmoid(dot(e_src, e_dst))` ("ip" edge embedding,
  * models/supervised.py:94-96); loss = binary cross-entropy.
  *
  * Execution shape: a batch is evaluated over its DEDUPED node sets —
  * every distinct node at each tree level is sampled and forwarded ONCE
  * per batch (GraphSAGE §3.2 minibatch style), and the mean over k
  * neighbor samples-with-replacement is reconstructed from the multiset
  * counts (`Σ count_v · x_v / k` — the identical estimator, computed
  * without materializing duplicate rows). Layer 1 is sparse in its
  * input: feature rows are kept as (ascending indices, values), a
  * batch's four layer-1 inputs are compressed columns ([[SparseCols]]),
  * and `W1_self`/`W1_neigh` are stored feature-major — one contiguous
  * `h1` row per feature, the row-major `LayerTensor` layout — so the
  * forward product and the weight gradient touch only the rows of the
  * nonzero features (CORA-style bag-of-words input sets ~18 of 1,433).
  * The products sum in a fixed sequential order, independent of any
  * BLAS backend. Layer 2 (`d1`-wide dense activations) runs as GEMMs
  * through netlib BLAS. Dropout masks are drawn per distinct node per
  * batch. Both link towers (src ++ dst) share one batch evaluation, so
  * src/dst overlap dedups too.
  *
  * Within a batch, independent products (separate output buffers,
  * shared read-only inputs) run as `Par.mapAll` tasks: the four layer-1
  * forward products, the four layer-2 backward products, the two
  * layer-1 weight gradients and the four per-matrix Adam updates. Every
  * buffer is still produced by one sequential kernel that adds in a
  * fixed order, so the results are bit-identical to running the tasks
  * one after another.
  *
  * Math is Double-precision Breeze (weights cross the FedModel boundary
  * as Float per the engine-wide LayerTensor contract). Neighbor
  * sampling inside the trainer is seeded-deterministic; sentinel -1
  * (no neighbor) contributes a zero feature vector, as StellarGraph
  * pads.
  */
final class LocalGraphSage(
    val hp: SageHyperParams,
    features: Map[Long, Array[Float]],
    adjacency: Map[Long, Array[Long]],
    val numFeatures: Int) extends Serializable {

  private val (k1, k2) = hp.numSamples
  private val (d1, d2) = hp.layerSizes
  private val h1 = d1 / 2
  private val h2 = d2 / 2

  /** Inference batches are sized so the deduped level-1 activations
    * stay small (~tens of MB) even on high-degree graphs: D1 is at most
    * chunk·k1 distinct nodes.
    */
  private val inferChunk = math.max(hp.batchSize, 8192 / math.max(k1, 1))

  /** Feature rows in sparse form; absent ids contribute zeros. */
  private val featureRows: Map[Long, SparseRow] =
    features.map { case (v, f) => v -> SparseRow(f, numFeatures) }

  // ---- weights: layer 1 feature-major (the row-major LayerTensor
  // layout, row l = feature l's h1 weights); layer 2 Breeze col-major ----
  private var w1s = new Array[Double](numFeatures * h1)
  private var w1n = new Array[Double](numFeatures * h1)
  private var b1 = DenseVector.zeros[Double](d1)
  private var w2s = DenseMatrix.zeros[Double](d1, h2)
  private var w2n = DenseMatrix.zeros[Double](d1, h2)
  private var b2 = DenseVector.zeros[Double](d2)

  // Adam state
  private var adamT = 0
  private var adamM: Array[Array[Double]] = _
  private var adamV: Array[Array[Double]] = _
  private var adamMb: Array[DenseVector[Double]] = _
  private var adamVb: Array[DenseVector[Double]] = _
  private val beta1 = 0.9; private val beta2 = 0.999; private val adamEps = 1e-7
  resetAdam()

  /** Glorot-uniform init (Keras default), seeded. Resets Adam state. */
  def initializeWeights(): Weights = {
    val rng = new scala.util.Random(hp.seed)
    def glorot(rows: Int, cols: Int): DenseMatrix[Double] = {
      val limit = math.sqrt(6.0 / (rows + cols))
      DenseMatrix.fill(rows, cols)(rng.nextDouble() * 2 * limit - limit)
    }
    w1s = rowMajor(glorot(numFeatures, h1)); w1n = rowMajor(glorot(numFeatures, h1))
    b1 = DenseVector.zeros[Double](d1)
    w2s = glorot(d1, h2); w2n = glorot(d1, h2)
    b2 = DenseVector.zeros[Double](d2)
    resetAdam()
    getWeights
  }

  private def resetAdam(): Unit = {
    adamT = 0
    val sizes = Array(w1s.length, w1n.length, w2s.size, w2n.size)
    adamM = sizes.map(new Array[Double](_))
    adamV = sizes.map(new Array[Double](_))
    adamMb = Array(b1, b2).map(v => DenseVector.zeros[Double](v.length))
    adamVb = Array(b1, b2).map(v => DenseVector.zeros[Double](v.length))
  }

  def getWeights: Weights = Seq(
    LayerTensor(0, Seq(numFeatures, h1), w1s.map(_.toFloat)),
    LayerTensor(1, Seq(numFeatures, h1), w1n.map(_.toFloat)),
    LayerTensor(2, Seq(d1), b1.toArray.map(_.toFloat)),
    toTensor(3, w2s), toTensor(4, w2n),
    LayerTensor(5, Seq(d2), b2.toArray.map(_.toFloat)))

  /** Replace the weights, KEEPING optimizer slots — Keras `set_weights`
    * semantics: the reference's long-lived clients receive fresh global
    * weights every round while their Adam moments persist
    * (fl_client.py:119-175). `initializeWeights` is the full reset.
    */
  def setWeights(w: Weights): Unit = {
    require(w.length == 6, s"expected 6 layer tensors, got ${w.length}")
    w1s = tensorValues(w(0), numFeatures, h1)
    w1n = tensorValues(w(1), numFeatures, h1)
    b1 = DenseVector(w(2).values.map(_.toDouble))
    w2s = fromTensor(w(3), d1, h2)
    w2n = fromTensor(w(4), d1, h2)
    b2 = DenseVector(w(5).values.map(_.toDouble))
  }

  private def toTensor(layer: Int, m: DenseMatrix[Double]): LayerTensor = {
    val out = new Array[Float](m.rows * m.cols)
    var r = 0
    while (r < m.rows) { var c = 0; while (c < m.cols) { out(r * m.cols + c) = m(r, c).toFloat; c += 1 }; r += 1 }
    LayerTensor(layer, Seq(m.rows, m.cols), out)
  }

  /** A layer's row-major values, shape-checked. */
  private def tensorValues(t: LayerTensor, rows: Int, cols: Int): Array[Double] = {
    require(t.shape == Seq(rows, cols), s"layer ${t.layer}: shape ${t.shape} != ($rows,$cols)")
    t.values.map(_.toDouble)
  }

  private def fromTensor(t: LayerTensor, rows: Int, cols: Int): DenseMatrix[Double] = {
    val v = tensorValues(t, rows, cols)
    val m = DenseMatrix.zeros[Double](rows, cols)
    var r = 0
    while (r < rows) { var c = 0; while (c < cols) { m(r, c) = v(r * cols + c); c += 1 }; r += 1 }
    m
  }

  // ---- batch plan: the deduped sample tree ----

  /** One batch's sample tree over DISTINCT nodes. `rootPos(i)` maps
    * batch position i to its row in the distinct-root set `u0`; each
    * distinct root carries its level-1 sample multiset as (index into
    * `u1`, count) with counts summing to k1; each distinct level-1 node
    * carries its level-2 sample multiset as (node id, count) summing to
    * k2. Sampling happens once per DISTINCT node per batch.
    */
  private final class BatchPlan(
      val rootPos: Array[Int],
      val u0: Array[Long],
      val l1idx: Array[Array[Int]], val l1cnt: Array[Array[Int]],
      val u1: Array[Long],
      val l2ids: Array[Array[Long]], val l2cnt: Array[Array[Int]])

  private def sampleOne(v: Long, rng: java.util.Random): Long = {
    val nbrs = if (v == -1L) null else adjacency.getOrElse(v, null)
    if (nbrs == null || nbrs.isEmpty) -1L else nbrs(rng.nextInt(nbrs.length))
  }

  /** Sample k neighbors-with-replacement of `v`, returned as the
    * first-seen-ordered multiset (ids, counts).
    */
  private def sampleMultiset(v: Long, k: Int, rng: java.util.Random): (Array[Long], Array[Int]) = {
    val counts = new java.util.LinkedHashMap[Long, Array[Int]]()
    var t = 0
    while (t < k) {
      val s = sampleOne(v, rng)
      val c = counts.get(s)
      if (c == null) counts.put(s, Array(1)) else c(0) += 1
      t += 1
    }
    val ids = new Array[Long](counts.size()); val cnt = new Array[Int](counts.size())
    val it = counts.entrySet().iterator(); var j = 0
    while (it.hasNext) { val e = it.next(); ids(j) = e.getKey; cnt(j) = e.getValue()(0); j += 1 }
    (ids, cnt)
  }

  private def planBatch(roots: Array[Long], rng: java.util.Random): BatchPlan = {
    val u0map = new java.util.LinkedHashMap[Long, Integer]()
    val rootPos = new Array[Int](roots.length)
    var i = 0
    while (i < roots.length) {
      var idx = u0map.get(roots(i))
      if (idx == null) { idx = Integer.valueOf(u0map.size()); u0map.put(roots(i), idx) }
      rootPos(i) = idx.intValue()
      i += 1
    }
    val u0 = new Array[Long](u0map.size())
    u0map.forEach((k, v) => u0(v.intValue()) = k)
    val u1map = new java.util.LinkedHashMap[Long, Integer]()
    val l1idx = new Array[Array[Int]](u0.length)
    val l1cnt = new Array[Array[Int]](u0.length)
    var j = 0
    while (j < u0.length) {
      val (ids, cnt) = sampleMultiset(u0(j), k1, rng)
      val idxs = new Array[Int](ids.length)
      var t = 0
      while (t < ids.length) {
        var idx = u1map.get(ids(t))
        if (idx == null) { idx = Integer.valueOf(u1map.size()); u1map.put(ids(t), idx) }
        idxs(t) = idx.intValue()
        t += 1
      }
      l1idx(j) = idxs; l1cnt(j) = cnt
      j += 1
    }
    val u1 = new Array[Long](u1map.size())
    u1map.forEach((k, v) => u1(v.intValue()) = k)
    val l2ids = new Array[Array[Long]](u1.length)
    val l2cnt = new Array[Array[Int]](u1.length)
    j = 0
    while (j < u1.length) {
      val (ids, cnt) = sampleMultiset(u1(j), k2, rng)
      l2ids(j) = ids; l2cnt(j) = cnt
      j += 1
    }
    new BatchPlan(rootPos, u0, l1idx, l1cnt, u1, l2ids, l2cnt)
  }

  // ---- dense helpers ----

  private def newMask(rows: Int, cols: Int, rng: java.util.Random): DenseMatrix[Double] = {
    val keep = 1.0 - hp.dropout
    val m = DenseMatrix.zeros[Double](rows, cols)
    val d = m.data
    var i = 0
    while (i < d.length) { if (rng.nextDouble() < keep) d(i) = 1.0 / keep; i += 1 }
    m
  }

  private def relu(m: DenseMatrix[Double]): DenseMatrix[Double] = {
    val out = DenseMatrix.zeros[Double](m.rows, m.cols)
    val s = m.data; val d = out.data
    var i = 0
    while (i < s.length) { if (s(i) > 0) d(i) = s(i); i += 1 }
    out
  }

  /** `[zs | zn] + bias` (zs n×h, zn n×h, bias length 2h). */
  private def concatBias(zs: DenseMatrix[Double], zn: DenseMatrix[Double],
                         bias: DenseVector[Double]): DenseMatrix[Double] = {
    val n = zs.rows
    val out = DenseMatrix.zeros[Double](n, zs.cols + zn.cols)
    val d = out.data
    var c = 0
    while (c < zs.cols) {
      val b = bias(c); val base = c * n
      var i = 0; while (i < n) { d(base + i) = zs(i, c) + b; i += 1 }
      c += 1
    }
    c = 0
    while (c < zn.cols) {
      val b = bias(zs.cols + c); val base = (zs.cols + c) * n
      var i = 0; while (i < n) { d(base + i) = zn(i, c) + b; i += 1 }
      c += 1
    }
    out
  }

  /** dst += src over same-shape contiguous matrices. Breeze's generic
    * in-place add routes these through a bounds-checked per-element
    * slowPath (measured ~4.5% of fit CPU); the accumulation targets and
    * GEMM outputs here are all freshly-created contiguous buffers, so a
    * flat array loop is safe — and bit-identical, since each element's
    * addition is independent.
    */
  private def addInPlace(dst: DenseMatrix[Double], src: DenseMatrix[Double]): Unit = {
    require(dst.rows == src.rows && dst.cols == src.cols &&
      !dst.isTranspose && !src.isTranspose &&
      dst.offset == 0 && src.offset == 0 &&
      dst.majorStride == dst.rows && src.majorStride == src.rows,
      "addInPlace needs same-shape contiguous matrices")
    val d = dst.data; val s = src.data
    var i = 0
    while (i < d.length) { d(i) += s(i); i += 1 }
  }

  private def colSums(m: DenseMatrix[Double]): DenseVector[Double] = {
    val out = DenseVector.zeros[Double](m.cols)
    val d = m.data
    var c = 0
    while (c < m.cols) {
      var s = 0.0; val base = c * m.rows
      var i = 0; while (i < m.rows) { s += d(base + i); i += 1 }
      out(c) = s
      c += 1
    }
    out
  }

  // ---- forward ----

  /** Everything backward needs, on the batch's distinct-node sets: the
    * batch's inputs and the weight-dependent activations.
    */
  private final class BatchCache(
      val in: BatchInputs,
      val a1r: DenseMatrix[Double], val a1n: DenseMatrix[Double],
      val h1rd: DenseMatrix[Double], val mhd: DenseMatrix[Double],
      val emb: DenseMatrix[Double], val norms: DenseVector[Double])

  /** Everything weight-INDEPENDENT about a batch: the sample plan, the
    * layer-1 input columns (xt: a node's own features, mt: its sampled
    * neighbours' mean, both masked), and the dropout masks — i.e. all of
    * a batch's RNG consumption, so that `fit` can prepare batch t+1
    * while batch t's weight-dependent products run.
    */
  private final class BatchInputs(
      val plan: BatchPlan,
      val xt0: SparseCols, val mt1: SparseCols,
      val xt1: SparseCols, val mt2: SparseCols,
      val maskH1r: DenseMatrix[Double], val maskMh: DenseMatrix[Double])

  private def prepareBatch(roots: Array[Long], rng: java.util.Random,
                           train: Boolean): BatchInputs = {
    val plan = planBatch(roots, rng)
    val nU0 = plan.u0.length; val nU1 = plan.u1.length
    val doDrop = train && hp.dropout > 0.0
    // layer-1 inputs: one column per distinct node — its own features
    // (xt) or the mean of its sampled neighbors' (mt)
    def cols(n: Int)(col: (Int, SparseColsBuilder) => Unit): SparseCols = {
      val b = new SparseColsBuilder(numFeatures, featureRows)
      var j = 0
      while (j < n) { col(j, b); b.endCol(); j += 1 }
      b.result()
    }
    val xt0 = cols(nU0)((j, b) => b.add(plan.u0(j), 1.0))
    val mt1 = cols(nU0) { (j, b) =>
      val idxs = plan.l1idx(j); val cnt = plan.l1cnt(j)
      var t = 0
      while (t < idxs.length) { b.add(plan.u1(idxs(t)), cnt(t).toDouble / k1); t += 1 }
    }
    val xt1 = cols(nU1)((j, b) => b.add(plan.u1(j), 1.0))
    val mt2 = cols(nU1) { (j, b) =>
      val ids = plan.l2ids(j); val cnt = plan.l2cnt(j)
      var t = 0
      while (t < ids.length) { b.add(ids(t), cnt(t).toDouble / k2); t += 1 }
    }
    // input dropout, per distinct node per batch (Keras GraphSAGE drops
    // inputs); the h1-level masks are also drawn HERE so every rng call
    // stays in the prepare phase
    if (doDrop) Seq(xt0, mt1, xt1, mt2).foreach(_.dropout(1.0 - hp.dropout, numFeatures, rng))
    val maskH1r = if (doDrop) newMask(nU0, d1, rng) else null
    val maskMh = if (doDrop) newMask(nU0, d1, rng) else null
    new BatchInputs(plan, xt0, mt1, xt1, mt2, maskH1r, maskMh)
  }

  /** Forward the batch over its deduped sample tree with dropout off;
    * `emb` rows align with `plan.u0` (use `plan.rootPos` to read a batch
    * position).
    */
  private def forwardBatch(roots: Array[Long], rng: java.util.Random): BatchCache =
    forwardPrepared(prepareBatch(roots, rng, train = false))

  /** A pair batch's roots laid out src ++ dst: pair i's towers are
    * positions i and b + i.
    */
  private def pairRoots(pairs: Array[(Long, Long, Int)]): Array[Long] = {
    val b = pairs.length
    val roots = new Array[Long](2 * b)
    var i = 0
    while (i < b) { roots(i) = pairs(i)._1; roots(b + i) = pairs(i)._2; i += 1 }
    roots
  }

  /** The link score of the pair whose towers are u0 rows `si` and `di`:
    * the sigmoid of their embeddings' dot product.
    */
  private def linkScore(bc: BatchCache, si: Int, di: Int): Double = {
    val nU0 = bc.in.plan.u0.length
    var z = 0.0; var c = 0
    while (c < d2) { z += bc.emb.data(c * nU0 + si) * bc.emb.data(c * nU0 + di); c += 1 }
    1.0 / (1.0 + math.exp(-z))
  }

  /** The weight-dependent half of the forward pass. */
  private def forwardPrepared(bi: BatchInputs): BatchCache = {
    val plan = bi.plan
    val nU0 = plan.u0.length; val nU1 = plan.u1.length
    // layer 1 — shared weights on roots and level-1 nodes, written as
    // `[x·W1s | m·W1n] + b1`. The four products fill disjoint halves.
    val a1r = DenseMatrix.zeros[Double](nU0, d1)
    val a1n = DenseMatrix.zeros[Double](nU1, d1)
    Par.mapAll(Seq((bi.xt0, w1s, a1r, 0), (bi.mt1, w1n, a1r, h1),
        (bi.xt1, w1s, a1n, 0), (bi.mt2, w1n, a1n, h1))) {
      case (x, w, out, off) => x.forward(w, h1, b1.data, out, off)
    }
    val h1n = relu(a1n)
    // layer-2 neighbor mean per distinct root, from the multiset counts
    val mh = DenseMatrix.zeros[Double](nU0, d1)
    var j = 0
    while (j < nU0) {
      val idxs = plan.l1idx(j); val cnt = plan.l1cnt(j)
      var t = 0
      while (t < idxs.length) {
        val s = cnt(t).toDouble / k1; val src = idxs(t)
        var c = 0
        while (c < d1) { mh.data(c * nU0 + j) += s * h1n.data(c * nU1 + src); c += 1 }
        t += 1
      }
      j += 1
    }
    val h1rd = relu(a1r)
    if (bi.maskH1r != null) h1rd :*= bi.maskH1r
    if (bi.maskMh != null) mh :*= bi.maskMh
    val h2 = concatBias(h1rd * w2s, mh * w2n, b2) // linear activation
    // row-wise L2 normalize
    val emb = DenseMatrix.zeros[Double](nU0, d2)
    val norms = DenseVector.zeros[Double](nU0)
    var i = 0
    while (i < nU0) {
      var s = 0.0; var c = 0
      while (c < d2) { val x = h2.data(c * nU0 + i); s += x * x; c += 1 }
      val n = math.sqrt(s)
      norms(i) = if (n == 0.0) 1.0 else n
      c = 0; while (c < d2) { emb.data(c * nU0 + i) = h2.data(c * nU0 + i) / norms(i); c += 1 }
      i += 1
    }
    new BatchCache(bi, a1r, a1n, h1rd, mh, emb, norms)
  }

  // ---- gradients ----
  private final class Grads {
    val gW1s = new Array[Double](numFeatures * h1) // feature-major, as w1s
    val gW1n = new Array[Double](numFeatures * h1)
    val gB1 = DenseVector.zeros[Double](d1)
    val gW2s = DenseMatrix.zeros[Double](d1, h2)
    val gW2n = DenseMatrix.zeros[Double](d1, h2)
    val gB2 = DenseVector.zeros[Double](d2)
  }

  /** Backprop dL/dEmb (rows aligned with plan.u0) through the batch,
    * accumulating into `g`. Mutates dEmbU's downstream temporaries only.
    */
  private def backwardBatch(bc: BatchCache, dEmbU: DenseMatrix[Double], g: Grads): Unit = {
    val bi = bc.in
    val nU0 = bi.plan.u0.length; val nU1 = bi.plan.u1.length
    // through L2 normalize: dH2 = (g - emb·(g·emb)) / norm, per row
    val dH2 = DenseMatrix.zeros[Double](nU0, d2)
    var i = 0
    while (i < nU0) {
      var dotGE = 0.0; var c = 0
      while (c < d2) { dotGE += dEmbU.data(c * nU0 + i) * bc.emb.data(c * nU0 + i); c += 1 }
      c = 0
      while (c < d2) {
        dH2.data(c * nU0 + i) =
          (dEmbU.data(c * nU0 + i) - bc.emb.data(c * nU0 + i) * dotGE) / bc.norms(i)
        c += 1
      }
      i += 1
    }
    // layer 2 (linear): H2 = [h1rd·w2s | mhd·w2n] + b2 — the four
    // products are independent (separate outputs, read-only inputs)
    val dZ2s = dH2(::, 0 until h2)
    val dZ2n = dH2(::, h2 until d2)
    g.gB2 :+= colSums(dH2)
    val Seq(gW2s, gW2n, dH1r, dMh) = Par.mapAll(Seq[() => DenseMatrix[Double]](
      () => bc.h1rd.t * dZ2s, () => bc.mhd.t * dZ2n,
      () => dZ2s * w2s.t, () => dZ2n * w2n.t))(_.apply())
    addInPlace(g.gW2s, gW2s)
    addInPlace(g.gW2n, gW2n)
    if (bi.maskH1r != null) dH1r :*= bi.maskH1r
    if (bi.maskMh != null) dMh :*= bi.maskMh
    // spread dMh back to level-1 rows via the multiset counts
    val dH1n = DenseMatrix.zeros[Double](nU1, d1)
    var j = 0
    while (j < nU0) {
      val idxs = bi.plan.l1idx(j); val cnt = bi.plan.l1cnt(j)
      var t = 0
      while (t < idxs.length) {
        val s = cnt(t).toDouble / k1; val dst = idxs(t)
        var c = 0
        while (c < d1) { dH1n.data(c * nU1 + dst) += s * dMh.data(c * nU0 + j); c += 1 }
        t += 1
      }
      j += 1
    }
    // relu backward (in place on the fresh temporaries)
    reluBackInPlace(dH1r, bc.a1r)
    reluBackInPlace(dH1n, bc.a1n)
    g.gB1 :+= colSums(dH1r)
    g.gB1 :+= colSums(dH1n)
    // gW1s and gW1n accumulate in parallel, each in a fixed order (roots,
    // then level-1 nodes), so the Double addition sequence is fixed
    Par.mapAll(Seq((bi.xt0, bi.xt1, 0, g.gW1s), (bi.mt1, bi.mt2, h1, g.gW1n))) {
      case (roots, level1, off, gw) =>
        roots.backward(dH1r, off, h1, gw); level1.backward(dH1n, off, h1, gw)
    }
  }

  /** Zero `d` wherever the pre-activation `a` was non-positive. */
  private def reluBackInPlace(d: DenseMatrix[Double], a: DenseMatrix[Double]): Unit = {
    val dd = d.data; val ad = a.data
    var i = 0
    while (i < dd.length) { if (ad(i) <= 0) dd(i) = 0.0; i += 1 }
  }

  // ---- training (G8: Adam + BCE) ----

  /** Forward + loss + dEmb for a prepared pair batch whose roots were
    * laid out by `pairRoots` (the towers share weights AND the deduped
    * node evaluations). Returns (cache, loss sum, dEmb by u0 row).
    */
  private def pairForwardPrepared(bi: BatchInputs, labels: Array[Int])
      : (BatchCache, Double, DenseMatrix[Double]) = {
    val b = labels.length
    val bc = forwardPrepared(bi)
    val nU0 = bi.plan.u0.length
    val dEmbU = DenseMatrix.zeros[Double](nU0, d2)
    var loss = 0.0
    var i = 0
    while (i < b) {
      val si = bi.plan.rootPos(i); val di = bi.plan.rootPos(b + i)
      val s = linkScore(bc, si, di)
      val y = labels(i)
      loss -= (y * math.log(math.max(s, 1e-12)) + (1 - y) * math.log(math.max(1 - s, 1e-12)))
      val dz = (s - y) / b // BCE+sigmoid combined, mean reduction
      var c = 0
      while (c < d2) {
        dEmbU.data(c * nU0 + si) += dz * bc.emb.data(c * nU0 + di)
        dEmbU.data(c * nU0 + di) += dz * bc.emb.data(c * nU0 + si)
        c += 1
      }
      i += 1
    }
    (bc, loss, dEmbU)
  }

  /** A pair batch's inputs, drawn with dropout on, and its labels. */
  private def prepareTrain(pairs: Array[(Long, Long, Int)],
                           rng: java.util.Random): (BatchInputs, Array[Int]) =
    (prepareBatch(pairRoots(pairs), rng, train = true), pairs.map(_._3))

  /** Mean loss and gradients of one prepared pair batch. */
  private def gradients(bi: BatchInputs, labels: Array[Int]): (Double, Grads) = {
    val (bc, loss, dEmbU) = pairForwardPrepared(bi, labels)
    val g = new Grads
    backwardBatch(bc, dEmbU, g)
    (loss / labels.length, g)
  }

  /** Gradient-check hook: one batch of `fit`'s math without the update. */
  private[ml] def computeGrads(pairs: Array[(Long, Long, Int)],
                               rng: java.util.Random): (Double, Seq[Array[Double]]) = {
    val (bi, labels) = prepareTrain(pairs, rng)
    val (loss, g) = gradients(bi, labels)
    (loss, Seq(g.gW1s, g.gW1n, g.gB1.toArray,
      rowMajor(g.gW2s), rowMajor(g.gW2n), g.gB2.toArray))
  }

  private def rowMajor(m: DenseMatrix[Double]): Array[Double] = {
    val out = new Array[Double](m.rows * m.cols)
    var r = 0
    while (r < m.rows) { var c = 0; while (c < m.cols) { out(r * m.cols + c) = m(r, c); c += 1 }; r += 1 }
    out
  }

  private def adamStep(g: Grads): Unit = {
    adamT += 1
    val lr = hp.learningRate * math.sqrt(1 - math.pow(beta2, adamT)) / (1 - math.pow(beta1, adamT))
    val mats = Array((w1s, g.gW1s, 0), (w1n, g.gW1n, 1),
      (w2s.data, g.gW2s.data, 2), (w2n.data, g.gW2n.data, 3))
    // per-slot updates touch disjoint state
    Par.mapAll(mats.toSeq) { case (wd, gd, idx) =>
      val md = adamM(idx); val vd = adamV(idx)
      var i = 0
      while (i < wd.length) {
        val grad = gd(i)
        md(i) = beta1 * md(i) + (1 - beta1) * grad
        vd(i) = beta2 * vd(i) + (1 - beta2) * grad * grad
        wd(i) -= lr * md(i) / (math.sqrt(vd(i)) + adamEps)
        i += 1
      }
    }
    val vecs = Array((b1, g.gB1, 0), (b2, g.gB2, 1))
    vecs.foreach { case (bvec, gb, idx) =>
      val bd = bvec.data; val gd = gb.data
      val md = adamMb(idx).data; val vd = adamVb(idx).data
      var c = 0
      while (c < bd.length) {
        val grad = gd(c)
        md(c) = beta1 * md(c) + (1 - beta1) * grad
        vd(c) = beta2 * vd(c) + (1 - beta2) * grad * grad
        bd(c) -= lr * md(c) / (math.sqrt(vd(c)) + adamEps)
        c += 1
      }
    }
  }

  /** Training RNG: ONE stream per client lifetime, advancing across
    * federation rounds like the reference's long-lived Keras clients.
    * The pre-round-18 per-fit() reseed replayed the identical shuffle
    * order, neighbor samples and dropout masks EVERY round — features
    * masked in round 1 stayed masked in every round, quietly degrading
    * dropout. Still run-to-run deterministic: each client owns its
    * stream (scheduling order can't touch it), so rep-to-rep AUC
    * bit-identity holds; the recorded parity VALUE moves once.
    */
  @transient private lazy val fitRng = new java.util.Random(hp.seed)

  /** G8 — fit for `epochs` over the labeled link examples; returns the
    * mean loss per epoch. Shuffling and sampling are seeded.
    *
    * Batch t+1's weight-independent preparation (sampling, feature
    * columns, masks — ALL rng consumption) runs in a `Future` while batch
    * t's weight-dependent compute runs here. The futures are created one
    * at a time, each after the previous one is awaited, and the rng is
    * touched only inside them and in the epoch's shuffle, so the rng call
    * sequence — every shuffle, sampled neighbour and mask — is the one a
    * batch-after-batch loop would make.
    */
  def fit(examples: Array[(Long, Long, Int)], epochs: Int): Seq[Double] = {
    val rng = fitRng
    implicit val ec: ExecutionContext = ExecutionContext.global
    (1 to epochs).map { _ =>
      val batches = shuffle(examples.indices.toArray, rng).grouped(hp.batchSize)
        .map(_.map(examples(_))).toArray
      def prepare(t: Int) = Future(prepareTrain(batches(t), rng))
      var next = if (batches.nonEmpty) prepare(0) else null
      var lossSum = 0.0
      var t = 0
      while (t < batches.length) {
        val (bi, labels) = Await.result(next, Duration.Inf)
        if (t + 1 < batches.length) next = prepare(t + 1)
        val (loss, g) = gradients(bi, labels)
        adamStep(g)
        lossSum += loss
        t += 1
      }
      lossSum / math.max(batches.length, 1)
    }
  }

  private def shuffle(a: Array[Int], rng: java.util.Random): Array[Int] = {
    var i = a.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Link scores for examples (dropout off, seeded sampling). */
  def predict(examples: Array[(Long, Long, Int)]): Array[Double] = {
    val rng = new java.util.Random(hp.seed ^ 0x5ca1ab1eL)
    val out = new Array[Double](examples.length)
    var off = 0
    examples.grouped(inferChunk).foreach { batch =>
      val b = batch.length
      val bc = forwardBatch(pairRoots(batch), rng)
      val rootPos = bc.in.plan.rootPos
      var i = 0
      while (i < b) { out(off + i) = linkScore(bc, rootPos(i), rootPos(b + i)); i += 1 }
      off += b
    }
    out
  }

  /** G9 — loss / binary accuracy / precision / recall / AUC
    * (models/supervised.py:119-123's Keras metric set).
    */
  def evaluate(examples: Array[(Long, Long, Int)]): Map[String, Double] = {
    val scores = predict(examples)
    val labels = examples.map(_._3)
    var loss = 0.0; var tp = 0; var fp = 0; var tn = 0; var fn = 0
    scores.indices.foreach { i =>
      val s = scores(i); val y = labels(i)
      loss -= (y * math.log(math.max(s, 1e-12)) + (1 - y) * math.log(math.max(1 - s, 1e-12)))
      val pred = if (s >= 0.5) 1 else 0
      (pred, y) match {
        case (1, 1) => tp += 1
        case (1, 0) => fp += 1
        case (0, 0) => tn += 1
        case (0, 1) => fn += 1
      }
    }
    val precision = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val recall = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    Map(
      "loss" -> loss / math.max(scores.length, 1),
      "binary_accuracy" -> (tp + tn).toDouble / math.max(scores.length, 1),
      "precision" -> precision,
      "recall" -> recall,
      "auc" -> auc(scores, labels),
      // F1 derived client-side per evaluation (fl_client.py:132-142);
      // the reference logs "undefined" on P+R=0 — NaN is our marker.
      "f1" -> graft.functions.GraftFunctions.f1Score(precision, recall)
        .getOrElse(Double.NaN))
  }

  /** Rank-based AUC (Mann-Whitney U with tie correction). */
  private def auc(scores: Array[Double], labels: Array[Int]): Double = {
    val nPos = labels.count(_ == 1).toDouble
    val nNeg = labels.length - nPos
    if (nPos == 0 || nNeg == 0) return 0.5
    val sorted = scores.zip(labels).sortBy(_._1)
    val ranks = new Array[Double](sorted.length)
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j + 1 < sorted.length && sorted(j + 1)._1 == sorted(i)._1) j += 1
      val avg = (i + j + 2) / 2.0 // average 1-based rank of the tie group
      var t = i; while (t <= j) { ranks(t) = avg; t += 1 }
      i = j + 1
    }
    val sumPos = sorted.indices.filter(sorted(_)._2 == 1).map(ranks).sum
    (sumPos - nPos * (nPos + 1) / 2) / (nPos * nNeg)
  }

  /** G10 — embeddings for `nodes` via the encoder tower (dropout off,
    * L2-normalized, models/unsupervised.py:81-87,105-107). Batches are
    * `inferChunk`-sized so the whole partition runs as a handful of
    * deduped batches.
    */
  def genEmbeddings(nodes: Array[Long]): Array[(Long, Array[Float])] = {
    val rng = new java.util.Random(hp.seed ^ 0x3bedd179L)
    nodes.grouped(inferChunk).flatMap { batch =>
      val bc = forwardBatch(batch, rng)
      val nU0 = bc.in.plan.u0.length
      batch.indices.map { i =>
        val row = bc.in.plan.rootPos(i)
        val v = new Array[Float](d2)
        var c = 0; while (c < d2) { v(c) = bc.emb.data(c * nU0 + row).toFloat; c += 1 }
        (batch(i), v)
      }
    }.toArray
  }
}

/** A node's feature row in sparse form: its nonzero features' ascending
  * indices and their values.
  */
private[ml] final class SparseRow(val idx: Array[Int], val vals: Array[Float])

private[ml] object SparseRow {
  /** The nonzeros among `dense`'s first `width` entries. */
  def apply(dense: Array[Float], width: Int): SparseRow = {
    var n = 0; var c = 0
    while (c < width) { if (dense(c) != 0f) n += 1; c += 1 }
    val idx = new Array[Int](n); val vals = new Array[Float](n)
    n = 0; c = 0
    while (c < width) { if (dense(c) != 0f) { idx(n) = c; vals(n) = dense(c); n += 1 }; c += 1 }
    new SparseRow(idx, vals)
  }
}

/** A layer-1 input as compressed sparse columns, one per node: column j
  * holds the feature indices `idx(ptr(j) until ptr(j + 1))`, ascending,
  * with their values in `vals`. Weights are feature-major: row l of a
  * `w` holds feature l's `h` contiguous weights.
  */
private[ml] final class SparseCols(val ptr: Array[Int], val idx: Array[Int],
                                   val vals: Array[Double]) {
  def nCols: Int = ptr.length - 1

  /** Inverted dropout as if the columns were dense (`numFeatures` rows):
    * one `rng.nextDouble()` per element, column by column, and a stored
    * value becomes `value/keep` if its draw is below `keep`, else 0.
    */
  def dropout(keep: Double, numFeatures: Int, rng: java.util.Random): Unit = {
    var j = 0
    while (j < nCols) {
      var p = ptr(j); val end = ptr(j + 1)
      var c = 0
      while (c < numFeatures) {
        val kept = rng.nextDouble() < keep
        if (p < end && idx(p) == c) { vals(p) = if (kept) vals(p) / keep else 0.0; p += 1 }
        c += 1
      }
      j += 1
    }
  }

  /** `out(j, off + c) = Σ_l x(l, j)·w(l·h + c) + bias(off + c)` for every
    * column j, summed over the column's entries in ascending l.
    * `out` is a contiguous column-major matrix with `nCols` rows.
    */
  def forward(w: Array[Double], h: Int, bias: Array[Double],
              out: breeze.linalg.DenseMatrix[Double], off: Int): Unit = {
    val acc = new Array[Double](h)
    val od = out.data; val n = out.rows
    var j = 0
    while (j < nCols) {
      java.util.Arrays.fill(acc, 0.0)
      var p = ptr(j)
      while (p < ptr(j + 1)) {
        val x = vals(p); val base = idx(p) * h
        var c = 0; while (c < h) { acc(c) += x * w(base + c); c += 1 }
        p += 1
      }
      var c = 0; while (c < h) { od((off + c) * n + j) = acc(c) + bias(off + c); c += 1 }
      j += 1
    }
  }

  /** `gw(l·h + c) += x(l, j)·dH(j, off + c)` over every stored entry, in
    * column order. `dH` is a contiguous column-major matrix with `nCols`
    * rows.
    */
  def backward(dH: breeze.linalg.DenseMatrix[Double], off: Int, h: Int,
               gw: Array[Double]): Unit = {
    val row = new Array[Double](h)
    val dd = dH.data; val n = dH.rows
    var j = 0
    while (j < nCols) {
      var c = 0; while (c < h) { row(c) = dd((off + c) * n + j); c += 1 }
      var p = ptr(j)
      while (p < ptr(j + 1)) {
        val x = vals(p); val base = idx(p) * h
        c = 0; while (c < h) { gw(base + c) += x * row(c); c += 1 }
        p += 1
      }
      j += 1
    }
  }
}

/** Builds [[SparseCols]] a column at a time: `add(v, s)` adds `s` times
  * node v's feature row (nothing for the sentinel -1 or a node without
  * one), `endCol` closes the column. Each entry accumulates
  * `0.0 + s₁·x₁ + s₂·x₂ + …` in call order — the dense column's sums
  * without their zero terms, so every stored value equals the dense entry.
  */
private[ml] final class SparseColsBuilder(numFeatures: Int, rows: Map[Long, SparseRow]) {
  private val acc = new Array[Double](numFeatures)
  private val seen = new Array[Boolean](numFeatures)
  private val touched = new Array[Int](numFeatures)
  private var nTouched = 0
  private val ptr = scala.collection.mutable.ArrayBuilder.make[Int]
  private val idx = scala.collection.mutable.ArrayBuilder.make[Int]
  private val vals = scala.collection.mutable.ArrayBuilder.make[Double]
  private var nnz = 0
  ptr += 0

  def add(v: Long, s: Double): Unit =
    if (v != -1L) rows.get(v).foreach { r =>
      var p = 0
      while (p < r.idx.length) {
        val l = r.idx(p)
        if (!seen(l)) { seen(l) = true; touched(nTouched) = l; nTouched += 1 }
        acc(l) += s * r.vals(p)
        p += 1
      }
    }

  def endCol(): Unit = {
    java.util.Arrays.sort(touched, 0, nTouched)
    var t = 0
    while (t < nTouched) {
      val l = touched(t)
      idx += l; vals += acc(l)
      acc(l) = 0.0; seen(l) = false
      t += 1
    }
    nnz += nTouched; nTouched = 0
    ptr += nnz
  }

  def result(): SparseCols = new SparseCols(ptr.result(), idx.result(), vals.result())
}
