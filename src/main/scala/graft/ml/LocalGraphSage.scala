package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector}

import graft.fed.FedAvg.Weights
import graft.sources.LayerTensor

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
  * Execution shape (the GEMM batching that gives reference-stack
  * throughput): a batch is evaluated over its DEDUPED node sets — every
  * distinct node at each tree level is sampled and forwarded ONCE per
  * batch (GraphSAGE §3.2 minibatch style), and the mean over k
  * neighbor samples-with-replacement is reconstructed from the multiset
  * counts (`Σ count_v · x_v / k` — the identical estimator, computed
  * without materializing duplicate rows). All layer applications are
  * (distinct-nodes × features) GEMMs through netlib BLAS; feature
  * matrices are built feature-major so each node is one contiguous
  * column and dgemm absorbs the transpose. Dropout masks are drawn per
  * distinct node per batch. Both link towers (src ++ dst) share one
  * batch evaluation, so src/dst overlap dedups too.
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

  /** Inference batches are sized so the deduped level-1 feature matrix
    * stays small (~tens of MB) even on high-degree graphs: D1 is at most
    * chunk·k1 distinct nodes.
    */
  private val inferChunk = math.max(hp.batchSize, 8192 / math.max(k1, 1))

  /** Within-batch kernel parallelism: independent GEMMs (separate output
    * buffers, shared read-only inputs) run on a few threads. Every
    * buffer is still produced by the same sequential kernel and
    * accumulated in the same fixed order, so results are BIT-IDENTICAL
    * to the serial schedule — this is a wall-clock lever only (measured
    * 17 of 24 ms/batch in the four level-1 GEMMs on the unsupervised
    * profile; ProbeEmbed --kernels). Gated on weight-matrix size so the
    * supervised profile's microsecond GEMMs (h=5) don't pay future
    * overhead.
    */
  private val parallelKernels = numFeatures.toLong * h1 >= 64 * 1024
  private def inParallel(tasks: Array[() => Unit]): Unit =
    if (parallelKernels) { graft.util.Par.mapAll(tasks.toSeq)(_.apply()); () }
    else tasks.foreach(_.apply())

  // ---- weights (row-major LayerTensor <-> Breeze col-major) ----
  private var w1s = DenseMatrix.zeros[Double](numFeatures, h1)
  private var w1n = DenseMatrix.zeros[Double](numFeatures, h1)
  private var b1 = DenseVector.zeros[Double](d1)
  private var w2s = DenseMatrix.zeros[Double](d1, h2)
  private var w2n = DenseMatrix.zeros[Double](d1, h2)
  private var b2 = DenseVector.zeros[Double](d2)

  // Adam state
  private var adamT = 0
  private var adamM: Array[DenseMatrix[Double]] = _
  private var adamV: Array[DenseMatrix[Double]] = _
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
    w1s = glorot(numFeatures, h1); w1n = glorot(numFeatures, h1)
    b1 = DenseVector.zeros[Double](d1)
    w2s = glorot(d1, h2); w2n = glorot(d1, h2)
    b2 = DenseVector.zeros[Double](d2)
    resetAdam()
    getWeights
  }

  private def resetAdam(): Unit = {
    adamT = 0
    adamM = Array(w1s, w1n, w2s, w2n).map(m => DenseMatrix.zeros[Double](m.rows, m.cols))
    adamV = Array(w1s, w1n, w2s, w2n).map(m => DenseMatrix.zeros[Double](m.rows, m.cols))
    adamMb = Array(b1, b2).map(v => DenseVector.zeros[Double](v.length))
    adamVb = Array(b1, b2).map(v => DenseVector.zeros[Double](v.length))
  }

  def getWeights: Weights = Seq(
    toTensor(0, w1s), toTensor(1, w1n),
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
    w1s = fromTensor(w(0), numFeatures, h1)
    w1n = fromTensor(w(1), numFeatures, h1)
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

  private def fromTensor(t: LayerTensor, rows: Int, cols: Int): DenseMatrix[Double] = {
    require(t.shape == Seq(rows, cols), s"layer ${t.layer}: shape ${t.shape} != ($rows,$cols)")
    val m = DenseMatrix.zeros[Double](rows, cols)
    var r = 0
    while (r < rows) { var c = 0; while (c < cols) { m(r, c) = t.values(r * cols + c); c += 1 }; r += 1 }
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

  // ---- dense kernels (feature-major construction, contiguous columns) ----

  /** Column j of feature-major `m` (numFeatures × D) := features(v). */
  private def fillCol(m: DenseMatrix[Double], j: Int, v: Long): Unit =
    if (v != -1L) features.get(v) match {
      case Some(f) =>
        val d = m.data; val base = j * numFeatures
        var c = 0; while (c < numFeatures) { d(base + c) = f(c); c += 1 }
      case None => // absent feature row contributes zeros (StellarGraph pad)
    }

  /** Column j of feature-major `m` += s · features(v). */
  private def addColScaled(m: DenseMatrix[Double], j: Int, v: Long, s: Double): Unit =
    if (v != -1L) features.get(v) match {
      case Some(f) =>
        val d = m.data; val base = j * numFeatures
        var c = 0; while (c < numFeatures) { d(base + c) += s * f(c); c += 1 }
      case None =>
    }

  /** Inverted-dropout in place: element := element/keep w.p. keep else 0. */
  private def maskInPlace(m: DenseMatrix[Double], rng: java.util.Random): Unit = {
    val keep = 1.0 - hp.dropout
    val d = m.data
    var i = 0
    while (i < d.length) { if (rng.nextDouble() < keep) d(i) /= keep else d(i) = 0.0; i += 1 }
  }

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

  /** Everything backward needs, on the batch's distinct-node sets. The
    * xt/mt matrices are the (masked) feature-major layer-1 inputs.
    */
  private final class BatchCache(
      val plan: BatchPlan,
      val xt0: DenseMatrix[Double], val mt1: DenseMatrix[Double],
      val xt1: DenseMatrix[Double], val mt2: DenseMatrix[Double],
      val a1r: DenseMatrix[Double], val a1n: DenseMatrix[Double],
      val h1rd: DenseMatrix[Double], val mhd: DenseMatrix[Double],
      val maskH1r: DenseMatrix[Double], val maskMh: DenseMatrix[Double],
      val emb: DenseMatrix[Double], val norms: DenseVector[Double])

  /** Everything weight-INDEPENDENT about a batch: the sample plan, the
    * filled feature-major inputs, and the dropout masks — i.e. all of a
    * batch's RNG consumption. Preparing batch t+1 while batch t's
    * weight-dependent GEMMs run leaves the RNG call sequence (and so
    * every sampled id and mask bit) identical to the serial schedule.
    */
  private final class BatchInputs(
      val plan: BatchPlan,
      val xt0: DenseMatrix[Double], val mt1: DenseMatrix[Double],
      val xt1: DenseMatrix[Double], val mt2: DenseMatrix[Double],
      val maskH1r: DenseMatrix[Double], val maskMh: DenseMatrix[Double])

  private def prepareBatch(roots: Array[Long], rng: java.util.Random,
                           train: Boolean): BatchInputs = {
    val plan = planBatch(roots, rng)
    val nU0 = plan.u0.length; val nU1 = plan.u1.length
    val doDrop = train && hp.dropout > 0.0
    // feature-major inputs: one contiguous column per distinct node
    val xt0 = DenseMatrix.zeros[Double](numFeatures, nU0)
    var j = 0
    while (j < nU0) { fillCol(xt0, j, plan.u0(j)); j += 1 }
    val mt1 = DenseMatrix.zeros[Double](numFeatures, nU0)
    j = 0
    while (j < nU0) {
      val idxs = plan.l1idx(j); val cnt = plan.l1cnt(j)
      var t = 0
      while (t < idxs.length) { addColScaled(mt1, j, plan.u1(idxs(t)), cnt(t).toDouble / k1); t += 1 }
      j += 1
    }
    val xt1 = DenseMatrix.zeros[Double](numFeatures, nU1)
    j = 0
    while (j < nU1) { fillCol(xt1, j, plan.u1(j)); j += 1 }
    val mt2 = DenseMatrix.zeros[Double](numFeatures, nU1)
    j = 0
    while (j < nU1) {
      val ids = plan.l2ids(j); val cnt = plan.l2cnt(j)
      var t = 0
      while (t < ids.length) { addColScaled(mt2, j, ids(t), cnt(t).toDouble / k2); t += 1 }
      j += 1
    }
    // input dropout, per distinct node per batch (Keras GraphSAGE drops
    // inputs); the h1-level masks are also drawn HERE so every rng call
    // stays in the prepare phase — same relative order as the serial code
    if (doDrop) { maskInPlace(xt0, rng); maskInPlace(mt1, rng); maskInPlace(xt1, rng); maskInPlace(mt2, rng) }
    val maskH1r = if (doDrop) newMask(nU0, d1, rng) else null
    val maskMh = if (doDrop) newMask(nU0, d1, rng) else null
    new BatchInputs(plan, xt0, mt1, xt1, mt2, maskH1r, maskMh)
  }

  /** Forward the batch over its deduped sample tree; `emb` rows align
    * with `plan.u0` (use `plan.rootPos` to read a batch position).
    */
  private def forwardBatch(roots: Array[Long], rng: java.util.Random,
                           train: Boolean): BatchCache =
    forwardPrepared(prepareBatch(roots, rng, train))

  /** The weight-dependent half of the forward pass. */
  private def forwardPrepared(bi: BatchInputs): BatchCache = {
    val plan = bi.plan
    val nU0 = plan.u0.length; val nU1 = plan.u1.length
    val xt0 = bi.xt0; val mt1 = bi.mt1; val xt1 = bi.xt1; val mt2 = bi.mt2
    // layer 1 — shared weights on roots and level-1 nodes; dgemm reads the
    // feature-major matrices via the transpose flag (no copy). The four
    // products are independent — see `inParallel` for the bit-identity
    // argument.
    val z = new Array[DenseMatrix[Double]](4)
    inParallel(Array(
      () => z(0) = xt0.t * w1s, () => z(1) = mt1.t * w1n,
      () => z(2) = xt1.t * w1s, () => z(3) = mt2.t * w1n))
    val a1r = concatBias(z(0), z(1), b1)
    val a1n = concatBias(z(2), z(3), b1)
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
    val maskH1r = bi.maskH1r
    val maskMh = bi.maskMh
    val h1rd = relu(a1r)
    if (maskH1r != null) h1rd :*= maskH1r
    if (maskMh != null) mh :*= maskMh
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
    new BatchCache(plan, xt0, mt1, xt1, mt2, a1r, a1n, h1rd, mh,
      maskH1r, maskMh, emb, norms)
  }

  // ---- gradients ----
  private final class Grads {
    val gW1s = DenseMatrix.zeros[Double](numFeatures, h1)
    val gW1n = DenseMatrix.zeros[Double](numFeatures, h1)
    val gB1 = DenseVector.zeros[Double](d1)
    val gW2s = DenseMatrix.zeros[Double](d1, h2)
    val gW2n = DenseMatrix.zeros[Double](d1, h2)
    val gB2 = DenseVector.zeros[Double](d2)
  }

  /** Backprop dL/dEmb (rows aligned with plan.u0) through the batch,
    * accumulating into `g`. Mutates dEmbU's downstream temporaries only.
    */
  private def backwardBatch(bc: BatchCache, dEmbU: DenseMatrix[Double], g: Grads): Unit = {
    val nU0 = bc.plan.u0.length; val nU1 = bc.plan.u1.length
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
    val p2 = new Array[DenseMatrix[Double]](4)
    inParallel(Array(
      () => p2(0) = bc.h1rd.t * dZ2s, () => p2(1) = bc.mhd.t * dZ2n,
      () => p2(2) = dZ2s * w2s.t, () => p2(3) = dZ2n * w2n.t))
    addInPlace(g.gW2s, p2(0))
    addInPlace(g.gW2n, p2(1))
    val dH1r = p2(2)
    val dMh = p2(3)
    if (bc.maskH1r != null) dH1r :*= bc.maskH1r
    if (bc.maskMh != null) dMh :*= bc.maskMh
    // spread dMh back to level-1 rows via the multiset counts
    val dH1n = DenseMatrix.zeros[Double](nU1, d1)
    var j = 0
    while (j < nU0) {
      val idxs = bc.plan.l1idx(j); val cnt = bc.plan.l1cnt(j)
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
    // the four weight-gradient products compute in parallel; the
    // accumulation into gW1s/gW1n keeps the exact serial order, so the
    // Double addition sequence (and its rounding) is unchanged
    val p1 = new Array[DenseMatrix[Double]](4)
    inParallel(Array(
      () => p1(0) = bc.xt0 * dH1r(::, 0 until h1),
      () => p1(1) = bc.mt1 * dH1r(::, h1 until d1),
      () => p1(2) = bc.xt1 * dH1n(::, 0 until h1),
      () => p1(3) = bc.mt2 * dH1n(::, h1 until d1)))
    addInPlace(g.gW1s, p1(0))
    addInPlace(g.gW1n, p1(1))
    addInPlace(g.gW1s, p1(2))
    addInPlace(g.gW1n, p1(3))
  }

  /** Zero `d` wherever the pre-activation `a` was non-positive. */
  private def reluBackInPlace(d: DenseMatrix[Double], a: DenseMatrix[Double]): Unit = {
    val dd = d.data; val ad = a.data
    var i = 0
    while (i < dd.length) { if (ad(i) <= 0) dd(i) = 0.0; i += 1 }
  }

  // ---- training (G8: Adam + BCE) ----

  /** Shared forward + loss + dEmb for a labeled pair batch: one plan
    * over src ++ dst (the towers share weights AND the deduped node
    * evaluations). Returns (cache, mean-scaled loss sum, dEmb by u0 row).
    */
  private def pairForward(src: Array[Long], dst: Array[Long], labels: Array[Int],
                          rng: java.util.Random, train: Boolean)
      : (BatchCache, Double, DenseMatrix[Double]) = {
    val b = src.length
    val roots = new Array[Long](2 * b)
    System.arraycopy(src, 0, roots, 0, b)
    System.arraycopy(dst, 0, roots, b, b)
    pairForwardPrepared(prepareBatch(roots, rng, train), labels)
  }

  /** `pairForward` from already-prepared batch inputs (the pipelined fit
    * path); roots were laid out src ++ dst, so position i / b+i are the
    * pair's towers.
    */
  private def pairForwardPrepared(bi: BatchInputs, labels: Array[Int])
      : (BatchCache, Double, DenseMatrix[Double]) = {
    val b = labels.length
    val bc = forwardPrepared(bi)
    val nU0 = bc.plan.u0.length
    val dEmbU = DenseMatrix.zeros[Double](nU0, d2)
    var loss = 0.0
    var i = 0
    while (i < b) {
      val si = bc.plan.rootPos(i); val di = bc.plan.rootPos(b + i)
      var z = 0.0; var c = 0
      while (c < d2) { z += bc.emb.data(c * nU0 + si) * bc.emb.data(c * nU0 + di); c += 1 }
      val s = 1.0 / (1.0 + math.exp(-z))
      val y = labels(i)
      loss -= (y * math.log(math.max(s, 1e-12)) + (1 - y) * math.log(math.max(1 - s, 1e-12)))
      val dz = (s - y) / b // BCE+sigmoid combined, mean reduction
      c = 0
      while (c < d2) {
        dEmbU.data(c * nU0 + si) += dz * bc.emb.data(c * nU0 + di)
        dEmbU.data(c * nU0 + di) += dz * bc.emb.data(c * nU0 + si)
        c += 1
      }
      i += 1
    }
    (bc, loss, dEmbU)
  }

  /** One gradient step on a batch; returns mean BCE loss. */
  private[ml] def trainBatch(src: Array[Long], dst: Array[Long], labels: Array[Int],
                             rng: java.util.Random): Double = {
    val (bc, loss, dEmbU) = pairForward(src, dst, labels, rng, train = true)
    val g = new Grads
    backwardBatch(bc, dEmbU, g)
    adamStep(g)
    loss / src.length
  }

  private[ml] def computeGrads(src: Array[Long], dst: Array[Long], labels: Array[Int],
                               rng: java.util.Random): (Double, Seq[Array[Double]]) = {
    // gradient-check hook: same math as trainBatch without the update
    val (bc, loss, dEmbU) = pairForward(src, dst, labels, rng, train = true)
    val g = new Grads
    backwardBatch(bc, dEmbU, g)
    (loss / src.length, Seq(rowMajor(g.gW1s), rowMajor(g.gW1n), g.gB1.toArray,
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
    val mats = Array((w1s, g.gW1s, 0), (w1n, g.gW1n, 1), (w2s, g.gW2s, 2), (w2n, g.gW2n, 3))
    // per-slot updates touch disjoint state; each slot's loop is
    // unchanged, so the update is bit-identical to the serial schedule
    inParallel(mats.map { case (w, gw, idx) => () => {
      val wd = w.data; val gd = gw.data
      val md = adamM(idx).data; val vd = adamV(idx).data
      var i = 0
      while (i < wd.length) {
        val grad = gd(i)
        md(i) = beta1 * md(i) + (1 - beta1) * grad
        vd(i) = beta2 * vd(i) + (1 - beta2) * grad * grad
        wd(i) -= lr * md(i) / (math.sqrt(vd(i)) + adamEps)
        i += 1
      }
    }})
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
    * On the large-layer profile, batch t+1's weight-independent
    * preparation (sampling, feature fills, masks — ALL rng consumption)
    * runs on a background thread while batch t's weight-dependent
    * compute runs here. The futures are created strictly one at a time
    * and the rng is only ever touched inside them, so the rng call
    * sequence — and with it every sampled neighbor, shuffle, and mask —
    * is identical to the serial loop. Losses and updates are unchanged
    * math on unchanged inputs: bit-identical, wall-clock shorter.
    */
  def fit(examples: Array[(Long, Long, Int)], epochs: Int): Seq[Double] = {
    val rng = fitRng
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    (1 to epochs).map { _ =>
      val order = shuffle(examples.indices.toArray, rng)
      var lossSum = 0.0; var nBatches = 0
      if (!parallelKernels) {
        order.grouped(hp.batchSize).foreach { idxs =>
          val src = idxs.map(i => examples(i)._1)
          val dst = idxs.map(i => examples(i)._2)
          val lab = idxs.map(i => examples(i)._3)
          lossSum += trainBatch(src, dst, lab, rng)
          nBatches += 1
        }
      } else if (order.nonEmpty) {
        // explicit empty guard: without it, prep(batches(0)) would throw
        // inside a never-awaited Future — accidentally benign, silently
        // swallowed
        val batches = order.grouped(hp.batchSize).toArray
        def prep(idxs: Array[Int]): (BatchInputs, Array[Int]) = {
          val b = idxs.length
          val roots = new Array[Long](2 * b)
          var i = 0
          while (i < b) {
            roots(i) = examples(idxs(i))._1
            roots(b + i) = examples(idxs(i))._2
            i += 1
          }
          (prepareBatch(roots, rng, train = true), idxs.map(i => examples(i)._3))
        }
        var next = scala.concurrent.Future(prep(batches(0)))
        var t = 0
        while (t < batches.length) {
          val (bi, lab) = scala.concurrent.Await.result(next,
            scala.concurrent.duration.Duration.Inf)
          if (t + 1 < batches.length) next = scala.concurrent.Future(prep(batches(t + 1)))
          val (bc, loss, dEmbU) = pairForwardPrepared(bi, lab)
          val g = new Grads
          backwardBatch(bc, dEmbU, g)
          adamStep(g)
          lossSum += loss / lab.length
          nBatches += 1
          t += 1
        }
      }
      lossSum / math.max(nBatches, 1)
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
      val roots = new Array[Long](2 * b)
      var i = 0
      while (i < b) { roots(i) = batch(i)._1; roots(b + i) = batch(i)._2; i += 1 }
      val bc = forwardBatch(roots, rng, train = false)
      val nU0 = bc.plan.u0.length
      i = 0
      while (i < b) {
        val si = bc.plan.rootPos(i); val di = bc.plan.rootPos(b + i)
        var z = 0.0; var c = 0
        while (c < d2) { z += bc.emb.data(c * nU0 + si) * bc.emb.data(c * nU0 + di); c += 1 }
        out(off + i) = 1.0 / (1.0 + math.exp(-z))
        i += 1
      }
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
    * deduped GEMMs.
    */
  def genEmbeddings(nodes: Array[Long]): Array[(Long, Array[Float])] = {
    val rng = new java.util.Random(hp.seed ^ 0x3bedd179L)
    nodes.grouped(inferChunk).flatMap { batch =>
      val bc = forwardBatch(batch, rng, train = false)
      val nU0 = bc.plan.u0.length
      batch.indices.map { i =>
        val row = bc.plan.rootPos(i)
        val v = new Array[Float](d2)
        var c = 0; while (c < d2) { v(c) = bc.emb.data(c * nU0 + row).toFloat; c += 1 }
        (batch(i), v)
      }
    }.toArray
  }
}
