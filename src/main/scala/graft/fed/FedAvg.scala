package graft.fed

import graft.sources.LayerTensor

/** A1/A2 — FedAvg model aggregation (fl_server.py:60-76).
  *
  * Reference semantics: the server accumulates `n_i · W_i` per client as
  * reports arrive and finalizes `sum(n_i·W_i) / sum(n_i)` once all
  * clients have reported; the unsupervised variant is the unweighted
  * `np.mean(weights, axis=0)` (fl_server_unsupervised.py:58-67).
  *
  * Weights are KB–MB scale, so the fold runs on the driver over the
  * collected per-client results — exactly the reference's topology.
  */
object FedAvg {

  type Weights = Seq[LayerTensor]

  /** A1 — weighted mean. Accumulation is Double-precision (the
    * reference accumulates in float64 numpy) then cast back to Float.
    */
  def weighted(updates: Seq[(Long, Weights)]): Weights = {
    require(updates.nonEmpty, "FedAvg of zero clients")
    val (accum, totalN) = updates.foldLeft((zeroLike(updates.head._2), 0L)) {
      case ((acc, tn), (n, w)) => (axpy(acc, n.toDouble, w), tn + n)
    }
    require(totalN > 0, "FedAvg with zero total examples")
    finalize_(accum, totalN.toDouble)
  }

  /** A2 — unweighted model mean (every client counts once). */
  def mean(models: Seq[Weights]): Weights = weighted(models.map(1L -> _))

  // ---- accumulator representation: (layer, shape, double values) ----
  private type Acc = Seq[(Int, Seq[Int], Array[Double])]

  private def zeroLike(w: Weights): Acc =
    w.map(t => (t.layer, t.shape, new Array[Double](t.values.length)))

  private def axpy(acc: Acc, a: Double, w: Weights): Acc = {
    // zip TRUNCATES silently — reject a differing layer count before it
    require(acc.length == w.length,
      s"layer count mismatch in FedAvg: ${acc.length} vs ${w.length}")
    acc.zip(w).map { case ((l, s, av), t) =>
      require(l == t.layer && s == t.shape,
        s"layer/shape mismatch in FedAvg: ($l,$s) vs (${t.layer},${t.shape})")
      var i = 0
      while (i < av.length) { av(i) += a * t.values(i); i += 1 }
      (l, s, av)
    }
  }

  private def finalize_(acc: Acc, totalN: Double): Weights =
    acc.map { case (l, s, av) =>
      LayerTensor(l, s, av.map(v => (v / totalN).toFloat))
    }
}
