package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A single layer tensor: row-major values + shape. The engine-wide
  * weight representation (replaces the reference's `list[np.ndarray]`,
  * models/supervised.py:112-113).
  */
final case class LayerTensor(layer: Int, shape: Seq[Int], values: Array[Float]) {
  require(shape.product == values.length,
    s"shape ${shape.mkString("x")} != ${values.length} values")
}

/** S9/S10 — weight artifact sink/source.
  *
  * The reference persists weights as pickled `.npy` blobs
  * (`np.save(path, avg_weight)`, fl_server.py:79-80;
  * `np.load(path, allow_pickle=True)`, misc/link-pred.py:74-75).
  * Our format is Parquet rows `(layer INT, shape ARRAY<INT>,
  * values ARRAY<FLOAT>)` — same information, schema-checked, readable
  * from any engine. Weights are KB–MB scale, so these are driver-side
  * collects by design (same as the reference's in-memory weight lists).
  */
object WeightsIO {

  def save(spark: SparkSession, weights: Seq[LayerTensor], path: String): Unit = {
    import spark.implicits._
    weights.toDF()
      .select(col("layer"), col("shape"), col("values"))
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  def load(spark: SparkSession, path: String): Seq[LayerTensor] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("layer"), col("shape"), col("values"))
      .as[(Int, Seq[Int], Array[Float])]
      .collect()
      .sortBy(_._1)
      .map { case (l, s, v) => LayerTensor(l, s, v) }
      .toSeq
  }
}
