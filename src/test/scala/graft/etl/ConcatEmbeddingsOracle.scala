package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The relational twin of `ConcatEmbeddings.run`'s streaming pass,
  * kept as its test oracle: union the `(id, embedding)` frames in
  * partition order and keep the first partition's row per id.
  */
object ConcatEmbeddingsOracle {
  def concat(parts: Seq[DataFrame]): DataFrame =
    Dedup.unionKeepFirst(parts, Seq("id"), Seq(hash(col("embedding")).asc))
}
