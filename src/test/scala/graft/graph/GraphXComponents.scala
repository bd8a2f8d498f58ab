package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The oracle for the union-find components: GraphX's Pregel
  * `connectedComponents` over `ids` (one LONG column) plus every
  * endpoint of `edges` (two LONG columns, source first), as
  * `(id, min id of its component)`.
  */
object GraphXComponents {

  def labels(spark: SparkSession, ids: DataFrame, edges: DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    // parallelized, not `ids.rdd`: a vertex RDD of 0 partitions (an
    // empty local relation) makes GraphX drop the edge endpoints too
    val v = spark.sparkContext.parallelize(
      ids.select(col(ids.columns.head).cast("long")).as[Long].collect().toSeq.map(id => (id, ())), 4)
    val e = edges.select(col(edges.columns(0)).cast("long"), col(edges.columns(1)).cast("long"))
      .as[(Long, Long)].rdd.map { case (s, t) => Edge(s, t, ()) }
    Graph(v, e, ()).connectedComponents().vertices.collect().toSet
  }
}
