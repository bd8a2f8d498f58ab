package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

import graft.sources.GraphIO

/** G1/G2 — the property-graph data model (SURVEY.md §2.7).
  *
  * The reference materializes `stellargraph.StellarGraph(nodes, edges)`
  * (models/supervised.py:65, models/unsupervised.py:48-49): node ids are
  * arbitrary ints, the feature matrix is dense float32, and the directed
  * edge list is treated as an undirected neighborhood structure.
  *
  * Spark-first restatement: the graph IS the pair of DataFrames —
  * `nodes(id LONG, features ARRAY<FLOAT>)` and
  * `edges(source LONG, target LONG)` — kept lazy so Catalyst prunes and
  * pushes down through every derived view. Graph work on one partition
  * (connected components, a client's adjacency) runs in memory over the
  * collected edge list; `adjacency` is one groupBy shuffle on the
  * symmetrized edge list.
  */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame) {

  /** G2 — node listing (`graph.nodes()`, models/unsupervised.py:49,85). */
  def nodeIds: DataFrame = nodes.select(col("id"))

  def numNodes: Long = nodes.count()
  def numEdges: Long = edges.count()

  /** Directed edge list symmetrized into the undirected neighborhood
    * structure StellarGraph exposes: every edge contributes both
    * (source→target) and (target→source); multiplicity is KEPT so
    * uniform neighbor sampling weights parallel edges like the
    * reference's adjacency lists do.
    */
  def symmetrizedEdges: DataFrame = {
    val fwd = edges.select(col("source").as("id"), col("target").as("nbr"))
    val rev = edges.select(col("target").as("id"), col("source").as("nbr"))
    fwd.unionByName(rev)
  }

  /** Undirected degree per node (nodes with no edges → degree 0).
    * One shuffle on id; map-side partial count.
    */
  def degrees: DataFrame = {
    val d = symmetrizedEdges.groupBy("id").agg(count(lit(1)).as("degree"))
    nodeIds.join(d, Seq("id"), "left")
      .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"))
  }

  /** Adjacency lists `(id, neighbors ARRAY<LONG>)` for sampling joins.
    * Neighbor order is made deterministic (sorted) so that hash-seeded
    * samplers are reproducible regardless of shuffle order.
    */
  def adjacency(): DataFrame =
    symmetrizedEdges
      .groupBy("id")
      .agg(sort_array(collect_list(col("nbr"))).as("neighbors"))

  /** Number of connected components of the UNDIRECTED graph (isolated
    * nodes count). Used by tests.
    */
  def numConnectedComponents: Long =
    EdgeSplitter.components(nodes.sparkSession, nodeIds, edges)
      .select("component").distinct().count()

  def cache(): PropertyGraph = { nodes.cache(); edges.cache(); this }
  def unpersist(): PropertyGraph = { nodes.unpersist(); edges.unpersist(); this }
}

object PropertyGraph {

  /** `adjacency()` built in memory from one partition's raw edge list,
    * for a client task that holds the whole partition: every edge adds
    * both directions (a self-loop appears twice), parallel edges are
    * kept, each neighbour array is sorted, ids that appear only in edges
    * get an entry and nodes with no edges get none — key for key and
    * array for array what `adjacency().collect()` returns.
    */
  def localAdjacency(edges: IterableOnce[(Long, Long)]): Map[Long, Array[Long]] = {
    val lists = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
    def add(id: Long, nbr: Long): Unit =
      lists.getOrElseUpdate(id, new mutable.ArrayBuilder.ofLong).addOne(nbr)
    edges.iterator.foreach { case (s, t) => add(s, t); add(t, s) }
    lists.iterator.map { case (id, b) =>
      val nbrs = b.result()
      java.util.Arrays.sort(nbrs)
      id -> nbrs
    }.toMap
  }

  /** Connected components over a PAIR DataFrame — the group-forming
    * step every dedup family member ends with (near-dup groups q36,
    * embedding-cosine groups, SemDeDup groups q60). The pairs are
    * collected once (one Spark job) and labelled by
    * [[EdgeSplitter.componentLabels]]: the vertices are the pair
    * endpoints (GraphX `Graph.fromEdges` contract), the label is the min
    * id per component. Returns `(id LONG, keep_id LONG)` sorted by id.
    */
  def pairComponents(pairs: DataFrame,
                     aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs
      .select(col(aCol).cast("long"), col(bCol).cast("long"))
      .as[(Long, Long)].collect()
    EdgeSplitter.componentLabels(Array.emptyLongArray, edges).toSeq.toDF("id", "keep_id")
  }

  /** Build from the reference's canonical CSV pair
    * `{dir}/{gid}_nodes_{pid}.csv` / `{gid}_edges_{pid}.csv`
    * (fl_server.py:202-207).
    */
  def fromCsv(spark: SparkSession, dir: String, graphId: String,
              partitionId: String, nFeatures: Int = GraphIO.NumCoraFeatures): PropertyGraph =
    PropertyGraph(
      GraphIO.readNodesCsv(spark, s"$dir/${graphId}_nodes_$partitionId.csv", nFeatures),
      GraphIO.readEdgesCsv(spark, s"$dir/${graphId}_edges_$partitionId.csv"))
}
