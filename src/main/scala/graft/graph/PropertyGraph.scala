package graft.graph

import org.apache.spark.graphx.{Edge, Graph, VertexId}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * pushes down through every derived view. A GraphX twin (`toGraphX`) is
  * built only for the algorithms that genuinely need vertex-centric
  * iteration (connectivity in the edge splitter).
  *
  * Scale: `adjacency` is one groupBy shuffle on the symmetrized edge
  * list; degree distribution skew (hub nodes with huge neighbor arrays)
  * is the known risk at 100 TB — callers that sample cap the array via
  * `adjacency(maxDegree)`, which bounds both array size and shuffle
  * payload. Nothing in this class collects to the driver.
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
    *
    * @param maxDegree cap per node (deterministic: the `maxDegree`
    *   smallest neighbor ids win) — REQUIRED at scale to bound hub-node
    *   array size; `Int.MaxValue` keeps everything at fixture scale.
    */
  def adjacency(maxDegree: Int = Int.MaxValue): DataFrame = {
    val lists = symmetrizedEdges
      .groupBy("id")
      .agg(sort_array(collect_list(col("nbr"))).as("neighbors"))
    if (maxDegree == Int.MaxValue) lists
    else lists.select(col("id"), slice(col("neighbors"), 1, maxDegree).as("neighbors"))
  }

  /** GraphX view for vertex-centric algorithms (connectivity). Vertex
    * attribute = feature vector; edge attribute unused.
    */
  def toGraphX: Graph[Array[Float], Unit] = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val vRDD: RDD[(VertexId, Array[Float])] =
      nodes.select(col("id"), col("features"))
        .as[(Long, Array[Float])].rdd
    val eRDD: RDD[Edge[Unit]] =
      edges.select(col("source"), col("target"))
        .as[(Long, Long)].rdd.map { case (s, t) => Edge(s, t, ()) }
    Graph(vRDD, eRDD, defaultVertexAttr = Array.empty[Float],
      edgeStorageLevel = StorageLevel.MEMORY_AND_DISK,
      vertexStorageLevel = StorageLevel.MEMORY_AND_DISK)
  }

  /** Number of connected components of the UNDIRECTED graph (isolated
    * nodes count). Used by tests and the splitter's invariant checks.
    * Size-gated like the splitter's check: union-find at fixture scale,
    * GraphX Pregel at real scale (identical label function either way).
    */
  def numConnectedComponents: Long =
    EdgeSplitter.components(nodes.sparkSession, nodeIds, edges,
        edgeCountHint = numEdges)
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

  /** Size-gated connected components over a PAIR DataFrame — the
    * group-forming step every dedup family member ends with (near-dup
    * groups q36, embedding-cosine groups, SemDeDup groups q60).
    * Vertices are the pair endpoints (GraphX `Graph.fromEdges`
    * contract), label = min id per component. Routes through
    * `EdgeSplitter.components`, so below 2^20 edges the labels come
    * from a driver union-find instead of the ~10-iteration Pregel
    * cascade (ComponentsSpec: bitwise-identical labels); at scale the
    * GraphX path runs unchanged. Pairs are persisted for the duration
    * of the call — the pair pipeline (LSH join + cosine verify) is the
    * expensive part and feeds both the vertex list and the edge list.
    */
  def pairComponents(pairs: DataFrame,
                     aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs
      .select(col(aCol).cast("long").as("source"), col(bCol).cast("long").as("target"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nEdges = edges.count()
    val nodeIds = edges.select(col("source").as("id"))
      .union(edges.select(col("target").as("id"))).distinct()
    val cutoff = 1L << 20
    val out = EdgeSplitter.components(spark, nodeIds, edges,
        edgeCountHint = nEdges, smallCutoff = cutoff)
      .toDF("id", "keep_id")
    // the driver union-find path has already materialized its result so
    // the cache is droppable; the GraphX path's output is still lazy
    // over these edges — leave the cache in place for it (GraphX CC
    // re-reads the edge RDD across Pregel iterations)
    if (nEdges <= cutoff) edges.unpersist()
    out
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
