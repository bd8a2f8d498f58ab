package graft.graph

import graft.SparkSpec
import graft.etl.MergePipeline
import org.apache.spark.sql.functions._

class PropertyGraphSpec extends SparkSpec {
  import spark.implicits._

  private def tiny = PropertyGraph(
    Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(1f, 1f)), (4L, Seq(0f, 0f)))
      .toDF("id", "features"),
    Seq((1L, 2L), (2L, 3L), (1L, 2L)).toDF("source", "target")) // parallel edge 1-2; node 4 isolated

  test("degrees count both directions, keep multiplicity, zero for isolated") {
    val d = tiny.degrees.as[(Long, Long)].collect().toMap
    assert(d === Map(1L -> 2L, 2L -> 3L, 3L -> 1L, 4L -> 0L))
  }

  test("adjacency lists are sorted and keep parallel edges") {
    val a = tiny.adjacency().as[(Long, Seq[Long])].collect().toMap
    assert(a(1L) === Seq(2L, 2L)) // parallel edge appears twice
    assert(a(2L) === Seq(1L, 1L, 3L))
    assert(a(3L) === Seq(2L))
    assert(!a.contains(4L)) // no edges -> no adjacency row
  }

  test("nodeIds lists every node (G2)") {
    assert(tiny.nodeIds.as[Long].collect().sorted === Array(1L, 2L, 3L, 4L))
  }

  test("connected components: tiny graph has 2 (chain + isolated node)") {
    assert(tiny.numConnectedComponents === 2L)
  }

  test("CORA merged partition 0 builds a graph with pandas-parity counts") {
    val m = MergePipeline.merge(spark, "/root/reference/data", "/root/reference/data", "4", "0")
    val g = PropertyGraph(m.nodes, m.edges)
    assert(g.numNodes === 1451L)
    assert(g.numEdges === 2837L)
    // handshake: sum of undirected degrees == 2 * |E|
    val degSum = g.degrees.agg(sum("degree")).head().getLong(0)
    assert(degSum === 2 * 2837L)
  }
}
