package graft.graph

import graft.SparkSpec
import graft.etl.MergePipeline
import org.apache.spark.sql.functions._

/** G3 invariants (models/supervised.py:67-77 semantics): exact positive
  * count, connectivity preserved, |neg| = |pos|, negatives are true
  * non-edges, determinism under seed, and the double-split pattern —
  * on a seeded generated graph and on CORA partition 0.
  */
class EdgeSplitterSpec extends SparkSpec {
  import spark.implicits._

  private lazy val cora: PropertyGraph = {
    val m = MergePipeline.merge(spark, "/root/reference/data", "/root/reference/data", "4", "0")
    PropertyGraph(m.nodes.cache(), m.edges.cache())
  }

  // A seeded graph in three components, with scattered ids: eight
  // 6-cliques joined in a ring by one edge each (no bridges) with five
  // pendant nodes hung on random clique nodes (five bridges); a K4; an
  // isolated node. 8·15 + 8 + 5 + 6 = 139 edges.
  private lazy val ringOfCliques: PropertyGraph = {
    val rng = new scala.util.Random(17)
    def id(i: Int): Long = i * 37L + 11L
    val cliques = for (c <- 0 until 8; a <- 0 until 6; b <- a + 1 until 6)
      yield (id(c * 6 + a), id(c * 6 + b))
    val ring = (0 until 8).map(c => (id(c * 6), id((c + 1) % 8 * 6 + 1)))
    val pendants = (48 until 53).map(p => (id(rng.nextInt(48)), id(p)))
    val k4 = for (a <- 53 until 57; b <- a + 1 until 57) yield (id(a), id(b))
    PropertyGraph((0 until 58).map(i => (id(i), Seq(0f))).toDF("id", "features"),
      (cliques ++ ring ++ pendants ++ k4).toDF("source", "target"))
  }

  test("generated graph: floor(p*|E|) positives, as many non-edge negatives, components kept") {
    val g = ringOfCliques
    assert(g.numEdges === 139L)
    assert(g.numConnectedComponents === 3L)
    val s = EdgeSplitter.trainTestSplit(g, 0.1, seed = 42)
    assert(s.numPositives === 13L) // floor(0.1 * 139)
    val ex = s.examples.as[(Long, Long, Int)].collect()
    val (pos, neg) = ex.partition(_._3 == 1)
    assert(pos.length === 13 && neg.length === 13)
    val edges = g.edges.as[(Long, Long)].collect()
    val both = edges.toSet ++ edges.map(_.swap)
    neg.foreach { case (a, b, _) =>
      assert(a != b && !both.contains((a, b)), s"negative $a-$b is an edge or a self-pair")
    }
    // the positives are edges taken out of the graph: residual + positives = E
    val residual = s.residual.edges.as[(Long, Long)].collect()
    assert(residual.length === 139 - 13)
    assert((residual ++ pos.map(e => (e._1, e._2))).sorted.toSeq === edges.sorted.toSeq)
    assert(s.residual.numConnectedComponents === 3L)
  }

  test("generated graph: identical split under one seed, a different one under another") {
    def run(seed: Long) = {
      val s = EdgeSplitter.trainTestSplit(ringOfCliques, 0.1, seed)
      (s.examples.as[(Long, Long, Int)].collect().sorted.toSeq,
        s.residual.edges.as[(Long, Long)].collect().sorted.toSeq)
    }
    assert(run(11) === run(11))
    assert(run(11) !== run(12))
  }

  test("a star graph, every edge a bridge, fails naming the cause") {
    val star = PropertyGraph((0L to 10L).map(i => (i, Seq(0f))).toDF("id", "features"),
      (1L to 10L).map(i => (0L, i)).toDF("source", "target"))
    val e = intercept[IllegalStateException](EdgeSplitter.trainTestSplit(star, 0.1, seed = 3))
    assert(e.getMessage === "EdgeSplitter: only 0 of 1 requested positive edges could be " +
      "removed without disconnecting components after 8 round(s); the graph is too " +
      "bridge-heavy for p=0.1 (lower p)")
  }

  test("split takes floor(p*|E|) positives and equal negatives") {
    val s = EdgeSplitter.trainTestSplit(cora, 0.1, seed = 42)
    assert(s.numPositives === 283L) // floor(0.1 * 2837)
    assert(s.examples.filter(col("label") === 1).count() === 283L)
    assert(s.examples.filter(col("label") === 0).count() === 283L)
    assert(s.residual.numEdges === 2837L - 283L)
  }

  test("components equal the GraphX Pregel labels exactly") {
    // non-contiguous ids, several components, isolated nodes, cycles,
    // and edge endpoints missing from the node list
    val rng = new scala.util.Random(5)
    val ids = (0 until 300).map(i => i.toLong * 3 + 7)
    val nodes = ids.toDF("id")
    val edges = ((0 until 350).map { _ =>
      (ids(rng.nextInt(ids.length)), ids(rng.nextInt(ids.length)))
    }.filter { case (a, b) => a != b } ++ Seq((7L, 2L), (2L, 4L), (5L, 5L)))
      .toDF("source", "target")
    val got = EdgeSplitter.components(spark, nodes, edges).as[(Long, Long)].collect()
    assert(got.map(_._1).toSeq === got.map(_._1).sorted.toSeq, "rows sorted by id")
    assert(got.toSet === GraphXComponents.labels(spark, nodes, edges))
  }

  test("residual graph keeps every original component connected") {
    val before = cora.numConnectedComponents
    val s = EdgeSplitter.trainTestSplit(cora, 0.1, seed = 42)
    assert(s.residual.numConnectedComponents === before)
  }

  test("negatives are non-edges in either orientation, no self-pairs") {
    val s = EdgeSplitter.trainTestSplit(cora, 0.1, seed = 7)
    val neg = s.examples.filter(col("label") === 0)
    assert(neg.filter(col("source") === col("target")).count() === 0L)
    val both = cora.symmetrizedEdges
      .select(col("id").as("source"), col("nbr").as("target"))
    assert(neg.join(both, Seq("source", "target"), "inner").count() === 0L)
  }

  test("deterministic under seed; different seeds differ") {
    val a = EdgeSplitter.trainTestSplit(cora, 0.05, seed = 11)
      .examples.orderBy("label", "source", "target").collect()
    val b = EdgeSplitter.trainTestSplit(cora, 0.05, seed = 11)
      .examples.orderBy("label", "source", "target").collect()
    val c = EdgeSplitter.trainTestSplit(cora, 0.05, seed = 12)
      .examples.orderBy("label", "source", "target").collect()
    assert(a === b)
    assert(!(a sameElements c))
  }

  test("double split (test off full, train off residual) as the reference applies it") {
    val testS = EdgeSplitter.trainTestSplit(cora, 0.1, seed = 42)
    val trainS = EdgeSplitter.trainTestSplit(testS.residual, 0.1, seed = 43)
    assert(trainS.numPositives === ((2837L - 283L) / 10)) // floor(0.1 * 2554)
    assert(trainS.residual.numEdges === 2554L - 255L)
    // train positives are disjoint from test positives
    val testPos = testS.examples.filter(col("label") === 1)
    val trainPos = trainS.examples.filter(col("label") === 1)
    assert(trainPos.join(testPos, Seq("source", "target"), "inner").count() === 0L)
  }
}
