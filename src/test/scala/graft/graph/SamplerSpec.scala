package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplerSpec extends SparkSpec {
  import spark.implicits._

  // path 1-2-3-4 plus isolated node 9
  private def path = PropertyGraph(
    Seq(1L, 2L, 3L, 4L, 9L).map(i => (i, Seq(i.toFloat))).toDF("id", "features"),
    Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("source", "target"))

  // star: hub 0 has degree 10, leaves 1..10 degree 1
  private def star = PropertyGraph(
    (0L to 10L).map(i => (i, Seq(i.toFloat))).toDF("id", "features"),
    (1L to 10L).map(i => (0L, i)).toDF("source", "target"))

  // star plus isolated node 11
  private def withIsolated = PropertyGraph(
    (0L to 11L).map(i => (i, Seq(i.toFloat))).toDF("id", "features"),
    (1L to 10L).map(i => (0L, i)).toDF("source", "target"))

  // self-loop on 2 and a parallel 3-4 edge: repeated neighbours
  private def loopy = PropertyGraph(
    Seq(1L, 2L, 3L, 4L, 5L).map(i => (i, Seq(i.toFloat))).toDF("id", "features"),
    Seq((1L, 2L), (2L, 2L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 5L)).toDF("source", "target"))

  // ring 0..5 with one chord
  private def ring = PropertyGraph(
    (0L to 5L).map(i => (i, Seq(i.toFloat))).toDF("id", "features"),
    ((0L to 5L).map(i => (i, (i + 1) % 6)) :+ ((0L, 3L))).toDF("source", "target"))

  // edges reach ids 7 and 8, which have no feature row; 4 is isolated
  private def edgeOnlyIds = PropertyGraph(
    (1L to 4L).map(i => (i, Seq(i.toFloat))).toDF("id", "features"),
    Seq((1L, 7L), (7L, 2L), (8L, 8L), (3L, 1L)).toDF("source", "target"))

  // nodes and no edges at all
  private def edgeless = PropertyGraph(
    (1L to 3L).map(i => (i, Seq(i.toFloat))).toDF("id", "features"),
    Seq.empty[(Long, Long)].toDF("source", "target"))

  test("uniformWalks: walks follow edges, have requested length, stop at isolated starts") {
    val walks = RandomWalk.uniformWalks(path, length = 5, nWalks = 1, seed = 3)
      .select("walk").as[Seq[Long]].collect()
    assert(walks.length === 5)
    val adj = Map(1L -> Set(2L), 2L -> Set(1L, 3L), 3L -> Set(2L, 4L), 4L -> Set(3L))
    walks.filter(_.head != 9L).foreach { w =>
      assert(w.length === 5)
      w.sliding(2).foreach { case Seq(a, b) => assert(adj(a).contains(b), s"$a->$b in $w") }
    }
    assert(walks.find(_.head == 9L).get === Seq(9L)) // isolated start: walk of 1
  }

  test("uniformWalks: nWalks per start, deterministic under seed") {
    val a = RandomWalk.uniformWalks(path, 4, 3, seed = 11)
      .orderBy("walk_id").select("walk").as[Seq[Long]].collect().toSeq
    val b = RandomWalk.uniformWalks(path, 4, 3, seed = 11)
      .orderBy("walk_id").select("walk").as[Seq[Long]].collect().toSeq
    assert(a.length === 15)
    assert(a === b)
  }

  test("negative sampling follows the degree^0.75 distribution (hub oversampled)") {
    // hub weight 10^.75≈5.6 of total ≈15.6 → hub ≈36% of table rows;
    // uniform would give 1/11
    val table = RandomWalk.negativeTable(star)
    val counts = table.groupBy("context").count()
      .as[(Long, Long)].collect().toMap
    val total = counts.values.sum.toDouble
    val hubShare = counts(0L) / total
    assert(hubShare > 0.25 && hubShare < 0.45, s"hub share $hubShare")
    // leaves all present with equal copies
    (1L to 10L).foreach(i => assert(counts.contains(i)))
    // isolated nodes never sampled under smoothing
    assert(!RandomWalk.negativeTable(withIsolated)
      .filter(col("context") === 11L).head(1).nonEmpty)
  }

  test("unsupervisedPairs: pos from walks, |neg| = |pos|, labels 1/0") {
    val pairs = RandomWalk.unsupervisedPairs(path, length = 3, nWalks = 2, seed = 21)
    val pos = pairs.filter(col("label") === 1)
    val neg = pairs.filter(col("label") === 0)
    assert(pos.count() === neg.count())
    // positive contexts really co-occur: all within 2 hops on the path
    // graph (walks may return to the start, so self is reachable)
    val within2 = Map(
      1L -> Set(2L, 3L, 1L), 2L -> Set(1L, 3L, 4L, 2L),
      3L -> Set(1L, 2L, 4L, 3L), 4L -> Set(2L, 3L, 4L))
    pos.select("target", "context").as[(Long, Long)].collect().foreach {
      case (t, c) => assert(within2(t).contains(c), s"pair $t-$c")
    }
  }

  test("localPairs: the in-memory sampler reproduces unsupervisedPairs row for row") {
    val graphs = Seq("path" -> path, "star" -> star, "withIsolated" -> withIsolated,
      "loopy" -> loopy)
    for ((name, g) <- graphs; ((length, nWalks), i) <- Seq((1, 1), (3, 2), (5, 1), (4, 3)).zipWithIndex) {
      val seed = 5L + i
      val expected = RandomWalk.unsupervisedPairs(g, length, nWalks, seed)
        .orderBy("target", "context", "label").as[(Long, Long, Int)].collect()
      val adjacency = g.adjacency().as[(Long, Array[Long])].collect().toMap
      val got = RandomWalk.localPairs(g.nodeIds.as[Long].collect(), adjacency,
        length, nWalks, seed)
      assert(got.toSeq === expected.toSeq, s"$name, length $length, nWalks $nWalks")
    }
  }

  test("localAdjacency: the in-memory builder equals adjacency() key for key, array for array") {
    val graphs = Seq("path" -> path, "star" -> star, "ring" -> ring, "loopy" -> loopy,
      "edgeOnlyIds" -> edgeOnlyIds, "withIsolated" -> withIsolated, "edgeless" -> edgeless)
    for ((name, g) <- graphs) {
      val expected = g.adjacency().as[(Long, Array[Long])].collect().toMap
      val got = PropertyGraph.localAdjacency(g.edges.as[(Long, Long)].collect())
      assert(got.keySet === expected.keySet, name)
      expected.foreach { case (id, nbrs) => assert(got(id).toSeq === nbrs.toSeq, s"$name, id $id") }
    }
    // the semantics themselves, spelled out on the edge cases
    val loops = PropertyGraph.localAdjacency(loopy.edges.as[(Long, Long)].collect())
    assert(loops(2L).toSeq === Seq(1L, 2L, 2L, 3L)) // a self-loop appears twice
    assert(loops(3L).toSeq === Seq(2L, 4L, 4L))     // parallel edges are kept
    val edgeOnly = PropertyGraph.localAdjacency(edgeOnlyIds.edges.as[(Long, Long)].collect())
    assert(edgeOnly.keySet === Set(1L, 2L, 3L, 7L, 8L)) // 7 and 8 in, isolated 4 out
    assert(PropertyGraph.localAdjacency(Iterator.empty).isEmpty)
  }
}
