package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded generator of raw graph stores in the layout `merge.py` (and
  * `graft.etl.MergePipeline`) reads, per partition `p` of graph `gid`:
  *
  *  - `{gid}_{p}`                          localstore edges, `src\tdst`
  *  - `{gid}_attributes_{p}`               `id f1 … fF label`, one node a line
  *  - `{gid}_centralstore_{p}`             cut edges touching `p`
  *  - `{gid}_centralstore_attributes_{p}`  both endpoints of those cut
  *    edges — so every local endpoint appears in both stores and the
  *    merge's localstore-wins rule decides which row survives.
  *
  * The graph has CORA's shape: `communities` classes, average degree
  * `avgDegree`, `featuresPerNode` of `nFeatures` binary features a node.
  * Every node draws `avgDegree / 2` partners, so no node is left with
  * fewer than that many edges (edge splits need few bridges). The graph
  * is homophilous (a partner is from the node's own community with
  * probability `homophily`) and features come mostly from a
  * `communityVocab`-wide per-community vocabulary, so link prediction
  * has signal to learn.
  * Nodes are cut into partitions of unequal size along community order,
  * so most edges stay local and the rest go to the centralstores.
  */
object GraphGen {

  final case class Spec(nodes: Int, partShares: Seq[Double], communities: Int = 7,
                        avgDegree: Double = 4.0, featuresPerNode: Int = 18,
                        nFeatures: Int = 1433, homophily: Double = 0.9,
                        vocabShare: Double = 0.9, communityVocab: Int = 60) {
    require(partShares.nonEmpty && partShares.forall(_ > 0))
  }

  /** What merging partition `pid` must yield: distinct node ids and
    * edge rows (local + cut edges; merge keeps duplicates).
    */
  final case class Expected(pid: String, nodes: Long, edges: Long, localIds: Array[Long])

  final case class Graph(ids: Array[Long], community: Array[Int], part: Array[Int],
                         features: Array[Array[Int]], edges: Array[(Int, Int)])

  def generate(spec: Spec, seed: Long): Graph = {
    val rng = new SplittableRandom(seed)
    val n = spec.nodes
    // ids: a seeded permutation of 1..n, so id order says nothing about
    // community or partition
    val ids = (1L to n.toLong).toArray
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    val community = Array.fill(n)(rng.nextInt(spec.communities))
    val members = (0 until spec.communities).map(c => community.indices.filter(community(_) == c).toArray)

    // partitions: contiguous runs of the community-sorted order
    val tiebreak = Array.fill(n)(rng.nextLong())
    val order = community.indices.sortBy(v => (community(v), tiebreak(v)))
    val part = new Array[Int](n)
    val total = spec.partShares.sum
    val bounds = spec.partShares.scanLeft(0.0)(_ + _).tail.map(s => math.round(s / total * n).toInt)
    var p = 0
    order.zipWithIndex.foreach { case (v, k) =>
      while (k >= bounds(p)) p += 1
      part(v) = p
    }

    val block = spec.nFeatures / spec.communities
    val features = Array.tabulate(n) { v =>
      val chosen = scala.collection.mutable.TreeSet.empty[Int]
      while (chosen.size < spec.featuresPerNode) {
        chosen += (if (rng.nextDouble() < spec.vocabShare)
          community(v) * block + rng.nextInt(math.min(block, spec.communityVocab))
        else rng.nextInt(spec.nFeatures))
      }
      chosen.toArray
    }

    val seen = scala.collection.mutable.HashSet.empty[Long]
    val edges = Array.newBuilder[(Int, Int)]
    for (u <- 0 until n; _ <- 0 until math.max(1, math.round(spec.avgDegree / 2).toInt)) {
      val own = members(community(u))
      var added = false
      while (!added) {
        val v = if (rng.nextDouble() < spec.homophily) own(rng.nextInt(own.length)) else rng.nextInt(n)
        added = u != v && seen.add(math.min(u, v).toLong * n + math.max(u, v))
        if (added) edges += ((u, v))
      }
    }
    Graph(ids, community, part, features, edges.result())
  }

  /** Write every partition's stores under `dir`; returns the counts a
    * merge of each partition must produce.
    */
  def write(dir: String, graphId: String, spec: Spec, seed: Long): Seq[Expected] = {
    val g = generate(spec, seed)
    new File(dir).mkdirs()
    spec.partShares.indices.map { p =>
      val local = g.ids.indices.filter(g.part(_) == p)
      val localEdges = g.edges.filter { case (u, v) => g.part(u) == p && g.part(v) == p }
      val cutEdges = g.edges.filter { case (u, v) =>
        g.part(u) != g.part(v) && (g.part(u) == p || g.part(v) == p)
      }
      val central = cutEdges.flatMap { case (u, v) => Seq(u, v) }.distinct.sortBy(g.ids(_))
      writeLines(s"$dir/${graphId}_$p", localEdges.iterator.map { case (u, v) => s"${g.ids(u)}\t${g.ids(v)}" })
      writeLines(s"$dir/${graphId}_centralstore_$p",
        cutEdges.iterator.map { case (u, v) => s"${g.ids(u)}\t${g.ids(v)}" })
      writeLines(s"$dir/${graphId}_attributes_$p", local.sortBy(g.ids(_)).iterator.map(attrLine(g, spec, _)))
      writeLines(s"$dir/${graphId}_centralstore_attributes_$p", central.iterator.map(attrLine(g, spec, _)))
      val nodes = (local ++ central).distinct.size
      Expected(p.toString, nodes.toLong, (localEdges.length + cutEdges.length).toLong,
        local.map(g.ids(_)).toArray)
    }
  }

  private def attrLine(g: Graph, spec: Spec, v: Int): String = {
    val sb = new java.lang.StringBuilder(spec.nFeatures * 2 + 24)
    sb.append(g.ids(v))
    val f = g.features(v)
    var k = 0; var c = 0
    while (c < spec.nFeatures) {
      val on = k < f.length && f(k) == c
      if (on) k += 1
      sb.append('\t').append(if (on) '1' else '0')
      c += 1
    }
    sb.append('\t').append("class_").append(g.community(v)).toString
  }

  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => out.write(l); out.write('\n') } finally out.close()
  }

  /** SHA-256 over every file under `dir` (names and bytes, name order). */
  def digest(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Option(new File(dir).listFiles).getOrElse(Array.empty).filter(_.isFile).sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes(StandardCharsets.UTF_8))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
