package perfbench

import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.etl.MergePipeline

/** Test of [[GraphGen]]: one seed gives byte-identical stores (another
  * seed does not), merging each generated partition gives the node and
  * edge counts the generator promises, and a node present in both stores
  * keeps its localstore row. Exits non-zero on the first failure.
  *
  *   python3 perfbench/selftest.py
  */
object GenCheck {
  def main(argv: Array[String]): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("gencheck").toString
    val spec = GraphGen.Spec(nodes = 300, partShares = Seq(0.4, 0.3, 0.2, 0.1))
    def check(ok: Boolean, what: String): Unit =
      if (ok) println(s"ok   $what") else { println(s"FAIL $what"); sys.exit(1) }

    val expected = GraphGen.write(s"$dir/a", "5", spec, seed = 11)
    GraphGen.write(s"$dir/b", "5", spec, seed = 11)
    GraphGen.write(s"$dir/c", "5", spec, seed = 12)
    check(GraphGen.digest(s"$dir/a") == GraphGen.digest(s"$dir/b"), "same seed, byte-identical stores")
    check(GraphGen.digest(s"$dir/a") != GraphGen.digest(s"$dir/c"), "another seed, other stores")

    val spark = GraftSession.local(2, "perfbench-gencheck")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      expected.foreach { e =>
        val m = MergePipeline.merge(spark, s"$dir/a", s"$dir/a", "5", e.pid)
        val nodes = m.nodes.count()
        check(nodes == e.nodes && m.nodes.select("id").distinct().count() == nodes,
          s"partition ${e.pid}: $nodes merged nodes, all distinct, expected ${e.nodes}")
        check(m.edges.count() == e.edges, s"partition ${e.pid}: ${e.edges} merged edges")
      }

      // give a node of partition 0 a conflicting centralstore row: the
      // localstore row must win the merge
      val central = new java.io.File(s"$dir/a/5_centralstore_attributes_0")
      val lines = scala.io.Source.fromFile(central).getLines().toVector
      val local = expected.head.localIds.toSet
      val i = lines.indexWhere(l => local(l.takeWhile(_ != '\t').toLong))
      check(i >= 0, "partition 0 has a local node in its centralstore")
      val id = lines(i).takeWhile(_ != '\t').toLong
      val conflicting = (id.toString +: Seq.fill(spec.nFeatures)("0") :+ "class_x").mkString("\t")
      java.nio.file.Files.write(central.toPath, lines.updated(i, conflicting).mkString("", "\n", "\n").getBytes("UTF-8"))
      val merged = MergePipeline.merge(spark, s"$dir/a", s"$dir/a", "5", "0").nodes
        .filter(col("id") === id).select("features").collect()
      check(merged.length == 1 && merged.head.getSeq[Float](0).sum == spec.featuresPerNode,
        s"node $id keeps its localstore features")
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }
}
