package graft.ml

import java.security.MessageDigest

import graft.SparkSpec
import graft.graph.{PropertyGraph, RandomWalk}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Bundles must be BYTE-deterministic across runs: the trainer's seeded
  * epoch shuffle permutes the LOADED row order, so plan-internal order
  * drift (partition boundaries, aggregate iteration) would silently
  * change training dynamics — the round-5 nondeterminism bug
  * (tools/ProbeDeterminism measured same example set, different order,
  * different AUC per run). Canonical sorted writes pin it.
  */
class BundleDeterminismSpec extends SparkSpec {
  import spark.implicits._

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  // file bytes in part-file order — ORDER-sensitive, like BundleIO.load
  private def hashBundle(dir: String): Map[String, String] = {
    val base = new java.io.File(dir)
    base.listFiles().filter(_.isDirectory).map { sub =>
      val lines = sub.listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName)
        .flatMap(f => scala.io.Source.fromFile(f)("UTF-8").getLines().toVector)
      sub.getName -> md5(lines.mkString("\n"))
    }.toMap
  }

  // 80-node double ring (i -> i+1, i -> i+7 mod n): connected, degree 4,
  // survives the double split's keep-connected constraint
  private def fixtureGraph(): PropertyGraph = {
    val n = 80
    val rng = new scala.util.Random(7)
    val nodes = (0 until n).map(i => (i.toLong, Array.fill(12)(rng.nextFloat())))
      .toDF("id", "features")
    val edges = (0 until n).flatMap(i =>
      Seq((i.toLong, ((i + 1) % n).toLong), (i.toLong, ((i + 7) % n).toLong)))
      .toDF("source", "target")
    PropertyGraph(nodes, edges)
  }

  test("supervised bundle writes are byte-identical across runs") {
    val g = fixtureGraph()
    val hashes = (1 to 2).map { i =>
      val out = java.nio.file.Files.createTempDirectory(s"bdet$i").toString
      BundleIO.write(spark, out, "g", g)
      hashBundle(s"$out/g")
    }
    assert(hashes(0).keySet === Set("features", "adjacency", "train", "test"))
    hashes(0).foreach { case (sub, h) =>
      assert(hashes(1)(sub) === h, s"$sub bytes differ between runs")
    }
  }

  // two independent unsupervised writes of the fixture: (dir, ref)
  private lazy val unsupervisedRuns = (1 to 2).map { i =>
    val out = java.nio.file.Files.createTempDirectory(s"bdetu$i").toString
    out -> BundleIO.writeUnsupervised(spark, out, "g", fixtureGraph())
  }

  test("unsupervised bundle writes are byte-identical across runs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val hashes = unsupervisedRuns.map { case (out, _) =>
      val base = new Path(s"$out/g")
      val entries = base.getFileSystem(conf).listStatus(base).map(_.getPath.getName).toSet
      assert(entries === Set("features", "adjacency", "walk"))
      hashBundle(s"$out/g")
    }
    hashes(0).foreach { case (sub, h) =>
      assert(hashes(1)(sub) === h, s"$sub bytes differ between runs")
    }
  }

  test("unsupervised bundles load the Spark sampler's walk pairs as train and test") {
    val Seq(a, b) = unsupervisedRuns.map { case (_, ref) => BundleIO.load(ref) }
    assert(a.trainExamples.toSeq === b.trainExamples.toSeq)
    assert(a.trainExamples eq a.testExamples)
    val expected = RandomWalk.unsupervisedPairs(fixtureGraph(),
        SageHyperParams.unsupervisedWalkLength, SageHyperParams.unsupervisedNumWalks, 42L)
      .orderBy("target", "context", "label").as[(Long, Long, Int)].collect().toSeq
    assert(a.trainExamples.toSeq === expected)
    // a ref built by hand (no carried Hadoop conf) loads the same pairs
    val byHand = BundleIO.load(BundleIO.BundleRef("g", unsupervisedRuns.head._1, 12))
    assert(byHand.trainExamples.toSeq === expected)
  }

  test("a supervised write over an unsupervised bundle loads as supervised") {
    val out = java.nio.file.Files.createTempDirectory("bdetx").toString
    BundleIO.writeUnsupervised(spark, out, "g", fixtureGraph())
    val b = BundleIO.load(BundleIO.write(spark, out, "g", fixtureGraph()))
    val base = new Path(s"$out/g")
    val entries = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(base).map(_.getPath.getName).toSet
    assert(entries === Set("features", "adjacency", "train", "test"))
    assert(b.trainExamples.nonEmpty && b.testExamples.nonEmpty)
    assert(!(b.trainExamples eq b.testExamples))
  }
}
