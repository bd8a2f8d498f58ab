package graft.ml

import java.security.MessageDigest

import graft.SparkSpec
import graft.graph.{EdgeSplitter, PropertyGraph, RandomWalk}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Bundles must be BYTE-deterministic across runs: the trainer's seeded
  * epoch shuffle permutes the LOADED row order, so plan-internal order
  * drift (partition boundaries, aggregate iteration) would silently
  * change training dynamics — the round-5 nondeterminism bug
  * (tools/ProbeDeterminism measured same example set, different order,
  * different AUC per run). Sorted writes pin it: each sub-table is one
  * sorted part file.
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

  // the names in a bundle directory
  private def entries(base: String): Set[String] = {
    val p = new Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).toSet
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
    assert(hashes(0).keySet === Set("features", "edges", "train", "test"))
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
    val hashes = unsupervisedRuns.map { case (out, _) =>
      assert(entries(s"$out/g") === Set("features", "edges", "walk"))
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

  test("every sub-table is one part file, whatever the session's shuffle partitions") {
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), "16")
    spark.conf.set(keys(1), "false")
    try {
      // a merged graph arrives in the merge's shuffle partitioning
      val g = fixtureGraph()
      val shuffled = PropertyGraph(g.nodes.repartition(col("id")), g.edges.repartition(col("source")))
      assert(shuffled.nodes.rdd.getNumPartitions === 16)
      val out = java.nio.file.Files.createTempDirectory("bdetp").toString
      BundleIO.write(spark, out, "s", shuffled)
      BundleIO.writeUnsupervised(spark, out, "u", shuffled)
      for ((name, subs) <- Seq("s" -> Seq("features", "edges", "train", "test"), "u" -> Seq("features", "edges"));
           sub <- subs) {
        val parts = new java.io.File(s"$out/$name/$sub").listFiles().count(_.getName.startsWith("part-"))
        assert(parts === 1, s"$name/$sub has $parts part files")
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a supervised write over an unsupervised bundle loads as supervised") {
    val out = java.nio.file.Files.createTempDirectory("bdetx").toString
    BundleIO.writeUnsupervised(spark, out, "g", fixtureGraph())
    val b = BundleIO.load(BundleIO.write(spark, out, "g", fixtureGraph()))
    assert(entries(s"$out/g") === Set("features", "edges", "train", "test"))
    assert(b.trainExamples.nonEmpty && b.testExamples.nonEmpty)
    assert(!(b.trainExamples eq b.testExamples))
  }

  private def collectAdjacency(g: PropertyGraph): Map[Long, Seq[Long]] =
    g.adjacency().as[(Long, Array[Long])].collect().map { case (id, n) => id -> n.toSeq }.toMap

  private def assertLoaded(b: PartitionBundle, g: PropertyGraph, sampled: PropertyGraph): Unit = {
    assert(b.adjacency.map { case (id, n) => id -> n.toSeq } === collectAdjacency(sampled))
    val features = g.nodes.as[(Long, Array[Float])].collect()
    assert(b.features.keySet === features.map(_._1).toSet)
    features.foreach { case (id, f) => assert(b.features(id).toSeq === f.toSeq, s"features of $id") }
  }

  test("supervised bundles load the train residual's adjacency the DataFrame pipeline builds") {
    val g = fixtureGraph()
    val out = java.nio.file.Files.createTempDirectory("bdeta").toString
    val b = BundleIO.load(BundleIO.write(spark, out, "g", g))
    // write's double split, seeds 42 then 43
    val residual = EdgeSplitter.trainTestSplit(
      EdgeSplitter.trainTestSplit(g, 0.1, 42L).residual, 0.1, 43L).residual
    assertLoaded(b, g, residual)
    // the split removed edges, so the residual's adjacency is the smaller one
    assert(b.adjacency.values.map(_.length).sum < collectAdjacency(g).values.map(_.length).sum)
  }

  test("unsupervised bundles load the full graph's adjacency the DataFrame pipeline builds") {
    val b = BundleIO.load(unsupervisedRuns.head._2)
    assertLoaded(b, fixtureGraph(), fixtureGraph())
  }

  test("writes delete a stale adjacency; a missing or malformed edges table fails naming the bundle") {
    val out = java.nio.file.Files.createTempDirectory("bdets").toString
    val base = s"$out/g"
    val stale = new java.io.File(s"$base/adjacency")
    BundleIO.writeUnsupervised(spark, out, "g", fixtureGraph())
    assert(stale.mkdir())
    BundleIO.writeUnsupervised(spark, out, "g", fixtureGraph())
    assert(entries(base) === Set("features", "edges", "walk"))
    assert(stale.mkdir())
    val ref = BundleIO.write(spark, out, "g", fixtureGraph())
    assert(entries(base) === Set("features", "edges", "train", "test"))

    // an old-layout bundle: adjacency/ and no edges/
    val edges = new java.io.File(s"$base/edges")
    val saved = new java.io.File(s"$out/edges.saved")
    assert(edges.renameTo(saved) && stale.mkdir())
    val missing = intercept[IllegalArgumentException](BundleIO.load(ref))
    assert(missing.getMessage.contains(base) && missing.getMessage.contains("`edges`"),
      missing.getMessage)

    assert(saved.renameTo(edges))
    // through Hadoop FS, which rewrites the part file's checksum too
    val part = new Path(edges.listFiles().filter(_.getName.startsWith("part-")).head.toURI)
    val os = part.getFileSystem(spark.sparkContext.hadoopConfiguration).create(part, true)
    try os.write("1 2\n3 4 5\n".getBytes("UTF-8")) finally os.close()
    val malformed = intercept[IllegalArgumentException](BundleIO.load(ref))
    assert(malformed.getMessage.contains(base) && malformed.getMessage.contains("3 4 5"),
      malformed.getMessage)
  }
}
