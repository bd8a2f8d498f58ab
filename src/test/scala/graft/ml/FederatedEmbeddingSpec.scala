package graft.ml

import java.nio.file.{Files, Paths}

import graft.{SparkJobs, SparkSpec}
import graft.etl.{ConcatEmbeddings, ConcatEmbeddingsOracle}
import graft.graph.PropertyGraph
import graft.sources.GraphIO
import org.apache.spark.sql.DataFrame

/** `UnsupervisedPipeline.runFederated` end to end on a synthetic
  * two-partition graph whose partitions share their cut-edge nodes, as
  * merge.py's output does: the emission in the federation's final pass,
  * the streaming concat and the session's Spark job count.
  */
class FederatedEmbeddingSpec extends SparkSpec {
  import spark.implicits._

  private val hp = SageHyperParams(numSamples = (5, 5), layerSizes = (16, 16),
    batchSize = 16, learningRate = 1e-3, dropout = 0.0)
  private val dim = hp.layerSizes._2
  private val graphId = "9"

  // partition 0 holds nodes 40..89, partition 1 nodes 0..39, each as a
  // double ring (i -> i+1, i -> i+7); cut edges (i, 40+i) for i < 5 put
  // both endpoints into both partitions, features and all. Partition 0
  // holding the higher ids makes first-occurrence order differ from id
  // order. The frames come from RDDs, like merged graphs, not local
  // relations that Spark answers without a job.
  private val shared = ((0L until 5L) ++ (40L until 45L)).toSet
  private def features(id: Long): Array[Float] = {
    val rng = new scala.util.Random(id)
    Array.fill(12)(rng.nextFloat())
  }
  private def partition(lo: Int, n: Int): PropertyGraph = {
    val ring = (0 until n).flatMap(i =>
      Seq((lo + i).toLong -> (lo + (i + 1) % n).toLong, (lo + i).toLong -> (lo + (i + 7) % n).toLong))
    val cut = (0 until 5).map(i => i.toLong -> (40 + i).toLong)
    val ids = ((lo until lo + n).map(_.toLong) ++ shared).distinct
    val sc = spark.sparkContext
    PropertyGraph(sc.parallelize(ids.map(id => (id, features(id))), 2).toDF("id", "features"),
      sc.parallelize(ring ++ cut, 2).toDF("source", "target"))
  }
  private lazy val parts = Seq("0" -> partition(40, 50), "1" -> partition(0, 40))

  private def runFederated(dir: String): (graft.fed.Federation.Result, DataFrame) =
    UnsupervisedPipeline.runFederated(spark, parts, graphId, rounds = 2, epochs = 1, dir, hp,
      logger = graft.sources.GraftLogger(s"$dir/session.log"))

  private lazy val dirs = (1 to 2).map(i => Files.createTempDirectory(s"fedemb$i").toString)
  private lazy val (first, firstJobs) = SparkJobs.count(spark)(runFederated(dirs(0)))
  private lazy val second = runFederated(dirs(1))
  private lazy val rows = first._2.as[(Long, Seq[Float])].collect()

  private def csv(dir: String, pid: String): Seq[(Long, Seq[Float])] =
    GraphIO.readEmbeddingsCsv(spark, s"$dir/embeddings_fed_${graphId}_$pid.csv", dim)
      .as[(Long, Seq[Float])].collect().toSeq

  test("one unit-norm row per distinct id; shared ids carry partition 0's vector") {
    val ids = rows.map(_._1)
    assert(ids.length === ids.distinct.length, "duplicate ids after concat")
    assert(ids.toSet === (0L until 90L).toSet)
    rows.foreach { case (id, v) =>
      assert(v.length === dim)
      assert(math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1.0) < 1e-3, s"row $id is not unit-norm")
    }
    val p0 = csv(dirs(0), "0").toMap
    val p1 = csv(dirs(0), "1").toMap
    assert(shared.subsetOf(p0.keySet) && shared.subsetOf(p1.keySet))
    // each client embeds a shared node under its own neighbourhood
    assert(shared.exists(id => p0(id) != p1(id)))
    val byId = rows.toMap
    shared.foreach(id => assert(byId(id) === p0(id), s"shared id $id"))
  }

  test("the concat file keeps pandas' first-occurrence order") {
    val lines = scala.io.Source.fromFile(s"${dirs(0)}/embeddings_fed_$graphId.csv", "UTF-8")
    val ids = try lines.getLines().drop(1).map(_.takeWhile(_ != ',').toLong).toVector
      finally lines.close()
    val p0 = csv(dirs(0), "0").map(_._1)
    val p1 = csv(dirs(0), "1").map(_._1)
    assert(ids === (p0 ++ p1.filterNot(p0.toSet)))
  }

  test("two runs give bit-identical final metrics and concat file") {
    val Seq(a, b) = Seq(first._1, second._1).map(_.finalMetrics.toMap)
    assert(a.keySet === b.keySet && a.size === 2)
    a.foreach { case (client, m) =>
      // an unsupervised bundle's pairs are both train and test
      assert(m("test_auc") === m("train_auc"))
      assert(java.lang.Double.doubleToRawLongBits(m("test_auc")) ===
        java.lang.Double.doubleToRawLongBits(b(client)("test_auc")))
    }
    val Seq(fa, fb) = dirs.map(d => Files.readAllBytes(Paths.get(s"$d/embeddings_fed_$graphId.csv")).toSeq)
    assert(fa === fb)
  }

  test("the streaming concat equals the DataFrame oracle on inputs with duplicate ids") {
    first
    val dir = Files.createTempDirectory("concat").toString
    Seq("0", "1").foreach { pid =>
      Files.copy(Paths.get(s"${dirs(0)}/embeddings_fed_${graphId}_$pid.csv"),
        Paths.get(s"$dir/embeddings_x_${graphId}_$pid.csv"))
    }
    // both partition orders: the first partition listed wins each shared id
    def read(pid: String) =
      GraphIO.readEmbeddingsCsv(spark, s"$dir/embeddings_x_${graphId}_$pid.csv", dim)
    Seq(Seq("0", "1"), Seq("1", "0")).foreach { order =>
      val streamed = ConcatEmbeddings.run(spark, dir, "x", graphId, order, dim)
        .as[(Long, Seq[Float])].collect()
      val oracle = ConcatEmbeddingsOracle.concat(order.map(read))
        .as[(Long, Seq[Float])].collect()
      assert(streamed.length === oracle.length)
      assert(streamed.toSet === oracle.toSet, s"partition order $order")
      val head = read(order.head).as[(Long, Seq[Float])].collect().toMap
      val byId = streamed.toMap
      shared.foreach(id => assert(byId(id) === head(id), s"order $order, shared id $id"))
    }
  }

  test("one runFederated call runs 10 Spark jobs") {
    // 4 bundle-write jobs (one each for a partition's features and
    // edges); in each of the 2 rounds 1 collect, whose pass also loads
    // the clients in round 1, + 1 checkpoint job; 1 final pass, which
    // also writes the embeddings; 1 concat. It was 20 while each bundle
    // write sorted its features and adjacency globally (7 jobs a
    // partition), 23 while the clients were loaded in a count job of
    // their own and each checkpoint shuffled to one partition in a
    // second job, and 28 while
    // each bundle write ran a feature-width job, each client was loaded
    // again in a job of its own to emit, and the concat ran as 2
    // DataFrame jobs.
    first
    assert(firstJobs === 10, s"runFederated ran $firstJobs Spark jobs")
  }
}
