package graft.ml

import graft.SparkSpec
import graft.sources.GraphIO
import org.apache.spark.sql.functions._

/** End-to-end nograd producer on the CORA fixtures
  * (distributed_nograd.py:19-34 → concat_embeddings.py:12-28): trains
  * per-partition unsupervised models on walk pairs, writes per-partition
  * embedding CSVs, and the concat job dedups shared (cut-edge) nodes.
  * Hyperparameters are a scaled-down profile of the reference's
  * [256,256]/[25,10] so the spec runs in seconds; the full profile is
  * `SageHyperParams.unsupervised` (same code path, bigger matrices).
  */
class UnsupervisedPipelineSpec extends SparkSpec {

  private val hp = SageHyperParams(numSamples = (5, 5), layerSizes = (16, 16),
    batchSize = 16, learningRate = 1e-3, dropout = 0.0)

  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("nograd").toString

  private lazy val result = {
    val parts = Seq("0", "1").map { pid =>
      val m = graft.etl.MergePipeline.merge(
        spark, "/root/reference/data", "/root/reference/data", "4", pid)
      pid -> graft.graph.PropertyGraph(m.nodes, m.edges).cache()
    }
    val out = UnsupervisedPipeline.run(spark, parts, "4", epochs = 1, outDir, hp)
    parts.foreach(_._2.unpersist())
    out
  }

  test("concat output: one row per distinct node across both partitions") {
    val n = result.count()
    val distinctIds = result.select("id").distinct().count()
    assert(n === distinctIds, "duplicate node ids after concat dedup")
    // p0 has 1451 nodes, p1 1431; cut-edge nodes overlap -> union < sum
    assert(n > 1451 && n < 1451 + 1431, s"unexpected node union size $n")
  }

  test("per-partition artifact: embeddings_nograd_4_0.csv with dim columns") {
    result.count() // materialize the lazy pipeline
    val p0 = GraphIO.readEmbeddingsCsv(spark,
      s"$outDir/embeddings_nograd_4_0.csv", dim = hp.layerSizes._2)
    assert(p0.count() === 1451)
    val v = p0.select("embedding").head().getSeq[Float](0)
    assert(v.length === hp.layerSizes._2)
  }

  test("concatenated CSV artifact reads back with the expected shape (S8)") {
    result.count()
    val all = GraphIO.readEmbeddingsCsv(spark,
      s"$outDir/embeddings_nograd_4.csv", dim = hp.layerSizes._2)
    assert(all.count() === result.count())
    // embeddings are encoder outputs: L2-normalized, non-degenerate
    val norm = all.select(graft.functions.GraftFunctions.l2Norm(col("embedding")).as("n"))
      .agg(min("n"), max("n")).head()
    assert(math.abs(norm.getDouble(0) - 1.0) < 1e-3)
    assert(math.abs(norm.getDouble(1) - 1.0) < 1e-3)
  }

  test("federated unsupervised: A2 rounds train, final encoder is shared by all clients") {
    val fedDir = java.nio.file.Files.createTempDirectory("fed-unsup").toString
    val parts = Seq("0", "1").map { pid =>
      val m = graft.etl.MergePipeline.merge(
        spark, "/root/reference/data", "/root/reference/data", "4", pid)
      pid -> graft.graph.PropertyGraph(m.nodes, m.edges).cache()
    }
    val (fedRes, emb) = UnsupervisedPipeline.runFederated(
      spark, parts, "4", rounds = 2, epochs = 1, fedDir, hp)
    parts.foreach(_._2.unpersist())
    assert(fedRes.history.map(_.round) === Seq(1, 2))
    // A2 rounds actually averaged: per-round checkpoints exist and differ
    val w1 = graft.sources.WeightsIO.load(spark, s"$fedDir/weights/weights_graphID_4_V1")
    val w2 = graft.sources.WeightsIO.load(spark, s"$fedDir/weights/weights_graphID_4_V2")
    assert(w1.flatMap(_.values.toSeq) !== w2.flatMap(_.values.toSeq))
    // per-partition artifacts exist with the S8 layout; concat dedups
    // shared cut-edge nodes (each client embeds them under its own local
    // neighborhood — the dedup is WHY concat_embeddings.py exists)
    val p0 = GraphIO.readEmbeddingsCsv(spark,
      s"$fedDir/embeddings_fed_4_0.csv", hp.layerSizes._2)
    val p1 = GraphIO.readEmbeddingsCsv(spark,
      s"$fedDir/embeddings_fed_4_1.csv", hp.layerSizes._2)
    assert(p0.count() === 1451 && p1.count() === 1431)
    assert(emb.count() === emb.select("id").distinct().count())
    assert(emb.count() < p0.count() + p1.count()) // overlap deduped
  }

  test("shared nodes keep the FIRST partition's embedding (concat priority)") {
    result.count()
    val p0 = GraphIO.readEmbeddingsCsv(spark,
      s"$outDir/embeddings_nograd_4_0.csv", hp.layerSizes._2)
      .withColumnRenamed("embedding", "e0")
    val shared = result.join(p0, Seq("id"))
    // every node present in p0 must carry exactly p0's vector
    val mismatches = shared.filter(col("embedding") =!= col("e0")).count()
    assert(mismatches === 0L)
  }
}
