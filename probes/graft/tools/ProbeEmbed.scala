package graft.tools

import java.nio.file.Files

import graft.etl.MergePipeline
import graft.graph.PropertyGraph
import graft.ml.{BundleIO, SageHyperParams, SageLinkModel}

/** Phase-level timing of the unsupervised embedding pipeline on the
  * reference's CORA fixture — separates walk-bundle ETL, per-partition
  * training, and embedding inference so optimization effort lands on
  * the real hotspot (cited from PARITY.md's embed wall-clock).
  */
object ProbeEmbed {
  def main(args: Array[String]): Unit = {
    val storeDir = args.lift(0).getOrElse("/root/reference/data")
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, app = "probe-embed")
    spark.sparkContext.setLogLevel("WARN")
    val work = Files.createTempDirectory("probe-embed").toString
    val hp = SageHyperParams.unsupervised
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe-embed] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    try {
      val parts = Seq("0", "1").map { pid =>
        val m = MergePipeline.merge(spark, storeDir, storeDir, "4", pid)
        pid -> PropertyGraph(m.nodes, m.edges).cache()
      }
      val refs = time("walk bundles (concurrent)") {
        graft.util.Par.mapAll(parts) { case (pid, g) =>
          pid -> BundleIO.writeUnsupervised(spark, s"$work/bundles",
            s"probe_$pid", g,
            SageHyperParams.unsupervisedWalkLength,
            SageHyperParams.unsupervisedNumWalks, hp.seed)
        }
      }
      refs.foreach { case (pid, ref) =>
        val model = time(s"p$pid load") { SageLinkModel.fromRef(ref, hp) }
        time(s"p$pid init+fit(2) over ${model.numExamples} examples") {
          model.initialize(); model.fit(2)
        }
        val emb = time(s"p$pid genEmbeddings(${model.nodeIds.length})") {
          model.genEmbeddings(model.nodeIds)
        }
        println(s"[probe-embed] p$pid emb rows: ${emb.length}")
      }
    } finally spark.stop()
  }
}
