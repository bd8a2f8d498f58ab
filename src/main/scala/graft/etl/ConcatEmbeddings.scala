package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.GraphIO
import graft.util.SerializableHadoopConf

/** concat_embeddings.py:12-28 parity: concatenate the per-partition
  * embedding CSVs in partition order and keep the FIRST occurrence of
  * each node id (`~index.duplicated(keep='first')`): nodes replicated
  * across partitions via cut-edges appear once, lower partition id wins,
  * and the rows keep that first-occurrence order.
  *
  * Execution shape: one one-task Spark job streams the P input files
  * through Hadoop FS with a seen-id set and copies each kept line
  * verbatim — no shuffle, no float parsing, nothing through the driver.
  * The output is committed like the per-partition files
  * (`GraphIO.writeFromTask`). Memory is one id set; a partition-scale
  * concat, as in the reference.
  */
object ConcatEmbeddings {

  /** Read `embeddings_{tag}_{gid}_{pid}.csv` for each partition, in the
    * order given, and write `embeddings_{tag}_{gid}.csv`
    * (concat_embeddings.py:25-28).
    * @return a lazy scan of the output file, `(id, embedding)`
    */
  def run(spark: SparkSession, dir: String, tag: String, graphId: String,
          partitionIds: Seq[String], dim: Int): DataFrame = {
    val inputs = partitionIds.map(pid => s"$dir/embeddings_${tag}_${graphId}_$pid.csv")
    val output = s"$dir/embeddings_${tag}_$graphId.csv"
    val conf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    spark.sparkContext.parallelize(Seq(output), 1).foreach { out =>
      GraphIO.writeFromTask(out, conf.value) { w =>
        w.write(GraphIO.embeddingsHeader(dim))
        w.write("\n")
        val seen = scala.collection.mutable.HashSet.empty[Long]
        inputs.foreach { in =>
          val p = new Path(in)
          val r = new java.io.BufferedReader(new java.io.InputStreamReader(
            p.getFileSystem(conf.value).open(p), "UTF-8"), 1 << 16)
          try {
            r.readLine() // header
            var line = r.readLine()
            while (line != null) {
              if (line.nonEmpty && seen.add(line.takeWhile(_ != ',').toLong)) {
                w.write(line)
                w.write("\n")
              }
              line = r.readLine()
            }
          } finally r.close()
        }
      }
    }
    GraphIO.readEmbeddingsCsv(spark, output, dim)
  }
}
