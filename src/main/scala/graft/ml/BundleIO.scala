package graft.ml

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{EdgeSplitter, PropertyGraph}

/** Storage-backed partition bundles: the driver never materializes a
  * partition's data.
  *
  * `write` runs the double edge split and DISTRIBUTED Spark text writes
  * of features / adjacency / train / test under `dir/name/`;
  * `writeUnsupervised` writes features / adjacency plus the walk spec,
  * and the client samples its pair corpus when it loads. The only thing
  * that returns to the driver is a `BundleRef` (paths + feature count).
  * `load` runs INSIDE an executor task (plain Hadoop FS reads, no
  * SparkSession) and builds the in-memory `PartitionBundle` the trainer
  * owns — the same topology as the reference, where each client process
  * reads its own partition's CSVs locally (fl_client.py:194-208).
  *
  * Scale: each sub-table is a partitioned text directory (no
  * coalesce-to-1); a bundle is one graph PARTITION, sized to fit one
  * task by the system's own admission model (mem.py), so the task-side
  * load is bounded by design. Works on any Hadoop-compatible FS (local,
  * HDFS, S3A) — on a 1000-executor cluster the loads are data-local
  * reads with zero driver involvement.
  */
object BundleIO {

  /** Everything the driver holds for one partition. Carries the
    * session's Hadoop conf (serializable wrapper) so the TASK-side
    * `load` resolves the bundle paths with the driver's `spark.hadoop.*`
    * settings — credentials, defaultFS — instead of a blank
    * `Configuration`; `null` (probe tooling) falls back to the blank
    * conf, which is correct only on a plain local FS.
    */
  final case class BundleRef(name: String, dir: String, numFeatures: Int,
                             hconf: graft.util.SerializableHadoopConf = null)
      extends Serializable {
    override def toString: String = name
    def hadoopConf: Configuration =
      if (hconf == null) new Configuration() else hconf.value
  }

  /** Split + persist one partition's training bundle; returns its ref.
    * Layout: `dir/name/{features,adjacency,train,test}/part-*` —
    * space-separated text: `id f…` / `id nbr…` / `src dst label`.
    * The double split holds out 10% of edges as test, then 10% of the
    * residual as train examples (the reference's two
    * `EdgeSplitter.train_test_split(p=0.1)` calls).
    */
  def write(spark: SparkSession, dir: String, name: String, g: PropertyGraph,
            seed: Long = 42L): BundleRef = {
    val testSplit = EdgeSplitter.trainTestSplit(g, 0.1, seed)
    val trainSplit = EdgeSplitter.trainTestSplit(testSplit.residual, 0.1, seed + 1)
    val base = s"$dir/$name"
    delete(base, Seq(WalkFile), spark.sparkContext.hadoopConfiguration)
    // Every sub-table is written in CANONICAL (sorted) order: the
    // split's example SET is seeded-deterministic, but its row order
    // reflects plan internals (partition boundaries, aggregate
    // iteration) that shift between runs — and the trainer's seeded
    // epoch shuffle permutes the LOADED order, so an order change is a
    // training-dynamics change (measured: same example set, different
    // AUC run to run). A global sort pins it; range-partitioned sorted
    // part files concatenate to the total order however the partition
    // boundaries fall, at the cost of one bounded ETL-time shuffle.
    writeGraph(g.nodes, trainSplit.residual.adjacency(), base)
    writeLines(trainSplit.examples.orderBy("source", "target", "label"),
      s"$base/train", col("source"), col("target"), col("label"))
    writeLines(testSplit.examples.orderBy("source", "target", "label"),
      s"$base/test", col("source"), col("target"), col("label"))
    bundleRef(spark, dir, name)
  }

  /** Unsupervised bundle (distributed_nograd.py:19-34 shape): NO edge
    * split — the full graph's adjacency is the sampling structure.
    * Layout: `dir/name/{features,adjacency}/part-*` plus `walk`, one
    * line `length nWalks seed`. The walk-co-occurrence pair corpus is
    * not stored: `load` samples it from the loaded adjacency
    * (`RandomWalk.localPairs`, row for row the pairs
    * `RandomWalk.unsupervisedPairs` draws), as each reference client
    * runs `UnsupervisedSampler` over its own partition
    * (models/unsupervised.py:43-46).
    */
  def writeUnsupervised(spark: SparkSession, dir: String, name: String,
                        g: PropertyGraph,
                        walkLength: Int = SageHyperParams.unsupervisedWalkLength,
                        nWalks: Int = SageHyperParams.unsupervisedNumWalks,
                        seed: Long = 42L): BundleRef = {
    val base = s"$dir/$name"
    val conf = spark.sparkContext.hadoopConfiguration
    delete(base, Seq("train", "test"), conf)
    // canonical (sorted) order throughout — see `write`: the loaded
    // row order feeds the trainer's seeded shuffle, so plan-internal
    // order drift is a training-dynamics change
    writeGraph(g.nodes, g.adjacency(), base)
    val walk = new Path(s"$base/$WalkFile")
    val out = walk.getFileSystem(conf).create(walk, true)
    try out.write(s"$walkLength $nWalks $seed\n".getBytes("UTF-8"))
    finally out.close()
    bundleRef(spark, dir, name)
  }

  /** The walk spec file of an unsupervised bundle. */
  private val WalkFile = "walk"

  /** Delete the other bundle kind's entries an earlier write under the
    * same name left behind: `load` tells the kinds apart by the walk
    * file, so a stale one would turn a supervised bundle unsupervised.
    */
  private def delete(base: String, entries: Seq[String], conf: Configuration): Unit =
    entries.foreach { e =>
      val p = new Path(s"$base/$e")
      p.getFileSystem(conf).delete(p, true)
    }

  /** The `features` and `adjacency` sub-tables both bundle kinds
    * share, sorted by id.
    */
  private def writeGraph(nodes: DataFrame, adjacency: DataFrame, base: String): Unit = {
    writeLines(nodes.orderBy("id"), s"$base/features",
      col("id"), col("features").cast("array<string>"))
    writeLines(adjacency.orderBy("id"), s"$base/adjacency",
      col("id"), col("neighbors").cast("array<string>"))
  }

  /** One sub-table as space-separated text lines, overwriting `path`. */
  private def writeLines(df: DataFrame, path: String, cols: Column*): Unit =
    df.select(concat_ws(" ", cols: _*)).write.mode("overwrite").text(path)

  /** The driver's handle on a written bundle: its feature width, read
    * off the first line of the `features` sub-table just written (Hadoop
    * FS, no Spark job; 0 for an empty graph), and the session's Hadoop
    * conf.
    */
  private def bundleRef(spark: SparkSession, dir: String, name: String): BundleRef = {
    val conf = spark.sparkContext.hadoopConfiguration
    val (fs, parts) = partFiles(s"$dir/$name/features", conf)
    val nF = parts.iterator.flatMap(firstLine(fs, _)).nextOption()
      .fold(0)(_.split(' ').length - 1)
    BundleRef(name, dir, nF, new graft.util.SerializableHadoopConf(conf))
  }

  /** Task-side bundle load: plain Hadoop FS, no Spark — resolved with
    * the driver's Hadoop conf carried by the ref. An unsupervised
    * bundle's pair corpus is sampled here, and one array serves as both
    * train and test (the nograd pipeline never evaluates; keeping both
    * slots filled keeps one `PartitionBundle` shape).
    */
  def load(ref: BundleRef): PartitionBundle = {
    val base = s"${ref.dir}/${ref.name}"
    val conf = ref.hadoopConf
    val features = readLines(s"$base/features", conf).map { line =>
      val t = line.split(' ')
      t(0).toLong -> t.iterator.drop(1).map(_.toFloat).toArray
    }.toMap
    val adjacency = readLines(s"$base/adjacency", conf).map { line =>
      val t = line.split(' ')
      t(0).toLong -> t.iterator.drop(1).map(_.toLong).toArray
    }.toMap
    def examples(sub: String): Array[(Long, Long, Int)] =
      readLines(s"$base/$sub", conf).map { line =>
        val t = line.split(' ')
        (t(0).toLong, t(1).toLong, t(2).toInt)
      }.toArray
    val walk = new Path(s"$base/$WalkFile")
    val fs = walk.getFileSystem(conf)
    val (train, test) =
      if (fs.exists(walk)) {
        val in = fs.open(walk)
        val spec = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.split(' ')
        finally in.close()
        val pairs = graft.graph.RandomWalk.localPairs(features.keys, adjacency,
          spec(0).toInt, spec(1).toInt, spec(2).toLong)
        (pairs, pairs)
      } else (examples("train"), examples("test"))
    PartitionBundle(ref.name, features, adjacency, train, test, ref.numFeatures)
  }

  /** A sub-table's part files in name order, which is row order. */
  private def partFiles(dirPath: String, conf: Configuration): (FileSystem, Seq[Path]) = {
    val p = new Path(dirPath)
    val fs = FileSystem.get(p.toUri, conf)
    (fs, fs.globStatus(new Path(p, "part-*")).toSeq.map(_.getPath).sortBy(_.getName))
  }

  /** The first non-empty line of one part file, if any. */
  private def firstLine(fs: FileSystem, part: Path): Option[String] = {
    val in = fs.open(part)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().find(_.nonEmpty)
    finally in.close()
  }

  private def readLines(dirPath: String, conf: Configuration): Iterator[String] = {
    val (fs, parts) = partFiles(dirPath, conf)
    parts.iterator.flatMap { part =>
      // read each part eagerly so its stream closes deterministically —
      // a lazy getLines() leaks one descriptor per part file until GC
      val in = fs.open(part)
      try {
        val src = scala.io.Source.fromInputStream(in, "UTF-8")
        src.getLines().filter(_.nonEmpty).toVector
      } finally in.close()
    }
  }
}
