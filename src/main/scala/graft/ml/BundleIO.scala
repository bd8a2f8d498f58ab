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
  * of features / edges / train / test under `dir/name/`;
  * `writeUnsupervised` writes features / edges plus the walk spec, and
  * the client samples its pair corpus when it loads. Neither stores an
  * adjacency: a bundle carries the raw edge list, and the client task
  * builds its adjacency from it (`PropertyGraph.localAdjacency`), as
  * the reference client builds `StellarGraph(nodes, edges)` itself
  * (models/unsupervised.py:48-49, models/supervised.py:65). The only
  * thing that returns to the driver is a `BundleRef` (paths + feature
  * count). `load` runs INSIDE an executor task (plain Hadoop FS reads,
  * no SparkSession) and builds the in-memory `PartitionBundle` the
  * trainer owns — the same topology as the reference, where each client
  * process reads its own partition's CSVs locally (fl_client.py:194-208).
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
    * Layout: `dir/name/{features,edges,train,test}/part-*` —
    * space-separated text: `id f…` / `src dst` / `src dst label`.
    * The double split holds out 10% of edges as test, then 10% of the
    * residual as train examples (the reference's two
    * `EdgeSplitter.train_test_split(p=0.1)` calls); `edges` is the
    * train residual, the graph the client's samplers see.
    */
  def write(spark: SparkSession, dir: String, name: String, g: PropertyGraph,
            seed: Long = 42L): BundleRef = {
    val testSplit = EdgeSplitter.trainTestSplit(g, 0.1, seed)
    val trainSplit = EdgeSplitter.trainTestSplit(testSplit.residual, 0.1, seed + 1)
    val base = s"$dir/$name"
    delete(base, Seq(WalkFile, "adjacency"), spark.sparkContext.hadoopConfiguration)
    writeGraph(g.nodes, trainSplit.residual.edges, base)
    // The example files are written in CANONICAL (sorted) order: the
    // split's example SET is seeded-deterministic, but its row order
    // reflects plan internals (partition boundaries, aggregate
    // iteration) that shift between runs — and the trainer's seeded
    // epoch shuffle permutes the LOADED order, so an order change is a
    // training-dynamics change (measured: same example set, different
    // AUC run to run). A global sort pins it; range-partitioned sorted
    // part files concatenate to the total order however the partition
    // boundaries fall, at the cost of one bounded ETL-time shuffle.
    writeLines(trainSplit.examples.orderBy("source", "target", "label"),
      s"$base/train", col("source"), col("target"), col("label"))
    writeLines(testSplit.examples.orderBy("source", "target", "label"),
      s"$base/test", col("source"), col("target"), col("label"))
    bundleRef(spark, dir, name)
  }

  /** Unsupervised bundle (distributed_nograd.py:19-34 shape): NO edge
    * split — the full graph is the sampling structure.
    * Layout: `dir/name/{features,edges}/part-*` plus `walk`, one line
    * `length nWalks seed`. The walk-co-occurrence pair corpus is not
    * stored: `load` samples it from the adjacency it builds
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
    delete(base, Seq("train", "test", "adjacency"), conf)
    writeGraph(g.nodes, g.edges, base)
    val walk = new Path(s"$base/$WalkFile")
    val out = walk.getFileSystem(conf).create(walk, true)
    try out.write(s"$walkLength $nWalks $seed\n".getBytes("UTF-8"))
    finally out.close()
    bundleRef(spark, dir, name)
  }

  /** The walk spec file of an unsupervised bundle. */
  private val WalkFile = "walk"

  /** Delete the entries an earlier write under the same name left
    * behind: the other bundle kind's, since `load` tells the kinds
    * apart by the walk file, so a stale one would turn a supervised
    * bundle unsupervised; and the `adjacency` table bundles stored
    * before they carried the raw edge list.
    */
  private def delete(base: String, entries: Seq[String], conf: Configuration): Unit =
    entries.foreach { e =>
      val p = new Path(s"$base/$e")
      p.getFileSystem(conf).delete(p, true)
    }

  /** The `features` and `edges` sub-tables both bundle kinds share.
    * `load` builds maps from both, so their row order never reaches
    * training: no global sort, only a sort within each partition, which
    * adds no exchange and no job, so that the bytes stay identical run
    * to run.
    */
  private def writeGraph(nodes: DataFrame, edges: DataFrame, base: String): Unit = {
    writeLines(nodes.sortWithinPartitions("id"), s"$base/features",
      col("id"), col("features").cast("array<string>"))
    writeLines(edges.sortWithinPartitions("source", "target"), s"$base/edges",
      col("source"), col("target"))
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
    val (fs, parts) = partFiles(s"$dir/$name", "features", conf)
    val nF = parts.iterator.flatMap(firstLine(fs, _)).nextOption()
      .fold(0)(_.split(' ').length - 1)
    BundleRef(name, dir, nF, new graft.util.SerializableHadoopConf(conf))
  }

  /** Task-side bundle load: plain Hadoop FS, no Spark — resolved with
    * the driver's Hadoop conf carried by the ref. The adjacency is built
    * here from the raw edge list (`PropertyGraph.localAdjacency`, the
    * maps `PropertyGraph.adjacency()` would give). An unsupervised
    * bundle's pair corpus is sampled here too, and one array serves as
    * both train and test (the nograd pipeline never evaluates; keeping
    * both slots filled keeps one `PartitionBundle` shape). A missing
    * sub-table or a malformed edge line fails naming the bundle.
    */
  def load(ref: BundleRef): PartitionBundle = {
    val base = s"${ref.dir}/${ref.name}"
    val conf = ref.hadoopConf
    val features = readLines(base, "features", conf).map { line =>
      val t = line.split(' ')
      t(0).toLong -> t.iterator.drop(1).map(_.toFloat).toArray
    }.toMap
    val adjacency = PropertyGraph.localAdjacency(
      readLines(base, "edges", conf).map { line =>
        // parsed in place: a client loads once, mostly before the JIT
        // has warmed this path, so per-line allocations show in its time
        val sp = line.indexOf(' ')
        try {
          if (sp < 0) throw new NumberFormatException
          (java.lang.Long.parseLong(line, 0, sp, 10), java.lang.Long.parseLong(line, sp + 1, line.length, 10))
        } catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"bundle $base: malformed edge line '$line' (expected `source target`)")
        }
      })
    def examples(sub: String): Array[(Long, Long, Int)] =
      readLines(base, sub, conf).map { line =>
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

  /** A sub-table's part files in name order, which is row order. The
    * sub-table must exist, so a bundle missing one (an old layout, a
    * partial write) fails here instead of loading as empty.
    */
  private def partFiles(base: String, sub: String, conf: Configuration): (FileSystem, Seq[Path]) = {
    val p = new Path(s"$base/$sub")
    val fs = FileSystem.get(p.toUri, conf)
    require(fs.exists(p), s"bundle $base has no `$sub` sub-table")
    (fs, fs.globStatus(new Path(p, "part-*")).toSeq.map(_.getPath).sortBy(_.getName))
  }

  /** The first non-empty line of one part file, if any. */
  private def firstLine(fs: FileSystem, part: Path): Option[String] = {
    val in = fs.open(part)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().find(_.nonEmpty)
    finally in.close()
  }

  private def readLines(base: String, sub: String, conf: Configuration): Iterator[String] = {
    val (fs, parts) = partFiles(base, sub, conf)
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
