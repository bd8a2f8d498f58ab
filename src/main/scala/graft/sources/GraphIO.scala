package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{FileSystem, Path}

/** Graph fixture IO — SURVEY.md §2.1 S1–S8.
  *
  * The reference's catalog is string concatenation over CSV files
  * (fl_server.py:202-207, merge.py:14-29); this module reproduces each
  * scan/sink with explicit schemas (no inference scans) and carries node
  * features as one `ARRAY<FLOAT>` column internally — columnar-friendly
  * and what the graph layer wants — widening to the reference's 1434-col
  * layout only at the CSV sink boundary.
  *
  * All readers are ordinary distributed scans (text/CSV); nothing
  * collects. The sinks write one file each, for byte-parity with the
  * reference's pandas `to_csv` artifacts (fl_server.py reads exactly one
  * file per partition).
  */
object GraphIO {

  val NumCoraFeatures = 1433

  /** S1 — canonical node CSV scan (`pd.read_csv(path, index_col=0)`,
    * fl_server.py:202-203). Header `0,1,...,n`; col 0 = node id.
    * Returns `(id LONG, features ARRAY<FLOAT>)`.
    */
  def readNodesCsv(spark: SparkSession, path: String,
                   nFeatures: Int = NumCoraFeatures): DataFrame = {
    val schema = StructType(
      StructField("0", LongType, nullable = false) +:
        (1 to nFeatures).map(i => StructField(i.toString, FloatType, nullable = false)))
    spark.read.schema(schema).option("header", "true").csv(path)
      .select(col("0").as("id"),
        array((1 to nFeatures).map(i => col(i.toString)): _*).as("features"))
  }

  /** S2 — canonical edge CSV scan (header `source,target`,
    * fl_server.py:206-207). Returns `(source LONG, target LONG)`.
    */
  def readEdgesCsv(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("source", LongType, nullable = false),
      StructField("target", LongType, nullable = false)))
    spark.read.schema(schema).option("header", "true").csv(path)
  }

  /** S3+S6 — headerless whitespace-separated edge scan
    * (`pd.read_csv(p, sep='\s+', header=None)` + positional rename,
    * merge.py:18-20,27-29). `\s+` is not a CSV delimiter, so read as
    * text and split — a distributed projection, not a datasource.
    * Cast LONG (safe superset of the reference's uint32, merge.py:32-33).
    */
  def readWhitespaceEdges(spark: SparkSession, path: String): DataFrame = {
    // \S+ extraction, not trim+split: pandas' sep='\s+' skips leading
    // whitespace of ANY kind, while Spark's trim strips only 0x20 — a
    // leading tab produced a phantom "" token shifting every column
    val toks = regexp_extract_all(col("value"), lit("\\S+"), lit(0))
    spark.read.text(path)
      .filter(col("value").rlike("\\S"))
      .select(
        toks.getItem(0).cast(LongType).as("source"),
        toks.getItem(1).cast(LongType).as("target"))
  }

  /** S3+S4+P2 — headerless whitespace/tab attribute scan with
    * column-range projection: keep id + `nFeatures` features, DROP the
    * trailing class-label column (`.loc[:,0:1433]`, merge.py:15,24),
    * cast features float32 (merge.py:34-35).
    * Returns `(id LONG, features ARRAY<FLOAT>)`.
    */
  def readWhitespaceAttributes(spark: SparkSession, path: String,
                               nFeatures: Int = NumCoraFeatures): DataFrame = {
    val toks = regexp_extract_all(col("value"), lit("\\S+"), lit(0))
    spark.read.text(path)
      .filter(col("value").rlike("\\S"))
      .select(
        toks.getItem(0).cast(LongType).as("id"),
        // tokens 1..nFeatures; slice() is 1-based, so start=2
        slice(toks, 2, nFeatures).cast(ArrayType(FloatType)).as("features"))
  }

  /** S7 — canonical node CSV sink (`nodes.to_csv(p)`, merge.py:46).
    * Widens `features ARRAY<FLOAT>` back to the reference's header
    * `0,1,...,n` (id column named `0`, pandas index-name parity).
    * Single file for fixture parity.
    */
  def writeNodesCsv(nodes: DataFrame, path: String,
                    nFeatures: Int = NumCoraFeatures): Unit = {
    val wide = nodes.select(
      col("id").as("0") +:
        (1 to nFeatures).map(i => col("features").getItem(i - 1).as(i.toString)): _*)
    writeSingleCsv(wide, path, header = true)
  }

  /** S7 — canonical edge CSV sink (`edges.to_csv(p, index=False)`,
    * merge.py:47). Header `source,target`, single file.
    */
  def writeEdgesCsv(edges: DataFrame, path: String): Unit =
    writeSingleCsv(edges.select(col("source"), col("target")), path, header = true)

  /** The pandas header of a `dim`-wide embeddings CSV: `,0,1,...,d-1`. */
  private[graft] def embeddingsHeader(dim: Int): String =
    ("" +: (0 until dim).map(_.toString)).mkString(",")

  /** S8 — embedding CSV sink (`emb.to_csv(path)` with a nameless index,
    * fl_client_unsupervised.py:121-122, concat_embeddings.py:27-28).
    * The reference CLIENT writes its own partition's embeddings from
    * inside the client process (fl_client_unsupervised.py:117-122) —
    * this is the same topology: the training task streams its rows
    * straight to storage with no DataFrame round-trip and no driver
    * involvement. pandas' header `,0,1,...,d-1` (leading empty cell for
    * the index); `Float.toString` values, the rendering Spark's CSV
    * writer uses for FloatType. Works on any
    * Hadoop-compatible FS: `conf` must be the DRIVER's Hadoop conf
    * (shipped via [[graft.util.SerializableHadoopConf]]) so
    * `spark.hadoop.*` settings — object-store credentials, defaultFS —
    * reach the task. Committed by [[writeFromTask]].
    */
  def writeEmbeddingsCsvFromTask(path: String, dim: Int,
                                 rows: Iterator[(Long, Array[Float])],
                                 conf: org.apache.hadoop.conf.Configuration): Unit =
    writeFromTask(path, conf) { out =>
      out.write(embeddingsHeader(dim))
      out.write("\n")
      rows.foreach { case (id, vec) =>
        out.write(id.toString)
        var i = 0
        while (i < dim) { out.write(","); out.write(vec(i).toString); i += 1 }
        out.write("\n")
      }
    }

  /** Stream one UTF-8 text file to `path` from inside a task.
    *
    * Commit protocol: the stream targets an attempt-unique temp file,
    * renamed over `path` only after a complete write — a task retry or
    * speculative twin can never interleave with or truncate a reader's
    * view; whichever complete attempt renames last wins.
    */
  private[graft] def writeFromTask(path: String,
                                   conf: org.apache.hadoop.conf.Configuration)(
                                   body: java.io.Writer => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(tc => s"${tc.stageAttemptNumber}-${tc.taskAttemptId}")
      .getOrElse(java.util.UUID.randomUUID().toString)
    val tmp = new org.apache.hadoop.fs.Path(
      p.getParent, s".${p.getName}.$attempt.inprogress")
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(fs.create(tmp, true), "UTF-8"), 1 << 16)
    try {
      try body(out)
      finally out.close()
    } catch {
      case t: Throwable =>
        // don't orphan the attempt file: a killed/failed attempt left
        // `.name.attempt.inprogress` junk accumulating per retry
        try fs.delete(tmp, false)
        catch { case _: Throwable => () }
        throw t
    }
    if (fs.exists(p)) fs.delete(p, false)
    if (!fs.rename(tmp, p)) {
      fs.delete(tmp, false)
      // a concurrent complete attempt committed first — fine; anything
      // else is a real FS failure the caller must see
      require(fs.exists(p),
        s"writeFromTask: commit rename $tmp -> $p failed")
    }
  }

  /** Embedding CSV scan (concat_embeddings.py:14-17): header
    * `,0,...,d-1`, first column = node id. The explicit schema carries
    * the header's own names (an empty one for the index) and the header
    * is checked against it: a file of another width fails the read
    * instead of loading truncated or null-padded vectors. Columns are
    * renamed by position. Returns `(id LONG, embedding ARRAY<FLOAT>)`.
    */
  def readEmbeddingsCsv(spark: SparkSession, path: String, dim: Int): DataFrame = {
    val schema = StructType(
      StructField("", LongType, nullable = false) +:
        (0 until dim).map(i => StructField(i.toString, FloatType, nullable = false)))
    spark.read.schema(schema).option("header", "true").option("enforceSchema", "false")
      .csv(path)
      .toDF("id" +: (0 until dim).map(i => s"e$i"): _*)
      .select(col("id"),
        array((0 until dim).map(i => col(s"e$i")): _*).as("embedding"))
  }

  /** Write a DataFrame as exactly one CSV file at `path` (pandas
    * `to_csv` parity). Coalesces to a single task — fixture-scale only.
    */
  private[graft] def writeSingleCsv(df: DataFrame, path: String, header: Boolean): Unit = {
    val spark = df.sparkSession
    val tmp = path + ".spark-tmp"
    df.coalesce(1).write.mode("overwrite").option("header", header.toString).csv(tmp)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(tmp).resolve("."), conf)
    try {
      val parts = fs.globStatus(new Path(tmp, "part-*"))
      require(parts != null && parts.nonEmpty,
        s"writeSingleCsv: the coalesced write produced no part file under " +
          s"$tmp (zero-partition input?)")
      val part = parts(0).getPath
      val dest = new Path(path)
      if (fs.exists(dest)) fs.delete(dest, false)
      // rename returns false (not an exception) on several FS
      // boundaries — an unchecked false silently committed nothing
      require(fs.rename(part, dest),
        s"writeSingleCsv: commit rename $part -> $dest failed")
    } finally fs.delete(new Path(tmp), true)
  }
}
