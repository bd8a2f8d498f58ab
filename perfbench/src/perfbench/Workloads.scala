package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{ConcatEmbeddings, MergePipeline}
import graft.fed.{FedTrain, Federation}
import graft.graph.{EdgeSplitter, PropertyGraph, RandomWalk}
import graft.llm.{Bm25, CorpusDedup, ExactSubstr, NearDup}
import graft.ml.{BundleIO, LocalGraphSage, SageHyperParams, SageLinkModel, UnsupervisedPipeline}
import graft.sources.{GraftLogger, GraphIO}
import graft.util.Par

/** What one unit operation produced: the `seconds` its product calls
  * took (output checks excluded), `items` of work done (the numerator
  * of `items_per_s`), its `quality`, and every failed output check.
  */
final case class Outcome(seconds: Double, items: Double, quality: Double, problems: Seq[String])

/** A benchmark workload: inputs made from a seed, then unit operations
  * run on them in a closed loop.
  */
trait Workload {
  /** Write the inputs under `dir`; returns a digest of them. */
  def generate(spark: SparkSession, dir: String, seed: Long): String
  /** One unit operation, writing under `out`. Traced ops rebuild it
    * from each layer's public calls with a span around each call.
    */
  def op(spark: SparkSession, input: String, out: String, traced: Boolean): Outcome
}

object Workload {
  val names: Seq[String] = Seq("fed-sup-link", "fed-unsup-embed", "corpus-pipeline")

  def apply(name: String): Workload = name match {
    case "fed-sup-link" => new FedSupLink
    case "fed-unsup-embed" => new FedUnsupEmbed
    case "corpus-pipeline" => new CorpusPipeline
  }

  /** Round logs go to a file under the op's directory, not stdout. */
  def logger(out: String): GraftLogger = {
    new java.io.File(out).mkdirs()
    GraftLogger(s"$out/session.log")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  def fedChecks(res: Federation.Result, rounds: Int, clients: Int, dims: Int): Seq[String] = {
    val problems = Seq.newBuilder[String]
    if (res.history.size != rounds) problems += s"${res.history.size} rounds, expected $rounds"
    res.history.foreach { h =>
      if (h.clientMetrics.size != clients) problems += s"round ${h.round}: ${h.clientMetrics.size} clients"
    }
    if (res.finalMetrics.size != clients) problems += s"${res.finalMetrics.size} final evaluations"
    if (res.clientRebuilds != 0) problems += s"${res.clientRebuilds} client rebuilds"
    if (!res.weights.forall(_.values.forall(v => !v.isNaN && !v.isInfinite))) problems += "non-finite weights"
    if (res.weights.map(_.values.length).sum != dims) problems += "weight count changed"
    problems.result()
  }

  def weightCount(hp: SageHyperParams, nFeatures: Int): Int =
    new LocalGraphSage(hp, Map.empty, Map.empty, nFeatures).initializeWeights().map(_.values.length).sum
}

/** Shared by the two federated workloads: a seeded graph in raw-store
  * form, merged per partition.
  */
abstract class GraphWorkload(spec: GraphGen.Spec) extends Workload {
  val graphId = "9"
  val pids: Seq[String] = spec.partShares.indices.map(_.toString)

  def generate(spark: SparkSession, dir: String, seed: Long): String = {
    GraphGen.write(dir, graphId, spec, seed)
    GraphGen.digest(dir)
  }

  /** Merge one partition (traced: `etl.merge` span, rows counted). */
  protected def merged(spark: SparkSession, input: String, pid: String, traced: Boolean): PropertyGraph =
    if (!traced) {
      val m = MergePipeline.merge(spark, input, input, graphId, pid)
      PropertyGraph(m.nodes, m.edges).cache()
    } else Trace.span("etl.merge", tag = pid) { s =>
      val m = MergePipeline.merge(spark, input, input, graphId, pid)
      val g = PropertyGraph(m.nodes, m.edges).cache()
      s.set("rows", (g.nodes.count() + g.edges.count()).toDouble)
      g
    }
}

/** `FedTrain.runSession`: R=3 rounds of E=2 epochs over 4 partitions of
  * unequal size, supervised link prediction with default hyperparameters.
  */
final class FedSupLink extends GraphWorkload(
    GraphGen.Spec(nodes = FedSupLink.Nodes, partShares = Seq(0.4, 0.3, 0.2, 0.1))) {
  private val rounds = 3
  private val epochs = 2
  private val hp = SageHyperParams()

  def op(spark: SparkSession, input: String, out: String, traced: Boolean): Outcome = {
    val (res, seconds) = Workload.timed {
      if (!traced) FedTrain.runSession(spark, input, graphId, pids, rounds, epochs, out, hp,
        Workload.logger(out)).result
      else tracedSession(spark, input, out)
    }
    val aucs = res.finalMetrics.map(_._2("test_auc"))
    val auc = Workload.mean(aucs)
    val problems = Workload.fedChecks(res, rounds, pids.size, Workload.weightCount(hp, GraphIO.NumCoraFeatures)) ++
      (if (auc >= 0.55) Nil else Seq(f"mean test_auc $auc%.4f is not clearly above 0.5"))
    Outcome(seconds, res.history.map(_.totalExamples).sum.toDouble * epochs, auc, problems)
  }

  /** `runSession` rebuilt from the layers' public calls. */
  private def tracedSession(spark: SparkSession, input: String, out: String): Federation.Result = {
    val hp = this.hp
    val root = Trace.currentId
    val refs = Par.mapAll(pids) { pid =>
      Trace.under(root) {
        val g = merged(spark, input, pid, traced = true)
        try {
          Trace.span("graph.split", tag = pid) { s =>
            // BundleIO.write's double split: test off the graph, train off the residual
            val test = EdgeSplitter.trainTestSplit(g, 0.1, hp.seed)
            val train = EdgeSplitter.trainTestSplit(test.residual, 0.1, hp.seed + 1)
            s.set("examples", (test.examples.count() + train.examples.count()).toDouble)
          }
          Trace.span("ml.bundle_write", tag = pid) { _ =>
            BundleIO.write(spark, s"$out/bundles", s"${graphId}_$pid", g, seed = hp.seed)
          }
        } finally g.unpersist()
      }
    }
    val init = new LocalGraphSage(hp, Map.empty, Map.empty, refs.head.numFeatures).initializeWeights()
    Trace.span("fed.run") { s =>
      val parent = s.id; val opId = Trace.op
      Federation.run(spark, refs, (r: BundleIO.BundleRef) => TimedModel.build(r, hp, parent, opId),
        init, rounds, epochs, graphId, weightsDir = Some(s"$out/weights"), logger = Workload.logger(out))
    }
  }
}

object FedSupLink {
  val Nodes = 900
}

/** Merge, then `UnsupervisedPipeline.runFederated` with the unsupervised
  * profile (256/256): R=1 round of E=1 epoch over 2 partitions, then
  * embedding emission and `ConcatEmbeddings`.
  */
final class FedUnsupEmbed extends GraphWorkload(
    GraphGen.Spec(nodes = FedUnsupEmbed.Nodes, partShares = Seq(0.6, 0.4))) {
  private val rounds = 1
  private val epochs = 1
  private val hp = SageHyperParams.unsupervised
  private val dim = hp.layerSizes._2

  def op(spark: SparkSession, input: String, out: String, traced: Boolean): Outcome = {
    val ((res, emb), seconds) = Workload.timed {
      if (!traced) {
        val parts = pids.map(pid => pid -> merged(spark, input, pid, traced = false))
        try UnsupervisedPipeline.runFederated(spark, parts, graphId, rounds, epochs, out,
          logger = Workload.logger(out))
        finally parts.foreach(_._2.unpersist())
      } else tracedPipeline(spark, input, out)
    }
    val rows = emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    // every node is local to one partition, so the concat covers them all
    val nodes = FedUnsupEmbed.Nodes
    val problems = Seq.newBuilder[String]
    problems ++= Workload.fedChecks(res, rounds, pids.size, Workload.weightCount(hp, GraphIO.NumCoraFeatures))
    if (rows.length != nodes) problems += s"${rows.length} embedding rows for $nodes nodes"
    if (rows.map(_._1).distinct.length != rows.length) problems += "duplicate embedding ids"
    if (!rows.forall(_._2.length == dim)) problems += s"embedding width is not $dim"
    val badNorm = rows.count { case (_, v) => math.abs(math.sqrt(v.map(x => x.toDouble * x).sum) - 1) > 1e-3 }
    if (badNorm > 0) problems += s"$badNorm embeddings with L2 norm off 1 by more than 1e-3"
    Outcome(seconds, nodes.toDouble, Workload.mean(res.finalMetrics.map(_._2("test_auc"))), problems.result())
  }

  /** `runFederated` rebuilt from the layers' public calls. */
  private def tracedPipeline(spark: SparkSession, input: String, out: String): (Federation.Result, DataFrame) = {
    val hp = this.hp; val dim = this.dim; val graphId = this.graphId
    val walkLength = SageHyperParams.unsupervisedWalkLength
    val nWalks = SageHyperParams.unsupervisedNumWalks
    val root = Trace.currentId
    val refs = Par.mapAll(pids) { pid =>
      Trace.under(root) {
        val g = merged(spark, input, pid, traced = true)
        try {
          Trace.span("graph.walk", tag = pid) { s =>
            s.set("pairs", RandomWalk.unsupervisedPairs(g, walkLength, nWalks, hp.seed).count().toDouble)
          }
          pid -> Trace.span("ml.bundle_write", tag = pid) { _ =>
            BundleIO.writeUnsupervised(spark, s"$out/bundles", s"${graphId}_$pid", g, walkLength, nWalks, hp.seed)
          }
        } finally g.unpersist()
      }
    }
    val init = new LocalGraphSage(hp, Map.empty, Map.empty, refs.head._2.numFeatures).initializeWeights()
    val res = Trace.span("fed.run") { s =>
      val parent = s.id; val opId = Trace.op
      Federation.run(spark, refs,
        (r: (String, BundleIO.BundleRef)) => TimedModel.build(r._2, hp, parent, opId),
        init, rounds, epochs, graphId, weightsDir = Some(s"$out/weights"), unweighted = true,
        logger = Workload.logger(out))
    }
    val weights = res.weights
    Par.mapAll(refs) { case (pid, ref) =>
      Trace.under(root) {
        Trace.span("ml.emit", tag = pid) { s =>
          val parent = s.id; val opId = Trace.op
          val csv = s"$out/embeddings_fed_${graphId}_$pid.csv"
          spark.sparkContext.parallelize(Seq(ref), 1).foreach { r =>
            val m = Trace.span("ml.bundle_load", parent, pid, opId)(_ => SageLinkModel.fromRef(r, hp))
            Trace.span("fed.set_weights", parent, pid, opId) { s =>
              s.set("mb", TimedModel.mb(weights))
              m.setWeights(weights)
            }
            val emb = Trace.span("ml.embed", parent, pid, opId) { e =>
              val rows = m.genEmbeddings(m.nodeIds)
              e.set("nodes", rows.length.toDouble)
              rows
            }
            Trace.span("sources.emb_write", parent, pid, opId) { w =>
              GraphIO.writeEmbeddingsCsvFromTask(csv, dim, emb.iterator, r.hadoopConf)
              w.set("mb", new java.io.File(csv).length() / 1e6)
            }
          }
        }
      }
    }
    val emb = Trace.span("etl.concat") { s =>
      val df = ConcatEmbeddings.run(spark, out, "fed", graphId, pids, dim)
      s.set("rows", df.count().toDouble)
      df
    }
    (res, emb)
  }
}

object FedUnsupEmbed {
  val Nodes = 300
}

/** One pass of the corpus pipeline: `CorpusDedup.clean` →
  * `ExactSubstr.decontaminateCuts` + `applyCuts` → `Bm25.buildIndex` →
  * `Bm25.topK` on a fixed-size seeded query batch.
  */
final class CorpusPipeline extends Workload {
  import CorpusPipeline._
  @volatile private var corpus: CorpusGen.Corpus = _

  def generate(spark: SparkSession, dir: String, seed: Long): String = {
    import spark.implicits._
    corpus = CorpusGen.generate(Docs, Vocab, Queries, seed)
    corpus.train.toDF("doc_id", "text").write.parquet(s"$dir/train")
    corpus.bench.toDF("doc_id", "text").write.parquet(s"$dir/bench")
    corpus.digest
  }

  def op(spark: SparkSession, input: String, out: String, traced: Boolean): Outcome = {
    import spark.implicits._
    def step[T](name: String)(body: Trace.Open => T): T =
      if (traced) Trace.span(name)(body) else body(new Trace.Open(0))
    val ((keptIds, cutDocs, hits), seconds) = Workload.timed {
      val train = spark.read.parquet(s"$input/train")
      val bench = spark.read.parquet(s"$input/bench")
      if (traced) Trace.span("llm.lsh") { s =>
        val cand = NearDup.candidatePairs(train, "doc_id", "text", Shingle, Hashes, Bands).count()
        val pairs = NearDup.nearDupPairs(train, "doc_id", "text", Threshold, Shingle, Hashes, Bands).count()
        s.set("candidates", cand.toDouble); s.set("pairs", pairs.toDouble)
      }
      val kept = step("llm.dedup") { s =>
        val k = CorpusDedup.clean(train, "doc_id", "text", Threshold, Shingle, Hashes, Bands).localCheckpoint()
        if (traced) s.set("kept", k.count().toDouble)
        k
      }
      val keptIds = kept.select("doc_id").as[Long].collect().toSet
      val (docs, cutDocs) = step("llm.decon") { s =>
        val cuts = ExactSubstr.decontaminateCuts(kept, bench, L).localCheckpoint()
        val cutDocs = cuts.select("doc_id").as[Long].collect()
        s.set("cuts", cutDocs.length.toDouble)
        val docs = ExactSubstr.applyCuts(kept, cuts).select(col("doc_id"), col("clean_text").as("text"))
          .localCheckpoint()
        (docs, cutDocs.toSet)
      }
      val index = step("llm.bm25_index")(_ => Bm25.buildIndex(docs))
      val hits = step("llm.bm25_topk") { _ =>
        val queries = docs.filter(col("doc_id").isin(corpus.queries: _*))
          .select((col("doc_id") + QueryOffset).as("doc_id"), col("text"))
        Bm25.topK(index, queries, Bm25.idfTable(docs), 1)
          .select("query_id", "doc_id").as[(Long, Long)].collect()
      }
      (keptIds, cutDocs, hits)
    }

    val problems = Seq.newBuilder[String]
    val missed = corpus.twins.count(id => !keptIds(id) || keptIds(id + CorpusGen.TwinOffset))
    if (missed > 0) problems += s"$missed of ${corpus.twins.size} planted twin pairs not resolved to the original"
    val uncut = corpus.planted.count(!cutDocs(_))
    if (uncut > 0) problems += s"$uncut of ${corpus.planted.size} contaminated documents have no cut"
    val top = hits.toMap
    val wrong = corpus.queries.count(q => !top.get(q + QueryOffset).contains(q))
    if (wrong > 0) problems += s"$wrong of ${corpus.queries.size} queries do not retrieve their own document first"
    Outcome(seconds, corpus.train.size.toDouble, 1.0 - wrong.toDouble / corpus.queries.size, problems.result())
  }
}

object CorpusPipeline {
  val Docs = 3000
  val Vocab = 5000
  val Queries = 64
  val QueryOffset = 2000000L
  // the q40 operating point: 3-shingles, 48 hashes in 16 bands, Jaccard 0.6
  val Threshold = 0.6
  val Shingle = 3
  val Hashes = 48
  val Bands = 16
  val L = 8
}
