package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.fed.FedAvg.Weights
import graft.fed.FedModel
import graft.ml.{BundleIO, SageHyperParams, SageLinkModel}

/** One timed call into a layer. `parent` is the span that made the
  * call (0 at an op's root), `op` the unit operation it belongs to,
  * `tag` the client or partition it ran for.
  */
final case class Span(id: Long, name: String, parent: Long, op: Int, tag: String,
                      startNs: Long, endNs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and written out when the run
  * ends. Spark runs in local mode, so spans recorded inside tasks land
  * in this same JVM: that is how the cached federated clients, which
  * outlive the task that built them, can report every round (an
  * accumulator captured by a cached object stops reporting after its
  * first task).
  *
  * A span opened outside a task also sets the Spark job group to its
  * id, so [[SpanCounters]] can charge every job the call submits to it.
  */
object Trace {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  @volatile var sc: SparkContext = _
  @volatile var op: Int = 0

  /** Adds counts to a span while it is open. */
  final class Open(val id: Long) {
    private[Trace] var attrs = Map.empty[String, Double]
    def set(key: String, value: Double): Unit = attrs += key -> value
  }

  def currentId: Long = current.get

  /** Time `body` as a span named `name`, child of `parent`. Inside a
    * task no jobs are submitted, so the job group is left alone.
    */
  def span[T](name: String, parent: Long = currentId, tag: String = "",
              opId: Int = op)(body: Open => T): T = {
    val s = new Open(ids.incrementAndGet())
    val before = current.get
    val submits = sc != null && org.apache.spark.TaskContext.get() == null
    val group = if (submits) sc.getLocalProperty("spark.jobGroup.id") else null
    current.set(s.id)
    if (submits) sc.setJobGroup(s.id.toString, name)
    val t0 = System.nanoTime()
    try body(s)
    finally {
      val t1 = System.nanoTime()
      current.set(before)
      if (submits) {
        if (group == null) sc.clearJobGroup() else sc.setJobGroup(group, "")
      }
      spans.add(Span(s.id, name, parent, opId, tag, t0, t1, s.attrs))
    }
  }

  /** Run `body` on this thread as if inside span `parent` (for the
    * threads a span fans its calls out to).
    */
  def under[T](parent: Long)(body: => T): T = {
    val before = current.get
    current.set(parent)
    if (sc != null) sc.setJobGroup(parent.toString, "")
    try body
    finally {
      current.set(before)
      if (sc != null) sc.clearJobGroup()
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

/** Per-span Spark counters, keyed by the job group [[Trace.span]] sets. */
final class SpanCounters extends SparkListener {
  final class Counts {
    val jobs = new AtomicLong; val taskNs = new AtomicLong; val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong; val gcMs = new AtomicLong; val failures = new AtomicLong
    val resultBytes = new AtomicLong
  }
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val counts = new ConcurrentHashMap[Long, Counts]()

  def of(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(_.toLongOption).foreach { span =>
      of(span).jobs.incrementAndGet()
      e.stageIds.foreach(stageSpan.put(_, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span != 0L) { // unboxed null: a stage no span submitted
      val c = of(span)
      if (e.reason != org.apache.spark.Success) c.failures.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.taskNs.addAndGet(m.executorRunTime * 1000000L)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.resultBytes.addAndGet(m.resultSize)
      }
    }
  }
}

/** A federated client that times its own calls: the `buildClient` the
  * traced run hands `Federation.run`. Records `ml.bundle_load` when it
  * is built, then `fed.set_weights`, `ml.evaluate` and `ml.fit` spans
  * with the round they belong to (round r starts at the r-th
  * `setWeights`; the one after the last round is the final evaluation).
  */
final class TimedModel private (inner: SageLinkModel, client: String, parent: Long, opId: Int)
    extends FedModel {
  private var round = 0

  private def timed[T](name: String, extra: Map[String, Double] = Map.empty)(body: => T): T =
    Trace.span(name, parent, client, opId) { s =>
      s.set("round", round.toDouble)
      extra.foreach { case (k, v) => s.set(k, v) }
      body
    }

  def numExamples: Long = inner.numExamples
  def getWeights: Weights = inner.getWeights
  def setWeights(w: Weights): Unit = {
    round += 1
    timed("fed.set_weights", Map("mb" -> TimedModel.mb(w)))(inner.setWeights(w))
  }
  def fit(epochs: Int): Weights =
    timed("ml.fit", Map("examples" -> (numExamples * epochs).toDouble))(inner.fit(epochs))
  def evaluate(): Map[String, Double] = timed("ml.evaluate")(inner.evaluate())
}

object TimedModel {
  /** Size of a model's weights as float32, in MB. */
  def mb(w: Weights): Double = w.map(_.values.length).sum * 4 / 1e6

  def build(ref: BundleIO.BundleRef, hp: SageHyperParams, parent: Long, opId: Int): TimedModel = {
    val model = Trace.span("ml.bundle_load", parent, ref.name, opId)(_ => SageLinkModel.fromRef(ref, hp))
    new TimedModel(model, ref.name, parent, opId)
  }
}
