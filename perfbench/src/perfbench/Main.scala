package perfbench

import java.io.{FileDescriptor, FileOutputStream, PrintStream}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.GraftSession

/** Runs one workload in one JVM at `local[cores]` as a closed loop with
  * one client, then prints the metrics as one JSON line:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --cores <n> [--trace-out <file>]
  *
  * Set-up starts the session, generates the inputs three times (they
  * must be identical; the median generation time counts) and runs one
  * uncounted warm-up op. Then ops run back to back until `--seconds`
  * have passed. Every op's outputs are checked. With `--trace 1`, ops
  * alternate between the product entry points and the traced rebuild,
  * and the metrics are the per-layer ones.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cores: Int, traceOut: Option[String])

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workload.names.contains(w), s"unknown workload $w; one of ${Workload.names.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()), kv.get("trace-out"))
  }

  final case class OpRecord(id: Int, traced: Boolean, outcome: Outcome)

  def main(argv: Array[String]): Unit = {
    // stdout carries only the report; program logs go to stderr
    val stdout = new PrintStream(new FileOutputStream(FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    val args = parse(argv)
    val code = try run(args, stdout) catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  def run(a: Args, stdout: PrintStream): Int = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local(a.cores, s"perfbench-${a.workload}")
    spark.sparkContext.setLogLevel("WARN")
    val counters = new SpanCounters
    spark.sparkContext.addSparkListener(counters)
    Trace.sc = spark.sparkContext
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val w = Workload(a.workload)
      val problems = ArrayBuffer.empty[String]

      // inputs, three times: identical digests, median time counts
      val gens = (0 until 3).map { k =>
        Workload.timed(w.generate(spark, s"${a.work}/input-$k", a.seed))
      }
      if (gens.map(_._1).distinct.size != 1) problems += "the generator gave different inputs for one seed"
      val input = s"${a.work}/input-0"

      val ops = ArrayBuffer.empty[OpRecord]
      def runOp(id: Int, traced: Boolean): Unit = {
        Trace.op = id
        val out = s"${a.work}/op-$id"
        val outcome = try {
          if (traced) Trace.span("op", parent = 0L, tag = a.workload)(_ => w.op(spark, input, out, traced))
          else w.op(spark, input, out, traced)
        } catch {
          case NonFatal(e) =>
            e.printStackTrace()
            Outcome(Double.NaN, 0, Double.NaN, Seq(s"op failed: $e"))
        }
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        System.err.println(f"perfbench: op $id${if (traced) " (traced)" else ""} took ${outcome.seconds}%.3f s")
        ops += OpRecord(id, traced, outcome)
      }

      // The first op of a JVM runs cold (class loading, Spark code
      // generation, JIT) at two to three times the warm time; the second
      // is still a fifth to a third slower than where later ops settle.
      // One warm-up op only: another would add as much to every run as
      // the op it measures, and the benchmark is sized so that 22 runs
      // of each workload and two builds end within 57 minutes.
      val warm = Workload.timed(runOp(0, traced = false))._2
      val setupS = sessionS + Report.median(gens.map(_._2)) + warm

      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      var id = 1
      // a traced run needs at least one op of each kind
      while (System.nanoTime() < deadline || (a.trace && id <= 2)) {
        runOp(id, traced = a.trace && id % 2 == 0)
        id += 1
      }
      if (a.trace) org.apache.spark.ListenerDrain(spark.sparkContext)

      // the same seed must give a bit-identical quality on every op
      val bits = (o: OpRecord) => java.lang.Double.doubleToLongBits(o.outcome.quality)
      val bad = ops.filter(o => o.outcome.problems.nonEmpty || bits(o) != bits(ops.head))
      ops.foreach(o => o.outcome.problems.foreach(p => problems += s"op ${o.id}: $p"))
      if (ops.exists(bits(_) != bits(ops.head)))
        problems += "quality differs between ops of one seed: " + ops.map(_.outcome.quality).mkString(", ")
      problems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
      val failed = bad.size
      val correct = problems.isEmpty

      val measured = ops.filter(_.id > 0).toSeq
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) Report.endToEnd(measured, setupS)
        else {
          val spans = Trace.all
          a.traceOut.foreach(Report.writeSpans(_, spans))
          Report.printSelfTimes(stdout, spans, measured.count(_.traced))
          Report.perLayer(measured, spans, counters, a.cores)
        }
      stdout.println(Report.json(correct, ops.size, failed, metrics))
      0
    } finally spark.stop()
  }
}
