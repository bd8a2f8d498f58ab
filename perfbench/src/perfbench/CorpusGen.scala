package perfbench

import java.util.SplittableRandom

/** Seeded document corpus for the `corpus-pipeline` workload, with
  * planted cases whose outcome the pipeline must reproduce:
  *
  *  - `bench`: a 5% held-out slice of the base documents, removed from
  *    the training corpus (the decontamination reference set);
  *  - twins: a truncated copy (id + [[TwinOffset]], last 10 characters
  *    dropped) of a seed-chosen tenth of the training documents — the
  *    near-duplicate class dedup must find and drop;
  *  - contamination: a run of [[PlantWords]] words copied from a bench
  *    document into a seed-chosen 2% of training documents — the spans
  *    decontamination must cut;
  *  - queries: seed-chosen training documents whose BM25 top hit must
  *    be the document itself.
  *
  * Words come from a seeded vocabulary with a skewed (Zipf-like)
  * frequency, documents are 20–120 words long.
  */
object CorpusGen {
  val TwinOffset = 1000000L
  val PlantWords = 16

  final case class Corpus(train: Seq[(Long, String)], bench: Seq[(Long, String)],
                          twins: Seq[Long], planted: Seq[Long], queries: Seq[Long]) {
    /** SHA-256 of everything generated, for the determinism check. */
    def digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (train ++ bench).foreach { case (id, t) => md.update(s"$id\t$t\n".getBytes("UTF-8")) }
      md.update((twins ++ planted ++ queries).mkString(",").getBytes("UTF-8"))
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  def generate(docs: Int, vocab: Int, nQueries: Int, seed: Long): Corpus = {
    val rng = new SplittableRandom(seed)
    val words = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < vocab) {
        val len = 3 + rng.nextInt(6)
        seen += Iterator.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      }
      seen.toArray
    }
    def word(): String = words((vocab * math.pow(rng.nextDouble(), 2.5)).toInt)
    def text(): Array[String] = Array.fill(20 + rng.nextInt(101))(word())
    val base = (1L to docs.toLong).map(id => id -> text())

    def pick(from: Seq[Long], share: Double): Set[Long] =
      from.filter(_ => rng.nextDouble() < share).toSet
    val benchIds = pick(base.map(_._1), 0.05)
    val bench = base.filter(d => benchIds(d._1))
    val trainBase = base.filterNot(d => benchIds(d._1))
    val plantedIds = pick(trainBase.map(_._1), 0.02)
    val train = trainBase.map { case (id, ws) =>
      if (!plantedIds(id)) id -> ws.mkString(" ")
      else {
        val src = bench(rng.nextInt(bench.size))._2
        val from = rng.nextInt(src.length - PlantWords + 1)
        val at = rng.nextInt(ws.length + 1)
        id -> (ws.take(at) ++ src.slice(from, from + PlantWords) ++ ws.drop(at)).mkString(" ")
      }
    }
    val twinOf = pick(train.map(_._1), 0.1).toSeq.sorted
    val byId = train.toMap
    val twins = twinOf.map { id =>
      val t = byId(id)
      (id + TwinOffset) -> t.substring(0, math.max(1, t.length - 10))
    }
    val candidates = train.map(_._1).toArray
    val queries = Iterator.continually(candidates(rng.nextInt(candidates.length)))
      .distinct.take(nQueries).toSeq.sorted
    Corpus(train ++ twins, bench.map { case (id, ws) => id -> ws.mkString(" ") },
      twinOf, plantedIds.toSeq.sorted, queries)
  }
}
