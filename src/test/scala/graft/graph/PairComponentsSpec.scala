package graft.graph

import graft.{SparkJobs, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** `PropertyGraph.pairComponents` (the CC every dedup group-forming op
  * routes through) must produce the labels of raw GraphX CC — vertices
  * are the pair endpoints, label = min id per component — on the REAL
  * pair sets of the two driver-checked group queries (q36's MinHash
  * near-dup pairs, q60's SemDeDup pairs) and on hand-built edge cases;
  * and it must cost one Spark job.
  */
class PairComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def rawGraphX(pairs: DataFrame): Set[(Long, Long)] =
    GraphXComponents.labels(spark, Seq.empty[Long].toDF("id"),
      pairs.select(col("id_a"), col("id_b")))

  private def labels(pairs: DataFrame): Set[(Long, Long)] =
    PropertyGraph.pairComponents(pairs).as[(Long, Long)].collect().toSet

  test("edge cases: empty, duplicate pairs, self-pair, chain, two components") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val none = PropertyGraph.pairComponents(empty)
    assert(none.schema === StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("keep_id", LongType, nullable = false))))
    assert(none.isEmpty && rawGraphX(empty).isEmpty)
    // chain 900-31-7 given twice and reversed, a self-pair on 5000, and
    // a second component 42-13 — ids non-contiguous and out of order
    val pairs = Seq((900L, 31L), (31L, 7L), (900L, 31L), (7L, 31L),
      (5000L, 5000L), (42L, 13L)).toDF("id_a", "id_b")
    val rows = PropertyGraph.pairComponents(pairs).as[(Long, Long)].collect().toSeq
    assert(rows === Seq(7L -> 7L, 13L -> 13L, 31L -> 7L, 42L -> 13L, 900L -> 7L,
      5000L -> 5000L)) // sorted by id
    assert(rows.toSet === rawGraphX(pairs))
  }

  test("one call over a checkpointed pair set runs one Spark job") {
    val pairs = spark.sparkContext.parallelize(
      (0L until 200L).map(i => (i, (i * 7 + 3) % 200)), 4).toDF("id_a", "id_b")
      .localCheckpoint()
    val (out, jobs) = SparkJobs.count(spark)(PropertyGraph.pairComponents(pairs))
    assert(jobs === 1, s"pairComponents ran $jobs Spark jobs")
    assert(out.as[(Long, Long)].collect().toSet === rawGraphX(pairs))
  }

  test("labels equal raw GraphX on the q36 near-dup pair set") {
    val t = graft.Tables(spark, "/root/testdata/sf0.001")
    val twins = t.documents.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      substring(col("text"), lit(1), greatest(length(col("text")) - 10, lit(1))).as("text"))
    val corpus = t.documents.select(col("doc_id"), col("text")).unionByName(twins)
    val pairs = graft.llm.NearDup.nearDupPairs(corpus, "doc_id", "text",
      threshold = 0.6, shingleN = 3, numHashes = 48, bands = 16)
      .localCheckpoint()
    val got = labels(pairs)
    assert(got.nonEmpty, "planted twins must produce pairs")
    assert(got === rawGraphX(pairs))
  }

  test("labels equal raw GraphX on the q60 SemDeDup pair set") {
    val t = graft.Tables(spark, "/root/testdata/sf0.001")
    val base = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val twins = t.embeddings
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => x + lit(0.005) *
            (pmod(col("vec_id") + i.cast("bigint") + 1, lit(7)) - 3).cast("double"))
          .as("embedding"))
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val corpus = base.unionByName(twins)
    val pairs = graft.llm.Similarity.semanticPairs(corpus, tau = 0.8, k = 1,
      iters = 0).localCheckpoint()
    val got = labels(pairs)
    assert(got.nonEmpty)
    assert(got === rawGraphX(pairs))
  }
}
