package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphIOSpec extends SparkSpec {
  import spark.implicits._

  private val refData = "/root/reference/data"

  test("whitespace edge scan reads the raw localstore fixture") {
    val e = GraphIO.readWhitespaceEdges(spark, s"$refData/4_0")
    assert(e.count() === 2734L)
    assert(e.columns.toSeq === Seq("source", "target"))
    val first = e.orderBy("source", "target").head()
    assert(first.getLong(0) === 35L)
  }

  test("whitespace attribute scan drops the trailing label column") {
    val n = GraphIO.readWhitespaceAttributes(spark, s"$refData/4_attributes_0")
    assert(n.count() === 1359L)
    val row = n.filter(col("id") === 35L).head()
    val feats = row.getSeq[Float](1)
    assert(feats.length === 1433)
    assert(feats.forall(f => f == 0.0f || f == 1.0f))
  }

  test("canonical edge CSV scan matches schema and rows") {
    val e = GraphIO.readEdgesCsv(spark, s"$refData/4_edges_0.csv")
    assert(e.count() === 2837L)
    assert(e.schema.fields.map(_.dataType).forall(_ == org.apache.spark.sql.types.LongType))
  }

  test("canonical node CSV scan reads merge output (data4 fixture)") {
    val n = GraphIO.readNodesCsv(spark, "/root/reference/data4/3_nodes_1.csv")
    assert(n.count() === 697L)
    assert(n.select(size(col("features"))).head().getInt(0) === 1433)
  }

  test("embeddings CSV sink/source round-trip with pandas-style header") {
    val dir = java.nio.file.Files.createTempDirectory("embio").toString
    val rows = Seq((1L, Seq(0.5f, -1.25f, 2.0f)), (2L, Seq(1.0f, 0.0f, 3.5f)))
    val path = s"$dir/embeddings_nograd_9_0.csv"
    GraphIO.writeEmbeddingsCsvFromTask(path, 3,
      rows.iterator.map { case (id, v) => (id, v.toArray) },
      spark.sparkContext.hadoopConfiguration)
    val src = scala.io.Source.fromFile(path)
    val header = try src.getLines().next() finally src.close()
    assert(header === ",0,1,2")
    val back = GraphIO.readEmbeddingsCsv(spark, path, dim = 3)
      .orderBy("id").as[(Long, Seq[Float])].collect()
    assert(back.toSeq === rows)
    // a width that disagrees with the header fails the read
    Seq(2, 4).foreach { dim =>
      intercept[Exception](GraphIO.readEmbeddingsCsv(spark, path, dim).collect())
    }
  }

  test("weights parquet round-trip preserves layer order, shape, values") {
    val dir = java.nio.file.Files.createTempDirectory("wio").toString
    val w = Seq(
      LayerTensor(0, Seq(2, 3), Array(1f, 2f, 3f, 4f, 5f, 6f)),
      LayerTensor(1, Seq(3), Array(0.5f, -0.5f, 0f)))
    WeightsIO.save(spark, w, s"$dir/weights_4_0.parquet")
    val back = WeightsIO.load(spark, s"$dir/weights_4_0.parquet")
    assert(back.map(_.layer) === Seq(0, 1))
    assert(back.head.shape === Seq(2, 3))
    assert(back.head.values.toSeq === Seq(1f, 2f, 3f, 4f, 5f, 6f))
    assert(back(1).values.toSeq === Seq(0.5f, -0.5f, 0f))
  }
}
