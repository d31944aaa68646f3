package graft.catalyst

import graft.{HofReference, SparkSpec}
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

/** The native vector kernels must be bit-identical to the higher-order
  * function formulations in [[HofReference]] (both pinned by the DuckDB
  * oracles). */
class VectorExpressionsSpec extends SparkSpec {

  private def emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select("vec_id", "embedding")

  test("native quantize == HOF quantize (incl. HALF_UP negative rounding)") {
    import spark.implicits._
    val edge = Seq((1L, Array(-0.0025f, 0.0025f, -1.5f, 2.5f, 0f)))
      .toDF("vec_id", "embedding")
    for (d <- Seq(emb, edge)) {
      val diff = d.select(
        call_function("graft_quantize", col("embedding")).as("n"),
        HofReference.quantize(col("embedding")).as("h"))
        .filter(col("n") =!= col("h"))
      assert(diff.count() == 0)
    }
  }

  test("native qdot and srp == HOF versions on real embeddings") {
    val q = emb.select(col("vec_id"), HofReference.quantize(col("embedding")).as("v"))
    val diff = q.select(
      call_function("graft_qdot", col("v"), col("v")).as("nd"),
      HofReference.intDot(col("v"), col("v")).as("hd"),
      call_function("graft_srp", col("v")).as("nb"),
      HofReference.srpBucketFromQuant(col("v")).as("hb"))
      .filter(col("nd") =!= col("hd") || col("nb") =!= col("hb"))
    assert(diff.count() == 0)
  }

  test("native topk and lsh near-dups == HOF results") {
    val a = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding", 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val b = HofReference.bruteForceTopK(emb, emb.filter(col("vec_id") < 4), "vec_id", "embedding", 5)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(a == b)
    val na = Similarity.lshNearDuplicates(emb, "vec_id", "embedding", 100000L)
      .orderBy("id_1", "id_2").collect().map(_.toSeq).toSeq
    val nb = HofReference.lshNearDuplicates(emb, "vec_id", "embedding", 100000L)
      .orderBy("id_1", "id_2").collect().map(_.toSeq).toSeq
    assert(na == nb)
  }
}
