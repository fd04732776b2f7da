package graft

import org.apache.spark.sql.functions._

/** The native codegen'd cosine expression must be bit-identical to the
  * declarative zip_with/aggregate fold (both interpreted and codegen
  * paths), and usable from SQL after registration. */
class CosineSimilaritySpec extends SparkSuite {

  test("native cosine_sim is bit-identical to the declarative fold") {
    val e = Tables(spark, sf, "embeddings")
    val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val both = e.crossJoin(broadcast(qv))
      .select(col("vec_id"),
        expr("cosine_sim(embedding, q_emb)").as("native"),
        llm.Similarity.cosineFold("embedding", "q_emb").as("fold"))
      .collect()
    assert(both.length == 500)
    both.foreach { r =>
      val n = r.getAs[Double]("native")
      val f = r.getAs[Double]("fold")
      assert(java.lang.Double.doubleToLongBits(n) == java.lang.Double.doubleToLongBits(f),
        s"vec ${r.getAs[Long]("vec_id")}: native $n != fold $f")
    }
  }

  test("cosine_sim works from SQL and survives self-similarity = 1") {
    Tables(spark, sf, "embeddings").createOrReplaceTempView("emb")
    val selfSim = spark.sql(
      "SELECT vec_id, cosine_sim(embedding, embedding) AS cs FROM emb").collect()
    assert(selfSim.forall(r => math.abs(r.getAs[Double]("cs") - 1.0) < 1e-12))
  }
}
