package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Task CPU per input row of the engine's registered text and vector
  * kernels, each run alone over a cached input into a `noop` sink. */
object Kernels {
  val Replicas = 20
  val Repeats = 3

  def probe(spark: SparkSession, dataDir: String, tracer: Tracer): Map[String, Double] = {
    val rep = spark.range(Replicas).withColumnRenamed("id", "rep")
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select("doc_id", "text").crossJoin(rep).cache()
    val hashes = docs.selectExpr("doc_id", "graft_token_hashes(text) AS h").cache()
    val tokens = hashes.selectExpr("doc_id % 64 AS g", "explode(h) AS t").cache()
    val emb = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("embedding").cast("array<double>").as("v"))
    val q = emb.limit(1).withColumnRenamed("v", "q")
    val vecs = emb.crossJoin(q).crossJoin(rep).cache()
    val inputs: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("graft_shingle_hashes", docs, _.selectExpr("graft_shingle_hashes(text, 3) AS x")),
      ("graft_token_hashes", docs, _.selectExpr("graft_token_hashes(text) AS x")),
      ("graft_simhash", hashes, _.selectExpr("graft_simhash(h) AS x")),
      ("graft_minhash_group", tokens,
        _.groupBy("g").agg(expr("graft_minhash_group(t, 64)").as("x"))),
      ("graft_dot", vecs, _.selectExpr("graft_dot(v, q) AS x")))
    val out = inputs.zipWithIndex.map { case ((name, in, kernel), i) =>
      val rows = in.count()            // materializes the cache, untimed
      val op = 100000 + i
      tracer.beginOp(op)
      (1 to Repeats).foreach(_ => tracer.span(s"functions.$name")(
        kernel(in).write.format("noop").mode("overwrite").save()))
      tracer.endOp()
      name -> (op, rows * Repeats)
    }
    Seq(docs, hashes, tokens, vecs).foreach(_.unpersist(blocking = true))
    val trace = tracer.flushAndCollect()
    out.map { case (name, (op, rows)) =>
      name -> trace.work(op).cpuMs * 1e6 / math.max(rows, 1L)
    }.toMap
  }
}
