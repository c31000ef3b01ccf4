package pipebench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded documents/embeddings corpus in the test-lake layout
  * (`documents.parquet`, `embeddings.parquet` under one dir, read through
  * [[graft.sources.Tables]]), with the planted duplicate structure the
  * ScaleStress corpus uses, so dedup and ANN outputs stay Θ(n):
  *  - doc id ≡ 7 (mod 17): exact duplicate of doc id − 3;
  *  - doc id ≡ 11 (mod 17): near duplicate of doc id − 5 (one extra word);
  *  - vec id ≡ 13 (mod 19): embedding within ±0.01 of vec id − 4;
  *  - content key ≡ 3 (mod 41): carries a rare tail term.
  * The seed enters every content hash, so seeds give different texts and
  * vectors with the same planted pairs.
  */
object Corpus {
  private val Vocab = Seq(
    "spark", "line", "column", "order", "small", "sort", "fast", "value",
    "scan", "batch", "part", "query", "agg", "table", "hash", "key",
    "group", "join", "filter", "stream", "vector", "customer", "slow",
    "index", "cache", "sample", "series", "platform", "study", "run")

  def write(spark: SparkSession, dir: String, docs: Int, vecs: Int,
      seed: Long): Unit = {
    val s = lit(seed)
    val vocab = array(Vocab.map(lit): _*)
    def word(key: org.apache.spark.sql.Column, salt: org.apache.spark.sql.Column) =
      element_at(vocab, pmod(hash(key, salt, s), lit(Vocab.size)) + 1)
    val id = col("doc_id")
    spark.range(0, docs, 1, 2).toDF("doc_id")
      .withColumn("ck",
        when(pmod(id, lit(17)) === 7, greatest(id - 3, lit(0L)))
          .when(pmod(id, lit(17)) === 11, greatest(id - 5, lit(0L)))
          .otherwise(id))
      .withColumn("nw", lit(10) + pmod(hash(col("ck"), lit(-1), s), lit(91)))
      .withColumn("text", concat_ws(" ",
        transform(sequence(lit(0), col("nw") - 1), j => word(col("ck"), j))))
      .withColumn("text", when(pmod(id, lit(17)) === 11,
        concat(col("text"), lit(" "), word(id, lit(-2)))).otherwise(col("text")))
      .withColumn("text", when(pmod(col("ck"), lit(41)) === 3,
        concat(col("text"), lit(" tailkey"))).otherwise(col("text")))
      .withColumn("lang", element_at(
        array(Seq("en", "en", "en", "zh", "de", "fr").map(lit): _*),
        pmod(hash(id, lit(-3), s), lit(6)) + 1))
      .withColumn("source", concat(lit("src"), pmod(id, lit(20)).cast("string")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val v = col("vec_id")
    spark.range(0, vecs, 1, 2).toDF("vec_id")
      .withColumn("ck", when(pmod(v, lit(19)) === 13, greatest(v - 4, lit(0L)))
        .otherwise(v))
      .withColumn("embedding", transform(sequence(lit(0), lit(63)), j =>
        ((pmod(hash(col("ck"), j + 1000, s), lit(2001)) - 1000).cast("double") / 1000.0 +
          when(pmod(v, lit(19)) === 13,
            (pmod(hash(v, j + 5000, s), lit(21)) - 10).cast("double") / 1000.0)
            .otherwise(lit(0.0))).cast("float")))
      .withColumn("label", pmod(v, lit(8)).cast("int"))
      .select("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Planted exact-duplicate pairs (a, a − 3) whose members q47 put in
    * different clusters; 0 means planted recall is 1. */
  def missedExactPairs(clusters: org.apache.spark.sql.DataFrame): Long = {
    val c = clusters.select(col("doc_id"), col("cluster_id"))
    val dups = c.filter(pmod(col("doc_id"), lit(17)) === 7 && col("doc_id") >= 3)
      .select((col("doc_id") - 3).as("partner"), col("cluster_id").as("ca"))
    val partners = c.select(col("doc_id").as("partner"), col("cluster_id").as("cb"))
    dups.join(partners, Seq("partner"), "left")
      .filter(col("cb").isNull || col("cb") =!= col("ca"))
      .count()
  }

  /** Number of planted exact-duplicate pairs for `docs` documents. */
  def plantedExactPairs(docs: Int): Long =
    (0L until docs).count(i => i % 17 == 7 && i >= 3).toLong
}
