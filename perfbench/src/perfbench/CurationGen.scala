package perfbench

import org.apache.spark.sql.SparkSession

import MetricaGen.pick

/** Seeded corpus for the curation workload: the `documents` and
  * `embeddings` tables the curation entries read, with the columns, types
  * and distribution of the repository's test corpus (TESTDATA.md):
  *
  *  - documents: 10-105 tokens over a 31-word vocabulary, five
  *    languages, twenty sources. One document in forty repeats its
  *    predecessor's tokens plus one more, a planted near-duplicate pair
  *    at 3-shingle Jaccard s/(s+1), where the MinHash-LSH entries detect
  *    pairs with probability close to 1 (the premise their oracles hold).
  *  - embeddings: 64-dimensional float vectors in ten label clusters
  *    (centre plus small noise), the layout the IVF and PQ entries
  *    recover with the recall their oracles assert.
  */
object CurationGen {

  val vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window",
    "index", "shard")
  private val langs = Vector("en", "es", "de", "fr", "zh")

  def docText(seed: Long, id: Long): String = {
    val base = if (id % 40 == 1) id - 1 else id
    val n = 10 + pick(seed, base, 100, 96)
    val words = (0 until n).map(j => vocab(pick(seed, base * 131 + j, 101, vocab.size)))
    val extra = if (base != id) Seq(vocab(pick(seed, id, 102, vocab.size))) else Nil
    (words ++ extra).mkString(" ")
  }

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`. */
  def write(spark: SparkSession, seed: Long, nDocs: Long, nVecs: Long,
      dir: String): Unit = {
    import spark.implicits._
    spark.range(nDocs).as[Long].map { id =>
        val text = docText(seed, id)
        (id, text, langs(pick(seed, id, 103, langs.size)),
          s"src${pick(seed, id, 104, 20)}", text.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.range(nVecs).as[Long].map { id =>
        val label = pick(seed, id, 110, 10)
        val v = Array.tabulate(64) { d =>
          ((pick(seed, label * 64L + d, 111, 2000) / 1000.0 - 1.0) +
            (pick(seed, id * 64L + d, 112, 2000) / 4000.0 - 0.25)).toFloat
        }
        (id, v.toSeq, label)
      }.toDF("vec_id", "embedding", "label")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
