package perfbench

import org.apache.spark.sql.SparkSession

/** Seeded `documents` corpus for the LM workload, shaped like the
  * repository's sf0.01 test corpus: a 30-word vocabulary drawn uniformly,
  * 10 to 99 words per document, 20 round-robin sources, five languages, and
  * a few near-duplicates (an earlier document's text plus the token `dup`)
  * that give the low n-gram orders their small count classes. */
object Corpus {
  val words: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "de", "de", "fr")

  case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  def docs(seed: Long, n: Int): Seq[Doc] = {
    val rnd = new java.util.Random(seed)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val text =
        if (i > 20 && rnd.nextInt(20) == 0) texts(rnd.nextInt(i)) + " dup"
        else Seq.fill(10 + rnd.nextInt(90))(words(rnd.nextInt(words.length))).mkString(" ")
      texts(i) = text
      Doc(i.toLong, text, langs(rnd.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
  }

  /** Writes `<dir>/documents.parquet`, the table the LM queries read. */
  def write(spark: SparkSession, dir: String, seed: Long, n: Int): Unit = {
    import spark.implicits._
    docs(seed, n).toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
