package graft.testutil

import org.apache.spark.sql.SparkSession

/** A small generated `documents` table (doc_id, text, lang, source,
  * n_chars) for specs that run corpus operators without the shared test
  * data: `n` documents of 8 to 40 tokens over a 30-token vocabulary,
  * every tenth an exact copy of an earlier one plus ` dup`. */
object CorpusFixture {
  def documents(spark: SparkSession, n: Int = 120, seed: Long = 7): String = {
    val dir = SparkSuite.tempDir("graft-corpus")
    val vocab = (0 until 30).map(i => s"w$i")
    val r = new scala.util.Random(seed)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val rows = (0 until n).map { i =>
      val text =
        if (i > 0 && i % 10 == 0) texts(r.nextInt(i)) + " dup"
        else Seq.fill(8 + r.nextInt(33))(vocab(r.nextInt(vocab.length))).mkString(" ")
      texts += text
      (i.toLong, text, if (i % 2 == 0) "en" else "de", s"src${i % 4}", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
}
