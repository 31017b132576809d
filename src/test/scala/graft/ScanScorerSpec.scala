package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import search.SearchQueries

/** The scan scorer's corpus statistics ([[SearchQueries.withCorpusStats]]):
  * the broadcast row is computed over every doc, so a query that narrows
  * to candidates (a rescore window, an explained doc) still scores with
  * the corpus's n_docs, length sum and df.
  */
class ScanScorerSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("corpus stats cover every doc, not only the candidates") {
    val docs = Seq(
      (1L, "spark join spark", "src1"),
      (2L, "vector table", "src2"),
      (3L, "spark vector row fast", "src1"),
      (4L, "join", "src3")).toDF("doc_id", "text", "source")
    def toks(c: String) = split(lower(col(c)), "\\s+")
    def tf(c: String, t: String) = size(filter(toks(c), x => x === lit(t)))
    val out = SearchQueries.withCorpusStats(docs,
        Seq("n_tokens" -> size(toks("text")), "n_toks_source" -> size(toks("source"))),
        Seq("spark", "vector", "join", "dup").map(t => s"tf_$t" -> tf("text", t)) :+
          ("tf" -> tf("source", "src1")),
        _.filter(col("doc_id") === 1))
    val stats = Seq("n_docs", "sum_dl", "sum_dl_source",
      "df_spark", "df_vector", "df_join", "df_dup", "df")
    stats.foreach(c => assert(out.schema(c).dataType == DoubleType, c))
    val rows = out.select(col("doc_id") +: stats.map(col): _*).collect()
    assert(rows.length == 1, rows.mkString("; "))
    val r = rows.head
    assert(r.getLong(0) == 1L)
    // 4 docs; 3+2+4+1 text tokens; one source token each; spark, vector
    // and join each in 2 docs; dup in none; src1 in 2 sources.
    assert(stats.indices.map(i => r.getDouble(i + 1)) ==
      Seq(4.0, 10.0, 4.0, 2.0, 2.0, 2.0, 0.0, 2.0), r.toString)
    assert(out.select(col("tf_spark"), col("n_tokens")).head().toSeq == Seq(2, 3))
  }
}
