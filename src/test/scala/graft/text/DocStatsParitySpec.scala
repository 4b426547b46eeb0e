package graft.text

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `TextOps.docStats` (the typed kernel behind gopherRules, langId and
  * the quality scores) must equal, column by column, the Catalyst
  * lambda expressions it replaced. Those expressions live on here
  * only, as the reference, over the same `tokensOf` token arrays.
  */
class DocStatsParitySpec extends SparkSpec {
  import spark.implicits._

  private val Stopwords = TextOps.GopherStopwords
  private val Markers = Seq(
    "s_en" -> Seq("the", "a", "of", "and"),
    "s_es" -> Seq("el", "la", "de", "y"),
    "s_de" -> Seq("der", "die", "das", "und"))

  /** The pre-kernel gopherRules / langId expressions, verbatim. */
  private def reference(documents: DataFrame): DataFrame = {
    val words = col("toks")
    val text = col("text")
    val stopBit = (w: Column) => Stopwords.zipWithIndex
      .map { case (s, i) => when(lower(w) === s, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    val markers = Markers.map { case (name, ms) =>
      size(filter(words, t => array_contains(typedLit(ms), lower(t)))).cast(LongType).as(name)
    }
    documents.filter(col("doc_id").isNotNull).select(col("doc_id"), text)
      .as[(Long, String)].map { case (id, t) => (id, t, TextOps.tokensOf(t)) }
      .toDF("doc_id", "text", "toks")
      .select(Seq(
        col("doc_id"),
        size(words).cast(LongType).as("n_words"),
        aggregate(transform(words, w => length(w).cast(LongType)), lit(0L), (a, x) => a + x)
          .as("sum_word_len"),
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast(LongType).as("n_alpha_words"),
        ((length(text) - length(translate(text, "#", ""))).cast(LongType) +
          ((length(text) - length(replace(text, lit("...")))) / 3).cast(LongType)).as("n_symbols"),
        bit_count(aggregate(words, lit(0L), (a, w) => a.bitwiseOR(stopBit(w))))
          .cast(LongType).as("n_stopwords")) ++ markers: _*)
  }

  private val Cols = Seq("n_words", "sum_word_len", "n_alpha_words", "n_symbols",
    "n_stopwords", "s_en", "s_es", "s_de")

  private def byId(df: DataFrame): Map[Long, Seq[Any]] =
    df.select((col("doc_id") +: Cols.map(col)): _*).collect()
      .map(r => r.getLong(0) -> (1 to Cols.length).map(i => r.get(i))).toMap

  private val texts = Seq(
    null,
    "",
    "   \t \n ",
    "the cat sat\r\non the mat.\r\nAnd then\r\n",
    "The THE tHe DER der Der EL el eL La DE Y und UND a A of OF",
    "\u0130stanbul TH\u0130S the\u0130 \u0130 \u212Aelvin the\u212A \u212A",
    "😀😀 the 😀a 𝔘𝔫𝔦 café",
    "..... ...... ### a...b...c ##...# ... .. .",
    "to be or not to be, that is the question; with and of have")

  private def docs = texts.zipWithIndex
    .map { case (t, i) => (java.lang.Long.valueOf(i.toLong), t, "xx") }
    .:+((null.asInstanceOf[java.lang.Long], "the null id", "xx"))
    .toDF("doc_id", "text", "lang")

  test("docStats equals the lambda expressions column by column on edge-case text") {
    val got = byId(TextOps.docStats(docs))
    val want = byId(reference(docs))
    assert(got.keySet == texts.indices.map(_.toLong).toSet, "null doc_id must drop, every other row stay")
    for (id <- want.keys.toSeq.sorted; (c, i) <- Cols.zipWithIndex)
      assert(got(id)(i) == want(id)(i),
        s"doc $id ${Option(texts(id.toInt)).map(_.take(40))}: $c kernel=${got(id)(i)} lambda=${want(id)(i)}")
  }

  test("docStats on a frame with no lang column reads lang as empty") {
    val noLang = docs.drop("lang")
    assert(byId(TextOps.docStats(noLang)) == byId(reference(noLang)))
    assert(TextOps.langId(noLang).select("lang").distinct().as[String].collect().toSeq == Seq(""))
  }

  test("gopherRules and langId keep their output schemas") {
    def shape(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)
    assert(shape(TextOps.gopherRules(docs)) ==
      (Seq("doc_id", "n_words", "sum_word_len", "n_alpha_words", "n_symbols", "n_stopwords")
        .map(_ -> LongType) ++ Seq("ok_word_count", "ok_mean_len", "ok_symbol_ratio",
        "ok_alpha_ratio", "ok_stopwords", "gopher_keep").map(_ -> BooleanType)))
    assert(shape(TextOps.langId(docs)) == Seq("doc_id" -> LongType, "lang" -> StringType,
      "s_en" -> LongType, "s_es" -> LongType, "s_de" -> LongType, "predicted" -> StringType))
  }
}
