package graft.text

import graft.SparkSpec
import org.apache.spark.sql.execution.{DeserializeToObjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** The composed pipeline must drop exactly what its stages say it
  * drops: quality-failing docs never reach dedup, duplicate texts
  * collapse to one representative, and the accounting counts only
  * survivors.
  */
class CurateSpec extends SparkSpec {
  import spark.implicits._

  // 60 alpha words incl. several stopwords → passes every Gopher rule
  private val good =
    ("the quick brown fox jumps over the lazy dog and runs to " * 6).trim

  private def docs(rows: (Long, String, String, String)*) =
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("an impossible stopword floor fails loudly, not as a silently empty table") {
    // n_stopwords counts DISTINCT stopwords from the 8-word list —
    // a floor of 9 can never pass any document (r13 review)
    val e = intercept[IllegalArgumentException](
      Curate.curationPipeline(docs((1L, good, "en", "web")), minStopwords = 9))
    assert(e.getMessage.contains("can never pass"))
  }

  test("gate, dedup, and accounting compose: short docs drop, dup texts collapse") {
    val df = docs(
      (1L, good, "en", "web"),
      (2L, good, "en", "web"),            // exact dup of 1 → collapsed
      (3L, "too short", "en", "web"),     // fails gopher word count
      (4L, good + " extra", "en", "books"))
    val out = Curate.curationPipeline(df)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val nWords = good.split("\\s+").length.toLong
    assert(out == Set(
      ("en", "web", 1L, nWords, good.length.toLong),
      ("en", "books", 1L, nWords + 1L, (good.length + 6).toLong)))
  }

  test("language split: Spanish markers route to es") {
    // needs two distinct Gopher stopwords ("to", "be") to clear the
    // English-centric gate while staying Spanish-dominant for langid
    val es = ("el perro la casa de madera y el gato to be grande corre " * 6).trim
    val df = docs((1L, good, "en", "web"), (2L, es, "es", "web"))
    val langs = Curate.curationPipeline(df)
      .select("lang_pred").as[String].collect().toSet
    assert(langs == Set("en", "es"))
  }

  test("one typed decode of the documents and one scoped cache per call") {
    // the gate and language ID are ONE kernel pass; a re-tokenizing
    // stage (a second decode) or a re-added post-dedup cache fails here
    val df = docs((1L, good, "en", "web"), (2L, good, "en", "web"), (3L, "too short", "en", "web"))
    val before = Dedup.scopedCaches.toArray.toSet
    val out = Curate.curationPipeline(df)
    val registered = Dedup.scopedCaches.toArray.toSet -- before
    out.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def decodes(p: SparkPlan): Seq[DeserializeToObjectExec] = helper.flatMap(p) {
      case d: DeserializeToObjectExec => Seq(d)
      case s: InMemoryTableScanExec if seen.add(s.relation.cacheBuilder) =>
        decodes(s.relation.cachedPlan)
      case _ => Nil
    }
    val found = decodes(out.queryExecution.executedPlan)
    assert(found.size == 1, s"expected one typed decode, found ${found.size}:\n${found.mkString("\n")}")
    assert(helper.find(found.head)(_.isInstanceOf[InMemoryTableScanExec]).isEmpty,
      "the decode must read the documents scan, not a cache")
    assert(registered.size == 1, s"expected one scoped cache, registered ${registered.size}")
  }

  test("empty after gating yields an empty accounting table") {
    val df = docs((1L, "tiny", "en", "web"))
    assert(Curate.curationPipeline(df).count() == 0L)
  }
}
