package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sink.CuratedSink
import graft.text.{Curate, Dedup, TextOps}

/** Raw documents to packed shards: the curation accounting table, one
  * document kept per MinHash near-duplicate component, token-budget
  * shards, and the lang-partitioned parquet export. */
class CurateWl(inputs: String, scratch: String) extends Workload {
  private val docsPath = s"$inputs/documents.parquet"
  private val outDir = s"$scratch/curated"
  private val shardTokens = 10000L
  private var acct: Seq[Row] = null

  private def keepOnePerComponent(docs: DataFrame, comps: DataFrame): DataFrame = {
    val reps = docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .groupBy(coalesce(col("component"), col("doc_id")).as("component"))
      .agg(min(col("doc_id")).as("doc_id"))
    docs.join(reps.select(col("doc_id")), Seq("doc_id"), "left_semi")
  }

  private def export(kept: DataFrame, shards: DataFrame): Unit =
    CuratedSink.write(kept.join(shards.select(col("doc_id"), col("shard")), "doc_id"),
      outDir, Seq("lang"), Seq("shard", "doc_id"))

  def pass(spark: SparkSession, i: Int, clock: Option[LayerClock]): Seq[OpResult] = {
    val docs = spark.read.parquet(docsPath)
    val nDocs = docs.count()
    val t0 = System.nanoTime()
    var t1 = t0
    val (table, kept) = clock match {
      case None =>
        val table = Curate.curationPipeline(docs, minStopwords = 0).collect().toSeq
        // the kept set feeds both the packer and the export join
        val kept = keepOnePerComponent(docs, Dedup.minhashComponents(spark, docs)).persist()
        export(kept, TextOps.packShards(kept, shardTokens))
        t1 = System.nanoTime()
        (table, kept)
      case Some(c) =>
        val table = c.time("curate.Curate.curationPipeline_s")(
          Curate.curationPipeline(docs, minStopwords = 0).collect().toSeq)
        val gate = c.materialize("curate.TextOps.gopherRules_s")(TextOps.gopherRules(docs))
        val exact = c.materialize("curate.Dedup.exactDedup_s")(Dedup.exactDedup(docs))
        val comps = c.materialize("curate.Dedup.minhashComponents_s")(Dedup.minhashComponents(spark, docs))
        c.materialize("curate.TextOps.langId_s")(TextOps.langId(docs))
        val kept = c.materialize("curate.keep_one_per_component_s")(keepOnePerComponent(docs, comps))
        val shards = c.materialize("curate.TextOps.packShards_s")(TextOps.packShards(kept, shardTokens))
        c.time("curate.CuratedSink.write_s")(export(kept, shards))
        t1 = System.nanoTime()
        val passed = gate.filter(col("ok_word_count") && col("ok_mean_len") &&
          col("ok_symbol_ratio") && col("ok_alpha_ratio")).count()
        c.values("curate.gate_keep_ratio") = passed.toDouble / nDocs
        c.values("curate.exact_keep_ratio") = exact.count().toDouble / nDocs
        c.values("curate.neardup_keep_ratio") = kept.count().toDouble / nDocs
        val files = listFiles(new File(outDir)).filter(_.getName.endsWith(".parquet"))
        c.values("curate.files_written") = files.size.toDouble
        c.values("curate.bytes_written_per_input_byte") =
          files.map(_.length).sum.toDouble / listFiles(new File(docsPath)).map(_.length).sum
        (table, kept)
    }
    Seq(OpResult(s"pass$i", (t1 - t0) / 1e9, nDocs.toDouble,
      if (i < 0) Nil else checks(spark, table, kept)))
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  /** The accounting table is the same on every pass (the oracle checks
    * the first one after the run), and every kept document sits in
    * exactly one shard of the export. */
  private def checks(spark: SparkSession, table: Seq[Row], kept: DataFrame): Seq[String] = {
    val failed = Seq.newBuilder[String]
    val sorted = table.sortBy(_.toString)
    if (acct == null) acct = sorted
    else if (acct != sorted) failed += "accounting table differs between passes"
    val copies = spark.read.parquet(outDir).groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val r = kept.select(col("doc_id"), lit(1).as("k")).join(copies, Seq("doc_id"), "full_outer")
      .agg(count(lit(1)), sum(when(col("n").isNull, 1).otherwise(0)),
        sum(when(col("k").isNull || col("n") > 1, 1).otherwise(0)))
      .head()
    if (r.getLong(1) + r.getLong(2) != 0)
      failed += s"of ${r.getLong(0)} docs, ${r.getLong(1)} kept docs are missing from the " +
        s"export and ${r.getLong(2)} are extra or repeated"
    failed.result()
  }

  override def extra: Map[String, Any] = Map(
    "oracle_sql" -> graft.SparkEntry.oracleSql("q_curation_pipeline"),
    "acct" -> Option(acct).toSeq.flatten.map(r => Seq(
      r.getAs[String]("lang_pred"), r.getAs[String]("source"), r.getAs[Long]("n_docs"),
      r.getAs[Long]("n_tokens"), r.getAs[Long]("n_chars"))))
}
