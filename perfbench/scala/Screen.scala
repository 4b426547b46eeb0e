package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Pipeline
import graft.echem._
import graft.echem.ProcessRunner.{Run, RunOutput}
import graft.echem.Schemas.Slab
import graft.sink.JdbcUpsert

/** The echem modules at screening scale: every slab of every seeded
  * bulk is rendered, run, parsed and analyzed; the results load into a
  * sink that already holds a seeded half of the keys, and the report
  * renders one figure per material. */
class Screen(inputs: String, scratch: String, seed: Long) extends Workload {
  private val facets = Seq("100", "110", "111")
  private val shifts = 2
  private val charges = Seq(-0.1, 0.0, 0.1)
  private val bulkDir = s"$inputs/bulks"
  private val exec = SynthExec(seed)
  private val sink = new DerbySink("perfbench_screen", "SCREEN_RESULTS")
  private val (url, props, table) = (sink.url, sink.props, sink.table)
  private val preload: Seq[String] = scala.io.Source.fromFile(s"$inputs/preload.txt", "UTF-8")
    .getLines().filter(_.nonEmpty).toSeq

  private def runsOf(slabs: Dataset[Slab]): Dataset[Run] = {
    import slabs.sparkSession.implicits._
    val cs = charges
    slabs.flatMap { s =>
      cs.map(q => Run(s"${s.mpKey}_${java.math.BigDecimal.valueOf(q).toPlainString}",
        JdftxDeck.render(s, q)))
    }
  }

  private def metricsOf(outputs: Dataset[RunOutput]): DataFrame =
    JdftxOutParser.metricsFromRuns(outputs.filter(col("exitCode") === 0).toDF())

  def pass(spark: SparkSession, i: Int, clock: Option[LayerClock]): Seq[OpResult] = {
    sink.reset(preload)
    val outDir = s"$scratch/screen-report"
    val t0 = System.nanoTime()
    val (slabs, results) = clock match {
      case None =>
        // slabs feed both the runs and the geometry, metrics both the
        // fit and the figure series: cache each once per pass
        val slabs = SlabGen.generate(PoscarCodec.read(spark, bulkDir), facets, shifts).persist()
        val metrics = metricsOf(ProcessRunner.run(runsOf(slabs), exec)).persist()
        val geometry = Pipeline.slabGeometry(slabs)
        val results = Analysis.electrochem(metrics, geometry)
        Pipeline.runDiamond(results)(df => JdbcUpsert.upsertAppend(spark, df, "mp_id", url, table, props))
        Pipeline.writeReport(results, Analysis.electrochemSeries(metrics, geometry), outDir)
        (slabs, results)
      case Some(c) =>
        val bulks = c.materialize("screen.PoscarCodec.read_s")(PoscarCodec.read(spark, bulkDir))
        val slabs = c.materialize("screen.SlabGen.generate_s")(SlabGen.generate(bulks, facets, shifts))
        val runs = c.materialize("screen.JdftxDeck.render_s")(runsOf(slabs))
        val outputs = c.materialize("screen.ProcessRunner.run_s")(ProcessRunner.run(runs, exec))
        val metrics = c.materialize("screen.JdftxOutParser.metricsFromRuns_s")(metricsOf(outputs))
        val geometry = Pipeline.slabGeometry(slabs)
        val results = c.materialize("screen.Analysis.electrochem_s")(Analysis.electrochem(metrics, geometry))
        val series = c.materialize("screen.Analysis.electrochem_s")(
          Analysis.electrochemSeries(metrics, geometry))
        c.time("screen.JdbcUpsert.upsertAppend_s")(
          JdbcUpsert.upsertAppend(spark, results, "mp_id", url, table, props))
        c.time("screen.Pipeline.writeReport_s")(Pipeline.writeReport(results, series, outDir))
        (slabs, results)
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val (nRuns, failures) =
      if (i < 0) (0L, Nil) else checks(spark, slabs, results, clock)
    clock.foreach(_.release())
    Seq(OpResult(s"pass$i", seconds, nRuns.toDouble, failures))
  }

  /** Every material matches the closed-form fit of its generated logs,
    * and the sink appended exactly the keys it did not hold. */
  private def checks(spark: SparkSession, slabs: Dataset[Slab],
                     results: DataFrame, clock: Option[LayerClock]): (Long, Seq[String]) = {
    val failed = Seq.newBuilder[String]
    val geom = Pipeline.slabGeometry(slabs).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val got = results.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    if (got.keySet != geom.keySet)
      failed += s"${got.size} materials analyzed, ${geom.size} slabs generated"
    val bad = got.count { case (m, (pzc, cap)) =>
      geom.get(m).forall { case (c00, c11) =>
        val (ePzc, eCap) = SynthExec.expected(seed, m, charges, c00, c11)
        !SynthExec.close(pzc, ePzc, 1e-9) || !SynthExec.close(cap, eCap, 1e-9)
      }
    }
    if (bad > 0) failed += s"$bad materials differ from the closed-form fit"
    val offered = got.size
    val held = preload.count(got.contains)
    val rows = spark.read.jdbc(url, table, props).count()
    val appended = rows - preload.size
    if (appended != offered - held)
      failed += s"appended $appended rows, want $offered offered - $held held"
    clock.foreach { c =>
      c.values("screen.slabs") = geom.size.toDouble
      c.values("screen.runs") = geom.size.toDouble * charges.size
      c.values("screen.load_new_ratio") = appended.toDouble / offered
    }
    (geom.size.toLong * charges.size, failed.result())
  }
}
