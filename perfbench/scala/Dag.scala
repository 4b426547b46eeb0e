package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Pipeline
import graft.echem._
import graft.echem.ProcessRunner.Run
import graft.sink.JdbcUpsert

/** The reference DAG at its own size, one material per pass: EP1
  * (`Pipeline.full`) over one of the seeded bulk copies, its diamond
  * loading into an embedded Derby sink, then EP2 over the golden DFT
  * logs and the full report. */
class Dag(inputs: String, fixtures: String, scratch: String, seed: Long) extends Workload {
  private val copies = 3
  private val facets = Seq("111")
  private val charges = Seq(-0.1, 0.0, 0.1)
  private val gcDft = s"$fixtures/gc_dft"
  private val slabPoscars = s"$fixtures/slab_poscars"
  private val exec = SynthExec(seed)
  private val sink = new DerbySink("perfbench_dag", "DAG_RESULTS")
  private val (url, props, table) = (sink.url, sink.props, sink.table)

  // golden EP2 result (BASELINE.md)
  private val GoldenPzc = 0.46600598
  private val GoldenCap = 148.52218

  def pass(spark: SparkSession, i: Int, clock: Option[LayerClock]): Seq[OpResult] = {
    val bulkDir = s"$inputs/bulks_${math.floorMod(i, copies)}"
    sink.reset()
    val outDir = s"$scratch/dag-report"
    val t0 = System.nanoTime()
    val ep2 = clock match {
      case None =>
        val existing = spark.read.jdbc(url, table, props).select("mp_id")
        val res = Pipeline.full(spark, bulkDir, facets, nBulkSample = 2, nShifts = 5,
          charges = charges, exec = exec, existing = existing)
        Pipeline.runDiamond(res)(df => JdbcUpsert.upsertAppend(spark, df, "mp_id", url, table, props))
        val metrics = JdftxOutParser.metrics(spark, gcDft)
        val geometry = Pipeline.slabGeometry(PoscarCodec.read(spark, slabPoscars))
        val ep2 = Analysis.electrochem(metrics, geometry)
        Pipeline.writeReport(ep2, Analysis.electrochemSeries(metrics, geometry), outDir,
          Some(slabPoscars))
        ep2
      case Some(c) => traced(spark, c, bulkDir, outDir)
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val ok = if (i < 0) Nil else checks(spark, ep2)
    clock.foreach(_.release())
    Seq(OpResult(s"pass$i", seconds, 1.0, ok))
  }

  /** Pipeline.full's steps, each called on its own, split by the
    * reference DAG's task names. */
  private def traced(spark: SparkSession, c: LayerClock, bulkDir: String,
                     outDir: String): DataFrame = {
    import spark.implicits._
    val bulkAll = c.materialize("dag.extract_s")(PoscarCodec.read(spark, bulkDir))
    val bulks = c.materialize("dag.randomize_bulk_s")(Pipeline.seededSamplePy(bulkAll, 2, 27L))
    val slabs = c.materialize("dag.pymatgen_slab_s")(SlabGen.generate(bulks, facets, 5))
    val picked = c.materialize("dag.randomize_slab_s")(Pipeline.seededSamplePy(slabs, 1, 20L))
    val cs = charges
    val outputs = c.materialize("dag.run_gcdft_s") {
      val runs = picked.flatMap { s =>
        cs.map(q => Run(s"${s.mpKey}_${java.math.BigDecimal.valueOf(q).toPlainString}",
          JdftxDeck.render(s, q)))
      }
      ProcessRunner.run(runs, exec)
    }
    val existing = spark.read.jdbc(url, table, props).select("mp_id")
    val fresh = c.materialize("dag.analyze_electrochem_s") {
      val metrics = JdftxOutParser.metricsFromRuns(outputs.filter(col("exitCode") === 0).toDF())
      JdbcUpsert.newRows(Analysis.electrochem(metrics, Pipeline.slabGeometry(slabs)), existing, "mp_id")
    }
    val metrics = c.materialize("dag.analyze_electrochem_s")(JdftxOutParser.metrics(spark, gcDft))
    val geometry = c.materialize("dag.analyze_electrochem_s")(
      Pipeline.slabGeometry(PoscarCodec.read(spark, slabPoscars)))
    val ep2 = c.materialize("dag.analyze_electrochem_s")(Analysis.electrochem(metrics, geometry))
    val series = c.materialize("dag.analyze_electrochem_s")(
      Analysis.electrochemSeries(metrics, geometry))
    c.time("dag.load_db_s")(JdbcUpsert.upsertAppend(spark, fresh, "mp_id", url, table, props))
    c.time("dag.write_report_s") {
      Pipeline.reportMarkdown(fresh)
      Pipeline.writeReport(ep2, series, outDir, Some(slabPoscars))
    }
    ep2
  }

  /** EP1 loaded exactly one finite row, a repeated load appends none,
    * and EP2 reproduces the golden PZC and capacitance. */
  private def checks(spark: SparkSession, ep2: DataFrame): Seq[String] = {
    val failed = Seq.newBuilder[String]
    val loaded = spark.read.jdbc(url, table, props).collect()
    if (loaded.length != 1 || !loaded.forall(r =>
        java.lang.Double.isFinite(r.getDouble(1)) && java.lang.Double.isFinite(r.getDouble(2))))
      failed += s"ep1 loaded ${loaded.length} rows, want 1 finite row"
    val again = spark.read.jdbc(url, table, props)
    JdbcUpsert.upsertAppend(spark, again, "mp_id", url, table, props)
    val after = spark.read.jdbc(url, table, props).count()
    if (after != loaded.length) failed += s"repeated load appended ${after - loaded.length} rows"
    val g = ep2.collect()
    if (g.length != 1 || !SynthExec.close(g(0).getAs[Double]("pzc"), GoldenPzc, 1e-6) ||
        !SynthExec.close(g(0).getAs[Double]("capacitance"), GoldenCap, 1e-6))
      failed += s"ep2 ${g.mkString(",")} differs from golden ($GoldenPzc, $GoldenCap)"
    failed.result()
  }
}
