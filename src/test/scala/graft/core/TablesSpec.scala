package graft.core

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `Tables.events` must normalize every `ts` encoding the driver has
  * shipped (or could ship) to the engine contract — LONG ns since
  * epoch — and refuse to guess when the unit is genuinely unknowable.
  * The plain-INT64 cases are the advice-flagged hazard: an
  * unannotated µs column read "as ns" would be a silent 1000× error. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // one day in 2024, in each unit
  private val baseUs = 1700000000000000L // ≈ 2023-11-14, microseconds
  private val baseNs = baseUs * 1000L

  private def writeEvents(dir: String, tsValues: Seq[Long]): Unit =
    tsValues.zipWithIndex.map { case (ts, i) =>
      (i.toLong, ts, i.toLong % 7, s"type${i % 3}", i * 1.5, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/events.parquet")

  test("spreadTable names an unregistered table and the map to edit") {
    val e = intercept[RuntimeException](Tables.spreadTable(spark, "/nonexistent", "lineitem"))
    assert(e.getMessage.contains("'lineitem'") && e.getMessage.contains("Tables.spreadTables"))
  }

  test("current testdata normalizes to ns and round-trips through eventsWithTs") {
    val e = Tables.events(spark, "/root/testdata/sf0.001")
    assert(e.schema("ts").dataType == org.apache.spark.sql.types.LongType)
    val mx = e.agg(max(col("ts"))).collect()(0).getLong(0)
    assert(mx > 100000000000000000L, s"ns-contract violated: max ts $mx")
  }

  test("plain INT64 ts in the us band is widened x1000, not misread as ns") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbl-us").toString
    writeEvents(dir, (0 until 100).map(i => baseUs + i * 1000000L))
    val e = Tables.events(spark, dir)
    val got = e.orderBy("event_id").select("ts").limit(1).collect()(0).getLong(0)
    assert(got == baseUs * 1000L, s"expected ns ${baseUs * 1000L}, got $got")
  }

  test("plain INT64 ts in the ns band passes through unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbl-ns").toString
    writeEvents(dir, (0 until 100).map(i => baseNs + i * 1000000000L))
    val e = Tables.events(spark, dir)
    val got = e.orderBy("event_id").select("ts").limit(1).collect()(0).getLong(0)
    assert(got == baseNs, s"expected ns $baseNs, got $got")
  }

  test("loaders memoize the resolved plan per (session, dir, table)") {
    // the per-query bench floor lever: repeated loads must return
    // the SAME DataFrame (no re-listing, no re-inference, and for
    // events no repeated driver-side footer pass) — reference
    // equality is the strongest form of that contract
    val d = "/root/testdata/sf0.001"
    assert(Tables.lineitem(spark, d) eq Tables.lineitem(spark, d))
    assert(Tables.events(spark, d) eq Tables.events(spark, d))
    // distinct dirs stay distinct plans
    assert(!(Tables.lineitem(spark, d) eq
      Tables.lineitem(spark, "/root/testdata/sf0.01")))
  }

  test("plain INT64 ts outside both epoch bands refuses loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tbl-ms").toString
    writeEvents(dir, (0 until 10).map(i => 1700000000000L + i)) // millis band
    val ex = intercept[Exception](Tables.events(spark, dir))
    assert(ex.getMessage.contains("refusing to guess"), ex.getMessage)
  }
}
