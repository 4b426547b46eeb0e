package perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Declared queries of `SparkEntry.queries` over the seeded tables, in
  * an order the seed permutes anew on every pass. Each query is timed
  * as build (the query's frame and its count frame), plan (forcing the
  * executed plan) and execute (collecting that same count frame). */
class Queries(inputs: String, seed: Long, names: String) extends Workload {
  private val selected: IndexedSeq[String] = {
    val all = SparkEntry.queries.keySet
    val want = names.split(",").map(_.trim).toSeq
    val unknown = want.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    want.sorted.toIndexedSeq
  }
  private val traced = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()

  def pass(spark: SparkSession, i: Int, clock: Option[LayerClock]): Seq[OpResult] = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(selected)
    order.map { name =>
      val before = clock.map(_.stats.snapshot(spark))
      val t0 = System.nanoTime()
      val result = try {
        val df = SparkEntry.queries(name)(spark, inputs)
        val counted = df.groupBy().count()
        val t1 = System.nanoTime()
        counted.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = counted.collect()(0).getLong(0)
        val t3 = System.nanoTime()
        OpResult(name, (t3 - t0) / 1e9, 1.0, Nil, Map("rows" -> rows,
          "build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name threw: $e")
          OpResult(name, (System.nanoTime() - t0) / 1e9, 0.0, Seq(s"threw: $e"))
      }
      graft.text.Dedup.releaseCaches()
      val withStats = (clock, before) match {
        case (Some(c), Some(b)) =>
          val d = SparkStats.diff(c.stats.snapshot(spark), b)
          val r = Map("jobs" -> d("jobs"), "stages" -> d("stages"),
            "shuffle_bytes" -> (d("shuffle_write_bytes") + d("shuffle_read_bytes")))
          traced += r ++ result.detail.collect { case (k, v: Double) => k -> v }
          result.copy(detail = result.detail ++ r)
        case _ => result
      }
      withStats
    }
  }

  override def layerValues(clock: LayerClock, passes: Int): Map[String, Double] = {
    def sumPerPass(k: String) = traced.map(_.getOrElse(k, 0.0)).sum / passes
    Map(
      "queries.build_s_sum" -> sumPerPass("build_s"),
      "queries.plan_s_sum" -> sumPerPass("plan_s"),
      "queries.exec_s_sum" -> sumPerPass("exec_s"),
      "queries.jobs_p50" -> Stats.median(traced.map(_("jobs")).toSeq),
      "queries.stages_sum" -> sumPerPass("stages"),
      "queries.shuffle_bytes_sum" -> sumPerPass("shuffle_bytes"))
  }

  override def extra: Map[String, Any] = Map(
    "queries" -> selected,
    "oracle_sql" -> selected.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap)
}
