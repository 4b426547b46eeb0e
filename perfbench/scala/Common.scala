package perfbench

import org.apache.spark.sql.SparkSession

/** One timed operation's outcome: `seconds` of timed wall time, `items`
  * units of work done (runs, docs, materials, queries), and the names
  * of the output checks it failed. */
case class OpResult(name: String, seconds: Double, items: Double, failures: Seq[String],
                    detail: Map[String, Any] = Map.empty)

/** A closed-loop workload: one client (the driver thread) issues one
  * pass after another. A pass is one or more timed operations; the
  * output checks run after each operation's timer stops. */
trait Workload {
  /** One pass; `clock` is set on traced passes, which call each layer
    * on its own and materialize its output. Warm-up passes have a
    * negative `i` and skip the output checks. */
  def pass(spark: SparkSession, i: Int, clock: Option[LayerClock]): Seq[OpResult]
  /** Outputs the oracle compares after the run, outside any timing. */
  def extra: Map[String, Any] = Map.empty
  /** Workload-level per-layer values from the traced passes. */
  def layerValues(clock: LayerClock, passes: Int): Map[String, Double] =
    clock.seconds.map { case (k, v) => k -> v / passes }.toMap ++ clock.values
}

object Session {
  def build(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", graft.core.Sessions.CodegenCacheEntries)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      // the status store keeps up to 1,000 jobs, stages and SQL
      // executions; a short history keeps the live heap a property of
      // the workload instead of the run length
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", scratch + "/spark-local")
      .config("spark.sql.warehouse.dir", scratch + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Sessions.tune(spark)
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= "\\u%04x".format(c.toInt)
      case c => sb += c
    }
    (sb += '"').result()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One table of an embedded in-memory Derby database, emptied (and
  * optionally seeded with keys) before each pass. */
class DerbySink(db: String, val table: String) {
  val url = s"jdbc:derby:memory:$db;create=true"
  val props: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    p
  }

  def reset(preload: Seq[String] = Nil): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute(s"CREATE TABLE $table (mp_id VARCHAR(200), pzc DOUBLE, capacitance DOUBLE)")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
      st.execute(s"DELETE FROM $table")
      val ps = conn.prepareStatement(s"INSERT INTO $table VALUES (?, 0.0, 0.0)")
      preload.foreach { k => ps.setString(1, k); ps.addBatch() }
      if (preload.nonEmpty) ps.executeBatch()
    } finally conn.close()
  }
}
