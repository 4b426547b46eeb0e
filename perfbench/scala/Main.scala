package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: sets the session up `--setups` times (build + one
  * untimed warm-up pass each), runs more untimed passes for
  * `--warm-seconds`, then runs closed-loop passes for `--seconds` and
  * writes every raw measurement as one JSON object to `--out`. `perfbench/run.py` turns that into the reported
  * metrics.
  *
  * With `--trace 1` the measured time is split in half: plain passes
  * first, then traced passes that time each layer alone. The
  * benchmark's own [[SparkStats]] listener is registered for both
  * halves; its totals come from the plain half. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val scratch = a("scratch")
    val nSetups = a("setups").toInt
    val warmSeconds = a("warm-seconds").toDouble
    val wl: Workload = workload match {
      case "dag" => new Dag(a("inputs"), a("fixtures"), scratch, seed)
      case "screen" => new Screen(a("inputs"), scratch, seed)
      case "curate" => new CurateWl(a("inputs"), scratch)
      case "queries" => new Queries(a("inputs"), seed, a("queries"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var spark: SparkSession = null
    def release(): Unit = {
      graft.text.Dedup.releaseCaches()
      spark.catalog.clearCache()
    }
    val setups = Seq.newBuilder[Map[String, Double]]
    for (s <- 1 to nSetups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Session.build(cores, scratch)
      val t1 = System.nanoTime()
      wl.pass(spark, -s, None)
      release()
      val t2 = System.nanoTime()
      setups += Map("session_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9)
    }
    // JIT compilation keeps shortening passes well after the first
    // one: more untimed passes, so the timed ones start near steady
    val warmStart = System.nanoTime()
    var w = nSetups
    while ((System.nanoTime() - warmStart) / 1e9 < warmSeconds) {
      w += 1
      wl.pass(spark, -w, None)
      release()
    }
    Heap.liveMb() // the timed passes start from a collected heap

    val ops = Seq.newBuilder[OpResult]
    var next = 0
    def loop(budget: Double, clock: Option[LayerClock]): Seq[Double] = {
      val start = System.nanoTime()
      val walls = Seq.newBuilder[Double]
      var n = 0
      while (n == 0 || (System.nanoTime() - start) / 1e9 < budget) {
        val i = next
        next += 1
        clock.foreach(_.pass = i)
        val rs = try wl.pass(spark, i, clock) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] pass $i threw: $e")
            e.printStackTrace()
            clock.foreach(_.release())
            Seq(OpResult(s"pass$i", Double.NaN, 0.0, Seq(s"threw: $e")))
        }
        ops ++= rs
        walls += rs.map(_.seconds).sum
        release()
        n += 1
      }
      walls.result()
    }

    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "setups" -> setups.result(), "warm_passes" -> (w - nSetups))
    val passSeconds = if (!trace) loop(seconds, None) else {
      val stats = new SparkStats
      spark.sparkContext.addSparkListener(stats)
      val before = stats.snapshot(spark)
      val plain = loop(seconds / 2, None)
      val opsPlain = ops.result().size
      val sparkTotals = SparkStats.diff(stats.snapshot(spark), before)
      val clock = new LayerClock
      clock.stats = stats
      val traced = loop(seconds / 2, Some(clock))
      spark.sparkContext.removeSparkListener(stats)
      out ++= Seq(
        "plain_pass_s" -> plain, "traced_pass_s" -> traced,
        "spark" -> sparkTotals, "spark_ops" -> opsPlain,
        "layers" -> wl.layerValues(clock, traced.size),
        "spans" -> clock.spans.map { case (p, l, s, e) =>
          Map("pass" -> p, "layer" -> l, "start_s" -> s, "end_s" -> e) })
      plain
    }
    val all = ops.result()
    val heapMb = Heap.liveMb()
    out ++= Seq(
      "pass_s" -> passSeconds,
      // the live heap grows pass over pass, so its peak is at the end
      "heap_mb" -> heapMb,
      "ops" -> all.map(o => Map("name" -> o.name, "seconds" -> o.seconds,
        "items" -> o.items, "failures" -> o.failures) ++ o.detail),
      "extra" -> wl.extra)
    spark.stop()
    Files.write(Paths.get(a("out")), Json(out).getBytes(StandardCharsets.UTF_8))
  }
}
