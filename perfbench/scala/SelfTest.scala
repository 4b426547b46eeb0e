package perfbench

import org.apache.spark.sql.functions.col

/** Checks of the synthetic DFT stand-in, run by perfbench/test_bench.py:
  * logs are byte-identical for the same seed, and the library's parser
  * reads each one like a golden JDFTx log — the last FillingsUpdate
  * wins, with 9 to 72 updates per log. Exits non-zero on failure. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val scratch = args(0)
    val keys = for {
      m <- Seq("sb1-0000-100-0", "sb1-0007-111-1", "mp-1021522-111-3")
      c <- Seq("-0.1", "0.0", "0.1")
    } yield s"${m}_$c"
    val failures = Seq.newBuilder[String]
    for (k <- keys) {
      if (SynthExec.log(7L, k) != SynthExec.log(7L, k)) failures += s"$k: log not repeatable"
      if (SynthExec.log(7L, k) == SynthExec.log(8L, k)) failures += s"$k: seed has no effect"
    }
    val spark = Session.build(2, scratch)
    try {
      import spark.implicits._
      val runs = keys.map(k => (k, SynthExec.log(7L, k), 0)).toDF("key", "output", "exitCode")
      val parsed = graft.echem.JdftxOutParser.metricsFromRuns(runs)
        .select(col("mp_key"), col("charge"), col("mu"), col("nelectrons"), col("n_updates"))
        .collect()
      if (parsed.length != keys.size) failures += s"${parsed.length} logs parsed, want ${keys.size}"
      for (r <- parsed) {
        val key = s"${r.getString(0)}_${java.math.BigDecimal.valueOf(r.getDouble(1)).toPlainString}"
        val n = r.getLong(4)
        if (r.getDouble(2) != SynthExec.finalMu(7L, key) || r.getDouble(3) != SynthExec.finalNe(7L, key))
          failures += s"$key: parsed (${r.getDouble(2)}, ${r.getDouble(3)}) is not the last update"
        if (n < 9 || n > 72 || n != SynthExec.updates(7L, key))
          failures += s"$key: $n updates, want ${SynthExec.updates(7L, key)} in [9, 72]"
      }
    } finally spark.stop()
    val f = failures.result()
    f.foreach(m => System.err.println(s"[selftest] FAIL $m"))
    if (f.nonEmpty) sys.exit(1)
    println(s"[selftest] ok: ${keys.size} synthetic logs")
  }
}
