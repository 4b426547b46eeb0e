package perfbench

import graft.echem.ProcessRunner.{Exec, RunOutput}

/** Deterministic stand-in for the external DFT binary: the log for a
  * run key is a pure function of (seed, key). It has the shape of the
  * golden JDFTx logs — banner, 9 to 72 electronic-minimization steps
  * each with one `FillingsUpdate:  mu: ... nElectrons: ...` line, and
  * the closing lines — and the LAST update carries the converged
  * values [[SynthExec.finalMu]] and [[SynthExec.finalNe]]. */
case class SynthExec(seed: Long) extends Exec {
  import SynthExec._

  def run(key: String, input: String): RunOutput = RunOutput(key, log(seed, key), 0)
}

object SynthExec {
  private def mix(seed: Long, s: String): Long = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    s.foreach { c => h = (h ^ c) * 0xBF58476D1CE4E5B9L; h ^= h >>> 31 }
    h
  }
  private def rng(seed: Long, s: String) = new java.util.SplittableRandom(mix(seed, s))

  /** (material, charge) from a run key `{material}_{charge}`. */
  def splitKey(key: String): (String, Double) = {
    val i = key.lastIndexOf('_')
    (key.substring(0, i), key.substring(i + 1).toDouble)
  }

  /** Converged mu in nano-Hartree: a per-material level plus a
    * per-material slope times the charge. Integers, so the printed
    * decimal and the expected double are the same number. */
  def finalMuNano(seed: Long, key: String): Long = {
    val (mat, charge) = splitKey(key)
    val r = rng(seed, mat)
    val level = -200000000L + r.nextLong(30000000L)
    val slope = 10000000L + r.nextLong(10000000L)
    level + math.round(slope * charge)
  }
  def finalMu(seed: Long, key: String): Double = finalMuNano(seed, key) / 1e9

  /** Converged electron count in micro-electrons: a per-material
    * integer count plus the surface charge. */
  def finalNeMicro(seed: Long, key: String): Long = {
    val (mat, charge) = splitKey(key)
    val base = 200L + rng(seed, mat + "/ne").nextLong(100L)
    base * 1000000L + math.round(charge * 1e6)
  }
  def finalNe(seed: Long, key: String): Double = finalNeMicro(seed, key) / 1e6

  def updates(seed: Long, key: String): Int = 9 + rng(seed, key + "/n").nextInt(64)

  private def dec(v: Long, scale: Int): String =
    java.math.BigDecimal.valueOf(v, scale).toPlainString

  def log(seed: Long, key: String): String = {
    val r = rng(seed, key + "/log")
    val n = updates(seed, key)
    val mu = finalMuNano(seed, key)
    val ne = finalNeMicro(seed, key)
    val sb = new StringBuilder
    sb ++= "\n*************** JDFTx 1.7.0  ***************\n\n"
    sb ++= s"Executable jdftx with command-line: -i $key.in\n"
    sb ++= "Run totals: 1 processes, 8 threads, 0 GPUs\n\n"
    sb ++= "-------- Electronic minimization -----------\n"
    var t = 0.0
    for (i <- 0 until n) {
      t += 5.0 + r.nextDouble() * 10.0
      val last = i == n - 1
      val m = if (last) mu else mu + (r.nextLong(2000000L) - 1000000L)
      sb ++= f"\tLinear fluid (dielectric constant: 78.4, screening length: 5.74355 Bohr) occupying 0.528365 of unit cell:\tCompleted after ${10 + r.nextInt(20)}%d iterations at t[s]: $t%10.2f\n"
      sb ++= s"\tFillingsUpdate:  mu: ${dec(m, 9)}  nElectrons: ${dec(ne, 6)}\n"
      sb ++= f"ElecMinimize: Iter: $i%3d  F: ${-1034.6 - r.nextDouble() * 1e-3}%.15f  |grad|_K:  1.681e-04  alpha:  1.000e+00\n"
    }
    sb ++= "Dumping 'wfns' ... done\nDumping 'fluidState' ... done\nDone!\n"
    sb.result()
  }

  // constants of the reference's analysis (dags/my_dag.py:164-171)
  private val HaToEv = 27.2114
  private val SheOffsetV = 4.66
  private val BohrA = 0.5291772105638411
  private val ElectronC = 1.60217663e-19

  /** The reference analysis in closed form for one material: PZC is
    * the potential of the charge-0 run, capacitance the least-squares
    * slope of surface charge on potential. `cell00`, `cell11` are the
    * slab's scaled cell diagonals. */
  def expected(seed: Long, material: String, charges: Seq[Double],
               cell00: Double, cell11: Double): (Double, Double) = {
    def key(c: Double) = s"${material}_${java.math.BigDecimal.valueOf(c).toPlainString}"
    val pot = charges.map(c => finalMu(seed, key(c)) * -HaToEv - SheOffsetV)
    val ne0 = finalNe(seed, key(0.0))
    val area = cell00 * cell11 * BohrA * BohrA * 1e-16
    val rhoe = charges.map(c => -(finalNe(seed, key(c)) - ne0) / area * ElectronC * 1e6 / 2.0)
    val mx = pot.sum / pot.size
    val my = rhoe.sum / rhoe.size
    val sxy = pot.zip(rhoe).map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = pot.map(x => (x - mx) * (x - mx)).sum
    (pot(charges.indexOf(0.0)), sxy / sxx)
  }

  def close(a: Double, b: Double, rel: Double): Boolean =
    java.lang.Double.isFinite(a) && math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b))
}
