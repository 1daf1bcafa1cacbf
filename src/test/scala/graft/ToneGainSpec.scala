package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Filters, Signal}
import graft.queries.OsdbFixture

/** Numeric safety of the p8/p10/p11 closed-form oracles. No Spark — pure
  * kernel math.
  *
  * For every (f1, f2, a1, a2) tuple the tone fixture can realize, the REAL
  * kernel output (filtfilt RMS, bandPower, centroid, entropy) is compared
  * against the closed form the DuckDB oracle states. Each statistic's
  * max |kernel - closedForm| (in rounding units) must stay below the min
  * distance of closedForm x scale to the nearest .5 rounding boundary —
  * otherwise float error could flip a pinned integer and the oracle would
  * pass or fail by luck.
  *
  * p8 geometry: tones at integer bins of n=1000, filtfilt transient decays
  * at pole radius ~0.915/sample, so by the center window [250, 750) the
  * startup transient is < 1e-9 of the signal; the zero-phase closed form
  * y(i) = A·|H|²·cos(w i) holds to float precision there. (At n=500 /
  * window [125,375) the transient residual was 9.6e-3 x1000-units against
  * a 1.8e-4 worst-case boundary margin — too close; doubling n buys
  * e^(-11) more decay for the same closed form.)
  */
class ToneGainSpec extends AnyFunSuite {

  /** |H(e^jw)|^2 for the 0.5 Hz order-2 Butterworth high-pass at fs=25 —
    * the same textbook formula the DuckDB oracle states in SQL. */
  private def hpGainSq(w: Double): Double = {
    val wc = math.tan(math.Pi * 0.5 / 25.0)
    val k = math.sqrt(2.0)
    val norm = 1.0 / (1.0 + k * wc + wc * wc)
    val b0 = norm; val b1 = -2.0 * norm; val b2 = norm
    val a1 = 2.0 * (wc * wc - 1.0) * norm
    val a2 = (1.0 - k * wc + wc * wc) * norm
    val nr = b0 + b1 * math.cos(w) + b2 * math.cos(2 * w)
    val ni = b1 * math.sin(w) + b2 * math.sin(2 * w)
    val dr = 1.0 + a1 * math.cos(w) + a2 * math.cos(2 * w)
    val di = a1 * math.sin(w) + a2 * math.sin(2 * w)
    (nr * nr + ni * ni) / (dr * dr + di * di)
  }

  /** Distance of v from the nearest round()-flip boundary (frac = .5). */
  private def boundaryDist(v: Double): Double = {
    val f = v - math.floor(v)
    math.abs(f - 0.5)
  }

  // every tuple the fixture realizes: f1/f2 keyed by (k+d) mod lcm(24,21),
  // a1 by k%3, a2 by d%2 — k to 2016 x d to 8 covers the joint set
  private val tuples = (for {
    k <- 0L until 2016L
    d <- 0L until 8L
  } yield (OsdbFixture.toneF1(k, d), OsdbFixture.toneF2(k, d),
           OsdbFixture.toneA1(k), OsdbFixture.toneA2(d))).distinct

  private def tone(n: Int, f1: Int, f2: Int, a1: Int, a2: Int) =
    Array.tabulate(n)(i =>
      1000.0 + a1 * math.cos(2 * math.Pi * f1 * i / n)
             + a2 * math.cos(2 * math.Pi * f2 * i / n))

  /** max kernel error and min closed-form boundary margin, in units of
    * `scale`, over every fixture tuple. */
  private def errAndMargin(
      kernelAndClosedForm: ((Int, Int, Int, Int)) => Seq[(Double, Double)],
      scale: Double): (Double, Double) = {
    val pairs = tuples.flatMap(kernelAndClosedForm)
    (pairs.map { case (k, cf) => math.abs(k - cf) * scale }.max,
     pairs.map { case (_, cf) => boundaryDist(cf * scale) }.min)
  }

  private def assertSafe(label: String, errMargin: (Double, Double)): Unit = {
    val (maxErr, minMargin) = errMargin
    assert(maxErr < minMargin,
      f"$label: maxErr(units)=$maxErr%.3e >= minBoundaryMargin=$minMargin%.3e")
  }

  test("p8 hp_rms_x1000: filtfilt RMS error stays below the rounding margin") {
    val n = 1000
    assertSafe("p8 hp_rms_x1000", errAndMargin({ case (f1, f2, a1, a2) =>
      val y = Filters.highPass(tone(n, f1, f2, a1, a2))
      val rms = math.sqrt((250 until 750).map(i => y(i) * y(i)).sum / 500.0)
      val g1 = hpGainSq(2 * math.Pi * f1 / n)
      val g2 = hpGainSq(2 * math.Pi * f2 / n)
      val cs = (250 until 750).map { i =>
        val yi = a1 * g1 * math.cos(2 * math.Pi * f1 * i / n) +
                 a2 * g2 * math.cos(2 * math.Pi * f2 * i / n)
        yi * yi
      }.sum
      Seq(rms -> math.sqrt(cs / 500.0))
    }, 1000))
  }

  test("p10 band_x1000: band total and peak error stay below the rounding margin") {
    // band [3,8] Hz holds exactly the f1 tone; closed form A1^2/2
    assertSafe("p10 band_x1000", errAndMargin({ case (f1, f2, a1, a2) =>
      val (tot, peak) =
        Signal.bandPower(tone(125, f1, f2, a1, a2), 25.0, 3.0, 8.0)
      val cf = a1 * a1 / 2.0
      Seq(tot -> cf, peak -> cf)
    }, 1000))
  }

  // the n=125 PSD has three live bins: DC (1000² = 1e6) and the two tones
  private def binPowers(a1: Int, a2: Int) = (1e6, a1 * a1 / 2.0, a2 * a2 / 2.0)

  test("p11 cent_x1e7: spectral centroid error stays below the rounding margin") {
    // centroid: fr*(f1 p1 + f2 p2) / (p0 + p1 + p2)
    assertSafe("p11 cent_x1e7", errAndMargin({ case (f1, f2, a1, a2) =>
      val (p0, p1, p2) = binPowers(a1, a2)
      Seq(Signal.spectralCentroid(tone(125, f1, f2, a1, a2), 25.0) ->
        0.2 * (f1 * p1 + f2 * p2) / (p0 + p1 + p2))
    }, 1e7))
  }

  test("p11 ent_x1e7: spectral entropy error stays below the rounding margin") {
    // entropy: -sum q ln q over the three live bins
    assertSafe("p11 ent_x1e7", errAndMargin({ case (f1, f2, a1, a2) =>
      val (p0, p1, p2) = binPowers(a1, a2)
      val t = p0 + p1 + p2
      Seq(Signal.spectralEntropy(tone(125, f1, f2, a1, a2)) ->
        -Seq(p0, p1, p2).map { p => val q = p / t; q * math.log(q) }.sum)
    }, 1e7))
  }
}
