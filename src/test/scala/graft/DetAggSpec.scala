package graft

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{DiffFunction, LBFGS}
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.DetAgg

/** [[DetAgg.minimizeReported]], the LBFGS call of the gradient
  * families' one training driver: the point it returns is breeze's,
  * and an early stop is reported instead of passing for a fit. */
class DetAggSpec extends AnyFunSuite {

  private def run(fn: DiffFunction[BDV[Double]], maxIter: Int): (BDV[Double], String) = {
    val err = new java.io.ByteArrayOutputStream()
    val x = Console.withErr(err) {
      DetAgg.minimizeReported(new LBFGS[BDV[Double]](maxIter = maxIter, m = 10,
        tolerance = 1e-7), fn, BDV(1.0, -2.0))
    }
    (x, err.toString("UTF-8"))
  }

  private val bowl = new DiffFunction[BDV[Double]] {
    def calculate(p: BDV[Double]): (Double, BDV[Double]) = {
      val d = p - BDV(3.0, 0.5)
      (d dot d, d * 2.0)
    }
  }

  test("a converged or maxIter stop prints nothing and returns minimize's point") {
    val expected = new LBFGS[BDV[Double]](maxIter = 100, m = 10, tolerance = 1e-7)
      .minimize(bowl, BDV(1.0, -2.0))
    val (x, err) = run(bowl, 100)
    assert(x == expected)
    assert(err.isEmpty, err)
    val (_, errMax) = run(bowl, 1)
    assert(errMax.isEmpty, errMax)
  }

  test("a stop after repeated line-search failures is reported with its reason") {
    // the gradient points uphill, so every line search fails: breeze
    // resets its history once, fails again and gives up
    val uphill = new DiffFunction[BDV[Double]] {
      def calculate(p: BDV[Double]): (Double, BDV[Double]) = (p dot p, p * -2.0)
    }
    val (_, err) = run(uphill, 100)
    assert(err.linesIterator.count(_.nonEmpty) == 1, err)
    assert(err.contains("LBFGS stopped after"), err)
    assert(err.contains("iterations: line search failed"), err)
  }
}
