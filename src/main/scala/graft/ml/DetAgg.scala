package graft.ml

import scala.reflect.ClassTag

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{DiffFunction, FirstOrderMinimizer, LBFGS}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The shared training and serving machinery of the six gradient model
  * families — [[Cnn]], [[Lstm]], [[LstmStack]], [[ConvPipe]],
  * [[TowerFusion]] and [[SpecCnn]]: [[fit]] is their one LBFGS training
  * loop, [[scoreChecked]] their one fail-loud batch-scoring seam.
  *
  * Training aggregates through [[ordered]], the deterministic
  * replacement for `treeAggregate`/`reduce` over training partials.
  * Spark's `reduce` (and `treeAggregate`'s final level) folds task
  * results in COMPLETION order, and double addition is commutative
  * but not associative — so two runs of the identical training job can
  * produce models differing in final ulps. That made the "deterministic:
  * seeded init" claim quietly false, and it breaks the M13 gate that
  * all-1.0 weights reproduce the unweighted model BIT-exactly
  * (CnnSpec/LstmSpec pin that identity).
  *
  * Here partials combine in PARTITION-INDEX order through a fixed
  * two-level tree: groups of `fanout` partition partials fold
  * index-ascending on executors (one shuffle of P tiny records — each a
  * (loss, gradient) pair, O(nP) doubles), then the G = ceil(P/fanout)
  * group partials fold group-ascending on the driver. Driver traffic per
  * call is G·nP doubles — a few MB per LBFGS iteration even at 10⁵
  * partitions with the CNN/LSTM parameter counts, same order as
  * `treeAggregate`'s own final level. The group fold runs where the data
  * is; only the already-reduced group partials cross to the driver —
  * this is control-plane aggregation, not a data collect. */
object DetAgg {

  /** Fold per-partition partials in strict partition-index order.
    * `perPartition` must emit AT MOST one `(partitionIndex, partial)`
    * record per partition (empty partitions may emit none). `add` may
    * mutate and return its left argument (the accumulator is always a
    * fresh `zero`). */
  def ordered[T: ClassTag](perPartition: RDD[(Int, T)], fanout: Int = 64)(
      zero: => T)(add: (T, T) => T): T = {
    val groups = perPartition
      .map { case (i, v) => (i / fanout, (i, v)) }
      .groupByKey()
      .mapValues(it => it.toArray.sortBy(_._1).map(_._2).foldLeft(zero)(add))
      .collect().sortBy(_._1)
    groups.map(_._2).foldLeft(zero)(add)
  }

  /** The (loss, gradient) shape every gradient family aggregates: one
    * partial per partition, summed index-ascending. */
  def lossGrad(perPartition: RDD[(Int, (Double, Array[Double]))],
               nP: Int): (Double, Array[Double]) =
    ordered(perPartition)((0.0, new Array[Double](nP))) { (a, b) =>
      val g = a._2
      var i = 0
      while (i < nP) { g(i) += b._2(i); i += 1 }
      (a._1 + b._1, g)
    }

  /** The pre-training stats pass of [[fit]]: per partition, (Σx, Σx²,
    * sample count, window length, Σweight), combined in
    * partition-index order. A partition emits its partial
    * whenever it saw ANY row — keying the skip on the SAMPLE count
    * would silently drop the weights of a partition holding only
    * zero-length windows and hide its length-0 from the ragged check;
    * here such a partition emits len = 0, which collides loudly with
    * every real window length at the combine. */
  private def windowStats(ds: RDD[(Double, Double, Array[Double])])
      : (Double, Double, Long, Int, Double) =
    ordered(
      ds.mapPartitionsWithIndex { case (pi, it) =>
        var s = 0.0; var s2 = 0.0; var c = 0L; var len = -1; var ws = 0.0
        var rows = 0L
        it.foreach { case (_, wt, x) =>
          require(len == -1 || len == x.length,
            s"ragged windows: $len vs ${x.length}")
          len = x.length
          x.foreach { v => s += v; s2 += v * v }
          c += x.length
          ws += wt
          rows += 1
        }
        if (rows == 0L) Iterator.empty
        else Iterator.single((pi, (s, s2, c, len, ws)))
      })((0.0, 0.0, 0L, -1, 0.0)) { (a, b) =>
      require(a._4 == -1 || b._4 == -1 || a._4 == b._4,
        s"ragged windows: ${a._4} vs ${b._4}")
      (a._1 + b._1, a._2 + b._2, a._3 + b._3, math.max(a._4, b._4),
        a._5 + b._5)
    }

  /** One distributed loss/gradient evaluation of a family: (Σ weighted
    * row loss, Σ weighted row gradient) over `(label, weight, data)`
    * rows against the broadcast parameter vector. The family's
    * `gradientPass` behind it must be an object method, so its executor
    * lambdas capture only their arguments — a closure built inside
    * [[fit]]'s anonymous `DiffFunction` would capture that instance and
    * fail serialization. */
  type Pass = (RDD[(Double, Double, Array[Double])], Broadcast[Array[Double]])
    => (Double, Array[Double])

  /** The training discipline every gradient family shares — the
    * reference's one `nnTrainer` loop, with the family supplying only
    * its architecture:
    *
    *   - rows are (`label`, weight, `dataCol`) — the weight is
    *     `weightCol` (the M13 per-row weight, built with
    *     [[Trainer.subtypeWeightCol]]) or 1.0 — persisted once for the
    *     whole fit and released however it ends;
    *   - [[windowStats]] gives the corpus-global z-scaling (mean, std)
    *     over every input value (UNWEIGHTED: weighting steers the loss,
    *     not the input normalization, the MLlib standardization
    *     contract), the common data length, and the weight sum. A
    *     training set with no input value (no rows, or only empty
    *     arrays), or whose weight sum is not positive finite, fails
    *     here, before any family shape check;
    *   - `model(mean, std, length)` runs the family's shape checks and
    *     returns its gradient [[Pass]] and how to unpack the solution;
    *   - the objective is Σ loss / Σ weight plus ½·`regParam`·p² over
    *     the entries `isWeight` marks (weights, never biases). Summing
    *     1.0s is exact, so all-1.0 weights reproduce the unweighted
    *     model bit-exactly (the M13 identity the family specs pin);
    *   - breeze LBFGS (m = 10, tolerance 1e-7) from `init`, one
    *     broadcast of the parameter vector per evaluation; an early stop
    *     is reported ([[minimizeReported]]). */
  private[ml] def fit[M](frame: DataFrame, dataCol: String,
      weightCol: Option[String], init: Array[Double],
      isWeight: Array[Boolean], regParam: Double, maxIter: Int)(
      model: (Double, Double, Int) => (Pass, Array[Double] => M)): M = {
    val spark = frame.sparkSession
    import spark.implicits._
    val ds = frame.select(col("label").cast("double"),
        weightCol.map(col).getOrElse(lit(1.0)).cast("double").as("__w"),
        col(dataCol).cast("array<double>"))
      .as[(Double, Double, Array[Double])]
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (sum, sumSq, cnt, len, wSum) = windowStats(ds)
      require(cnt > 0 && wSum > 0 && !wSum.isInfinite,
        s"training set needs at least one sample and a positive finite " +
          s"weight sum: $cnt samples, weight sum $wSum")
      val mean = sum / cnt
      val varr = math.max(sumSq / cnt - mean * mean, 0.0)
      val std = if (varr == 0.0) 1.0 else math.sqrt(varr)
      val (pass, unpack) = model(mean, std, len)
      val nP = init.length
      val sc = spark.sparkContext
      val fn = new DiffFunction[BDV[Double]] {
        def calculate(p: BDV[Double]): (Double, BDV[Double]) = {
          val bw = sc.broadcast(p.data.clone())
          try {
            val (lossSum, gradSum) = pass(ds, bw)
            val grad = new Array[Double](nP)
            var reg = 0.0
            var i = 0
            while (i < nP) {
              grad(i) = gradSum(i) / wSum
              if (isWeight(i)) {
                reg += 0.5 * regParam * p.data(i) * p.data(i)
                grad(i) += regParam * p.data(i)
              }
              i += 1
            }
            (lossSum / wSum + reg, BDV(grad))
          } finally bw.unpersist(false)
        }
      }
      val lbfgs = new LBFGS[BDV[Double]](maxIter = maxIter, m = 10, tolerance = 1e-7)
      unpack(minimizeReported(lbfgs, fn, BDV(init)).data)
    } finally ds.unpersist(false)
  }

  /** `lbfgs.minimize(fn, init)` that does not stop silently: when breeze
    * stops for a reason other than convergence or its `maxIter` (it
    * gives up after two line-search failures in a row), one warning on
    * stderr names the iteration count and breeze's reason. The point
    * returned is the one `minimize` returns. */
  private[graft] def minimizeReported(lbfgs: LBFGS[BDV[Double]],
      fn: DiffFunction[BDV[Double]], init: BDV[Double]): BDV[Double] = {
    import FirstOrderMinimizer.{FunctionValuesConverged, GradientConverged, MaxIterations}
    val st = lbfgs.minimizeAndReturnState(fn, init)
    st.convergenceReason match {
      case Some(MaxIterations | FunctionValuesConverged | GradientConverged) =>
      case r => Console.err.println(s"[graft] LBFGS stopped after ${st.iter} " +
        s"iterations: ${r.fold("no reason given")(_.reason)}")
    }
    st.x
  }

  /** Batch scoring with the serve-length contract: `logit` applied to
    * `dataCol` where its length is the trained `len`, a `raise_error`
    * reading "`what` <length> != `trained`" everywhere else, plus the
    * sigmoid as `p_seizure`. Pure codegen'd column work, no shuffle. A
    * wrong-length input fails loudly instead of scoring a
    * different-length input into a confidently wrong number (the
    * families' `logitCol`s themselves stay permissive — the oracle
    * queries apply them to raw fixture arrays). */
  private[ml] def scoreChecked(df: DataFrame, dataCol: String, len: Int,
      what: String, trained: String)(logit: Column => Column): DataFrame = {
    val c = col(dataCol)
    val z = when(size(c) === len, logit(c))
      .otherwise(raise_error(concat(
        lit(s"$what "), coalesce(size(c).cast("string"), lit("NULL")),
        lit(s" != $trained"))).cast("double"))
    df.withColumn("logit", z)
      .withColumn("p_seizure", lit(1.0) / (lit(1.0) + exp(-col("logit"))))
  }
}
