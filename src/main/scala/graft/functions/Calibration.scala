package graft.functions

/** Confidence calibrators, semantics mirroring the reference's
  * src/validation/calibration.py:139-326 (Isotonic / Linear, fit on small
  * collected calibration sets, applied row-wise).
  *
  * Fit is driver-side on a collected sample — the reference caps its
  * calibration points in SQLite the same way; at cluster scale the sample is
  * a bounded `limit()` collect, the APPLY side is a broadcast binary-search
  * per row. Isotonic uses classic PAV (pool adjacent violators).
  */
object Calibration {

  /** A fitted isotonic step function: thresholds ascending, value per step. */
  final case class Isotonic(xs: Array[Double], ys: Array[Double]) {
    /** Piecewise-constant-with-linear-interpolation apply (PAV standard). */
    def apply(x: Double): Double = {
      if (xs.isEmpty) return x
      if (x <= xs.head) return ys.head
      if (x >= xs.last) return ys.last
      var lo = 0
      var hi = xs.length - 1
      while (hi - lo > 1) {
        val mid = (lo + hi) >>> 1
        if (xs(mid) <= x) lo = mid else hi = mid
      }
      val (x0, x1, y0, y1) = (xs(lo), xs(hi), ys(lo), ys(hi))
      if (x1 == x0) y0 else y0 + (y1 - y0) * (x - x0) / (x1 - x0)
    }
  }

  /** PAV: fit monotone non-decreasing y(x) minimizing squared error.
    * Input: (score, label) pairs; label typically 0/1. Deterministic:
    * ties on score are pre-pooled by averaging.
    *
    * Pooled blocks keep BOTH boundary thresholds as knots with the same y
    * (sklearn IsotonicRegression's X_thresholds_/y_thresholds_), so apply()
    * is constant within a pooled block and linearly interpolates only
    * BETWEEN blocks — e.g. points (0,1),(1,0),(2,1) give iso(1.0) = 0.5,
    * not the 0.75 a left-knot-only fit would produce.
    */
  def fitIsotonic(points: Seq[(Double, Double)]): Isotonic = {
    if (points.isEmpty) return Isotonic(Array.empty, Array.empty)
    // pre-pool ties on x (deterministic regardless of input order)
    val grouped = points.groupBy(_._1).toArray.sortBy(_._1)
      .map { case (x, ps) => (x, ps.map(_._2).sum / ps.size, ps.size.toDouble) }
    // PAV over blocks (xLeft, xRight, mean, weight)
    val xl = scala.collection.mutable.ArrayBuffer.empty[Double]
    val xr = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ys = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ws = scala.collection.mutable.ArrayBuffer.empty[Double]
    grouped.foreach { case (x, y, w) =>
      xl += x; xr += x; ys += y; ws += w
      while (ys.length >= 2 && ys(ys.length - 2) > ys.last) {
        val (y1, w1) = (ys.remove(ys.length - 1), ws.remove(ws.length - 1))
        val (y0, w0) = (ys.remove(ys.length - 1), ws.remove(ws.length - 1))
        val right = xr.remove(xr.length - 1)
        xl.remove(xl.length - 1)
        xr(xr.length - 1) = right // merged block spans [left.xl, right.xr]
        ys += (y0 * w0 + y1 * w1) / (w0 + w1)
        ws += w0 + w1
      }
    }
    // emit knots: one per single-x block, two (left + right, same y) per
    // pooled block
    val kx = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ky = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    while (i < ys.length) {
      kx += xl(i); ky += ys(i)
      if (xr(i) > xl(i)) { kx += xr(i); ky += ys(i) }
      i += 1
    }
    Isotonic(kx.toArray, ky.toArray)
  }

  /** The reference's linear fallback calibrator (0.85x + 0.05, clamped). */
  def applyLinear(x: Double): Double = math.min(1.0, math.max(0.0, 0.85 * x + 0.05))

  /** Deterministic per-(profile, tenant) calibration sample — the engine
    * analog of the reference's stored calibration table, keyed exactly like
    * PartitionedCalibrator's (profile, tenant_id) partitions
    * (calibration.py:533-580). 21 score knots x_k = k/20, two labeled points
    * per knot; labels are MONOTONE in the score by construction
    * (label = 1 iff 2k+j >= thr, thr = 20 + 3*profile + 2*tenant), so the
    * PAV solution is closed-form — per-knot means (0 / 0.5 / 1 ramp), no
    * pooling — and a SQL oracle re-derives the fitted isotonic exactly
    * (graft.OracleX x11). The fit still runs the real PAV machinery; only
    * the sample is planted (pooling behavior is pinned by CalibrationSpec
    * on adversarial inputs).
    */
  def plantedSample(profile: Long, tenant: Long): Seq[(Double, Double)] = {
    val thr = 20 + 3 * profile + 2 * tenant
    for (k <- 0 to 20; j <- 0 to 1)
      yield (k / 20.0, if (2 * k + j >= thr) 1.0 else 0.0)
  }
}
