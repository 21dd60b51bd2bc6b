package perfbench

/** The generated fort.63, recomputed point by point from (K, seed) the
  * way perfbench/gen_fort63.py draws it, without reading the file. The
  * pipeline checker evaluates raster cells against this model with its
  * own point location and barycentric weights. */
class Mesh(val k: Int, seed: Long) {
  import Mesh._

  val n: Int = k * k
  private val base = splitmix64(seed)
  private def uniform(idx: Long): Double = (splitmix64(base + idx) >>> 11) * (1.0 / (1L << 53))

  val x: Array[Double] = new Array[Double](n)
  val y: Array[Double] = new Array[Double](n)
  val dry: Array[Boolean] = new Array[Boolean](n)
  (0 until n).foreach { i =>
    val c = i % k; val r = i / k
    val interior = c > 0 && c < k - 1 && r > 0 && r < k - 1
    x(i) = if (interior) c + (uniform(3L * i) - 0.5) * (2 * Jitter) else c.toDouble
    y(i) = if (interior) r + (uniform(3L * i + 1) - 0.5) * (2 * Jitter) else r.toDouble
    dry(i) = uniform(3L * i + 2) < DryFraction
  }
  val phase: Double = uniform(3L * n) * 2 * math.Pi

  def zeta(node: Int, t: Int): Double =
    if (dry(node)) Double.NaN else math.sin(0.01 * node + 0.5 * t + phase) * 10.0

  /** Corners of triangle `e` (0-based), in file order. */
  def corners(e: Int): (Int, Int, Int) = {
    val sq = e / 2; val r = sq / (k - 1); val c = sq % (k - 1)
    val a = r * k + c; val b = a + 1; val cc = a + k; val dd = cc + 1
    if (e % 2 == 0) (a, b, cc) else (b, dd, cc)
  }

  /** (triangle, w1, w2, w3) of the lowest-numbered triangle containing
    * (px, py), or null outside the mesh. Jitter is at most 0.25, so the
    * containing triangle lies in a lattice square next to floor(p). */
  def locate(px: Double, py: Double): (Int, Double, Double, Double) = {
    var best: (Int, Double, Double, Double) = null
    val c0 = math.floor(px).toInt; val r0 = math.floor(py).toInt
    for (r <- r0 - 1 to r0 + 1; c <- c0 - 1 to c0 + 1
         if r >= 0 && c >= 0 && r < k - 1 && c < k - 1; half <- 0 to 1) {
      val e = 2 * (r * (k - 1) + c) + half
      if (best == null || e < best._1) {
        val (i1, i2, i3) = corners(e)
        val det = (y(i2) - y(i3)) * (x(i1) - x(i3)) + (x(i3) - x(i2)) * (y(i1) - y(i3))
        val w1 = ((y(i2) - y(i3)) * (px - x(i3)) + (x(i3) - x(i2)) * (py - y(i3))) / det
        val w2 = ((y(i3) - y(i1)) * (px - x(i3)) + (x(i1) - x(i3)) * (py - y(i3))) / det
        val w3 = 1.0 - w1 - w2
        if (w1 >= 0 && w2 >= 0 && w3 >= 0) best = (e, w1, w2, w3)
      }
    }
    best
  }

  /** Raster geometry of a g×g grid over the mesh bbox [0, k-1]²:
    * centre of cell (row, col), rows counted down from the top edge. */
  def cellCentre(g: Int, row: Int, col: Int): (Double, Double) = {
    val res = (k - 1).toDouble / g
    (0.0 + (col + 0.5) * res, (k - 1).toDouble - (row + 0.5) * res)
  }

  /** Value of cell (row, col) at record t; NaN outside the mesh or when
    * any corner of its triangle is dry (the fill null-propagates). */
  def cellValue(g: Int, row: Int, col: Int, t: Int): Double = {
    val (px, py) = cellCentre(g, row, col)
    val hit = locate(px, py)
    if (hit == null) Double.NaN
    else {
      val (i1, i2, i3) = corners(hit._1)
      hit._2 * zeta(i1, t) + hit._3 * zeta(i2, t) + hit._4 * zeta(i3, t)
    }
  }

  /** Cells with a finite value; the dry set does not change with t. */
  def wetCells(g: Int): Long = {
    var wet = 0L
    for (row <- 0 until g; col <- 0 until g) {
      val (px, py) = cellCentre(g, row, col)
      val hit = locate(px, py)
      if (hit != null) {
        val (i1, i2, i3) = corners(hit._1)
        if (!dry(i1) && !dry(i2) && !dry(i3)) wet += 1
      }
    }
    wet
  }
}

object Mesh {
  val Jitter = 0.25
  val DryFraction = 0.001

  def splitmix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def triangles(k: Int): Long = 2L * (k - 1) * (k - 1)
}
