package perfbench

import graft.plans.GeoTiff
import org.apache.spark.sql.Row

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

/** Self-tests of the benchmark's own pieces; no Spark session needed. */
object SelfTest {
  private var ok = true
  private def expect(what: String, cond: Boolean): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $what")
    ok &&= cond
  }

  def run(nc: String, k: Int, t: Int, seed: Long): Boolean = {
    intervals()
    generator(nc, k, t, seed)
    cogChecker(seed, Paths.get(nc).getParent.toString)
    resultHash()
    ok
  }

  private def intervals(): Unit = {
    expect("union of nothing is 0", Trace.unionLength(Nil) == 0)
    expect("overlapping jobs count once",
      Trace.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    expect("nested jobs count once", Trace.unionLength(Seq((0L, 100L), (10L, 20L), (30L, 40L))) == 100)
    expect("touching jobs join", Trace.unionLength(Seq((10L, 20L), (0L, 10L))) == 20)
    expect("empty and reversed intervals add nothing",
      Trace.unionLength(Seq((5L, 5L), (9L, 3L), (0L, 1L))) == 1)
    // the case a job-time sum gets wrong: concurrent AQE jobs
    val jobs = Seq((0L, 4000L), (1000L, 5000L), (4500L, 6170L))
    expect("union 6170 ms against a 9670 ms job sum",
      Trace.unionLength(jobs) == 6170 && jobs.map(j => j._2 - j._1).sum == 9670)
  }

  /** The file perfbench/gen_fort63.py wrote agrees with the model the
    * checker recomputes, bit for bit. */
  private def generator(nc: String, k: Int, t: Int, seed: Long): Unit = {
    val mesh = new Mesh(k, seed)
    val bytes = Files.readAllBytes(Paths.get(nc))
    val n = k * k; val m = Mesh.triangles(k).toInt
    val recSize = 8 + n * 8
    val xAt = bytes.length - t * recSize - m * 12 - 2 * n * 8
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val xy = (0 until n).forall(i => buf.getDouble(xAt + 8 * i) == mesh.x(i) &&
      buf.getDouble(xAt + 8 * (n + i)) == mesh.y(i))
    expect("generated node positions match the model", xy)
    val eleAt = xAt + 16 * n
    val tris = (0 until m).forall { e =>
      val (a, b, c) = mesh.corners(e)
      buf.getInt(eleAt + 12 * e) == a + 1 && buf.getInt(eleAt + 12 * e + 4) == b + 1 &&
        buf.getInt(eleAt + 12 * e + 8) == c + 1
    }
    expect("generated connectivity matches the model", tris)
    val zAt = eleAt + 12 * m
    val field = (0 until t).forall { r =>
      (0 until n).forall { i =>
        val got = buf.getDouble(zAt + r * recSize + 8 + 8 * i)
        val want = mesh.zeta(i, r)
        if (want.isNaN) got == -99999.0 else math.abs(got - want) <= 1e-12
      }
    }
    expect("generated field matches the model", field)
    expect("some nodes are dry", mesh.dry.exists(identity))
  }

  /** A COG built from the model passes; one corrupted tile fails; a
    * missing COG counts once. */
  private def cogChecker(seed: Long, dir: String): Unit = {
    val shape = Shape("selftest", k = 12, t = 1, g = 40)
    val mesh = new Mesh(shape.k, seed)
    val checker = new PipelineChecker(shape, mesh, seed)
    val g = shape.g
    val grid = Array.tabulate(g * g)(i => mesh.cellValue(g, i / g, i % g, 0).toFloat)
    val res = (shape.k - 1).toDouble / g
    def cog(vals: Array[Float], compress: Boolean) =
      GeoTiff.encodeCog(g, g, vals, 0.0, shape.k - 1.0, res, tile = 16, compress = compress)
    expect("a correct COG passes", checker.checkCog(cog(grid, compress = true), 0).isEmpty)
    // one 16x16 tile (rows 16-31, cols 16-31) shifted by 0.5
    val bad = grid.clone()
    for (r <- 16 until 32; c <- 16 until 32) bad(r * g + c) += 0.5f
    expect("a COG with one corrupted tile fails", checker.checkCog(cog(bad, compress = false), 0).nonEmpty)
    // one base tile's stored bytes overwritten in place, found by the
    // little-endian bytes of its first row
    val bytes = cog(grid, compress = false)
    val firstRow = ByteBuffer.allocate(64).order(ByteOrder.LITTLE_ENDIAN)
    (16 until 32).foreach(c => firstRow.putFloat(grid(16 * g + c)))
    val off = bytes.indexOfSlice(firstRow.array().toSeq)
    java.util.Arrays.fill(bytes, off, off + 4 * 16 * 16, 0x7f.toByte)
    expect("a COG with one overwritten tile fails", off > 0 && checker.checkCog(bytes, 0).nonEmpty)
    expect("a COG of another record fails", checker.checkCog(cog(grid, compress = true), 1).nonEmpty)

    // a pass of two records that wrote only the first COG: 3 operations
    // (2 COGs + the sidecar set), 1 failed
    val two = new PipelineChecker(shape.copy(t = 2), mesh, seed)
    val out = Files.createTempDirectory(Paths.get(dir), "pass")
    Files.createDirectories(out.resolve("cogs"))
    Files.write(out.resolve(s"cogs/${two.Var}_20080909T000000Z.tiff"), cog(grid, compress = true))
    two.Sidecars.foreach(n => Files.writeString(out.resolve(n), "x"))
    val (ops, failed, _, _) = two.check(out.toString)
    expect("a missing COG is one failed operation of three", ops == 3 && failed == 1)
    Main.deleteTree(out.toFile)
  }

  /** The engine pin: order-independent, sensitive to one changed row. */
  private def resultHash(): Unit = {
    val cols = Seq("b", "a", "c")
    val rows = (0 until 50).map(i => Row(i.toLong, s"v$i", if (i % 7 == 0) null else i * 0.5)).toArray
    val base = ResultHash.of(rows, cols)
    expect("row order does not change the hash", ResultHash.of(rows.reverse, cols) == base)
    val changed = rows.clone()
    changed(17) = Row(17L, "v17", 8.75)
    expect("one changed row changes the hash", ResultHash.of(changed, cols) != base)
    val dropped = rows.drop(1)
    expect("one missing row changes the count", ResultHash.of(dropped, cols)._1 != base._1)
  }
}
