package perfbench

import graft.{operators, plans, sources}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import java.io.File
import java.nio.file.{Files, Paths}

/** One fort.63 → COG workload: a K×K lattice with T hourly records,
  * rasterised to g×g. */
case class Shape(name: String, k: Int, t: Int, g: Int) {
  def nodes: Long = k.toLong * k
  def cells: Long = g.toLong * g * t
}

/** Checks the output of one pipeline pass against the generated mesh.
  * Each COG is one operation and the sidecar set is one more. */
class PipelineChecker(shape: Shape, mesh: Mesh, seed: Long, samples: Int = 1000) {
  val Var = "fort_63_zeta"
  val Sidecars = Seq("indexer.properties", "timeregex.properties", "datastore.properties")
  private val g = shape.g
  val wetPerRecord: Long = mesh.wetCells(g)
  private val sampled: Array[Int] = {
    val r = new scala.util.Random(seed)
    Array.fill(samples)(r.nextInt(g * g))
  }
  private val base = java.time.LocalDateTime.of(2008, 9, 9, 0, 0)
  private val labelFmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")

  /** Record index of a COG named by its decoded UTC instant. */
  def recordOf(file: String): Option[Int] =
    scala.util.Try {
      val label = file.stripPrefix(s"${Var}_").stripSuffix("Z.tiff")
      val at = java.time.LocalDateTime.parse(label, labelFmt)
      java.time.Duration.between(base, at).toHours.toInt
    }.toOption.filter(t => t >= 0 && t < shape.t)

  /** Problems with one COG's bytes, empty when it is correct. */
  def checkCog(bytes: Array[Byte], t: Int): Seq[String] = {
    val (w, h, vals, ovr, cloud) = try plans.GeoTiff.decodeCog(bytes)
      catch { case e: Exception => return Seq(s"decode failed: $e") }
    val problems = Seq.newBuilder[String]
    if (w != g || h != g) problems += s"dims ${w}x$h, want ${g}x$g"
    if (ovr != (((g + 1) / 2), ((g + 1) / 2))) problems += s"overview $ovr"
    if (!cloud) problems += "pixel data before the IFDs"
    if (vals.length == g * g) {
      val finite = vals.count(v => !v.isNaN).toLong
      if (finite != wetPerRecord) problems += s"finite cells $finite, want $wetPerRecord"
      val bad = sampled.iterator.filter { i =>
        val want = mesh.cellValue(g, i / g, i % g, t)
        val got = vals(i)
        if (want.isNaN) !got.isNaN
        else got.isNaN || math.abs(got - want) > 1e-5 * math.max(1.0, math.abs(want))
      }.take(3).toSeq
      bad.foreach { i =>
        problems += s"cell ($t, ${i / g}, ${i % g}) = ${vals(i)}, want ${mesh.cellValue(g, i / g, i % g, t)}"
      }
    }
    problems.result()
  }

  /** (operations, failed operations, problems, total COG bytes) for one
    * pass's output. */
  def check(outDir: String): (Int, Int, Seq[String], Long) = {
    val cogs = Option(new File(s"$outDir/cogs").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".tiff")).sortBy(_.getName)
    val bytes = cogs.map(_.length()).sum
    val perCog = cogs.map { f =>
      recordOf(f.getName) match {
        case None => (None, Seq(s"${f.getName}: unexpected name"))
        case Some(t) =>
          (Some(t), checkCog(Files.readAllBytes(f.toPath), t).map(p => s"${f.getName}: $p"))
      }
    }
    val seen = perCog.flatMap(_._1).toSet
    // a missing COG is a failed operation too
    val missing = (0 until shape.t).filterNot(seen).map(t => s"record $t: no COG")
    val sidecars = Sidecars.filterNot(n => new File(s"$outDir/$n").length() > 0)
      .map(n => s"sidecar $n missing")
    val failed = perCog.count(_._2.nonEmpty) + missing.size + (if (sidecars.nonEmpty) 1 else 0)
    (cogs.length + missing.size + 1, failed, perCog.flatMap(_._2).toSeq ++ missing ++ sidecars, bytes)
  }
}

/** The two fort.63 → COG workloads. */
class PipelineBench(spark: SparkSession, shape: Shape, ncPath: String, work: String, seed: Long)
    extends Workload {
  private val mesh = new Mesh(shape.k, seed)
  private val checker = new PipelineChecker(shape, mesh, seed)

  private def freshOut(): String = {
    val out = s"$work/pass"
    Main.deleteTree(new File(out))
    out
  }

  private def checked(out: String): PassResult = {
    val (ops, failed, problems, bytes) = checker.check(out)
    problems.take(5).foreach(p => System.err.println(s"CHECK FAILED ${shape.name}: $p"))
    PassResult(0.0, ops, failed, Map("cog_bytes" -> bytes.toDouble))
  }

  /** `graft.Pipeline.run` end to end: nc → tables → COGs + sidecars. */
  def pass(): PassResult = {
    val out = freshOut()
    val t0 = System.nanoTime()
    graft.Pipeline.run(spark, ncPath, out, shape.g)
    val wall = (System.nanoTime() - t0) / 1e9
    checked(out).copy(wallS = wall)
  }

  /** The same pass with every layer call timed and traced. The body is
    * Pipeline.run's, one public layer call per span. */
  def tracedPass(tr: Trace): (PassResult, Map[String, Double]) = {
    val out = freshOut()
    val tables = s"$out/tables"
    val t0 = System.nanoTime()
    val (_, ingest) = tr.span("ingest")(sources.Ingest.fort63ToParquet(spark, ncPath, tables))
    val nodes = sources.Ingest.nodes(spark, tables)
    val elements = sources.Ingest.elements(spark, tables)
    val series = sources.Ingest.series(spark, tables)
    val (spec, grid) = tr.span("gridSpec")(operators.Interp.gridSpec(nodes, shape.g))
    val (rowsOut, interp) = tr.span("interpolateTables") {
      val obs = new Observation("perfbench-rows")
      operators.Interp.interpolateTables(nodes, elements, series, spec)
        .observe(obs, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      obs.get("n").asInstanceOf[Long]
    }
    val labels = sources.Ingest.timeLabels(spark, tables)
    val (_, sink) = tr.span("writeCogs") {
      val raster = operators.Interp.interpolateTables(nodes, elements, series, spec)
      plans.RasterSink.writeCogs(raster, spec, s"$out/cogs", checker.Var, tsLabels = labels)
    }
    plans.RasterSink.sidecars(checker.Var).foreach { case (name, body) =>
      Files.writeString(Paths.get(s"$out/$name"), body)
    }
    val wall = (System.nanoTime() - t0) / 1e9

    val seriesRows = series.count()
    val parquetBytes = Main.treeBytes(new File(tables))
    val layers = Map(
      "sources.Ingest.fort63ToParquet_s" -> ingest.wallS,
      "sources.Ingest.series_rows" -> seriesRows.toDouble,
      "sources.Ingest.parquet_bytes" -> parquetBytes.toDouble,
      "sources.Ingest.task_max_s" -> ingest.taskMaxS,
      "sources.Ingest.task_mean_s" -> ingest.taskMeanS,
      "operators.Interp.gridSpec_s" -> grid.wallS,
      "operators.Interp.interpolateTables_s" -> interp.wallS,
      "operators.Interp.rows_out" -> rowsOut.toDouble,
      "operators.Interp.shuffle_write_bytes" -> interp.shuffleWriteBytes.toDouble,
      "operators.Interp.spill_bytes" -> interp.spillBytes.toDouble,
      "operators.Interp.jobs" -> interp.jobs.toDouble,
      "operators.Interp.tasks" -> interp.tasks.toDouble,
      "plans.RasterSink.writeCogs_s" -> sink.wallS,
      "plans.RasterSink.self_s" -> (sink.wallS - interp.wallS),
      "plans.RasterSink.write_tasks_busy" -> sink.lastStageBusyTasks.toDouble,
      "plans.RasterSink.write_task_max_s" -> sink.lastStageTaskMaxS,
      "plans.RasterSink.shuffle_write_bytes" -> sink.shuffleWriteBytes.toDouble,
    ) ++ encodeLayer(out, spec)
    (checked(out).copy(wallS = wall), layers)
  }

  /** Decode every COG of a pass and re-encode its grid on this one
    * thread through the public GeoTiff entry points. */
  private def encodeLayer(out: String, spec: operators.Interp.GridSpec): Map[String, Double] = {
    val cogs = Option(new File(s"$out/cogs").listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".tiff"))
    var decodeNs = 0L; var encodeNs = 0L
    var packed = 0L; var raw = 0L; var cells = 0L
    cogs.foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      val t0 = System.nanoTime()
      val (w, h, vals, _, _) = plans.GeoTiff.decodeCog(bytes)
      val t1 = System.nanoTime()
      val enc = plans.GeoTiff.encodeCog(w, h, vals, spec.originX, spec.originY, spec.resX,
        compress = true)
      encodeNs += System.nanoTime() - t1
      decodeNs += t1 - t0
      packed += enc.length
      raw += plans.GeoTiff.encodeCog(w, h, vals, spec.originX, spec.originY, spec.resX).length
      cells += w.toLong * h
    }
    val onDisk = cogs.map(_.length()).sum
    Map(
      "plans.GeoTiff.encodeCog_s" -> encodeNs / 1e9,
      "plans.GeoTiff.encode_mcells_per_s" -> (if (encodeNs == 0) 0.0 else cells / (encodeNs / 1e9) / 1e6),
      "plans.GeoTiff.decodeCog_s" -> decodeNs / 1e9,
      "plans.GeoTiff.deflate_ratio" -> (if (packed == 0) 0.0 else raw.toDouble / packed),
      "plans.GeoTiff.cog_bytes_per_cell" -> (if (cells == 0) 0.0 else onDisk.toDouble / cells),
    )
  }

  def describe: String =
    s"${shape.name}: K=${shape.k} (${shape.nodes} nodes, ${Mesh.triangles(shape.k)} triangles), " +
      s"T=${shape.t}, ${shape.g}x${shape.g} raster, ${shape.cells} cells, " +
      s"${checker.wetPerRecord * shape.t} wet"

  def endToEnd(passes: Seq[PassResult]): Map[String, (Double, String)] = Map(
    "cog_bytes_per_cell" -> (Main.median(passes.map(_.extra("cog_bytes"))) / shape.cells, "B"),
    "mcells_per_s" -> (shape.cells / Main.median(passes.map(_.wallS)) / 1e6, "Mcells/s"))
}
