package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File

case class PassResult(wallS: Double, ops: Int, failed: Int, extra: Map[String, Double])

trait Workload {
  /** One untraced pass, checked. */
  def pass(): PassResult
  /** One pass with every layer call in its own span, checked. */
  def tracedPass(tr: Trace): (PassResult, Map[String, Double])
  def describe: String
  /** Workload-specific end-to-end figures over the measured passes. */
  def endToEnd(passes: Seq[PassResult]): Map[String, (Double, String)]
}

/** Benchmark main, started by perfbench/run.py (which builds, makes the
  * inputs and times set-up):
  *
  *   perfbench.Main run workload=<name> seed=<n> seconds=<s> trace=<0|1> work=<dir>
  *                      input=<fort.63 or corpus dir> (shape=<K,T,g> | pins=<json>)
  *   perfbench.Main probe                  session set-up only
  *   perfbench.Main record <data> <out>    engine pins, see engine_pins.json
  *   perfbench.Main selftest <nc> <K> <T> <seed>
  *
  * A run prints `READY <epoch ms>` once the session is up, one
  * `metric <name> <value> <unit>` line per figure, and finally
  * `RESULT <json>`. */
object Main {
  val PipelineLayers: Seq[(String, String, String)] = Seq(
    ("sources.Ingest.fort63ToParquet_s", "s", "lower"),
    ("sources.Ingest.series_rows", "count", "lower"),
    ("sources.Ingest.parquet_bytes", "B", "lower"),
    ("sources.Ingest.task_max_s", "s", "lower"),
    ("sources.Ingest.task_mean_s", "s", "lower"),
    ("operators.Interp.gridSpec_s", "s", "lower"),
    ("operators.Interp.interpolateTables_s", "s", "lower"),
    ("operators.Interp.rows_out", "count", "lower"),
    ("operators.Interp.shuffle_write_bytes", "B", "lower"),
    ("operators.Interp.spill_bytes", "B", "lower"),
    ("operators.Interp.jobs", "count", "lower"),
    ("operators.Interp.tasks", "count", "lower"),
    ("plans.RasterSink.writeCogs_s", "s", "lower"),
    ("plans.RasterSink.self_s", "s", "lower"),
    ("plans.RasterSink.write_tasks_busy", "count", "higher"),
    ("plans.RasterSink.write_task_max_s", "s", "lower"),
    ("plans.RasterSink.shuffle_write_bytes", "B", "lower"),
    ("plans.GeoTiff.encodeCog_s", "s", "lower"),
    ("plans.GeoTiff.encode_mcells_per_s", "Mcells/s", "higher"),
    ("plans.GeoTiff.decodeCog_s", "s", "lower"),
    ("plans.GeoTiff.deflate_ratio", "ratio", "higher"),
    ("plans.GeoTiff.cog_bytes_per_cell", "B", "lower"),
  )
  val EngineLayers: Seq[(String, String, String)] =
    (EngineBench.Loop ++ EngineBench.OneShot).flatMap { q =>
      Seq(("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count"),
          ("shuffle_write_bytes", "B"), ("driver_gap_s", "s"))
        .map { case (m, u) => (s"engine.$q.$m", u, "lower") }
    } ++ Seq("loop", "oneshot").flatMap { c =>
      Seq(("wall_s", "s"), ("driver_gap_s", "s"), ("driver_gap_share", "ratio"),
          ("jobs", "count"), ("shuffle_write_bytes", "B"))
        .map { case (m, u) => (s"engine.$c.$m", u, "lower") }
    }
  /** Every per-layer metric, reported by every traced run; a layer the
    * workload never calls reads 0. */
  val PerLayer: Seq[(String, String, String)] = PipelineLayers ++ EngineLayers ++ Seq(
    ("warmup_s", "s", "lower"), ("tracing_overhead_s", "s", "lower"))

  val MinPasses = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum
    else f.length()

  /** VmHWM of this JVM: its peak resident set. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def session(): SparkSession = {
    val threads = Runtime.getRuntime.availableProcessors()
    val s = graft.Graft.session("perfbench", s"local[$threads]", threads)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def loadPins(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path)
    try {
      val entry = """"(q_\w+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"([0-9a-f]+)"\s*\}""".r
      entry.findAllMatchIn(src.mkString).map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
    } finally src.close()
  }

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  def main(args: Array[String]): Unit = args.toList match {
    case "probe" :: Nil =>
      val s = session()
      println(s"READY ${System.currentTimeMillis()}")
      s.stop()
    case "record" :: data :: out :: Nil =>
      val s = session()
      val pins = new EngineBench(s, data, 0L, Map.empty).record(out)
      println("{")
      println(pins.toSeq.sortBy(_._1).map { case (q, (n, h)) =>
        s"""  "$q": {"rows": $n, "hash": "$h"}""" }.mkString(",\n"))
      println("}")
      s.stop()
    case "selftest" :: nc :: k :: t :: seed :: Nil =>
      sys.exit(if (SelfTest.run(nc, k.toInt, t.toInt, seed.toLong)) 0 else 1)
    case "run" :: opts =>
      val o = opts.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
      sys.exit(run(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
        o("work"), o("input"), o.get("pins"), o.get("shape")))
    case _ =>
      System.err.println("usage: see perfbench.Main")
      sys.exit(2)
  }

  def run(name: String, seed: Long, seconds: Double, traced: Boolean,
          work: String, input: String, pins: Option[String], shape: Option[String]): Int = {
    val spark = session()
    println(s"READY ${System.currentTimeMillis()}")
    val workload: Workload = shape.map(_.split(",").map(_.toInt)) match {
      case Some(Array(k, t, g)) => new PipelineBench(spark, Shape(name, k, t, g), input, work, seed)
      case _ => new EngineBench(spark, input, seed, pins.map(loadPins).getOrElse(Map.empty))
    }
    println(s"# ${workload.describe}")
    println(s"# local[${Runtime.getRuntime.availableProcessors()}], one closed-loop client, " +
      s"max heap ${Runtime.getRuntime.maxMemory() >> 20} MB")

    // pass 1 pays class loading, JIT and codegen: run it, check it, do not
    // time it. A traced run also skips pass 2, which is still warming up,
    // so it lands on neither side of the tracing overhead.
    val t0 = System.nanoTime()
    val warm = workload.pass()
    val warmupS = (System.nanoTime() - t0) / 1e9
    val warm2 = if (traced) Seq(workload.pass()) else Nil
    val passes = Seq.newBuilder[PassResult]
    val tracedPasses = Seq.newBuilder[(PassResult, Map[String, Double])]
    val tr = if (traced) new Trace(spark.sparkContext) else null
    val start = System.nanoTime()
    var n = 0
    // at least three passes, so the median drops one that is still warming
    // up; a traced run alternates untraced and traced passes, two or more
    // of each, so drift in the machine lands on both sides of the overhead
    while (n < (if (traced) 4 else MinPasses) || (System.nanoTime() - start) / 1e9 < seconds) {
      System.gc() // heap debt of one pass is not billed to the next
      if (traced && n % 2 == 1) tracedPasses += workload.tracedPass(tr)
      else passes += workload.pass()
      n += 1
    }
    val plain = passes.result()
    val withTrace = tracedPasses.result()
    val all = (warm +: warm2) ++ plain ++ withTrace.map(_._1)
    val attempted = all.map(_.ops).sum
    val failed = all.map(_.failed).sum

    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      m("wall_s") = (median(plain.map(_.wallS)), "s")
      m("peak_rss_mb") = (peakRssMb, "MB")
    } else {
      val layers = withTrace.map(_._2)
      PerLayer.foreach { case (metric, unit, _) =>
        m(metric) = (median(layers.map(_.getOrElse(metric, 0.0))), unit)
      }
      m("warmup_s") = (warmupS, "s")
      m("tracing_overhead_s") =
        (median(withTrace.map(_._1.wallS)) - median(plain.map(_.wallS)), "s")
      val stages = Seq("sources.Ingest.fort63ToParquet_s", "operators.Interp.gridSpec_s",
        "plans.RasterSink.writeCogs_s").map(m(_)._1)
      if (stages.last > 0)
        println(f"# ingest + gridSpec + writeCogs = ${stages.sum}%.3f s against an untraced " +
          f"pass of ${median(plain.map(_.wallS))}%.3f s; tracing overhead ${m("tracing_overhead_s")._1}%.3f s")
    }
    println(s"# warm-up ${"%.3f".format(warmupS)} s; passes " +
      plain.map(p => "%.3f".format(p.wallS)).mkString(" ") +
      (if (traced) "; traced passes " + withTrace.map(p => "%.3f".format(p._1.wallS)).mkString(" ") else ""))
    // printed for the reader; the result line carries only the declared set
    val shown = m ++ (if (traced) Map.empty else workload.endToEnd(plain)) ++ Map(
      "ops_attempted" -> (attempted.toDouble, "count"), "ops_failed" -> (failed.toDouble, "count"),
      "passes" -> (plain.size.toDouble, "count"))
    shown.foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    val body = m.map { case (k, (v, u)) =>
      s""""$k": {"value": ${json(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""RESULT {"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    if (tr != null) tr.close()
    spark.stop()
    0
  }
}
