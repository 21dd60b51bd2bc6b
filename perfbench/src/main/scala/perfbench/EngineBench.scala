package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.util.hashing.MurmurHash3

/** Row count and order-independent content hash of a query result:
  * columns sorted by name, each row rendered as text and hashed to 64
  * bits, the hashes summed with wrap-around. */
object ResultHash {
  def rowHash(r: Row, order: Seq[Int]): Long = {
    val s = order.map { i =>
      if (r.isNullAt(i)) "\u0000" else r.get(i) match {
        case a: Array[_] => a.mkString("[", ",", "]")
        case v => v.toString
      }
    }.mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(s, 0x1dea) & 0xffffffffL)
  }

  def of(rows: Array[Row], columns: Seq[String]): (Long, String) = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    (rows.length.toLong, f"${rows.iterator.map(rowHash(_, order)).sum}%016x")
  }

  def of(df: DataFrame): (Long, String) = of(df.collect(), df.columns.toSeq)
}

/** The engine workload: declared `SparkEntry.queries`, each the query
  * function call plus `.count()`, in a seed-set order. Loop queries run
  * one Spark job or more per round while the frame is built; one-shot
  * queries run a handful. */
class EngineBench(spark: SparkSession, dataDir: String, seed: Long,
                  pins: Map[String, (Long, String)]) extends Workload {
  import EngineBench._

  private val order: Seq[String] = new scala.util.Random(seed).shuffle(Loop ++ OneShot)
  private val fns = graft.SparkEntry.queries

  private def check(name: String, df: DataFrame): Boolean = {
    val got = ResultHash.of(df)
    val ok = pins.get(name).contains(got)
    if (!ok) System.err.println(s"CHECK FAILED engine: $name gave $got, pinned ${pins.get(name)}")
    ok
  }

  def pass(): PassResult = {
    var loop = 0.0; var oneShot = 0.0; var failed = 0
    order.foreach { name =>
      val t0 = System.nanoTime()
      val df = fns(name)(spark, dataDir)
      df.count()
      val s = (System.nanoTime() - t0) / 1e9
      if (Loop.contains(name)) loop += s else oneShot += s
      if (!check(name, df)) failed += 1
    }
    PassResult(loop + oneShot, order.size, failed,
      Map("loop_queries_s" -> loop, "oneshot_queries_s" -> oneShot))
  }

  def tracedPass(tr: Trace): (PassResult, Map[String, Double]) = {
    val layers = Map.newBuilder[String, Double]
    var wall = 0.0; var failed = 0
    val byClass = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    order.foreach { name =>
      val (df, build) = tr.span(s"$name.build")(fns(name)(spark, dataDir))
      val (_, exec) = tr.span(s"$name.exec")(df.count())
      val cls = if (Loop.contains(name)) "loop" else "oneshot"
      val gap = build.driverGapS + exec.driverGapS
      val jobs = build.jobs + exec.jobs
      val shuffle = build.shuffleWriteBytes + exec.shuffleWriteBytes
      val p = s"engine.$name"
      layers += s"$p.build_s" -> build.wallS
      layers += s"$p.exec_s" -> exec.wallS
      layers += s"$p.jobs" -> jobs.toDouble
      layers += s"$p.stages" -> (build.stages + exec.stages).toDouble
      layers += s"$p.shuffle_write_bytes" -> shuffle.toDouble
      layers += s"$p.driver_gap_s" -> gap
      byClass(s"$cls.wall_s") += build.wallS + exec.wallS
      byClass(s"$cls.driver_gap_s") += gap
      byClass(s"$cls.jobs") += jobs
      byClass(s"$cls.shuffle_write_bytes") += shuffle
      wall += build.wallS + exec.wallS
      if (!check(name, df)) failed += 1
    }
    Seq("loop", "oneshot").foreach { c =>
      Seq("driver_gap_s", "jobs", "shuffle_write_bytes", "wall_s").foreach { m =>
        layers += s"engine.$c.$m" -> byClass(s"$c.$m")
      }
      val w = byClass(s"$c.wall_s")
      layers += s"engine.$c.driver_gap_share" -> (if (w > 0) byClass(s"$c.driver_gap_s") / w else 0.0)
    }
    (PassResult(wall, order.size, failed, Map.empty), layers.result())
  }

  def describe: String =
    s"engine_sf001: ${order.size} queries on $dataDir, order ${order.mkString(",")}"

  def endToEnd(passes: Seq[PassResult]): Map[String, (Double, String)] = Map(
    "loop_queries_s" -> (Main.median(passes.map(_.extra("loop_queries_s"))), "s"),
    "oneshot_queries_s" -> (Main.median(passes.map(_.extra("oneshot_queries_s"))), "s"))

  /** Write every result where tools/check_oracle.py can compare it with
    * DuckDB (one parquet file per query plus oracle_sql.json) and return
    * the pins of exactly the rows written. */
  def record(outDir: String): Map[String, (Long, String)] = {
    val names = order.sorted
    val sql = graft.SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      sql.map { case (q, v) => s"${str(q)}: ${str(v)}" }.mkString("{", ",", "}"))
    names.map { name =>
      fns(name)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      name -> ResultHash.of(spark.read.parquet(s"$outDir/$name"))
    }.toMap
  }
}

object EngineBench {
  val Loop: Seq[String] = Seq("q_graph_hits")
  val OneShot: Seq[String] = Seq("q_dedup_ppjoin", "q_pack_sequences")
}
