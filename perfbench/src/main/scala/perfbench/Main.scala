package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload hands back: operations attempted and failed in the
  * timed region, the metrics of this run's mode (end-to-end or per-layer),
  * and detail figures that are printed but not gated.
  */
final case class Outcome(
    attempted: Long, failed: Long,
    metrics: Seq[(String, Double)], detail: Seq[(String, Any)] = Nil)

final case class Args(workload: String, dir: String, seconds: Int, trace: Boolean, cores: Int) {
  /** Where a workload leaves the files run.py checks. */
  def out(name: String): String = s"$dir/out/$name"
}

/** JVM side of the benchmark: runs one workload in one Spark session and
  * writes `result.json` into the run dir. The inputs come from gen.py and
  * the output checks are run.py's; see README.md.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("dir"), kv("seconds").toInt, kv("trace") == "1", kv("cores").toInt)
    val loadStart = loadAvg
    val spark = graft.GraftSession.builder(s"local[${a.cores}]", a.cores)
      .config("spark.sql.warehouse.dir", s"${a.dir}/warehouse")
      .config("spark.local.dir", s"${a.dir}/spark-local")
      .config("spark.sql.queryExecutionListeners", classOf[PhaseListener].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Counters.install(spark)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    Files.createDirectories(Paths.get(a.dir, "out"))
    val o = try a.workload match {
      case "serve_mix"     => ServeMix.run(spark, a, sessionS)
      case "offline_build" => OfflineBuild.run(spark, a, sessionS)
      case w               => throw new IllegalArgumentException(s"unknown workload $w")
    } finally spark.stop()
    Files.writeString(Paths.get(a.dir, "result.json"), Json.render(Map(
      "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> o.metrics.toMap,
      "detail" -> (o.detail ++ Seq("cores" -> a.cores, "loadavg_start" -> loadStart,
        "loadavg_end" -> loadAvg)).toMap)) + "\n")
    ()
  }

  /** Drops what a finished operation left cached, outside any timed
    * region, so the next operation starts from the same state (the
    * program's Bench does the same between queries).
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(true))
  }

  /** Files and bytes under a table's location. */
  def tableFootprint(spark: SparkSession, table: String): (Long, Long) = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = Paths.get(spark.sessionState.catalog.getTableMetadata(ident).location)
    val files = Files.walk(loc)
    try {
      import scala.jdk.CollectionConverters._
      val sizes = files.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).toSeq
      (sizes.size.toLong, sizes.sum)
    } finally files.close()
  }

  def loadAvg: Seq[Double] =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+").take(3).map(_.toDouble).toSeq
}

/** Just enough JSON for result.json and request bodies: maps, sequences,
  * numbers, strings. The harness keeps its own rather than the engine's
  * `Api.Json`, so a change to the program under test cannot change how its
  * results are reported.
  */
object Json {
  def render(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case x => str(x.toString)
  }
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
