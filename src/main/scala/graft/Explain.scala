package graft

import org.apache.spark.SparkEvents

/** Plan/timing audit for optimization A/Bs: one JVM, one or more queries.
  * Usage: runMain graft.Explain <q1>[,<q2>,...] [sfDir] [reps] [planDir]
  *
  * Per query: prints the formatted physical plan (and writes it to
  * `<planDir>/<name>.txt` when a plan dir is given — the committed plans/rNN
  * evidence) and the first 5 rows (the console sink), then times `reps`
  * runs of Bench's timed action. Each rep prints its wall, its plan metrics
  * and one stage line per Spark job. Every rep starts cold: cache and
  * persisted RDDs are released around each one, as in Bench, so the
  * numbers compare to the battery records.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val planDir = args.lift(3).map(java.nio.file.Paths.get(_))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    planDir.foreach(java.nio.file.Files.createDirectories(_))

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(plan)
      planDir.foreach(d => java.nio.file.Files.writeString(d.resolve(s"$name.txt"), plan))
      fn(spark, sfDir).show(5, truncate = false) // S9 console sink
      // queries that materialize during construction (persist/localCheckpoint
      // pipelines) leave cached state behind — release it before timing
      Bench.release(spark)
      (1 to reps).foreach { i =>
        var run: Either[String, Double] = Left("?")
        val c = SparkEvents.during(spark.sparkContext) { run = Bench.once(spark, sfDir, fn) }
        val wall = run.fold(e => s"FAILED ($e)", s => f"$s%.3f s")
        println(s"[explain] $name rep $i: $wall jobs=${c.jobs} stages=${c.stages} " +
          s"tasks=${c.tasks} shuffleR=${c.shuffleRead} shuffleW=${c.shuffleWrite}")
        c.jobStages.zipWithIndex.foreach { case (stages, j) =>
          val line = stages.map { case (s, n) => s"${s.takeWhile(_ != '\n')}[$n]" }
          println(s"[explain]   job $j: ${line.mkString(" | ")}")
        }
      }
    }
    spark.stop()
  }
}
