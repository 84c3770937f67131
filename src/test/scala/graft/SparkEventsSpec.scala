package graft

import org.apache.spark.SparkEvents

/** Exact counts from the Spark-event counter that Bench, Explain and the
  * specs read: a wrong count here would skew every plan metric.
  */
class SparkEventsSpec extends SparkSpec {
  private def sc = spark.sparkContext

  test("one shuffled RDD job counts 1 job, 2 stages, 6 tasks and its shuffle bytes") {
    val c = SparkEvents.during(sc) {
      sc.parallelize(1 to 100, 4).map(i => (i % 3, i)).reduceByKey(_ + _, 2).collect()
      ()
    }
    assert((c.jobs, c.stages, c.tasks) === ((1, 2, 6)))
    assert(c.shuffleWrite > 0L && c.shuffleRead > 0L, c)
    assert(c.inputBytes === 0L, "parallelize reads no input")
    assert(c.jobStages.map(_.map(_._2).sorted) === Seq(Seq(2, 4)), c.jobStages)
  }

  test("a job that finished before the block is not counted") {
    // its listener events may still be queued when the block starts
    sc.parallelize(1 to 100, 8).count()
    val c = SparkEvents.during(sc)(())
    assert((c.jobs, c.stages, c.tasks, c.shuffleWrite) === ((0, 0, 0, 0L)))
    assert(c.jobStages.isEmpty)
  }
}
