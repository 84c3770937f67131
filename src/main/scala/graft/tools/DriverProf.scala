package graft.tools

/** Driver-side span profiler: a static label → (calls, nanos) accumulator,
  * always on. The per-trigger residual in the composed streaming sinks is
  * DRIVER time (catalog round-trips, manifest IO, plan analysis — the q120
  * profile), which wall-clock A/Bs on a drifting host can't attribute;
  * these spans say exactly which fixed cost each trigger pays. Bench
  * records each query's span deltas in its `layers` record. A span costs
  * two `nanoTime` reads, one map lookup and two atomic adds.
  */
object DriverProf {

  private final class Cell {
    val calls = new java.util.concurrent.atomic.AtomicLong
    val nanos = new java.util.concurrent.atomic.AtomicLong
  }
  private val acc =
    new java.util.concurrent.ConcurrentHashMap[String, Cell]

  @inline def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      val hit = acc.get(label)
      val c = if (hit != null) hit else acc.computeIfAbsent(label, _ => new Cell)
      c.calls.incrementAndGet()
      c.nanos.addAndGet(System.nanoTime() - t0)
      ()
    }
  }

  /** Every label's (calls, nanos) so far. */
  def snapshot(): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    acc.asScala.iterator.map { case (k, c) => k -> ((c.calls.get, c.nanos.get)) }.toMap
  }

  /** The (calls, nanos) each label accrued since `before`; labels with no
    * new calls are left out.
    */
  def since(before: Map[String, (Long, Long)]): Map[String, (Long, Long)] =
    snapshot().flatMap { case (k, (n, ns)) =>
      val (n0, ns0) = before.getOrElse(k, (0L, 0L))
      if (n > n0) Some(k -> ((n - n0, ns - ns0))) else None
    }
}
