package perfbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of a workload's closed loop. */
final case class Sample(op: String, kind: String, seconds: Double, items: Long,
    traced: Boolean, ok: Boolean)

/** What a workload sees while it runs: the session, the tracer, timing
  * of ops, independent checks, and per-layer notes for the traced run.
  */
final class Harness(val spark: SparkSession, val tracer: Tracer, val seed: Long) {
  val samples = ArrayBuffer[Sample]()
  val failures = ArrayBuffer[String]()
  private var checked = 0L
  /** Per-layer values noted by workloads (one per traced call). */
  val notes = LinkedHashMap[String, ArrayBuffer[Double]]()
  /** Workload-level quality figures (recall and similar): hits, total. */
  val quality = LinkedHashMap[String, (Long, Long)]()
  var peakHeapMb = 0.0
  private var opCount = 0
  /** Ops run so far (also the id of the last op). */
  def ops: Int = opCount
  var measuring = false

  def attempted: Long = samples.size + checked

  def note(name: String, v: Double): Unit =
    if (tracer.enabled) notes.getOrElseUpdate(name, ArrayBuffer()) += v

  def tally(name: String, hits: Long, total: Long): Unit = {
    val (h, t) = quality.getOrElse(name, (0L, 0L))
    quality(name) = (h + hits, t + total)
  }

  /** An independent correctness check; a failure fails the run. */
  def check(ok: Boolean, what: => String): Unit = {
    checked += 1
    if (!ok) { failures += what; System.err.println(s"[perfbench] check failed: $what") }
  }

  /** Run one op of the loop and time it. Afterwards, outside the timed
    * interval: driver heap after a full GC, the caches the op left, and
    * a cache clear so every op starts from the same storage state.
    */
  def op[T](name: String, kind: String, items: Long)(body: => T): Option[T] = {
    opCount += 1
    tracer.beginOp(opCount, name)
    val t0 = System.nanoTime()
    val r = try Some(body) catch {
      case e: Exception =>
        failures += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] op $name failed: $e")
        None
    }
    val s = (System.nanoTime() - t0) / 1e9
    tracer.beginOp(0, "") // spans outside an op belong to no op
    if (measuring) samples += Sample(name, kind, s, items, tracer.enabled, r.isDefined)
    if (measuring) sampleHeap()
    if (tracer.enabled) note("spark.caches_left", spark.sparkContext.getPersistentRDDs.size)
    clearCaches()
    r
  }

  def clearCaches(): Unit = spark.sharedState.cacheManager.clearCache()

  def sampleHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
  }

  /** Materialize through the noop sink: the complete plan runs, nothing is kept. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
