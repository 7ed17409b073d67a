package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one job group: the jobs, stages and tasks
  * a single call (or a single materialization) caused.
  */
final case class Work(
    jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    jobWallS: Double = 0, taskS: Double = 0, maxTaskS: Double = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    jobWallS + o.jobWallS, taskS + o.taskS, math.max(maxTaskS, o.maxTaskS),
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes, outputBytes + o.outputBytes)
}

/** Collects job, stage and task metrics keyed by the job group the
  * benchmark set around each call. Fed on the listener-bus thread;
  * read only after [[Tracer.drain]], so all access is synchronized on
  * this object.
  */
final class GroupListener extends SparkListener {
  private val groupOfJob = scala.collection.mutable.Map[Int, String]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val groupOfStage = scala.collection.mutable.Map[Int, String]()
  private val work = scala.collection.mutable.Map[String, Work]()

  private def add(g: String, w: Work): Unit =
    work(g) = work.getOrElse(g, Work()) + w

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    groupOfJob(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => groupOfStage(s) = g)
    add(g, Work(jobs = 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- groupOfJob.get(e.jobId); t0 <- jobStart.remove(e.jobId))
      add(g, Work(jobWallS = (e.time - t0) / 1e3))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (g <- groupOfStage.get(e.stageId) if m != null) {
      val runS = m.executorRunTime / 1e3
      add(g, Work(tasks = 1, taskS = runS, maxTaskS = runS,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead,
        outputBytes = m.outputMetrics.bytesWritten))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    groupOfStage.get(e.stageInfo.stageId).foreach(g => add(g, Work(stages = 1)))
  }

  /** Remove and return the work recorded for `group`. */
  def take(group: String): Work = synchronized { work.remove(group).getOrElse(Work()) }
}

/** One traced call: a span around a public call into the engine, or
  * around the materialization of the frame it returned.
  */
final case class Span(name: String, phase: String, opId: Int, parent: String,
    startNs: Long, endNs: Long, work: Work) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and per-call Spark work for the traced run. Disabled, every
  * wrapper is a plain call, so untraced ops run the same code path.
  * Spans stay in memory until [[writeJson]] at the end of the run.
  */
final class Tracer(spark: SparkSession) {
  private val listener = new GroupListener
  val spans = ArrayBuffer[Span]()
  private var on = false
  private var opId = 0
  private var opName = ""
  private val open = ArrayBuffer[(String, String, String)]()

  def enabled: Boolean = on

  /** Attach or detach the listener. Detaching drains first, so no event
    * of a traced op is lost.
    */
  def setEnabled(v: Boolean): Unit = if (v != on) {
    if (v) spark.sparkContext.addSparkListener(listener)
    else { drain(); spark.sparkContext.removeSparkListener(listener) }
    on = v
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def beginOp(id: Int, name: String): Unit = { opId = id; opName = name }

  private def span[T](name: String, phase: String)(body: => T): T =
    if (!on) body
    else {
      val group = s"op$opId/$name/$phase/${spans.size}/${open.size}"
      val parent = open.lastOption.map(o => s"${o._1}/${o._2}").getOrElse(opName)
      open += ((name, phase, group))
      spark.sparkContext.setJobGroup(group, s"$name $phase", interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spark.sparkContext.clearJobGroup()
        open.remove(open.size - 1)
        // restore the enclosing span's group for its remaining jobs
        open.lastOption.foreach(o =>
          spark.sparkContext.setJobGroup(o._3, o._1, interruptOnCancel = false))
        drain()
        spans += Span(name, phase, opId, parent, t0, t1, listener.take(group))
      }
    }

  /** A public call into an engine layer (building a frame, or an eager write). */
  def call[T](name: String)(body: => T): T = span(name, "call")(body)

  /** Materializing a frame an engine call returned. */
  def exec[T](name: String)(body: => T): T = span(name, "exec")(body)

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      val w = s.work
      sb ++= f"""{"name":"${s.name}","phase":"${s.phase}","op_id":${s.opId},""" +
        f""""parent":"${s.parent}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""jobs":${w.jobs},"stages":${w.stages},"tasks":${w.tasks},""" +
        f""""task_s":${w.taskS}%.6f,"shuffle_write_bytes":${w.shuffleWriteBytes},""" +
        f""""spill_bytes":${w.spillBytes},"input_bytes":${w.inputBytes},""" +
        f""""output_bytes":${w.outputBytes}}"""
      sb ++= (if (i + 1 < spans.size) ",\n" else "\n")
    }
    sb ++= "]\n"
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
