package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** One timed interval of the run. `parent` is the id of the span that
  * caused it (-1 for the root). Times are wall-clock milliseconds, the
  * clock Spark's listener events use, so job and stage spans line up
  * with the spans the benchmark records around its own calls. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long) {
  def ms: Long = endMs - startMs
}

/** Spans kept in memory and written out as JSON lines when the run ends.
  * When `on` is false nothing is recorded: `span` only runs its body. */
final class Tracer(runId: String) {
  @volatile var on = false
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def add(parent: Int, name: String, startMs: Long, endMs: Long): Span = synchronized {
    val s = Span(next, parent, name, startMs, endMs)
    next += 1
    spans += s
    s
  }

  def current: Int = stack.headOption.getOrElse(-1)

  /** Run `body` inside a span named `name`; returns the body's value. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val start = System.currentTimeMillis()
      val parent = current
      val id = synchronized { val i = next; next += 1; i }
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        synchronized { spans += Span(id, parent, name, start, System.currentTimeMillis()) }
      }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the part of the interval the children cover
    * (children of one span run one after another on the driver). */
  def selfMs(s: Span): Long = {
    val covered = children(s).map(c =>
      math.max(0L, math.min(c.endMs, s.endMs) - math.max(c.startMs, s.startMs))).sum
    math.max(0L, s.ms - covered)
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map(s => Json.obj(
      "run" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> selfMs(s)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

final case class StageRec(id: Int, name: String, submitMs: Long, doneMs: Long,
                          cpuMs: Double, gcMs: Long, shuffleWriteB: Long,
                          spillB: Long, tasks: Int) {
  def ms: Long = doneMs - submitMs
}

/** A job as the listener saw it. `site` is the call site Spark gives
  * the job's result stage, e.g. "fold at CompiledGraphCache.scala:120";
  * it names the library code that launched the job. */
final case class JobRec(id: Int, group: String, site: String, startMs: Long,
                        endMs: Long, stageIds: Seq[Int], resultStage: Int) {
  def superstep: Boolean = group.startsWith("graft-superstep-")
  def kernel: Boolean = site.contains("SpmvKernel")
}

/** Records every job and completed stage while attached. Superstep jobs
  * are the ones the library labels with job group
  * `graft-superstep-<iter>`. */
final class JobListener extends SparkListener {
  private val jobStarts = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
  val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobRec]
  val stages = scala.collection.concurrent.TrieMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val ids = e.stageInfos.map(_.stageId)
    val result = if (ids.isEmpty) -1 else ids.max
    val site = e.stageInfos.find(_.stageId == result).map(_.name).getOrElse("")
    jobStarts.put(e.jobId, JobRec(e.jobId, group, site, e.time, -1L, ids, result))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStarts.remove(e.jobId).foreach(j => jobs.put(e.jobId, j.copy(endMs = e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val tm = si.taskMetrics
    val submit = si.submissionTime.getOrElse(0L)
    stages.put(si.stageId, StageRec(si.stageId, si.name, submit,
      si.completionTime.getOrElse(submit), tm.executorCpuTime / 1e6, tm.jvmGCTime,
      tm.shuffleWriteMetrics.bytesWritten, tm.memoryBytesSpilled + tm.diskBytesSpilled,
      si.numTasks))
  }

  def jobsIn(startMs: Long, endMs: Long): Seq[JobRec] =
    jobs.values.filter(j => j.startMs >= startMs && j.startMs <= endMs).toSeq.sortBy(_.id)

  def stagesOf(j: JobRec): Seq[StageRec] = j.stageIds.flatMap(stages.get)

}

/** JSON for the benchmark's records: Jackson and its Scala module, both
  * in the Spark jars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def obj(kv: (String, Any)*): String = apply(scala.collection.immutable.ListMap(kv: _*))
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Mean of the values between the quartiles: as robust as the median,
    * without the median's whole-millisecond steps on integer timings. */
  def midMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val mid = s.slice(s.size / 4, s.size - s.size / 4)
      mid.sum / mid.size
    }
}
