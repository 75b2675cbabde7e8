package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A timed region of the traced run. `parent` is the enclosing span's
  * name ("" for the root); all spans of one run share `runId`.
  */
final case class Span(name: String, parent: String, runId: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark counters attributed to one span tag. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var rowsOut = 0L
  /** Per stage: shuffle bytes written, whether it read a shuffle, and
    * its task durations in ms.
    */
  val stageShuffleWrite: mutable.Map[Int, Long] = mutable.Map.empty
  val shuffleReadStages: mutable.Set[Int] = mutable.Set.empty
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  /** Stages that wrote shuffle bytes (one per exchange that moved data). */
  def exchangesWithBytes: Int = stageShuffleWrite.count(_._2 > 0)

  /** Largest over this tag's shuffle-reading stages of (max task time /
    * median task time); 0 when no such stage ran.
    */
  def taskSkew: Double = shuffleReadStages.toSeq.flatMap { s =>
    stageTaskMs.get(s).filter(_.nonEmpty).map { ms =>
      val sorted = ms.sorted
      val med = sorted(sorted.length / 2).max(1L)
      sorted.last.toDouble / med
    }
  }.foldLeft(0.0)(math.max)
}

/** SparkListener that attributes task counters by the span tag carried
  * in the job's local properties, never by time window: listener events
  * arrive late, and adaptive execution submits stages from other threads
  * that inherit the caller's local properties, so the tag is the only
  * reliable owner of a task.
  */
final class Collector extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  private val byTag = mutable.Map.empty[String, Counters]
  private var failed = 0L

  private def counters(tag: String): Counters =
    byTag.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Collector.TagKey)).orNull
    if (tag != null) {
      counters(tag).jobs += 1
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(Collector.TagKey)).orNull
    if (tag != null) stageTag(e.stageInfo.stageId) = tag
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) failed += 1
    stageTag.get(e.stageId).foreach { tag =>
      val c = counters(tag)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        val sw = m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteBytes += sw
        c.stageShuffleWrite(e.stageId) = c.stageShuffleWrite.getOrElse(e.stageId, 0L) + sw
        val sr = m.shuffleReadMetrics
        if (sr.localBytesRead + sr.remoteBytesRead > 0 || sr.recordsRead > 0)
          c.shuffleReadStages += e.stageId
        c.spillBytes += m.diskBytesSpilled
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        c.rowsOut += m.outputMetrics.recordsWritten
      }
      c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  /** Counters of `tag` (empty when it ran no job). Call [[drain]] first. */
  def of(tag: String): Counters = synchronized(byTag.getOrElse(tag, new Counters))

  def failedTasks: Long = synchronized(failed)
}

object Collector {
  val TagKey = "perfbench.span"

  /** Install a fresh collector on the session's context. */
  def install(spark: SparkSession): Collector = {
    val c = new Collector
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit =
    org.apache.spark.perfbench.ListenerDrain(sc)
}

/** Span recorder. Each span sets its tag as the context's local property
  * before the body runs, so every job the body submits (including AQE's
  * stage jobs) is attributed to it; the parent's tag is restored after.
  * Spans are kept in memory and written out once, by [[write]].
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val stack = mutable.Stack.empty[String]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    sc.setLocalProperty(Collector.TagKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Collector.TagKey, stack.headOption.orNull)
      spans += Span(name, parent, runId, t0, t1)
    }
  }

  def get(name: String): Option[Span] = spans.find(_.name == name)

  def write(path: String): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map(s =>
      s"""{"name":${q(s.name)},"parent":${q(s.parent)},"run_id":${q(s.runId)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}
