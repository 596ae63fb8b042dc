package crawlbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import graft.snapshots.Storage

/** One traced interval. Times are milliseconds since the tracer's epoch, on
  * the same clock as Spark's stage timestamps. `parent` is 0 for a span
  * opened outside any other span on its thread (storage calls from
  * executor tasks, engine futures); those are assigned to the phase span
  * that covers their start when the trace is summarised. */
final case class Span(id: Long, parent: Long, run: Int, name: String,
                      start: Double, end: Double, bytes: Long, detail: String) {
  def dur: Double = end - start
}

/** One completed Spark stage, with its task metrics summed over tasks. */
final case class StageRec(stageId: Int, submitted: Double, completed: Double,
                          tasks: Int, runS: Double, cpuS: Double, gcS: Double,
                          shuffleWriteB: Long, shuffleReadB: Long, spillB: Long,
                          inputB: Long, outputB: Long)

/** In-memory span recorder. Spans stay in memory until the run ends and
  * the benchmark writes them out. */
object Tracer {
  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - epochNs) / 1e6
  def fromEpochMs(t: Long): Double = (t - epochMs).toDouble

  /** Run id stamped on every span: the repetition being measured. */
  @volatile var run: Int = 0
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Times `body` as a span nested under the thread's open span. */
  def span[T](name: String, detail: String = "")(body: => T): (T, Span) = {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    stack.set(id :: parents)
    val t0 = nowMs
    var sp: Span = null
    try {
      val out = body
      sp = Span(id, parents.headOption.getOrElse(0L), run, name, t0, nowMs, 0L, detail)
      (out, sp)
    } finally {
      stack.set(parents)
      if (sp == null) sp = Span(id, parents.headOption.getOrElse(0L), run, name, t0, nowMs, 0L,
        detail + " (threw)")
      spans.add(sp)
    }
  }

  /** Records a leaf span that has already ended. */
  def leaf(name: String, start: Double, bytes: Long, detail: String): Unit =
    spans.add(Span(ids.incrementAndGet(), stack.get().headOption.getOrElse(0L), run,
      name, start, nowMs, bytes, detail))

  /** Every span recorded so far, oldest first. */
  def all: Vector[Span] = spans.asScala.toVector.sortBy(_.start)
}

/** Timing decorator around the snapshot store's storage seam. It is handed
  * to `SnapshotStore`'s public constructor, so it sees every metadata
  * write, marker, rename and bloom blob, including the blob reads and
  * writes that run inside executor tasks (the store is serialised into the
  * tasks; the recorder is a JVM-wide object, so copies record to it too). */
class TimingStorage(inner: Storage) extends Storage {
  private def timed[T](op: String, path: String, bytes: T => Long)(body: => T): T = {
    val t0 = Tracer.nowMs
    var n = 0L
    try { val out = body; n = bytes(out); out }
    finally Tracer.leaf(s"storage.$op", t0, n, path)
  }
  private def utf8(s: String): Long = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length

  override def exists(path: String): Boolean = timed("exists", path, (_: Boolean) => 0L)(inner.exists(path))
  override def mkdirs(path: String): Unit = timed("mkdirs", path, (_: Unit) => 0L)(inner.mkdirs(path))
  override def list(dir: String): Seq[String] = timed("list", dir, (_: Seq[String]) => 0L)(inner.list(dir))
  override def readString(path: String): String = timed("readString", path, utf8)(inner.readString(path))
  override def readBytes(path: String): Array[Byte] =
    timed("readBytes", path, (b: Array[Byte]) => b.length.toLong)(inner.readBytes(path))
  override def writeString(path: String, s: String): Unit =
    timed("writeString", path, (_: Unit) => utf8(s))(inner.writeString(path, s))
  override def writeBytes(path: String, bytes: Array[Byte]): Unit =
    timed("writeBytes", path, (_: Unit) => bytes.length.toLong)(inner.writeBytes(path, bytes))
  override def moveAtomic(src: String, dst: String): Unit =
    timed("moveAtomic", dst, (_: Unit) => 0L)(inner.moveAtomic(src, dst))
  override def deleteRec(path: String): Unit =
    timed("deleteRec", path, (_: Unit) => 0L)(inner.deleteRec(path))
}

/** Stage and job records from Spark's listener bus. */
class StageRecorder extends SparkListener {
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add(Tracer.fromEpochMs(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val sub = si.submissionTime.map(Tracer.fromEpochMs).getOrElse(Double.NaN)
    val done = si.completionTime.map(Tracer.fromEpochMs).getOrElse(sub)
    val tm = si.taskMetrics
    stages.add(
      if (tm == null) StageRec(si.stageId, sub, done, si.numTasks, 0, 0, 0, 0, 0, 0, 0, 0)
      else StageRec(si.stageId, sub, done, si.numTasks,
        tm.executorRunTime / 1e3, tm.executorCpuTime / 1e9, tm.jvmGCTime / 1e3,
        tm.shuffleWriteMetrics.bytesWritten, tm.shuffleReadMetrics.totalBytesRead,
        tm.diskBytesSpilled, tm.inputMetrics.bytesRead, tm.outputMetrics.bytesWritten))
  }
}

/** Spark's record of traced operations: stage and job records assigned to
  * the operation span that covers their submission time. */
class Profile(recorder: StageRecorder, cores: Int) {
  private val mb = 1e6
  private val stages = recorder.stages.asScala.toVector
  private val jobStarts = recorder.jobStarts.asScala.toVector.map(_.doubleValue)
  private def in(t: Double, s: Span) = t >= s.start && t <= s.end
  def stagesIn(s: Span): Vector[StageRec] = stages.filter(st => in(st.submitted, s))
  def all: Vector[StageRec] = stages

  /** One operation's figures. `children` are the storage-call spans inside
    * it, which its self time excludes; `outputFiles` the files it added. */
  def of(sp: Span, children: Seq[Span] = Nil, outputFiles: Long = 0): Map[String, Double] = {
    val st = stagesIn(sp)
    val taskS = st.map(_.runS).sum
    val busyMs = Stats.covered(st.map(s => (s.submitted, s.completed)), sp.start, sp.end)
    Map(
      "wall_s" -> sp.dur / 1e3,
      "jobs" -> jobStarts.count(in(_, sp)).toDouble,
      "stages" -> st.size.toDouble,
      "tasks" -> st.map(_.tasks).sum.toDouble,
      "task_s" -> taskS,
      "cpu_s" -> st.map(_.cpuS).sum,
      "gc_s" -> st.map(_.gcS).sum,
      "busy_frac" -> taskS / (sp.dur / 1e3 * cores),
      "idle_s" -> (sp.dur - busyMs) / 1e3,
      "self_s" -> (sp.dur - Stats.covered(children.map(k => (k.start, k.end)), sp.start, sp.end)) / 1e3,
      "storage_calls" -> children.size.toDouble,
      "shuffle_write_mb" -> st.map(_.shuffleWriteB).sum / mb,
      "shuffle_read_mb" -> st.map(_.shuffleReadB).sum / mb,
      "spill_mb" -> st.map(_.spillB).sum / mb,
      "input_mb" -> st.map(_.inputB).sum / mb,
      "output_mb" -> st.map(_.outputB).sum / mb,
      "output_files" -> outputFiles.toDouble)
  }
}

/** Tracing overhead: the same operation run twice with tracing off and
  * twice with it on, in the order off, on, on, off, so a drift over the four
  * (the JVM warming up further) cancels. An untimed run goes first. */
object Overhead {
  /** (traced − untraced seconds, that ÷ untraced), from the means of the
    * two runs of each kind. `body(on)` runs the operation, traced if `on`. */
  def measure(spark: SparkSession, recorder: StageRecorder)(body: Boolean => Unit): (Double, Double) = {
    Tracer.run = -1
    body(false)
    val times = Seq(false, true, true, false).map { on =>
      if (on) spark.sparkContext.addSparkListener(recorder)
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try { body(on); on -> (System.nanoTime() - t0) / 1e9 }
      finally if (on) {
        org.apache.spark.crawlbench.ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
      }
    }
    def mean(on: Boolean) = { val xs = times.filter(_._1 == on).map(_._2); xs.sum / xs.size }
    println(f"[crawlbench] tracing overhead probe: untraced ${times(0)._2}%.3f, ${times(3)._2}%.3f s; " +
      f"traced ${times(1)._2}%.3f, ${times(2)._2}%.3f s")
    (mean(true) - mean(false), (mean(true) - mean(false)) / mean(false))
  }
}
