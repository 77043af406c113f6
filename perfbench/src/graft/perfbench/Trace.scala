package graft.perfbench

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into each layer. One span has a
  * name (`<layer>.<what>`), start, end, parent and the id of the
  * operation it belongs to. Spans stay in memory until [[write]]. With
  * tracing off every call is a plain pass-through. */
final class Tracer(initially: Boolean) {
  var enabled: Boolean = initially
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        start: Long, var end: Long) {
    def layer: String = name.takeWhile(_ != '.')
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextOp = 0
  // span times are epoch nanoseconds, comparable with listener events
  private val epoch0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = epoch0 + System.nanoTime()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val op = if (stack.isEmpty) { nextOp += 1; nextOp } else stack.top.op
      val s = Span(spans.size, name, if (stack.isEmpty) -1 else stack.top.id, op, now(), 0L)
      spans += s
      stack.push(s)
      try f finally { s.end = now(); stack.pop() }
    }

  /** Self time per layer: each span's duration minus the part of it
    * covered by its child spans, Spark jobs counted as children of the
    * deepest span that contains their start. Jobs form layer `spark`. */
  def selfTimes(jobs: Seq[(Long, Long)]): Map[String, Double] = {
    val children = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
    spans.foreach(s => if (s.parent >= 0)
      children.getOrElseUpdate(s.parent, mutable.ArrayBuffer.empty) += ((s.start, s.end)))
    def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + depth(spans(s.parent))
    jobs.foreach { case (js, je) =>
      val host = spans.filter(s => s.start <= js && js <= s.end).maxByOption(depth)
      host.foreach(h => children.getOrElseUpdate(h.id, mutable.ArrayBuffer.empty) += ((js, je)))
    }
    val self = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val covered = Tracer.unionLength(children.getOrElse(s.id, Nil).toSeq
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })
      self(s.layer) += (s.end - s.start - covered) / 1e9
    }
    self("spark") += Tracer.unionLength(jobs) / 1e9
    self.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One finished task, as the engine reported it. */
final case class TaskRecord(launchNs: Long, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                            shuffleBytes: Long, resultBytes: Long)

/** Jobs and tasks from the engine, for the traced run. */
final class EngineListener extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, Long]
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ns
  val tasks = mutable.ArrayBuffer.empty[TaskRecord]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time * 1000000L
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time * 1000000L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    tasks += (Option(e.taskMetrics) match {
      case Some(m) => TaskRecord(i.launchTime * 1000000L, i.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.resultSize)
      case None => TaskRecord(i.launchTime * 1000000L, i.duration, 0, 0, 0, 0, 0)
    })
  }
}

/** File-system work of the local store: metadata and data operations
  * counted by [[CountingLocalFileSystem]] (traced runs only), bytes
  * from Hadoop's `FileSystem` statistics (every thread, executor
  * threads included in local mode). */
final case class FsOps(reads: Long, writes: Long, bytesRead: Long, bytesWritten: Long) {
  def -(o: FsOps): FsOps =
    FsOps(reads - o.reads, writes - o.writes, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  def +(o: FsOps): FsOps =
    FsOps(reads + o.reads, writes + o.writes, bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
}
object FsOps {
  val zero: FsOps = FsOps(0, 0, 0, 0)
  @annotation.nowarn("cat=deprecation")
  def now(): FsOps = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    .foldLeft(FsOps(CountingLocalFileSystem.reads.get, CountingLocalFileSystem.writes.get, 0, 0))(
      (acc, s) => acc + FsOps(0, 0, s.getBytesRead, s.getBytesWritten))
}

/** The raw local file system with operation counters: reads are opens,
  * listings and status lookups; writes are creates, appends, renames,
  * deletes and mkdirs. The local file system does not count operations
  * in Hadoop's statistics, only bytes. */
class CountingLocalFileSystem extends RawLocalFileSystem {
  import CountingLocalFileSystem._
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, permission, flags, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(p, recursive) }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(p, permission) }
}
object CountingLocalFileSystem {
  val reads = new java.util.concurrent.atomic.AtomicLong
  val writes = new java.util.concurrent.atomic.AtomicLong
}
