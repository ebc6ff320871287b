package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, LocalFileSystem,
  LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the id of the span
  * that caused it (0: none); `key` groups the spans of one batch or query. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    key: String, start: Long, end: Long)

/** In-memory span store, written out once the run ends. Nesting on one
  * thread follows the call stack. */
final class Spans {
  private val q = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def apply[T](name: String, layer: String, key: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      q.add(Span(id, parent, name, layer, key, t0, t1))
    }
  }

  /** A span timed elsewhere (server threads, listener callbacks). */
  def record(name: String, layer: String, key: String, t0: Long, t1: Long): Unit =
    q.add(Span(ids.incrementAndGet(), 0L, name, layer, key, t0, t1))

  def all: Seq[Span] = q.asScala.toSeq

  /** Seconds per layer not covered by that span's children. */
  def selfSeconds: Map[String, Double] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def write(path: String): Unit = {
    val t0 = all.map(_.start).minOption.getOrElse(0L)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(Json.render(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "key" -> s.key,
        "start_s" -> (s.start - t0) / 1e9, "end_s" -> (s.end - t0) / 1e9)))
    } finally w.close()
  }
}

/** Engine counters at one instant. */
final case class EngineCounts(jobs: Long, stages: Long, tasks: Long,
    taskMs: Long, gcMs: Long, shuffleBytes: Long, spillBytes: Long) {
  def -(o: EngineCounts): EngineCounts = EngineCounts(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
  def +(o: EngineCounts): EngineCounts = EngineCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskMs + o.taskMs, gcMs + o.gcMs,
    shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
}

/** Spark listener: job, stage and task counts plus task metrics; each job
  * becomes a span named by its call site and filed under the source file
  * of that call site (the layer). */
final class EngineMeter(spans: Spans) extends SparkListener {
  private val jobs, stages, tasks, taskMs, gcMs, shuffle, spill = new AtomicLong
  private val open = new ConcurrentHashMap[Int, (Long, String)]()

  def counts: EngineCounts = EngineCounts(jobs.get, stages.get, tasks.get,
    taskMs.get, gcMs.get, shuffle.get, spill.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse("unknown")
    open.put(e.jobId, (System.nanoTime(), site))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (t0, site) =>
      spans.record(s"job $site", EngineMeter.layerOf(site), s"job-${e.jobId}",
        t0, System.nanoTime())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

object EngineMeter {
  /** "count at ExactlyOnceSink.scala:170" -> "ExactlyOnceSink". */
  def layerOf(site: String): String =
    """(\w+)\.scala:\d+""".r.findFirstMatchIn(site).map(_.group(1))
      .getOrElse("spark")
}

/** Catalyst phase time (analysis + optimization + planning) of every
  * query execution, from its `QueryPlanningTracker`. */
final class PlanMeter extends QueryExecutionListener {
  private val micros = new AtomicLong
  def planSeconds: Double = micros.get / 1e6

  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum
    micros.addAndGet(ms * 1000)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
}

/** One micro-batch progress report, stamped when the listener got it. */
final case class Progress(at: Long, startOffset: Long, endOffset: Long,
    rows: Long, durations: Map[String, Long])

/** Collects the streaming follower's `QueryProgressEvent`s. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[Progress]()
  def all: Seq[Progress] = q.asScala.toSeq
  def clear(): Unit = q.clear()

  private def offset(s: String): Long =
    Option(s).flatMap(x => scala.util.Try(x.trim.toLong).toOption).getOrElse(-1L)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    p.sources.headOption.foreach { s =>
      q.add(Progress(System.nanoTime(), offset(s.startOffset), offset(s.endOffset),
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
}

/** The local file system, counting the metadata and write operations made
  * through it. Installed as `fs.file.impl` in traced runs only. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    lists.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet(); super.rename(src, dst)
  }
}

object CountingLocalFileSystem {
  val lists = new AtomicLong
  val writes = new AtomicLong
}
