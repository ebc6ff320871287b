package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** Options of one benchmark run, as `run.py` passes them. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    data: String,
    fixtures: String,
    out: String,
    cores: Int) {
  def master: String = s"local[$cores]"
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = need("work"),
      data = need("data"),
      fixtures = need("fixtures"),
      out = need("out"),
      cores = need("cores").toInt)
  }
}

object Session {
  /** The one session shape every workload uses: `local[cores]`, shuffle
    * width = cores (as `graft.Bench` sets it), every scratch directory
    * inside the run's work directory. A traced session also swaps in the
    * counting local file system. */
  def start(o: Opts, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/hadoop-tmp")
    if (o.trace)
      b.config("spark.hadoop.fs.file.impl",
        classOf[CountingLocalFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The session's `spark.graft.*` settings: the program's knobs, all at
    * their defaults unless set here. */
  def graftConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter(_._1.startsWith("spark.graft.")).toMap
}

/** Everything one run reports: the end-to-end and (traced) per-layer
  * metrics, the op and check tallies behind `failed_ops_ratio`, the
  * metrics named in the workload's own terms, and provenance. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val provenance = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Per-layer metrics of a traced run, by name. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var spans: Option[Spans] = None

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def check(name: String, ok: Boolean, detail: String): Unit = {
    op(ok)
    checks += Map("check" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
  }

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  def toJson: String = {
    def ms(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Json.render(Map(
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ms(metrics), "layers" -> layers, "named" -> ms(named),
      "provenance" -> provenance, "checks" -> checks, "extra" -> extra))
  }
}

object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** Progress notes on stderr, which `run.py` keeps in the run's log. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%.1fs] $msg")
}

/** The largest heap in use right after a collection, over the run so far:
  * the live set plus whatever garbage the collector has not reached yet.
  * Read from the collectors' notifications, so it does not depend on when
  * the heap was grown. */
object HeapMeter {
  private val peak = new java.util.concurrent.atomic.AtomicLong

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def peakMb: Double = peak.get / 1048576.0
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN on no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Least-squares slope of y over x; NaN on fewer than two distinct x. */
  def slope(pts: Seq[(Double, Double)]): Double = {
    val n = pts.size.toDouble
    val mx = pts.map(_._1).sum / n
    val my = pts.map(_._2).sum / n
    val sxx = pts.map { case (x, _) => (x - mx) * (x - mx) }.sum
    if (sxx == 0) Double.NaN
    else pts.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
  }

  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
