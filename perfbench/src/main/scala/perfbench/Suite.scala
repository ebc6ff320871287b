package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.{Pinned, SparkEntry}

/** The `query_suite` workload: one closed-loop client runs a fixed query
  * list per pass over a generated star-schema + corpus dataset, releasing
  * pins and cached data between queries. The warmup pass writes every
  * result for the DuckDB oracle check, which runs after the timed passes. */
object Suite {

  /** One query or more from every `queries` module: two short relational
    * ones, the composed p01 pipeline, h05 (the extraction pipeline over the
    * block fixtures, then a join) and one of the last round's regressed
    * queries per module (t19, s11, m03). Kept small so a warm pass stays
    * near 11 s. */
  val Ids = Seq("q04", "q37", "t19", "p01", "s11", "m03", "h05")
  val Pipelines = Seq("p01")

  val Modules: Seq[(String, Map[String, _])] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "AdvancedOps" -> graft.queries.AdvancedOps.queries,
    "EventsOps" -> graft.queries.EventsOps.queries,
    "HeliumQueries" -> graft.queries.HeliumQueries.queries,
    "TextDedupOps" -> graft.queries.TextDedupOps.queries,
    "SimilarityOps" -> graft.queries.SimilarityOps.queries,
    "MultimodalOps" -> graft.queries.MultimodalOps.queries)

  def key(id: String): String =
    SparkEntry.queries.keys.find(_.takeWhile(_ != '_') == id)
      .getOrElse(throw new IllegalArgumentException(s"no query $id"))

  def module(k: String): String =
    Modules.find(_._2.contains(k)).map(_._1).getOrElse("other")

  /** The warm `q20` time (min of 3): the host-noise sentinel `graft.Bench`
    * calls `cal`. */
  def cal(data: String)(spark: SparkSession): Double = {
    val k = key("q20")
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, data).count()
      Pinned.releaseAll(spark)
      Stats.since(t0)
    }.min
  }

  /** `HeliumQueries` reads its block fixtures from a hard-coded absolute
    * directory, which a checkout anywhere else does not have. Points it at
    * this checkout's copy of the same files before its first query runs
    * (the field is a static final, so only `Unsafe` can set it); returns the
    * directory it had, which its oracle SQL still names. */
  def pointFixturesAt(dir: String): String = {
    val f = graft.queries.HeliumQueries.getClass.getDeclaredField("fixDir")
    val g = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    g.setAccessible(true)
    val u = g.get(null).asInstanceOf[sun.misc.Unsafe]
    val (base, off) = (u.staticFieldBase(f), u.staticFieldOffset(f))
    val old = u.getObject(base, off).asInstanceOf[String]
    u.putObject(base, off, dir)
    old
  }

  private final case class Timing(build: Double, buildJobs: Long, plan: Double,
      action: Double, jobs: Long)

  def run(o: Opts, r: Result): Unit = {
    val keys = Ids.map(key)
    r.provenance ++= Map("queries" -> Ids,
      "pass" -> "warmup (results written for the oracle), then timed passes",
      "helium_fixtures" -> o.fixtures)
    val oldFixtures = pointFixturesAt(o.fixtures)
    val t0 = System.nanoTime()
    val spark = Session.start(o, o.cores)
    r.provenance("graft_conf") = Session.graftConf(spark)
    val spans = new Spans
    val meter = new EngineMeter(spans)
    val planner = new PlanMeter
    if (o.trace) {
      spark.sparkContext.addSparkListener(meter)
      spark.listenerManager.register(planner)
    }
    try {
      val out = s"${o.work}/results"
      keys.foreach { k =>
        val ok = scala.util.Try {
          SparkEntry.queries(k)(spark, o.data).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/$k")
        }.recover { case e =>
          System.err.println(s"[perfbench] warmup $k failed: ${e.getMessage}")
        }.isSuccess
        release(spark)
        if (!ok) r.check(s"warmup.$k", ok = false, "query failed")
      }
      Files.writeString(Paths.get(out, "oracle_sql.json"),
        Json.render(keys.flatMap(k => SparkEntry.oracleSql.get(k)
          .map(k -> _.replace(oldFixtures, o.fixtures))).toMap))
      val setupS = Stats.since(t0)
      Log(f"query_suite warmup pass done, setup $setupS%.1f s")

      val passes = mutable.ArrayBuffer.empty[Double]
      val timings = mutable.ArrayBuffer.empty[(String, Timing)]
      var residue = 0L
      val e0 = meter.counts
      // passes until the window is spent: at least one, and none that the
      // last pass's time says would overrun it
      val tEnd = System.nanoTime() + (o.seconds * 1e9).toLong
      do {
        val p0 = System.nanoTime()
        keys.foreach { k =>
          val (t, ok, left) = timeOne(spark, k, o, spans, meter, planner, passes.size)
          r.op(ok)
          if (!ok) r.checks += Map("check" -> s"pass.$k", "ok" -> false, "detail" -> "query failed")
          timings += k -> t
          residue += left
        }
        passes += Stats.since(p0)
        Log(f"query_suite pass ${passes.size}: ${passes.last}%.2f s")
      } while (System.nanoTime() + passes.last * 1e9 < tEnd)
      val engineD = meter.counts - e0
      val rss = Stats.peakRssMb()

      // latency is the wall time of a pass: its sum over every query is
      // steadier than any one query's time. A warm pass fills the window,
      // so read, one query's action, gives the spread within a pass.
      r.named ++= Seq("suite_s" -> (Stats.median(passes), "s"))
      Ingest.endToEnd(r, setup = setupS, rss = rss, latency = passes.toSeq,
        reads = timings.map(_._2.action).toSeq,
        throughput = timings.size / passes.sum)
      r.extra ++= Map("passes" -> passes.toSeq,
        "query_s" -> timings.groupBy(_._1).map { case (k, ts) =>
          k.takeWhile(_ != '_') -> Stats.median(ts.map(x => x._2.build + x._2.action)) })

      if (o.trace) {
        val n = passes.size.toDouble
        val layers = mutable.LinkedHashMap.empty[String, Double]
        Modules.map(_._1).foreach { m =>
          val ts = timings.filter(x => module(x._1) == m).map(_._2)
          layers ++= Seq(
            s"query.$m.build_s" -> ts.map(_.build).sum / n,
            s"query.$m.build_jobs" -> ts.map(_.buildJobs).sum / n,
            s"query.$m.plan_s" -> ts.map(_.plan).sum / n,
            s"query.$m.exec_s" -> ts.map(t => math.max(t.action - t.plan, 0.0)).sum / n,
            s"query.$m.jobs" -> ts.map(t => t.buildJobs + t.jobs).sum / n)
        }
        Pipelines.foreach { p =>
          val ts = timings.filter(_._1 == key(p)).map(_._2)
          layers ++= Seq(s"query.$p.build_s" -> ts.map(_.build).sum / n,
            s"query.$p.jobs" -> ts.map(t => t.buildJobs + t.jobs).sum / n)
        }
        layers("query.residue_views") = residue / n
        layers ++= Ingest.engineLayer(engineD, passes.sum, o.cores)
        layers("host.cal_q20_s") = cal(o.data)(spark)
        r.layers ++= layers
        r.spans = Some(spans)
      } else r.provenance("cal_q20_s") = cal(o.data)(spark)
    } finally spark.stop()
  }

  /** Builder call, then the action (`count`, as `graft.Bench` uses), each
    * in its own span; then pins and cached data are released and whatever
    * the query left in the session is counted. */
  private def timeOne(spark: SparkSession, k: String, o: Opts, spans: Spans,
      meter: EngineMeter, planner: PlanMeter, pass: Int): (Timing, Boolean, Long) = {
    val id = s"${k.takeWhile(_ != '_')}-$pass"
    val layer = s"queries.${module(k)}"
    def jobs() = { if (o.trace) PerfbenchBus.drain(spark.sparkContext); meter.counts.jobs }
    def plan() = { if (o.trace) PerfbenchBus.drain(spark.sparkContext); planner.planSeconds }
    def views() = spark.catalog.listTables().collect().count(_.isTemporary)
    val views0 = views()
    var build, action = 0.0
    var (bj, j, pl) = (0L, 0L, 0.0)
    val ok = scala.util.Try {
      spans(s"query $id", layer, id) {
        val j0 = jobs()
        val b0 = System.nanoTime()
        val df = spans("build", layer, id)(SparkEntry.queries(k)(spark, o.data))
        build = Stats.since(b0)
        val j1 = jobs()
        val p1 = plan()
        val a0 = System.nanoTime()
        spans("action", layer, id)(df.count())
        action = Stats.since(a0)
        bj = j1 - j0
        j = jobs() - j1
        pl = plan() - p1
      }
    }.isSuccess
    Pinned.releaseAll(spark)
    val left = math.max(views() - views0, 0) +
      spark.sparkContext.getPersistentRDDs.size + spark.streams.active.length
    release(spark)
    (Timing(build, bj, pl, action, j), ok, left.toLong)
  }

  private def release(spark: SparkSession): Unit = {
    Pinned.releaseAll(spark)
    spark.catalog.clearCache()
  }
}
