package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.helium._
import graft.helium.Model.{EtlMode, IngestState}
import graft.helium.source.BlockSourceProvider

/** The follower workload, in two phases: backfill (bulk ingest from
  * height 0 to the tip) and tip-follow (open-loop block arrivals with one
  * closed-loop reader beside the writer). It drives the program only
  * through its public entry points: `Follower.start` against the
  * benchmark's JSON-RPC node, `ExactlyOnceSink`, `StateStore` and
  * `Migrate`. */
object Ingest {

  /** The backfill chain; the tip-follow chain has the same shape, extended
    * by the arrivals. Small enough that two backfills fit a run: each pays
    * the per-batch fixed cost, and its payload fetches run in one task. */
  val Backfill = ChainShape(blocks = 240, stubsPerBlock = 4, epochBlocks = 30,
    rewardsPerEpoch = 2000, gateways = 4000, accounts = 12000, zipfS = 1.1,
    nullShare = 0.02)

  /** Blocks of the recovery check, which is also the warmup. */
  val RecoveryBlocks = 30L
  /** Backfills of the whole chain, each into a fresh store: the first
    * still warms up, so the reported rate is their median. */
  val BackfillReps = 2
  /** Tip-follow: the committed prefix, the open-loop arrival rate (half
    * of what the follower sustains, see the README), the trigger interval,
    * and the warmup before the window, which outlasts the catch-up after
    * the follower starts. The window is `--seconds` long. */
  val TipPrefix = 30
  val TipRate = 320.0
  val TipTrigger = "100 milliseconds"
  val TipWarmupS = 3.0
  /** Blocks in the reader's "recent block window" access path. */
  val ReadWindow = 90L

  /** A fresh store at `root`: catalog tables registered over it and the
    * cursor at height 0, so the follower starts with block 1 (the chain is
    * whole from height 1, so there is nothing for the pruned-node reverse
    * scan of `Backfill.firstBlock` to find). */
  def prepare(spark: SparkSession, root: String): Unit = {
    Seq("rewards", "transactions", "filters").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Files.createDirectories(Paths.get(root, t))
    }
    Migrate.run(spark, root)
    new StateStore(spark, root).advance(IngestState(0L, 1L))
  }

  def cursor(spark: SparkSession, root: String): Long =
    new StateStore(spark, root).load().map(_.height).getOrElse(0L)

  /** Runs a `Trigger.AvailableNow` follower to completion; true on success. */
  def drainOnce(spark: SparkSession, url: String, root: String,
      mode: EtlMode): Boolean =
    Try {
      val q = Follower.start(spark, url, root, mode, trigger = Trigger.AvailableNow())
      q.awaitTermination()
      q.exception.isEmpty
    }.recover { case e =>
      System.err.println(s"[perfbench] follower failed: ${e.getMessage}")
      false
    }.get

  /** Exactly-once totals of the store at `root` against the manifest:
    * the cursor is where it should be; reward rows and amounts, per-gateway
    * totals and (Full mode) txns per type match the chain up to it; no
    * reward key appears twice. */
  def checkTotals(spark: SparkSession, r: Result, label: String, root: String,
      chain: Chain, full: Boolean, expectCursor: Long): Unit = {
    val sink = new ExactlyOnceSink(spark, root)
    val at = cursor(spark, root)
    r.check(s"$label.cursor", at == expectCursor, s"cursor=$at expected=$expectCursor")
    val rw = sink.rewardsTable()
    val row = rw.agg(count(lit(1)), coalesce(sum(col("amount")), lit(0L)),
      countDistinct(col("block"), col("transaction_hash"), col("account"),
        col("gateway"), col("type"))).head()
    val (n, amount, keys) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val (wantN, wantAmount) = (chain.rewardRowsAt(at.toInt), chain.rewardAmountAt(at.toInt))
    r.check(s"$label.reward_totals", n == wantN && amount == wantAmount && keys == n,
      s"rows=$n/$wantN amount=$amount/$wantAmount distinct_keys=$keys")
    val got = rw.groupBy("gateway").agg(count(lit(1)), sum("amount")).collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    val want = chain.gatewayTotals(at)
    val bad = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
    r.check(s"$label.gateway_totals", bad == 0,
      s"gateways=${got.size}/${want.size} mismatched=$bad")
    if (full) {
      val gotT = sink.transactionsTable().groupBy("type").count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      val wantT = chain.txnsByType(0, at)
      r.check(s"$label.txn_totals", gotT == wantT,
        s"txns=${gotT.values.sum}/${wantT.values.sum} types=${gotT.size}/${wantT.size}")
    }
  }

  /** One read of the reference schema's indexed access paths over
    * `ExactlyOnceSink.rewardsTable()` (migrations/V1: by gateway, by block,
    * by account), rotating through the three. The answer must equal the
    * manifest's totals at some height between the cursor at read start
    * and at read end: anything else is a torn or lost batch. */
  final class Reader(spark: SparkSession, root: String, chain: Chain, seed: Long) {
    private val sink = new ExactlyOnceSink(spark, root)
    private val rnd = new java.util.SplittableRandom(seed ^ 0x5eed)
    private val gateways = chain.byGateway.keys.toArray.sorted
    private val accounts = chain.byAccount.keys.toArray.sorted
    private var i = 0

    private def totals(df: DataFrame): (Long, Long) = {
      val x = df.agg(count(lit(1)), coalesce(sum(col("amount")), lit(0L))).head()
      (x.getLong(0), x.getLong(1))
    }

    /** (seconds, correct, description). */
    def read(): (Double, Boolean, String) = {
      val c0 = cursor(spark, root)
      val t0 = System.nanoTime()
      val (what, got, want) = i % 3 match {
        case 0 =>
          val g = gateways(rnd.nextInt(gateways.length))
          (s"gateway=$g", totals(sink.rewardsTable().filter(col("gateway") === g)),
            (h: Long) => chain.byGateway(g).at(h))
        case 1 =>
          val lo = math.max(0L, c0 - ReadWindow)
          (s"block>$lo", totals(sink.rewardsTable().filter(col("block") > lo)),
            (h: Long) => (chain.rewardRowsAt(h.toInt) - chain.rewardRowsAt(lo.toInt),
              chain.rewardAmountAt(h.toInt) - chain.rewardAmountAt(lo.toInt)))
        case _ =>
          val a = accounts(rnd.nextInt(accounts.length))
          (s"account=$a", totals(sink.rewardsTable().filter(col("account") === a)),
            (h: Long) => chain.byAccount(a).at(h))
      }
      val dt = Stats.since(t0)
      val c1 = cursor(spark, root)
      i += 1
      val ok = chain.observableHeights(c0, c1).exists(h => want(h) == got)
      (dt, ok, s"$what cursor=[$c0,$c1] got=$got")
    }
  }

  /** Runs reads back to back until `untilNanos` (at least `min` reads);
    * returns their latencies and counts each as an op. */
  def readLoop(reader: Reader, r: Result, untilNanos: Long, min: Int): Seq[Double] = {
    val lat = ArrayBuffer.empty[Double]
    var badShown = 0
    var tries = 0
    while (System.nanoTime() < untilNanos || tries < min) {
      tries += 1
      val (dt, ok, what) = Try(reader.read()).recover { case e =>
        (Double.NaN, false, s"read failed: ${e.getMessage}")
      }.get
      r.op(ok)
      if (!ok && badShown < 5) {
        badShown += 1
        r.checks += Map("check" -> "reader", "ok" -> false, "detail" -> what)
      }
      if (!dt.isNaN) lat += dt
    }
    lat.toSeq
  }

  /** Seconds from each block's due time to the first progress report whose
    * source end offset covers the block, with the block's due time. */
  def freshness(events: Seq[Progress], due: Seq[(Long, Long)]): Seq[(Long, Double)] = {
    val ev = events.filter(_.endOffset >= 0).sortBy(_.at)
    due.flatMap { case (h, t) => ev.find(_.endOffset >= h).map(e => (t, (e.at - t) / 1e9)) }
  }

  /** Data files and bytes under a store's table directories. */
  def storeFiles(root: String, table: String): (Long, Long, Long) = {
    val dir = Paths.get(root, table)
    // a live writer may delete its staging directories mid-walk: retry
    def once(): (Long, Long, Long) =
      if (!Files.exists(dir)) (0L, 0L, 0L)
      else {
        val files = Files.walk(dir).iterator().asScala
          .filter { p =>
            val rel = dir.relativize(p).iterator().asScala.map(_.toString).toSeq
            !rel.exists(c => c.startsWith(".") || c.startsWith("_")) &&
              rel.last.endsWith(".parquet") && Files.isRegularFile(p)
          }.toSeq
        val parts = Files.list(dir).iterator().asScala
          .count(_.getFileName.toString.startsWith("batch_id="))
        (files.size.toLong, files.map(Files.size).sum, parts.toLong)
      }
    Iterator.continually(Try(once())).take(5).find(_.isSuccess)
      .map(_.get).getOrElse(once())
  }

  /** The stream's per-batch phase times and batch shape. */
  def streamLayer(events: Seq[Progress]): Map[String, Double] = {
    val batches = events.filter(_.rows > 0)
    def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
    def avg(k: String) = mean(batches.map(_.durations.getOrElse(k, 0L)))
    Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.blocks_per_batch" ->
        mean(batches.map(b => b.endOffset - math.max(b.startOffset, 0L))),
      "stream.latest_offset_ms" -> avg("latestOffset"),
      "stream.query_planning_ms" -> avg("queryPlanning"),
      "stream.add_batch_ms" -> avg("addBatch"),
      "stream.wal_commit_ms" -> avg("walCommit"),
      "stream.commit_offsets_ms" -> avg("commitOffsets"))
  }

  /** Node calls per follower run (`runs` runs in `d`) and per block and
    * needed txn. */
  def nodeLayer(d: NodeCounts, runs: Int, blocks: Long, needed: Long): Map[String, Double] = Map(
    "node.block_get_calls" -> d.block.toDouble / runs,
    "node.transaction_get_calls" -> d.txn.toDouble / runs,
    "node.block_height_calls" -> d.height.toDouble / runs,
    "node.block_get_per_block" -> d.block.toDouble / math.max(blocks, 1L),
    "node.txn_get_per_needed_txn" -> d.txn.toDouble / math.max(needed, 1L),
    "node.busy_s" -> d.busyNanos / 1e9 / runs)

  def engineLayer(d: EngineCounts, wallS: Double, cores: Int): Map[String, Double] = Map(
    "spark.jobs" -> d.jobs.toDouble,
    "spark.stages" -> d.stages.toDouble,
    "spark.tasks" -> d.tasks.toDouble,
    "spark.task_busy_s" -> d.taskMs / 1000.0,
    "spark.core_utilization" -> d.taskMs / 1000.0 / (wallS * cores),
    "spark.shuffle_bytes" -> d.shuffleBytes.toDouble,
    "spark.spill_bytes" -> d.spillBytes.toDouble,
    "spark.gc_s" -> d.gcMs / 1000.0)

  /** Replays height ranges through the follower's layers one at a time,
    * each materialized, so each layer gets its own span: the source read
    * (`BlockSource` + `Follower.parseBlocks`), `Follower.fetchPayloads`,
    * `Pipeline.run`, and `ExactlyOnceSink.commit` into a fresh store.
    * Returns per-batch means. */
  def replay(spark: SparkSession, url: String, o: Opts, spans: Spans,
      meter: EngineMeter, ranges: Seq[(Long, Long)], mode: EtlMode,
      tag: String): Map[String, Double] = {
    val root = s"${o.work}/$tag"
    prepare(spark, root)
    val sink = new ExactlyOnceSink(spark, root)
    val node = NodeClient.forAddr(url)
    val secs = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var jobs, lists, writes = 0L
    def timed[T](name: String, layer: String, key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try spans(name, layer, key)(body) finally secs(name) += Stats.since(t0)
    }
    ranges.zipWithIndex.foreach { case ((lo, hi), i) =>
      val key = s"$tag-$i"
      spans("replay.batch", "replay", key) {
        val blocks = timed("source.read", "helium.source.BlockSource", key) {
          val raw = spark.read.format(classOf[BlockSourceProvider].getName)
            .option("node", url).option("startHeight", lo.toString).load()
            .filter(col("height") <= hi)
          val b = Follower.parseBlocks(raw).cache()
          b.count()
          b
        }
        val payloads = timed("follower.fetch_payloads", "helium.Follower", key) {
          val p = Follower.fetchPayloads(spark, node, blocks, mode).cache()
          p.count()
          p
        }
        val out = timed("pipeline.run", "helium.Pipeline", key) {
          val out = Pipeline.run(mode, blocks, payloads)
          out.rewards.cache().count()
          out.transactions.foreach(_.cache().count())
          out
        }
        PerfbenchBus.drain(spark.sparkContext)
        val (j0, l0, w0) = (meter.counts.jobs, CountingLocalFileSystem.lists.get,
          CountingLocalFileSystem.writes.get)
        timed("sink.commit", "helium.ExactlyOnceSink", key)(sink.commit(out, hi, 1L))
        PerfbenchBus.drain(spark.sparkContext)
        jobs += meter.counts.jobs - j0
        lists += CountingLocalFileSystem.lists.get - l0
        writes += CountingLocalFileSystem.writes.get - w0
        Seq(Some(blocks), Some(payloads), Some(out.rewards), out.transactions)
          .flatten.foreach(_.unpersist())
      }
    }
    val n = math.max(ranges.size, 1).toDouble
    Map(
      "source.read_s" -> secs("source.read") / n,
      "follower.fetch_payloads_s" -> secs("follower.fetch_payloads") / n,
      "pipeline.run_s" -> secs("pipeline.run") / n,
      "sink.commit_s" -> secs("sink.commit") / n,
      "sink.jobs_per_commit" -> jobs / n,
      "sink.fs_list_ops_per_commit" -> lists / n,
      "sink.fs_write_ops_per_commit" -> writes / n)
  }

  /** What the backfill phase measured. */
  private final case class BackfillPhase(reps: Seq[Double], prepares: Seq[Double],
      node: NodeCounts, engine: EngineCounts)

  /** What the tip-follow phase measured. */
  private final case class TipPhase(setupS: Double, freshness: Seq[Double],
      slope: Double, reads: Seq[Double], windowS: Double, events: Seq[Progress],
      engine: EngineCounts, lateMs: Seq[Double], root: String, filesBefore: Long,
      tip: Long)

  /** The `ingest` workload: a Full-mode backfill of a seeded chain from
    * height 0 to its tip, `BackfillReps` times into fresh stores; then a
    * Rewards-mode follower on an already-committed prefix of a second chain
    * while blocks arrive on an open-loop schedule and one closed-loop reader
    * queries the sink, for `--seconds`. Both phases share one session, so
    * the JVM and Spark warm up once. */
  def ingest(o: Opts, r: Result, cal: SparkSession => Double): Unit = {
    val bfChain = new Chain(Backfill, o.seed)
    val arrivals = math.ceil(TipRate * (TipWarmupS + o.seconds)).toInt + 1
    val tipChain = new Chain(Backfill.copy(blocks = TipPrefix + arrivals), o.seed + 1)
    val spans = new Spans
    val nodeSpans = if (o.trace) Some(spans) else None
    val bfNode = new NodeServer(bfChain, o.cores, nodeSpans)
    val tipNode = new NodeServer(tipChain, o.cores, nodeSpans)
    tipNode.tip.set(TipPrefix)
    r.provenance ++= Map(
      "backfill" -> Map("chain" -> Backfill.describe, "mode" -> "full",
        "trigger" -> "AvailableNow", "recovery_blocks" -> RecoveryBlocks,
        "runs" -> BackfillReps,
        "reward_rows" -> bfChain.rewardRowsAt(Backfill.blocks),
        "txns" -> bfChain.stubsAt(Backfill.blocks)),
      "tip_follow" -> Map("chain" -> tipChain.shape.describe, "mode" -> "rewards",
        "prefix_blocks" -> TipPrefix, "arrival_rate_blocks_per_s" -> TipRate,
        "arrival_loop" -> "open", "trigger" -> s"ProcessingTime($TipTrigger)",
        "readers" -> 1, "reader_loop" -> "closed"),
      "node_threads" -> o.cores)
    Files.writeString(Paths.get(o.out.stripSuffix(".json") + "-manifest.json"),
      Json.render(Map("backfill" -> bfChain.manifest, "tip_follow" -> tipChain.manifest)))
    val t0 = System.nanoTime()
    var spark = Session.start(o, o.cores)
    val sessionS = Stats.since(t0)
    r.provenance("graft_conf") = Session.graftConf(spark)
    try {
      val progress = new ProgressLog
      spark.streams.addListener(progress)
      val meter = new EngineMeter(spans)
      if (o.trace) spark.sparkContext.addSparkListener(meter)

      // warmup: the recovery check, which runs the Full-mode path twice
      val w0 = System.nanoTime()
      recovery(spark, bfNode, bfChain, o, r)
      val warmS = Stats.since(w0)
      Log(f"warmup and recovery check done in $warmS%.1f s")

      val bf = backfillPhase(spark, o, r, bfChain, bfNode, progress, meter)
      val tip = tipPhase(spark, o, r, tipChain, tipNode, progress, meter,
        o.seconds)
      val rss = Stats.peakRssMb()

      val n = Backfill.blocks.toDouble
      val bps = bf.reps.map(n / _)
      r.named ++= Seq(
        "backfill_blocks_per_s" -> (Stats.median(bps), "blocks/s"),
        "freshness_p50_s" -> (Stats.median(tip.freshness), "s"),
        "freshness_p95_s" -> (Stats.quantile(tip.freshness, 0.95), "s"),
        "read_p50_s" -> (Stats.median(tip.reads), "s"),
        "read_p95_s" -> (Stats.quantile(tip.reads, 0.95), "s"))
      val setupS = sessionS + warmS + Stats.median(bf.prepares) + tip.setupS
      endToEnd(r, setup = setupS, rss = rss, latency = tip.freshness,
        reads = tip.reads, throughput = Stats.median(bps))
      val tipBatches = tip.events.filter(_.rows > 0)
      r.extra ++= Map("backfill_rep_s" -> bf.reps, "tip_window_blocks" -> tip.freshness.size,
        "tip_batches" -> tipBatches.size,
        "tip_blocks_per_batch" -> streamLayer(tip.events)("stream.blocks_per_batch"),
        "tip_batch_ms" -> tipBatches.map(_.durations.getOrElse("triggerExecution", 0L)),
        "freshness_slope" -> tip.slope, "read_s" -> tip.reads,
        "generator_late_ms_max" -> tip.lateMs.maxOption.getOrElse(0.0),
        "setup_parts_s" -> Map("session" -> sessionS, "warmup_and_recovery" -> warmS,
          "prepare_median" -> Stats.median(bf.prepares), "tip_prefix_and_warmup" -> tip.setupS))

      if (o.trace) {
        val ranges = tipBatches.filter(_.startOffset >= 0)
          .map(e => (e.startOffset, e.endOffset)).take(8)
        val (files, bytes, partitions) = storeFiles(tip.root, "rewards")
        val layers =
          nodeLayer(bf.node, bf.reps.size, Backfill.blocks.toLong * bf.reps.size,
            bfChain.neededTxns(0, Backfill.blocks, full = true) * bf.reps.size) ++
          streamLayer(tip.events) ++
          engineLayer(bf.engine + tip.engine, bf.reps.sum + tip.windowS, o.cores)
        // extraction layers on the backfill batch; commit cost on tip batches
        val bulk = replay(spark, bfNode.url, o, spans, meter,
          Seq((0L, Backfill.blocks.toLong)), EtlMode.Full, "replay-backfill")
        val small = replay(spark, tipNode.url, o, spans, meter, ranges,
          EtlMode.Rewards, "replay-tip")
        r.layers ++= layers
        r.layers ++= bulk.filterNot(_._1.startsWith("sink."))
        r.layers ++= small.filter(_._1.startsWith("sink."))
        r.layers ++= Map(
          "sink.files_per_commit" -> (files - tip.filesBefore).toDouble /
            math.max(tipBatches.size, 1),
          "sink.bytes_per_row" -> bytes.toDouble / tipChain.rewardRowsAt(tip.tip.toInt),
          "sink.partitions" -> partitions.toDouble,
          "sink.read_s" -> Stats.median(tip.reads),
          "gen.late_ms" -> Stats.quantile(tip.lateMs, 0.95),
          "gen.freshness_slope" -> tip.slope,
          "host.cal_q20_s" -> cal(spark))
        // single-threaded baseline: the same backfill on local[1]
        spark.stop()
        spark = Session.start(o, 1)
        prepare(spark, s"${o.work}/local1")
        val s1 = System.nanoTime()
        r.op(drainOnce(spark, bfNode.url, s"${o.work}/local1", EtlMode.Full))
        r.layers("spark.scaling_ratio") = Stats.median(bps) / (n / Stats.since(s1))
        r.spans = Some(spans)
      } else r.provenance("cal_q20_s") = cal(spark)
    } finally {
      spark.stop()
      bfNode.stop()
      tipNode.stop()
    }
  }

  /** Backfills the whole chain into fresh stores, back to back,
    * `BackfillReps` times; checks each store's cursor, and one store's
    * totals. */
  private def backfillPhase(spark: SparkSession, o: Opts, r: Result, chain: Chain,
      node: NodeServer, progress: ProgressLog, meter: EngineMeter): BackfillPhase = {
    val n = chain.shape.blocks.toLong
    val prepares, reps = ArrayBuffer.empty[Double]
    var nodeD = NodeCounts(0, 0, 0, 0)
    var engineD = EngineCounts(0, 0, 0, 0, 0, 0, 0)
    var root = ""
    while (reps.size < BackfillReps) {
      root = s"${o.work}/backfill-${reps.size}"
      val s0 = System.nanoTime()
      prepare(spark, root)
      prepares += Stats.since(s0)
      PerfbenchBus.drain(spark.sparkContext)
      progress.clear()
      val (n0, e0) = (node.counts, meter.counts)
      val start = System.nanoTime()
      val ok = drainOnce(spark, node.url, root, EtlMode.Full)
      val dt = Stats.since(start)
      PerfbenchBus.drain(spark.sparkContext)
      nodeD = nodeD + (node.counts - n0)
      engineD = engineD + (meter.counts - e0)
      (0 until math.max(progress.all.count(_.rows > 0), 1)).foreach(_ => r.op(ok))
      reps += dt
      Log(f"backfill run ${reps.size}: $dt%.2f s, ok=$ok")
      val at = cursor(spark, root)
      r.check(s"backfill[${reps.size}].cursor", at == n, s"cursor=$at expected=$n")
    }
    // every run backfills the same chain the same way: check one in full
    checkTotals(spark, r, "backfill", root, chain, full = true, expectCursor = n)
    BackfillPhase(reps.toSeq, prepares.toSeq, nodeD, engineD)
  }

  /** Kill-and-restart exactly-once check: stop a backfill of the chain's
    * first `RecoveryBlocks` blocks while its batch is fetching payloads
    * inside `addBatch`, restart it against the same root and checkpoint,
    * and check the totals. Outside the timed window. */
  def recovery(spark: SparkSession, node: NodeServer, chain: Chain, o: Opts,
      r: Result): Unit = {
    val root = s"${o.work}/recovery"
    val n = RecoveryBlocks
    node.tip.set(n)
    prepare(spark, root)
    val need = chain.neededTxns(0, n, full = true)
    val c0 = node.counts
    val q = Follower.start(spark, node.url, root, EtlMode.Full,
      trigger = Trigger.AvailableNow())
    val deadline = System.nanoTime() + 60e9.toLong
    while (q.isActive && (node.counts.txn - c0.txn) < need / 3 &&
        System.nanoTime() < deadline) Thread.sleep(2)
    val interrupted = q.isActive
    Try(q.stop())
    val before = cursor(spark, root)
    // a stop that missed the batch would leave nothing to recover from
    r.check("recovery.stopped_mid_batch", interrupted && before < n,
      s"active_at_stop=$interrupted cursor_after_stop=$before")
    r.op(drainOnce(spark, node.url, root, EtlMode.Full))
    checkTotals(spark, r, "recovery", root, chain, full = true, expectCursor = n)
    node.tip.set(chain.shape.blocks)
    Log(s"recovery checked (stopped mid-batch: $interrupted)")
  }

  /** Commits the chain's prefix, starts the live follower, and appends one
    * block every 1/rate s from then on. After a warmup, measures for
    * `seconds`: freshness of every block due in the window, and the
    * reader beside the writer. Then drains and checks the totals. */
  private def tipPhase(spark: SparkSession, o: Opts, r: Result, chain: Chain,
      node: NodeServer, progress: ProgressLog, meter: EngineMeter,
      seconds: Double): TipPhase = {
    val root = s"${o.work}/tip"
    val t0 = System.nanoTime()
    prepare(spark, root)
    r.op(drainOnce(spark, node.url, root, EtlMode.Rewards))
    PerfbenchBus.drain(spark.sparkContext)
    progress.clear()
    val live = Follower.start(spark, node.url, root, EtlMode.Rewards,
      trigger = Trigger.ProcessingTime(TipTrigger))
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val lastTip = new java.util.concurrent.atomic.AtomicLong(TipPrefix.toLong)
    val g0 = System.nanoTime()
    val tw0 = g0 + (TipWarmupS * 1e9).toLong
    val tw1 = tw0 + (seconds * 1e9).toLong
    // open loop: block k after the prefix is due at g0 + (k-1)/rate,
    // whether or not the follower has kept up
    def due(h: Long): Long = g0 + ((h - TipPrefix - 1) / TipRate * 1e9).toLong
    val gen = new Thread(() => {
      var h = TipPrefix + 1L
      while (h <= chain.shape.blocks && due(h) < tw1) {
        val wait = due(h) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        node.tip.set(h)
        lastTip.set(h)
        late.add((System.nanoTime() - due(h)) / 1e6)
        h += 1
      }
    }, "perfbench-arrivals")
    gen.setDaemon(true)
    gen.start()
    try {
      Thread.sleep(math.max(0L, (tw0 - System.nanoTime()) / 1000000))
      val setupS = Stats.since(t0)
      Log(f"tip_follow prefix and warmup done in $setupS%.1f s")
      PerfbenchBus.drain(spark.sparkContext)
      val e0 = meter.counts
      val (f0, _, _) = storeFiles(root, "rewards")
      val reads = readLoop(new Reader(spark, root, chain, o.seed), r, tw1, min = 9)
      gen.join()
      val engineD = meter.counts - e0
      val tip = lastTip.get
      // drain: wait for the progress report covering the last arrival
      val deadline = System.nanoTime() + 60e9.toLong
      while (!progress.all.exists(_.endOffset >= tip) && live.isActive &&
          System.nanoTime() < deadline) Thread.sleep(20)
      Log(f"tip_follow drained to $tip ${Stats.since(tw1)}%.1f s after the window")
      live.stop()
      PerfbenchBus.drain(spark.sparkContext)
      r.op(live.exception.isEmpty)
      val events = progress.all.filter(_.at >= tw0)
      events.filter(_.rows > 0).foreach(_ => r.op(true))
      val window = (TipPrefix + 1L to tip).filter(h => due(h) >= tw0)
      val pts = freshness(progress.all, window.map(h => (h, due(h))))
      val fresh = pts.map(_._2)
      // freshness against due time across the window: at or a little below
      // 0 while the follower keeps up (the last batch is smaller), positive
      // when the backlog grows
      val slope = Stats.slope(pts.map { case (t, f) => ((t - tw0) / 1e9, f) })
      r.check("tip_follow.window_blocks_committed", fresh.size == window.size,
        s"committed=${fresh.size}/${window.size} tip=$tip")
      checkTotals(spark, r, "tip_follow", root, chain, full = false, expectCursor = tip)
      TipPhase(setupS, fresh, slope, reads, (tw1 - tw0) / 1e9, events, engineD,
        late.asScala.toSeq, root, f0, tip)
    } finally {
      Try(live.stop())
      gen.join(5000)
    }
  }

  /** The end-to-end metrics every workload reports, in its own terms. */
  def endToEnd(r: Result, setup: Double, rss: Double, latency: Seq[Double],
      reads: Seq[Double], throughput: Double): Unit = {
    r.metric("setup_s", setup, "s")
    r.metric("peak_rss_mb", rss, "MB")
    r.metric("latency_p50_s", Stats.median(latency), "s")
    r.metric("latency_p95_s", Stats.quantile(latency, 0.95), "s")
    r.metric("read_p50_s", Stats.median(reads), "s")
    r.metric("read_p95_s", Stats.quantile(reads, 0.95), "s")
    r.metric("throughput_per_s", throughput, "1/s")
  }
}
