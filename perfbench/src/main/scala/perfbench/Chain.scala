package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import graft.helium.Model

/** Shape of a synthetic chain: heights 1..blocks, `stubsPerBlock` txn stubs
  * per block, and one `rewards_v2` txn at the last block of every
  * `epochBlocks`-block epoch carrying `rewardsPerEpoch` rewards over
  * Zipf(`zipfS`)-skewed gateway and account sets. A `nullShare` of the
  * rewards has no gateway (securities) and another `nullShare` no account. */
final case class ChainShape(
    blocks: Int,
    stubsPerBlock: Int,
    epochBlocks: Int,
    rewardsPerEpoch: Int,
    gateways: Int,
    accounts: Int,
    zipfS: Double,
    nullShare: Double) {
  def describe: Map[String, Any] = Map(
    "blocks" -> blocks, "stubs_per_block" -> stubsPerBlock,
    "epoch_blocks" -> epochBlocks, "rewards_per_epoch" -> rewardsPerEpoch,
    "gateways" -> gateways, "accounts" -> accounts, "zipf_s" -> zipfS,
    "null_share" -> nullShare)
}

/** Cumulative (count, amount) of one reward key (a gateway or an account)
  * at each height where it changes. */
final class Series {
  private val hs = mutable.ArrayBuffer.empty[Long]
  private val cnt = mutable.ArrayBuffer.empty[Long]
  private val amt = mutable.ArrayBuffer.empty[Long]
  def add(h: Long, amount: Long): Unit =
    if (hs.nonEmpty && hs.last == h) {
      cnt(cnt.length - 1) += 1; amt(amt.length - 1) += amount
    } else {
      hs += h
      cnt += (if (cnt.isEmpty) 1L else cnt.last + 1)
      amt += (if (amt.isEmpty) amount else amt.last + amount)
    }
  /** (count, amount) of the rows at heights <= h. */
  def at(h: Long): (Long, Long) = {
    var lo = 0; var hi = hs.length - 1; var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (hs(mid) <= h) { best = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (best < 0) (0L, 0L) else (cnt(best), amt(best))
  }
}

/** A seeded synthetic Helium chain in the node's wire format, plus its
  * manifest: the known totals every output check compares against. The
  * same (shape, seed) always gives the same chain. */
final class Chain(val shape: ChainShape, seed: Long) {
  import Chain._

  /** Raw block JSON by height (index 0 unused). */
  val blockJson = new Array[String](shape.blocks + 1)
  /** Txn payload JSON and containing height, by hash. */
  val txnJson = new java.util.HashMap[String, String]()
  val txnHeight = new java.util.HashMap[String, java.lang.Long]()

  // manifest, cumulative by height
  val rewardRowsAt = new Array[Long](shape.blocks + 1)
  val rewardAmountAt = new Array[Long](shape.blocks + 1)
  val stubsAt = new Array[Long](shape.blocks + 1)
  val rewardStubsAt = new Array[Long](shape.blocks + 1)
  private val typeOfStubs = new Array[Array[Int]](shape.blocks + 1)
  val byGateway = mutable.HashMap.empty[String, Series]
  val byAccount = mutable.HashMap.empty[String, Series]
  /** Heights at which the reward totals change. */
  val rewardHeights = mutable.ArrayBuffer.empty[Long]

  private val otherTypes =
    Model.transactionTypes.filterNot(_ == "rewards_v2").toArray

  locally {
    val rnd = new SplittableRandom(seed)
    val gwCdf = zipfCdf(shape.gateways, shape.zipfS)
    val acCdf = zipfCdf(shape.accounts, shape.zipfS)
    var h = 1
    while (h <= shape.blocks) {
      val isEpochEnd = h % shape.epochBlocks == 0
      val n = shape.stubsPerBlock
      val stubs = new StringBuilder
      val types = new Array[Int](n)
      var amountHere = 0L; var rowsHere = 0L
      var i = 0
      while (i < n) {
        val hash = f"t$h%d_$i%d_${rnd.nextLong() & 0xffffffffffL}%010x"
        val (tpe, fields) =
          if (isEpochEnd && i == 0) {
            val (json, rows, amount) = rewards(rnd, h, gwCdf, acCdf)
            rowsHere += rows; amountHere += amount
            ("rewards_v2", json)
          } else {
            val t = otherTypes(rnd.nextInt(otherTypes.length))
            (t, s"""{"amount":${rnd.nextInt(1000000)},"fee":${rnd.nextInt(100)}}""")
          }
        types(i) = Model.transactionTypes.indexOf(tpe)
        if (i > 0) stubs += ','
        stubs ++= s"""{"hash":"$hash","type":"$tpe"}"""
        txnJson.put(hash,
          s"""{"hash":"$hash","type":"$tpe","fields":"${fields.replace("\"", "\\\"")}"}""")
        txnHeight.put(hash, h.toLong)
        i += 1
      }
      blockJson(h) =
        s"""{"height":$h,"time":${BaseTime + 60L * h},"hash":"b$h","transactions":[$stubs]}"""
      typeOfStubs(h) = types
      rewardRowsAt(h) = rewardRowsAt(h - 1) + rowsHere
      rewardAmountAt(h) = rewardAmountAt(h - 1) + amountHere
      stubsAt(h) = stubsAt(h - 1) + n
      rewardStubsAt(h) = rewardStubsAt(h - 1) + (if (isEpochEnd) 1 else 0)
      if (rowsHere > 0) rewardHeights += h
      h += 1
    }
  }

  /** One rewards_v2 payload: rewards with distinct (account, gateway,
    * type) keys, so a duplicated row in the sink is always a defect. */
  private def rewards(rnd: SplittableRandom, h: Int, gwCdf: Array[Double],
      acCdf: Array[Double]): (String, Long, Long) = {
    val seen = mutable.HashSet.empty[(String, String, String)]
    val b = new StringBuilder
    var rows = 0L; var total = 0L
    var tries = 0
    while (rows < shape.rewardsPerEpoch && tries < shape.rewardsPerEpoch * 4) {
      tries += 1
      val noGateway = rnd.nextDouble() < shape.nullShare
      val noAccount = !noGateway && rnd.nextDouble() < shape.nullShare
      val tpe = if (noGateway) "securities" else RewardTypes(rnd.nextInt(RewardTypes.length))
      val gw = if (noGateway) null else f"gw${sample(rnd, gwCdf)}%06d"
      val ac = if (noAccount) null else f"ac${sample(rnd, acCdf)}%06d"
      if (seen.add((ac, gw, tpe))) {
        val amount = 1L + rnd.nextLong(10000000L)
        if (rows > 0) b += ','
        def js(s: String) = if (s == null) "null" else "\"" + s + "\""
        b ++= s"""{"account":${js(ac)},"gateway":${js(gw)},"amount":$amount,"type":"$tpe"}"""
        byGateway.getOrElseUpdate(Option(gw).getOrElse(Model.NullSentinel),
          new Series).add(h, amount)
        byAccount.getOrElseUpdate(Option(ac).getOrElse(Model.NullSentinel),
          new Series).add(h, amount)
        rows += 1; total += amount
      }
    }
    val start = h - shape.epochBlocks + 1
    (s"""{"start_epoch":$start,"end_epoch":$h,"rewards":[$b]}""", rows, total)
  }

  /** Txn count per type over heights (from, to]. */
  def txnsByType(from: Long, to: Long): Map[String, Long] = {
    val counts = new Array[Long](Model.transactionTypes.length)
    var h = from + 1
    while (h <= to) { typeOfStubs(h.toInt).foreach(t => counts(t) += 1); h += 1 }
    Model.transactionTypes.zip(counts).filter(_._2 > 0).toMap
  }

  /** Txns the follower must fetch for heights (from, to]: every stub in
    * Full mode, only the rewards_v2 ones otherwise. */
  def neededTxns(from: Long, to: Long, full: Boolean): Long =
    if (full) stubsAt(to.toInt) - stubsAt(from.toInt)
    else rewardStubsAt(to.toInt) - rewardStubsAt(from.toInt)

  /** Per-gateway (count, amount) at height h. */
  def gatewayTotals(h: Long): Map[String, (Long, Long)] =
    byGateway.iterator.map { case (g, s) => g -> s.at(h) }
      .filter(_._2._1 > 0).toMap

  /** The known totals, as written next to a run's result: cumulative
    * reward rows and amounts per height, txns per type, and each gateway's
    * (rows, amount) at the tip. */
  def manifest: Map[String, Any] = Map(
    "shape" -> shape.describe,
    "reward_rows_at" -> rewardRowsAt.toSeq,
    "reward_amount_at" -> rewardAmountAt.toSeq,
    "txns_by_type" -> txnsByType(0, shape.blocks),
    "gateway_totals" -> gatewayTotals(shape.blocks).map { case (g, (n, a)) =>
      g -> Seq(n, a) })

  /** Distinct reward-total heights in [lo, hi] plus lo itself: the only
    * heights whose totals a reader between those cursors can observe. */
  def observableHeights(lo: Long, hi: Long): Seq[Long] =
    lo +: rewardHeights.filter(h => h > lo && h <= hi).toSeq
}

object Chain {
  val BaseTime = 1600000000L
  val RewardTypes = Array("poc_challengers", "poc_challengees",
    "poc_witnesses", "data_credits", "consensus")

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def sample(rnd: SplittableRandom, cdf: Array[Double]): Int = {
    val u = rnd.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}
