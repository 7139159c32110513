package graft.perfbench

import graft.functions.{Keccak256, Rlp}
import java.math.BigInteger
import java.util.SplittableRandom

/** Seeded collector-day generator. Everything the engine reads (hourly tx
  * CSVs from two collector instances, the sourcelog, a collector trash
  * file, a blacklist) and everything the loopback RPC node serves (receipts
  * and blocks) derives from `(seed, day)` alone, and so does the truth table
  * the output checks compare against. Each tx draws from its own
  * `SplittableRandom`, so generation parallelizes without changing a byte.
  *
  * Knobs, each a share of the day's unique txs unless noted:
  *  - `dupShare`: txs also logged by the second instance at a LATER
  *    timestamp (often in a later hour file), so earliest-wins has work;
  *  - `validShare`: txs whose `r` is the x-coordinate of a curve point, so
  *    sender recovery succeeds; the rest land in the merge trash;
  *  - `blacklistShare`: txs named in the previous-day metadata CSV;
  *  - `includedShare` and `txsPerBlock`: txs the RPC node reports mined,
  *    packed into blocks in first-seen order;
  *  - `f1Share`: of the included txs, the ones first seen ≥ 12 s after
  *    their block (the merge's already-included discard);
  *  - `maxSources` and `sourceSpreadMs`: 1..maxSources sources per tx,
  *    receipts spread over that window.
  *
  * Sourced from the reference's published figures (BASELINE.md): the
  * 12 s already-included threshold; six source names, for its "5+
  * sources"; calldata sized so the parquet archive holds about 530 B per
  * archived tx, its ~800 MB per day of 1–2 M txs. Every share and count
  * in the `DayCfg` defaults, the collector-trash share and the duplicate
  * delay window are assumptions with no published figure behind them.
  */
object Gen {

  final case class DayCfg(
      nUnique: Int,
      dupShare: Double = 0.5,
      validShare: Double = 0.95,
      blacklistShare: Double = 0.03,
      includedShare: Double = 0.7,
      txsPerBlock: Int = 40,
      f1Share: Double = 0.05,
      maxSources: Int = 5,
      sourceSpreadMs: Int = 2000)

  /** Collector-trash share of unique txs. */
  private val TrashShare = 0.04
  /** Distinct destinations; popularity is skewed toward the first few. */
  private val NTo = 400
  /** The second instance's sighting comes up to this much later. */
  private val DupMaxDelayMs = 600000
  /** Calldata of a non-transfer tx: 4 + [0, this) random bytes. With a
    * third of txs plain transfers, the parquet archive holds about 530 B
    * per tx (BASELINE.md: ~800 MB per day of 1–2 M txs). */
  private val MaxCalldataTail = 860

  private def frac(x: Double): Double = x - math.floor(x)

  val SourceNames: Vector[String] =
    Vector("local", "alchemy", "infura", "bloxroute", "chainbound", "eden")
  val TrashReasons: Vector[String] =
    Vector("tx_underpriced", "nonce_too_low", "replaced")

  /** 2023-09-04T00:00:00Z, the first generated day. */
  val EpochDayMs: Long = 1693785600000L
  val DayMs: Long = 86400000L
  val AlreadyIncludedMs: Long = 12000L

  private val P = new BigInteger(
    "fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)
  private val N = new BigInteger(
    "fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
  private val HalfN = N.shiftRight(1)
  private val PHalf = P.subtract(BigInteger.ONE).shiftRight(1)
  private val Seven = BigInteger.valueOf(7)

  /** True iff x³+7 is a square mod p, i.e. some curve point has x-coordinate
    * `x` and a signature with r = x can recover a public key. */
  def onCurve(x: BigInteger): Boolean =
    x.pow(3).add(Seven).mod(P).modPow(PHalf, P) == BigInteger.ONE

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9e3779b97f4a7c15L + b
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hex0x(b: Array[Byte]): String = "0x" + Keccak256.hex(b)

  private def bytes32(rng: SplittableRandom): Array[Byte] = {
    val b = new Array[Byte](32)
    var i = 0
    while (i < 32) { b(i) = rng.nextInt(256).toByte; i += 1 }
    b
  }

  def toAddress(seed: Long, k: Int): String =
    hex0x(Keccak256.hash(s"perfbench-to:$seed:$k".getBytes("UTF-8")).take(20))

  /** One unique tx of the day and everything the checks need to know. */
  final case class Tx(
      hash: String,
      raw: String, // 0x-prefixed type-2 envelope
      rawLen: Int,
      ts: Long, // earliest receive time: the merged timestamp
      firstInstance: Int,
      dupTs: Long, // the other instance's later sighting, -1 if none
      to: String,
      valid: Boolean,
      blacklisted: Boolean,
      sources: Vector[String], // in receipt order
      sourceTs: Vector[Long],
      resentSource: Int, // index into sources logged twice, -1 if none
      trash: Vector[(Long, String, String)], // (ts, source, reason)
      var block: Long = 0L,
      var blockTsMs: Long = 0L,
      var f1: Boolean = false) {
    def archived: Boolean = valid && !blacklisted && !f1
    def included: Boolean = block > 0
    def delayMs: Long = if (block > 0) blockTsMs - ts else 0L
  }

  final case class Block(hash: String, number: Long, tsSec: Long, txs: Array[String])

  final case class Day(index: Int, cfg: DayCfg, txs: Array[Tx], blocks: Array[Block]) {
    val startMs: Long = EpochDayMs + index * DayMs
    def date: String = dateOf(startMs)
    lazy val archived: Array[Tx] = txs.filter(_.archived).sortBy(_.ts)
    lazy val blacklist: Array[String] = txs.filter(_.blacklisted).map(_.hash)
  }

  def dateOf(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString.substring(0, 10)
  def hourOf(ms: Long): Int = ((ms % DayMs) / 3600000L).toInt

  private def genTx(seed: Long, day: Int, i: Int, cfg: DayCfg, startMs: Long): Tx = {
    val rng = new SplittableRandom(mix(mix(seed, day.toLong), i.toLong))
    val nonce = BigInt(rng.nextInt(5000))
    val tip = BigInt(1000000000L + rng.nextInt(3000000))
    val feeCap = tip + BigInt(rng.nextInt(50) * 1000000000L + 1)
    val gas = BigInt(21000 + rng.nextInt(200000))
    // skewed destination popularity: a few hot contracts, a long tail
    val u = rng.nextDouble()
    val toK = math.min(NTo - 1, (NTo * u * u * u).toInt)
    val to = toAddress(seed, toK)
    val toBytes = graft.functions.EthTx.unhex(to.substring(2))
    val value = BigInt(rng.nextLong(1L << 50)) * BigInt(1000)
    // every third tx a plain transfer; the other lengths follow a Weyl
    // sequence, so every seed's day has the same length mix
    val data = if (i % 3 == 0) Array.emptyByteArray
      else {
        val d = new Array[Byte](4 + (frac(i * 0.6180339887498949) * MaxCalldataTail).toInt)
        rng.nextBytes(d); d
      }
    val valid = rng.nextDouble() < cfg.validShare
    var r: BigInteger = null
    while (r == null) {
      val c = new BigInteger(1, bytes32(rng))
      if (c.signum > 0 && c.compareTo(N) < 0 && onCurve(c) == valid) r = c
    }
    val s = new BigInteger(1, bytes32(rng)).mod(HalfN.subtract(BigInteger.ONE))
      .add(BigInteger.ONE)
    val payload = Rlp.Lst(Vector(
      Rlp.fromBigInt(BigInt(1)), Rlp.fromBigInt(nonce), Rlp.fromBigInt(tip),
      Rlp.fromBigInt(feeCap), Rlp.fromBigInt(gas), Rlp.Bytes(toBytes),
      Rlp.fromBigInt(value), Rlp.Bytes(data), Rlp.Lst(Vector.empty),
      Rlp.fromBigInt(BigInt(rng.nextInt(2))), Rlp.fromBigInt(BigInt(r)),
      Rlp.fromBigInt(BigInt(s))))
    val rawBytes = Array(2.toByte) ++ Rlp.encode(payload)
    val hash = hex0x(Keccak256.hash(rawBytes))
    // first-seen times spread over the day in index order, jittered
    val slot = DayMs / cfg.nUnique
    val ts = startMs + i.toLong * slot + rng.nextLong(math.max(1L, slot))
    val inst = rng.nextInt(2)
    val dupTs = if (rng.nextDouble() < cfg.dupShare)
      ts + 1 + rng.nextInt(DupMaxDelayMs) else -1L
    val nSrc = 1 + rng.nextInt(cfg.maxSources)
    val pool = scala.collection.mutable.ArrayBuffer(SourceNames: _*)
    val srcs = Vector.fill(nSrc)(pool.remove(rng.nextInt(pool.size)))
    // strictly increasing receipt offsets: the first source saw it at ts
    var off = 0L
    val srcTs = Vector.tabulate(nSrc) { k =>
      if (k > 0) off += 1 + rng.nextInt(math.max(1, cfg.sourceSpreadMs / nSrc))
      ts + off
    }
    val resent = if (rng.nextInt(4) == 0) rng.nextInt(nSrc) else -1
    val blacklisted = rng.nextDouble() < cfg.blacklistShare
    val trash =
      if (rng.nextDouble() < TrashShare) {
        val src = srcs(rng.nextInt(nSrc))
        val first = (ts + rng.nextInt(5000), src, TrashReasons(rng.nextInt(TrashReasons.size)))
        // a later, different-reason entry for the same (hash, source):
        // the trash merge keeps the earliest
        if (rng.nextBoolean()) Vector(first,
          (first._1 + 1 + rng.nextInt(5000), src, TrashReasons(rng.nextInt(TrashReasons.size))))
        else Vector(first)
      } else Vector.empty
    Tx(hash, "0x" + Keccak256.hex(rawBytes), rawBytes.length, ts, inst, dupTs,
      to, valid, blacklisted, srcs, srcTs, resent, trash)
  }

  /** Generate day `index` (0-based) of the seeded run. */
  def day(seed: Long, index: Int, cfg: DayCfg): Day = {
    val startMs = EpochDayMs + index * DayMs
    val txs = java.util.stream.IntStream.range(0, cfg.nUnique).parallel()
      .mapToObj[Tx](i => genTx(seed, index, i, cfg, startMs))
      .toArray(n => new Array[Tx](n))
    // inclusion: a seeded subset, packed into blocks in first-seen order;
    // F1 txs go into blocks timestamped ≥ 12 s before their first sighting
    val rng = new SplittableRandom(mix(seed, 0x1b10c5L + index))
    val included = txs.filter(_ => rng.nextDouble() < cfg.includedShare)
    val (late, onTime) = included.partition(_ => rng.nextDouble() < cfg.f1Share)
    val blocks = Array.newBuilder[Block]
    var number = 18000000L + index * 10000L
    def pack(group: Array[Tx], f1: Boolean): Unit = {
      number += 1
      val tsMs =
        if (f1) group.map(_.ts).min - AlreadyIncludedMs - rng.nextInt(20000)
        else group.map(_.ts).max + 1000 + rng.nextInt(12000)
      val tsSec = if (f1) math.floorDiv(tsMs, 1000L) else math.floorDiv(tsMs + 999, 1000L)
      val bh = hex0x(Keccak256.hash(s"perfbench-block:$seed:$number".getBytes("UTF-8")))
      group.foreach { t =>
        t.block = number; t.blockTsMs = tsSec * 1000L; t.f1 = f1
      }
      blocks += Block(bh, number, tsSec, group.map(_.hash))
    }
    onTime.grouped(cfg.txsPerBlock).foreach(g => pack(g, f1 = false))
    late.grouped(cfg.txsPerBlock).foreach(g => pack(g, f1 = true))
    Day(index, cfg, txs, blocks.result())
  }

  // ── staging: the files the engine reads ─────────────────────────────

  /** One collector CSV row per sighting: (instance, ts, hash, raw). */
  def sightings(d: Day): Iterator[(Int, Long, String, String)] =
    d.txs.iterator.flatMap { t =>
      val first = Iterator.single((t.firstInstance, t.ts, t.hash, t.raw))
      if (t.dupTs < 0) first
      else first ++ Iterator.single((1 - t.firstInstance, t.dupTs, t.hash, t.raw))
    }

  def sourcelogRows(d: Day): Iterator[(Long, String, String)] =
    d.txs.iterator.flatMap { t =>
      val rows = t.sources.indices.iterator.map(k => (t.sourceTs(k), t.hash, t.sources(k)))
      if (t.resentSource < 0) rows
      else rows ++ Iterator.single(
        (t.sourceTs(t.resentSource) + 3000, t.hash, t.sources(t.resentSource)))
    }

  /** Write the day's collector files under `dir`, hour files per instance
    * (`tx/<inst>/<date>-<HH>.csv`, `sourcelog/<date>-<HH>.csv`), plus
    * `trash/<date>.csv` and `blacklist/<date>.csv` (previous-day metadata
    * CSV shape: header, hash in column 1). A sighting past midnight goes
    * to the next day's hour file, like a real collector's. */
  def stage(d: Day, dir: java.nio.file.Path): Unit = {
    val writers = scala.collection.mutable.Map.empty[String, java.io.Writer]
    def out(rel: String): java.io.Writer = writers.getOrElseUpdate(rel, {
      val p = dir.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(p.toFile, true), "UTF-8"), 1 << 16)
    })
    def hourFile(ts: Long) = f"${dateOf(ts)}-${hourOf(ts)}%02d.csv"
    sightings(d).foreach { case (inst, ts, h, raw) =>
      out(s"tx/$inst/${hourFile(ts)}").write(s"$ts,$h,$raw\n")
    }
    sourcelogRows(d).foreach { case (ts, h, src) =>
      out(s"sourcelog/${hourFile(ts)}").write(s"$ts,$h,$src\n")
    }
    val tw = out(s"trash/${d.date}.csv")
    d.txs.foreach(t => t.trash.foreach { case (ts, src, reason) =>
      tw.write(s"$ts,${t.hash},$src,$reason,\n")
    })
    val bw = out(s"blacklist/${d.date}.csv")
    bw.write("timestamp_ms,hash\n")
    d.blacklist.foreach(h => bw.write(s"${d.startMs - DayMs},$h\n"))
    writers.values.foreach(_.close())
  }

  // ── truth: what one correct merge of the day produces ────────────────

  final case class SourceTruth(n: Long, onChain: Long, notOnChain: Long,
      exclusive: Long, exclusiveIncluded: Long)

  final case class Truth(archived: Long, included: Long, mergeTrash: Long,
      collectorTrash: Long, tsFirst: Long, tsLast: Long, rawBytes: Long,
      perSource: Map[String, SourceTruth])

  def truth(txs: Iterable[Tx]): Truth = {
    val arch = txs.filter(_.archived)
    val perSource = arch.toSeq
      .flatMap(t => t.sources.map(s => (s, t)))
      .groupBy(_._1).map { case (s, ts) =>
        val l = ts.map(_._2)
        s -> SourceTruth(l.size, l.count(_.included), l.count(!_.included),
          l.count(_.sources.size == 1), l.count(t => t.sources.size == 1 && t.included))
      }
    Truth(
      archived = arch.size,
      included = arch.count(_.included),
      mergeTrash = txs.count(t => !t.valid && !t.blacklisted),
      collectorTrash = txs.map(_.trash.map(_._2).distinct.size.toLong).sum,
      tsFirst = if (arch.isEmpty) 0L else arch.map(_.ts).min,
      tsLast = if (arch.isEmpty) 0L else arch.map(_.ts).max,
      rawBytes = arch.map(_.rawLen.toLong).sum,
      perSource = perSource)
  }

  // ── corpus documents ─────────────────────────────────────────────────

  /** `nearOf`: the earlier doc this one's embedding is a near copy of, or -1. */
  final case class Doc(id: Long, text: String, lang: String, source: String,
      emb: Array[Float], nearOf: Long)

  private val Words: Vector[String] = Vector("the", "and", "of", "to", "in",
    "merge", "block", "chain", "spark", "hash", "nonce", "gas", "fee", "pool",
    "stream", "query", "index", "shard", "token", "corpus", "batch", "table",
    "order", "scan", "join", "window", "vector", "model", "data", "node")

  final case class CorpusCfg(nDocs: Int)

  private val ExactDupShare = 0.1
  private val NearDupShare = 0.1
  private val ShortShare = 0.05
  private val PiiShare = 0.05
  private val EvalDocs = 50
  private val Dim = 32

  /** Seeded documents with planted exact copies (same text), near copies
    * (embedding within cos ≈ 0.99 of an earlier doc, different text), short
    * docs the length gate drops, and PII the redactor rewrites. `EvalDocs`
    * texts are copies of corpus docs: decontamination drops them. */
  def corpus(seed: Long, cfg: CorpusCfg): (Array[Doc], Array[String]) = {
    def baseText(id: Long): String = {
      val rng = new SplittableRandom(mix(seed ^ 0xc0de5L, id))
      if (rng.nextDouble() < ShortShare) return s"the short doc $id"
      val n = 20 + rng.nextInt(60)
      val sb = new java.lang.StringBuilder
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(Words(rng.nextInt(Words.size)))
        if (rng.nextInt(5) == 0) sb.append(rng.nextInt(1000))
        k += 1
      }
      if (rng.nextDouble() < PiiShare) sb.append(s" mail user$id@example.com")
      sb.toString
    }
    def baseVec(id: Long): Array[Double] = {
      val rng = new SplittableRandom(mix(seed ^ 0x5ca1eL, id))
      Array.fill(Dim)(rng.nextGaussian())
    }
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // built in id order: a copy takes the CURRENT text or embedding of an
    // earlier doc, so chains of copies stay copies of each other
    val docs = new Array[Doc](cfg.nDocs)
    for (i <- 0 until cfg.nDocs) {
      val id = i.toLong
      val rng = new SplittableRandom(mix(seed ^ 0xd0c5L, id))
      val u = rng.nextDouble()
      val lang = Vector("en", "es", "de")(rng.nextInt(3))
      val src = s"src${rng.nextInt(4)}"
      val of = if (i > 0) rng.nextInt(i) else 0
      docs(i) =
        if (i > 0 && u < ExactDupShare)
          Doc(id, docs(of).text, lang, src, unit(baseVec(id)), -1L)
        else if (i > 0 && u < ExactDupShare + NearDupShare)
          Doc(id, baseText(id), lang, src,
            unit(docs(of).emb.map(_.toDouble + rng.nextGaussian() * 0.01)), of.toLong)
        else Doc(id, baseText(id), lang, src, unit(baseVec(id)), -1L)
    }
    val rng = new SplittableRandom(mix(seed, 0xe7a1L))
    val eval = Array.fill(EvalDocs)(docs(rng.nextInt(docs.length)).text)
    (docs, eval)
  }
}
