package graft.perfbench

import graft.jobs.{InclusionCheck, Merge}
import graft.ops.{Analyze, Sinks, Sources}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The collector-day pipeline the paper's throughput claim is about, driven
  * the way the `merge` CLI drives it: hourly CSVs from two instances →
  * `Merge.run` (inclusion check against the loopback node) → the four
  * archive sinks → `Analyze.summarize`. */
object DayPipeline {

  /** `rows`: the archived count the merge's own materialization returned. */
  final case class Out(txs: DataFrame, parsed: DataFrame, trash: DataFrame,
      summary: Analyze.Summary, rows: Long)

  def inputs(spark: SparkSession, in: Path): (DataFrame, DataFrame, DataFrame, DataFrame) = (
    Sources.readTxCsv(spark, s"$in/tx/*/*.csv"),
    Sources.readSourcelogCsv(spark, s"$in/sourcelog/*.csv"),
    Sources.readMetadataHashes(spark, s"$in/blacklist/*.csv"),
    Sources.readTrashCsv(spark, s"$in/trash/*.csv"))

  /** Run the whole day; `out` receives transactions.parquet, archive/,
    * metadata_csv/, trash_csv/ and summary.txt. */
  def run(c: Ctx, in: Path, out: Path): Out = {
    val spark = c.spark
    val (tx, sl, bl, trash) = inputs(spark, in)
    val (res, txs, rows) = c.span("merge") {
      val r = Merge.run(spark, Merge.Inputs(tx, sl, Some(bl),
        inclusionRpc = Some(InclusionCheck.JsonRpcFactory(c.node.uri))))
      // one merge feeds five consumers: materialize it once, like the CLI
      val t = c.span("plan")(r.transactions.persist(StorageLevel.DISK_ONLY))
      (r, t, t.count())
    }
    c.span("sinks.parquet")(Sinks.writeParquetArchive(txs, s"$out/transactions.parquet"))
    c.span("sinks.daily")(Sinks.writeDailyArchive(txs, s"$out/archive",
      date_format(timestamp_millis(col("timestamp").cast("long")), "yyyy-MM-dd")))
    c.span("sinks.metadata_csv")(Sinks.writeMetadataCsv(txs, s"$out/metadata_csv"))
    c.span("sinks.trash_csv")(Sinks.writeTrashCsv(
      res.trash.unionByName(Merge.mergeTrash(trash)), s"$out/trash_csv"))
    val summary = c.span("analyze")(Analyze.summarize(txs))
    Files.writeString(out.resolve("summary.txt"), Analyze.sprint(summary))
    Out(txs, res.parsed, res.trash, summary, rows)
  }

  /** Data rows of a headered CSV output directory. */
  private def csvRows(dir: Path): Long = {
    val parts = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
    parts.map(p => math.max(0L, Files.readAllLines(p).size - 1L)).sum
  }

  /** Compare a finished day against the truth; returns the failures. */
  def verify(c: Ctx, out: Path, txs: Seq[Gen.Tx], summary: Analyze.Summary): Seq[String] = {
    val spark = c.spark
    val t = Gen.truth(txs)
    val byHash = txs.iterator.filter(_.archived).map(x => x.hash -> x).toMap
    val errs = Seq.newBuilder[String]
    // the parquet archive in one scan, rows grouped by part file in name
    // order: rows, earliest-wins timestamps, inclusion, one global order
    val rows = Sources.readArchive(spark, s"$out/transactions.parquet")
      .select(input_file_name(), col("hash"), col("timestamp"), col("includedAtBlockHeight"),
        col("inclusionDelayMs"), col("sources"))
      .collect().toSeq.groupBy(_.getString(0)).toSeq.sortBy(_._1).flatMap(_._2)
    if (rows.size != t.archived) errs += s"archived ${rows.size} != truth ${t.archived}"
    val ts = rows.map(_.getLong(2))
    if (ts.zip(ts.drop(1)).exists { case (a, b) => a > b }) errs += "archive not sorted by timestamp"
    val wrong = rows.count { r =>
      byHash.get(r.getString(1)) match {
        case None => true
        case Some(x) => x.ts != r.getLong(2) || x.block != r.getLong(3) ||
          x.delayMs != r.getLong(4) || r.getSeq[String](5) != x.sources
      }
    }
    if (wrong > 0) errs += s"$wrong archived rows differ from truth"
    if (rows.map(_.getString(1)).distinct.size != rows.size) errs += "duplicate hashes archived"
    val daily = spark.read.parquet(s"$out/archive").count()
    if (daily != t.archived) errs += s"daily archive $daily != ${t.archived}"
    val meta = csvRows(out.resolve("metadata_csv"))
    if (meta != t.archived) errs += s"metadata csv $meta != ${t.archived}"
    val trash = csvRows(out.resolve("trash_csv"))
    if (trash != t.mergeTrash + t.collectorTrash)
      errs += s"trash csv $trash != ${t.mergeTrash + t.collectorTrash}"
    if (summary.nUnique != t.archived || summary.nIncluded != t.included ||
        summary.tsFirstMs != t.tsFirst || summary.tsLastMs != t.tsLast)
      errs += s"summary totals $summary"
    if (summary.perType.map(s => (s.txType, s.n, s.bytes)) !=
        (if (t.archived == 0) Nil else Seq((2L, t.archived, t.rawBytes))))
      errs += s"summary per-type ${summary.perType}"
    val perSource = summary.perSource.map(s => s.source ->
      Gen.SourceTruth(s.n, s.onChain, s.notOnChain, s.exclusive, s.exclusiveIncluded)).toMap
    if (perSource != t.perSource) errs += "summary per-source differs"
    errs.result()
  }
}

/** `day_merge`: one scaled collector day, merged end to end per op. */
final class DayMerge(c: Ctx, cfg: Gen.DayCfg) extends Workload {
  private var day: Gen.Day = _
  private var in: Path = _
  private var last: DayPipeline.Out = _
  private var lastOut: Path = _
  // per-layer counts of the traced ops, taken from the merge's outputs
  private var exchanges, rowsOut, trashRows, keptRows, checkedTraced = 0L
  private val outRoot = c.dir("out")

  def stage(dir: Path): Unit = {
    day = Gen.day(c.seed, 0, cfg)
    Gen.stage(day, dir)
    in = dir
  }

  def warmup(): Unit = {
    // two passes over another seed's smaller day: same plans, different
    // rows. Its parse path (secp recovery dominates) is compiled on every
    // core first, which is much cheaper than a Spark pass at interpreter
    // speed.
    val w = Gen.day(c.seed ^ 0x3a3aL, 5, cfg.copy(nUnique = math.max(500, cfg.nUnique / 5)))
    java.util.stream.IntStream.range(0, 4 * w.txs.length).parallel()
      .forEach(i => graft.functions.ParseTx.parseHex(w.txs(i % w.txs.length).raw))
    val dir = c.dir("warm/in")
    Gen.stage(w, dir)
    c.node.load(w)
    for (k <- 0 until 2) {
      val out = c.work.resolve(s"warm/out$k")
      val o = DayPipeline.run(c, dir, out)
      val errs = DayPipeline.verify(c, out, w.txs.toSeq, o.summary)
      release(o)
      require(errs.isEmpty, s"warm-up day failed its checks: ${errs.mkString("; ")}")
    }
    c.node.load(day)
  }

  private def release(o: DayPipeline.Out): Unit = {
    o.txs.unpersist(true); o.parsed.unpersist(true)
  }

  private def out(k: Int) = outRoot.resolve(s"op$k")

  override def tracedPrelude(k: Int): Unit = c.span("sources") {
    def read(df: DataFrame) = df.write.format("noop").mode("overwrite").save()
    val (tx, sl, bl, trash) = DayPipeline.inputs(c.spark, in)
    c.span("sources.tx")(read(tx))
    Seq(sl, bl, trash).foreach(read)
  }

  def op(k: Int): Long = {
    lastOut = out(k)
    last = DayPipeline.run(c, in, lastOut)
    if (c.tracer.enabled) exchanges += Workload.exchanges(last.txs.queryExecution.executedPlan)
    day.cfg.nUnique
  }

  def check(k: Int): Boolean = {
    val errs = DayPipeline.verify(c, out(k), day.txs.toSeq, last.summary)
    if (c.tracer.enabled) {
      // outside the op's timing and outside any span
      checkedTraced += 1
      rowsOut += last.rows
      trashRows += last.trash.count()
      keptRows += last.parsed.count()
    }
    release(last)
    if (k > 0) Workload.deleteTree(out(k - 1))
    errs.foreach(e => System.err.println(s"[perfbench] day_merge op $k: $e"))
    errs.isEmpty
  }

  def bytesPerRow: Double =
    Workload.dataFiles(lastOut.resolve("transactions.parquet"))._1.toDouble /
      math.max(1L, last.rows)

  def rawTxs: Array[String] = day.txs.map(_.raw)
  /** Parsed rows without a parse error: the inclusion check's input. */
  def enrichedPerOp: Double =
    if (checkedTraced == 0) 0.0 else (keptRows - trashRows).toDouble / checkedTraced

  def layerExtras(m: Metrics, ops: Int, txRowsIn: Double): Unit = {
    val n = math.max(1, ops).toDouble
    m("merge.exchanges", "count", exchanges / n)
    m("merge.rows_out", "count", rowsOut / n)
    m("merge.trash_rows", "count", trashRows / n)
    // rows past the dedup and the blacklist (the merge's parsed cache) per
    // collector row read
    m("merge.dedup_keep_ratio", "ratio", if (txRowsIn <= 0) 0.0 else keptRows / n / txRowsIn)
    m("sinks.files_written", "count", Workload.dataFiles(lastOut)._2.toDouble)
  }
}
