package graft

import java.nio.file.{Files, Path}
import graft.functions.TxFixtures
import graft.jobs.{InclusionCheck, Merge}
import graft.ops.{Analyze, Sinks, Sources}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The collector day the way the `merge` CLI runs it (MergeJob): collector
  * CSVs → `Merge.run` with the inclusion check against a loopback JSON-RPC
  * node → the four archive sinks → `Analyze.summarize`.
  *
  * Spark keeps generated classes in one static cache of
  * `spark.sql.codegen.cache.maxEntries` (100) entries, split into four LRU
  * segments and keyed by source and class loader (in local mode a
  * whole-stage class is compiled once by the driver and once by the
  * executor). A day that needs more classes than the cache holds compiles
  * them all again on every day; this spec pins that a day fits. */
class DayPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val n = 600
  private def rows: Seq[(Long, String, String)] = (0 until n).map(i => TxFixtures.rawRow(i.toLong))

  /** Blocks of 8 over every third unique tx; every fifth block predates its
    * txs by a minute, so its txs fall to the F1 discard. */
  private lazy val (txBlock, blocks) = {
    val included = rows.zipWithIndex.collect { case (r, i) if i % 10 != 9 && i % 3 == 0 => r }
    val byBlock = included.grouped(8).zipWithIndex.map { case (txs, b) =>
      val tsSec = txs.head._1 / 1000 + (if (b % 5 == 4) -60 else 4)
      (f"0x${0xb000 + b}%064x", (100L + b, tsSec, txs.map(_._2)))
    }.toMap
    (byBlock.flatMap { case (bh, (_, _, txs)) => txs.map(_ -> bh) }, byBlock)
  }

  /** Two collector instances' tx files overlapping by a third, one sourcelog. */
  private def stage(dir: Path): Unit = {
    def write(name: String, lines: Seq[String]): Unit =
      Files.writeString(dir.resolve(name), lines.mkString("\n"))
    val tx = rows.map { case (ts, h, raw) => s"$ts,$h,$raw" }
    write("tx1.csv", tx.slice(0, n * 2 / 3))
    write("tx2.csv", tx.slice(n / 3, n))
    write("sourcelog.csv", (0 until n).flatMap(i => TxFixtures.sourcelogRows(i.toLong))
      .map { case (ts, h, src) => s"$ts,$h,$src" })
  }

  /** One day, MergeJob's sequence; returns the summary. */
  private def day(in: Path, out: Path, uri: String): Analyze.Summary = {
    val res = Merge.run(spark, Merge.Inputs(
      rawTxs = Sources.readTxCsv(spark, s"$in/tx*.csv"),
      sourcelog = Sources.readSourcelogCsv(spark, s"$in/sourcelog.csv"),
      inclusionRpc = Some(InclusionCheck.JsonRpcFactory(uri))))
    val txs = res.transactions.persist(StorageLevel.DISK_ONLY)
    try {
      Sinks.writeParquetArchive(txs, s"$out/transactions.parquet")
      Sinks.writeDailyArchive(txs, s"$out/archive",
        date_format(timestamp_millis(col("timestamp").cast("long")), "yyyy-MM-dd"))
      Sinks.writeMetadataCsv(txs, s"$out/metadata_csv")
      Sinks.writeTrashCsv(res.trash, s"$out/trash_csv")
      Analyze.summarize(txs)
    } finally {
      txs.unpersist(true)
      res.parsed.unpersist(true)
    }
  }

  test("a second identical day compiles no class at the default codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "100")
    val in = Files.createTempDirectory("graft-day-in")
    stage(in)
    LoopbackRpc.serve(txBlock, blocks) { (uri, _, _) =>
      def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val first = day(in, Files.createTempDirectory("graft-day-1"), uri)
      val before = compiled
      val second = day(in, Files.createTempDirectory("graft-day-2"), uri)
      assert(compiled - before == 0, "the second day compiled generated classes again")
      assert(second == first)
      // the day reaches the inclusion and multi-source branches
      assert(first.nIncluded > 0 && first.nNotIncluded > 0 && first.perSource.size > 1)
    }
  }
}
