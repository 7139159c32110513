package graft

import graft.ops.Analyze
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass `Analyze.summarize` against a driver-side recount of the
  * same rows (common/analyzer.go:53-213 semantics: F1 discard, per-type
  * count and bytes, per-source totals, landed split and exclusive flow). */
class AnalyzeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private final case class Tx(ts: Long, txType: Long, raw: Array[Byte],
      sources: Seq[String], height: Long, delayMs: Long)

  private val schema = StructType(Seq(
    StructField("timestamp", LongType), StructField("hash", StringType),
    StructField("txType", LongType), StructField("sources", ArrayType(StringType)),
    StructField("includedAtBlockHeight", LongType),
    StructField("inclusionDelayMs", LongType), StructField("rawTx", BinaryType)))

  // sourceless and exclusive txs, several types, F1 discards (included
  // ≥ 12 s before first seen) next to a delay just inside the threshold
  private val fixture: Seq[Tx] = (0 until 240).map { i =>
    val srcs = Seq("alpha", "bloxroute", "chainbound", "eden", "local")
    val sources = i % 6 match {
      case 0 => Nil
      case 1 | 2 => Seq(srcs(i % 5))
      case k => (0 to k - 2).map(j => srcs((i + j) % 5))
    }
    val height = if (i % 3 == 0) 0L else 18000000L + i / 10
    val delay = if (height == 0) 0L else if (i % 7 == 0) -12000L - i else if (i % 7 == 1) -11999L else 900L + i
    Tx(1693785600000L + 1000L * ((i * 37) % 240), Seq(2L, 0L, 2L, 1L, 3L, 2L, 2L)(i % 7),
      Array.fill(100 + i % 50)(i.toByte), sources, height, delay)
  }

  private def frame(txs: Seq[Tx]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(txs.zipWithIndex.map { case (t, i) =>
      Row(t.ts, f"0x$i%064x", t.txType, t.sources, t.height, t.delayMs, t.raw)
    }, 3), schema)

  /** The summary recounted row by row on the driver. */
  private def recount(all: Seq[Tx], bytes: Boolean): Analyze.Summary = {
    val txs = all.filterNot(t => t.height > 0 && t.delayMs <= -12000)
    val inc = txs.count(_.height != 0)
    val perType = txs.groupBy(_.txType).toSeq.sortBy(_._1).map { case (k, ts) =>
      Analyze.TypeStat(k, ts.size, if (bytes) ts.map(_.raw.length.toLong).sum else 0L)
    }
    val perSource = txs.flatMap(t => t.sources.map(_ -> t)).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (src, ts) =>
        val in = ts.map(_._2)
        def n(p: Tx => Boolean) = in.count(p).toLong
        Analyze.SourceStat(src, in.size, n(_.height != 0), n(_.height == 0),
          n(_.sources.size == 1), n(t => t.sources.size == 1 && t.height != 0))
      }
    Analyze.Summary(txs.size, inc, txs.size - inc,
      if (txs.isEmpty) 0L else txs.map(_.ts).min, if (txs.isEmpty) 0L else txs.map(_.ts).max,
      perType, perSource)
  }

  test("one-pass summary equals a driver-side recount") {
    val got = Analyze.summarize(frame(fixture))
    assert(got == recount(fixture, bytes = true))
    // the fixture reaches every counter
    assert(got.perType.size == 4 && got.nUnique < fixture.size && got.nIncluded > 0)
    assert(got.perSource.forall(s => s.exclusive > 0 && s.exclusiveIncluded > 0 && s.notOnChain > 0))
  }

  test("metadata-only archive (no rawTx): bytes read 0, counts unchanged") {
    val got = Analyze.summarize(frame(fixture).drop("rawTx"))
    assert(got == recount(fixture, bytes = false))
    assert(got.perType.forall(_.bytes == 0L))
  }

  test("empty frame: zero totals, no rows") {
    assert(Analyze.summarize(frame(Nil)) == Analyze.Summary(0, 0, 0, 0, 0, Nil, Nil))
    // only F1 discards: the same empty summary
    val discarded = fixture.filter(t => t.height > 0 && t.delayMs <= -12000)
    assert(discarded.nonEmpty)
    assert(Analyze.summarize(frame(discarded)) == Analyze.Summary(0, 0, 0, 0, 0, Nil, Nil))
  }
}
