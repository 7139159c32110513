package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** The analyzer aggregate pack (SURVEY.md §3.2; common/analyzer.go:53-213):
  * A6-A12 computed in ONE aggregation over the caller's DataFrame, plus a
  * driver-side text renderer in the reference's summary layout. Only
  * final aggregate rows are collected — never the data.
  */
object Analyze {

  final case class TypeStat(txType: Long, n: Long, bytes: Long)
  final case class SourceStat(source: String, n: Long, onChain: Long, notOnChain: Long,
      exclusive: Long, exclusiveIncluded: Long)
  final case class Summary(
      nUnique: Long, nIncluded: Long, nNotIncluded: Long,
      tsFirstMs: Long, tsLastMs: Long,
      perType: Seq[TypeStat], perSource: Seq[SourceStat])

  /** txs: the merged transactions DataFrame (reference parquet schema).
    * Applies the F1 filter itself, like NewAnalyzer2 (common/analyzer.go:68-73).
    *
    * One scan, one exchange: `posexplode_outer` turns each tx into one row
    * per source (one row with a null `pos` when it has none), and a single
    * `groupBy(txType, source)` computes every counter. A tx's row with
    * `pos` null or 0 is its first, so per-tx totals count only those; the
    * per-source counters count the rows with a source. The result has at
    * most types × sources rows, folded on the driver. The input is read
    * once, so it is not cached here — callers that reuse it persist it. */
  def summarize(txsIn: DataFrame): Summary = {
    // metadata-only archives (no rawTx) still analyze; byte stats become 0
    val rawBytes =
      if (txsIn.columns.contains("rawTx")) length(col("rawTx")).cast("long")
      else lit(0L)
    val inc = col("includedAtBlockHeight") =!= 0
    val first = coalesce(col("pos"), lit(0)) === 0
    val sourced = col("pos").isNotNull
    val exclusive = sourced && col("nSrc") === 1
    def n(c: Column): Column = sum(when(c, 1L).otherwise(0L))
    val groups = txsIn
      .filter(!(col("includedAtBlockHeight") > 0 && col("inclusionDelayMs") <= -12000))
      .select(col("txType"), rawBytes.as("rawBytes"), inc.as("inc"),
        col("timestamp").cast("long").as("ts"), size(col("sources")).as("nSrc"),
        posexplode_outer(col("sources")).as(Seq("pos", "source")))
      .groupBy("txType", "source")
      .agg(
        n(first), sum(when(first, col("rawBytes")).otherwise(0L)), n(first && col("inc")),
        min(col("ts")), max(col("ts")),
        n(sourced), n(sourced && col("inc")), n(sourced && !col("inc")),
        n(exclusive), n(exclusive && col("inc")))
      .collect().toSeq
    def long(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

    // A6, A7, A12
    val nTx = groups.map(long(_, 2)).sum
    val nInc = groups.map(long(_, 4)).sum
    def present(i: Int): Seq[Long] = groups.filterNot(_.isNullAt(i)).map(_.getLong(i))

    // A8: per type count + byte volume (rawTx is binary → length = bytes)
    val perType = groups.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (t, rs) =>
      TypeStat(t, rs.map(long(_, 2)).sum, rs.map(long(_, 3)).sum)
    }

    // A9-A11: per source: totals, landed split, exclusive orderflow. Sources
    // sort as Spark sorts strings — UTF-8 bytes, unsigned, null first.
    val utf8 = Ordering.fromLessThan[String] { (a, b) =>
      java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0
    }
    val perSource = groups.filter(long(_, 7) > 0).groupBy(r => Option(r.getString(1)))
      .toSeq.sortBy(_._1)(Ordering.Option(utf8)).map { case (src, rs) =>
        def total(i: Int) = rs.map(long(_, i)).sum
        SourceStat(src.orNull, total(7), total(8), total(9), total(10), total(11))
      }

    Summary(nTx, nInc, nTx - nInc,
      present(5).minOption.getOrElse(0L), present(6).maxOption.getOrElse(0L),
      perType, perSource)
  }

  /** Per-source stats as a DataFrame (for queries / sinks) — same
    * aggregation, fully distributed. */
  def perSourceStats(txs: DataFrame): DataFrame =
    txs
      .filter(!(col("includedAtBlockHeight") > 0 && col("inclusionDelayMs") <= -12000))
      .select((col("includedAtBlockHeight") =!= 0).as("included"),
        size(col("sources")).as("nSrc"), explode(col("sources")).as("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("included"), 1L).otherwise(0L)).as("on_chain"),
        sum(when(!col("included"), 1L).otherwise(0L)).as("not_on_chain"),
        sum(when(col("nSrc") === 1, 1L).otherwise(0L)).as("exclusive"))

  private def pct(a: Long, b: Long): String =
    if (b == 0) "0.0%" else f"${math.floor(a.toDouble / b * 1000) / 10}%.1f%%"

  private def fmtUtc(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString.replace("T", " ").replace("Z", "")

  /** Text report in the reference's summary.txt layout
    * (common/analyzer.go:156-213). */
  def sprint(s: Summary): String = {
    val sb = new StringBuilder
    sb.append("Mempool Summary\n")
    sb.append("===============\n\n")
    sb.append(s"- From: ${fmtUtc(s.tsFirstMs)} UTC\n")
    sb.append(s"- To:   ${fmtUtc(s.tsLastMs)} UTC\n\n")
    sb.append(f"Unique transactions: ${s.nUnique}%,10d\n\n")
    sb.append(f"- Included on-chain: ${s.nIncluded}%,10d (${pct(s.nIncluded, s.nUnique)}%5s)\n")
    sb.append(f"- Not included:      ${s.nNotIncluded}%,10d (${pct(s.nNotIncluded, s.nUnique)}%5s)\n\n")
    sb.append("| Tx Type | Count | Bytes |\n|---|---|---|\n")
    s.perType.foreach(t => sb.append(f"| ${t.txType} | ${t.n}%,d (${pct(t.n, s.nUnique)}) | ${t.bytes}%,d |\n"))
    sb.append("\n| Source | Count | OnChain | NotOnChain | Exclusive |\n|---|---|---|---|---|\n")
    s.perSource.foreach(src => sb.append(
      f"| ${src.source} | ${src.n}%,d | ${src.onChain}%,d | ${src.notOnChain}%,d | ${src.exclusive}%,d |\n"))
    sb.toString
  }
}
