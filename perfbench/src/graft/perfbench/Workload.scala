package graft.perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What every workload shares: the session, the run's scratch dir, the
  * seed, the tracer and the loopback node. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val tracer: Tracer, val node: RpcNode) {
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
  def dir(rel: String): Path = Files.createDirectories(work.resolve(rel))
}

/** Ordered metric sink: name → (value, unit). */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def apply(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
}

/** One benchmark workload. The harness calls [[stage]] several times
  * (set-up is timed as the median), [[warmup]] once, then [[op]] in a closed
  * loop, checking each op's outputs with [[check]] outside its timing. */
trait Workload {
  /** Generate and write the inputs under `dir`, replacing earlier ones. */
  def stage(dir: Path): Unit
  /** Untimed passes over other seeded inputs, so JIT and codegen are warm. */
  def warmup(): Unit
  /** One timed operation; returns the items it processed. */
  def op(k: Int): Long
  /** Whether op `k`'s outputs match the generator's truth. */
  def check(k: Int): Boolean
  /** Runs a traced-only read of the op's inputs before op `k`. */
  def tracedPrelude(k: Int): Unit = ()
  /** Published archive bytes per archived row. */
  def bytesPerRow: Double
  /** Raw txs of the workload's own inputs, for the `functions` loop. */
  def rawTxs: Array[String]
  /** Txs each op sends through the inclusion check. */
  def enrichedPerOp: Double
  /** Per-layer metrics only the workload knows, over `ops` traced ops;
    * `txRowsIn` is the collector tx rows one traced read saw. */
  def layerExtras(m: Metrics, ops: Int, txRowsIn: Double): Unit
}

object Workload {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(q => Files.delete(q))
    finally s.close()
  }

  /** Bytes and count of the data files (not dot/underscore names) under `p`. */
  def dataFiles(p: Path): (Long, Int) = {
    if (!Files.exists(p)) return (0L, 0)
    val s = Files.walk(p)
    try {
      var b = 0L; var n = 0
      s.filter(q => Files.isRegularFile(q) && !q.getFileName.toString.startsWith(".") &&
        !q.getFileName.toString.startsWith("_")).forEach { q => b += Files.size(q); n += 1 }
      (b, n)
    } finally s.close()
  }

  /** Sum of the listener totals of all spans whose name matches. */
  def sumsOf(spans: Seq[Span], sums: Map[String, TaskSums])(pick: Span => Boolean): TaskSums = {
    val t = new TaskSums
    spans.filter(pick).foreach(s => sums.get(s.id.toString).foreach(t.add))
    t
  }

  def secondsOf(spans: Seq[Span])(pick: Span => Boolean): Double =
    spans.filter(pick).map(_.durNs).sum / 1e9

  /** Shuffle exchanges in an executed plan, through AQE stages and into
    * cached relations' own plans. */
  def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive._
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case e: ShuffleExchangeLike => 1 + e.children.map(walk).sum
      case m: InMemoryTableScanExec => walk(m.relation.cachedPlan) + m.children.map(walk).sum
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(plan)
  }

}
