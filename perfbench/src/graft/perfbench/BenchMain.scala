package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  *   BenchMain --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Set-up (timed as `setup_s`): Spark session, inputs generated and staged
  * three times (median), warm-up. Then ops run in a closed loop for
  * `--seconds` and at least three ops (four when traced), each op's
  * outputs checked against the generator's truth outside its timing. The
  * last stdout line is the result JSON: end-to-end metrics with `--trace 0`;
  * with `--trace 1` half the ops are traced, and the result holds the
  * per-layer metrics of the traced ops plus the tracing overhead (fastest
  * traced minus fastest untraced op). Spans go to `<work>/spans.jsonl`. */
object BenchMain {

  val Workloads: Seq[String] = Seq("day_merge", "corpus_build")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "cpu_ms_per_item" -> "ms", "peak_rss_mb" -> "MB", "archive_bytes_per_row" -> "B")

  val Layers: Seq[String] = Seq("op", "sources", "plan", "merge", "sinks", "analyze", "corpus")

  val PerLayer: Seq[(String, String)] = Seq(
    "functions.parse_us_per_tx" -> "us", "functions.recover_us_per_tx" -> "us",
    "functions.keccak_us_per_tx" -> "us", "functions.rlp_us_per_tx" -> "us",
    "functions.recover_ok_ratio" -> "ratio",
    "sources.csv_read_s" -> "s", "sources.rows_in" -> "count", "sources.bytes_in" -> "B",
    "plan.ms_per_op" -> "ms",
    "merge.wall_s" -> "s", "merge.executor_cpu_s" -> "s", "merge.gc_s" -> "s",
    "merge.shuffle_write_mb" -> "MB", "merge.shuffle_read_mb" -> "MB", "merge.spill_mb" -> "MB",
    "merge.exchanges" -> "count", "merge.stages" -> "count", "merge.tasks" -> "count",
    "merge.rows_out" -> "count", "merge.trash_rows" -> "count",
    "merge.dedup_keep_ratio" -> "ratio",
    "rpc.posts" -> "count", "rpc.receipt_lookups" -> "count", "rpc.block_lookups" -> "count",
    "rpc.cache_hit_ratio" -> "ratio", "rpc.wait_s" -> "s", "rpc.server_busy_s" -> "s",
    "rpc.failed" -> "count",
    "sinks.parquet_s" -> "s", "sinks.daily_s" -> "s", "sinks.metadata_csv_s" -> "s",
    "sinks.trash_csv_s" -> "s", "sinks.files_written" -> "count", "sinks.bytes_written" -> "B",
    "analyze.s" -> "s", "analyze.jobs" -> "count",
    "corpus.semdedup_s" -> "s", "corpus.build_s" -> "s", "corpus.write_s" -> "s",
    "corpus.shuffle_write_mb" -> "MB", "corpus.jobs" -> "count", "corpus.kept_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.scheduler_delay_s" -> "s",
    "jvm.heap_peak_mb" -> "MB") ++
    Layers.map(l => s"self.${l}_s" -> "s") ++
    Seq("trace.overhead_ms" -> "ms", "trace.ops" -> "count", "trace.spans" -> "count")

  /** Per-request latency of the loopback node: an assumption, no published
    * figure stands behind it. */
  val RpcLatencyNs: Long = 200000L
  val SetupReps: Int = 3

  final case class OpStat(ms: Double, items: Long, cpuNs: Long, traced: Boolean)

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    def req(name: String) = arg(args, name).getOrElse {
      System.err.println(s"missing $name"); sys.exit(2)
    }
    val workload = req("--workload")
    if (!Workloads.contains(workload)) {
      System.err.println(s"unknown workload $workload (one of ${Workloads.mkString(", ")})")
      sys.exit(2)
    }
    val seed = req("--seed").toLong
    val seconds = req("--seconds").toDouble
    val trace = req("--trace") == "1"
    val work = Files.createDirectories(Paths.get(req("--work")).toAbsolutePath)
    val code = try { run(workload, seed, seconds, trace, work); 0 }
    catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $workload failed: $e")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val node = new RpcNode(nproc, RpcLatencyNs)
    try {
      val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val tracer = new Tracer(spark, s"$workload-$seed")
      val c = new Ctx(spark, work, seed, tracer, node)
      val wl: Workload = workload match {
        case "day_merge" => new DayMerge(c, Gen.DayCfg(nUnique = 2500))
        case "corpus_build" => new CorpusWorkload(c, Gen.CorpusCfg(nDocs = 3000))
      }
      val stageS = (0 until SetupReps).map { r =>
        val t0 = System.nanoTime()
        wl.stage(c.dir(s"in/$r"))
        val s = secs(t0)
        if (r > 0) Workload.deleteTree(work.resolve(s"in/${r - 1}"))
        s
      }
      val t0 = System.nanoTime()
      wl.warmup()
      val setupS = sessionS + Stats.median(stageS) + secs(t0)
      System.err.println(f"[perfbench] $workload seed $seed: session $sessionS%.2fs, " +
        f"staging ${stageS.map(s => f"$s%.2f").mkString("/")}s, warm-up ${secs(t0)}%.2fs")

      val cpuBean = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      var k = 0
      var attempted = 0
      var failed = 0

      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == MemoryType.HEAP)
      heapPools.foreach(_.resetPeakUsage())
      var rpcTraced = RpcNode.Snap(0, 0, 0, 0, 0, 0)
      // A new op starts only if one more op (with its check) is expected to
      // end inside the budget, so a run's length tracks --seconds. Traced
      // runs order ops untraced, traced, traced, untraced, … so both kinds
      // see the same JIT warm-up trend and their difference is the tracing
      // overhead.
      val ops = {
        val out = Seq.newBuilder[OpStat]
        val start = System.nanoTime()
        val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
        def expected = if (rounds.isEmpty) 0.0 else Stats.median(rounds.toSeq)
        val minOps = if (trace) 4 else 3 // a best of three; two of each kind
        while ((secs(start) + expected <= seconds || k < minOps) && failed < 3) {
          val r0 = System.nanoTime()
          val traced = trace && (k % 4 == 1 || k % 4 == 2)
          val rpc0 = node.snap()
          if (traced) { tracer.start(); wl.tracedPrelude(k) }
          attempted += 1
          val c0 = cpuBean.getProcessCpuTime
          val t0 = System.nanoTime()
          val ok = try {
            val items = tracer.span("op")(wl.op(k))
            out += OpStat((System.nanoTime() - t0) / 1e6, items,
              cpuBean.getProcessCpuTime - c0, traced)
            wl.check(k)
          } catch {
            case e: Exception =>
              System.err.println(s"[perfbench] $workload op $k threw: $e")
              e.printStackTrace()
              false
          }
          if (traced) {
            tracer.stop()
            rpcTraced = rpcTraced + (node.snap() - rpc0)
          }
          if (!ok) failed += 1
          rounds += secs(r0)
          System.err.println(f"[perfbench] op $k${if (traced) " (traced)" else ""}: " +
            f"${secs(r0)}%.2fs with its check")
          k += 1
        }
        out.result()
      }

      val m = new Metrics
      if (!trace) {
        // the best op of the run: earlier ops still pay JIT work, and on a
        // shared host noise only ever adds time
        m("setup_s", "s", setupS)
        m("items_per_s", "1/s", ops.map(o => o.items / (o.ms / 1e3)).max)
        m("cpu_ms_per_item", "ms", ops.map(o => o.cpuNs / 1e6 / o.items).min)
        m("peak_rss_mb", "MB", peakRssMb())
        m("archive_bytes_per_row", "B", wl.bytesPerRow)
      } else {
        val (traced, plain) = ops.partition(_.traced)
        tracer.write(work.resolve("spans.jsonl"))
        layers(m, wl, tracer.spans, tracer.sums, traced.size, rpcTraced)
        m("jvm.heap_peak_mb", "MB", heapPools.map(_.getPeakUsage.getUsed).sum / 1e6)
        // best op against best op, like the end-to-end metrics
        m("trace.overhead_ms", "ms", traced.map(_.ms).min - plain.map(_.ms).min)
        m("trace.ops", "count", traced.size)
        m("trace.spans", "count", tracer.spans.size)
        FunctionsLoop.run(m, wl.rawTxs)
      }
      val wanted = if (trace) PerLayer else EndToEnd
      val metrics = wanted.map { case (name, unit) =>
        val v = m.values.get(name).map(_._1).getOrElse(0.0)
        f""""$name":{"value":${fmt(v)},"unit":"$unit"}"""
      }
      println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
        s""""metrics":{${metrics.mkString(",")}}}""")
    } finally {
      node.close()
      spark.stop()
    }
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The per-layer metrics every workload shares, from spans, listener
    * totals and the node's counters; then the workload's own. Per traced
    * op unless the name says per analyze call. */
  private def layers(m: Metrics, wl: Workload, spans: Seq[Span],
      sums: Map[String, TaskSums], ops: Int, rpc: RpcNode.Snap): Unit = {
    import Workload.{secondsOf, sumsOf}
    val n = math.max(1, ops).toDouble
    def per(count: Int) = math.max(1, count).toDouble
    val mb = 1e6
    val src = sumsOf(spans, sums)(_.layer == "sources")
    m("sources.csv_read_s", "s", secondsOf(spans)(_.name == "sources") / n)
    m("sources.rows_in", "count", src.inputRows / n)
    m("sources.bytes_in", "B", src.inputB / n)
    m("plan.ms_per_op", "ms", secondsOf(spans)(_.name == "plan") * 1e3 / n)
    val mg = sumsOf(spans, sums)(s => s.layer == "merge" || s.name == "plan")
    m("merge.wall_s", "s", secondsOf(spans)(_.layer == "merge") / n)
    m("merge.executor_cpu_s", "s", mg.cpuNs / 1e9 / n)
    m("merge.gc_s", "s", mg.gcMs / 1e3 / n)
    m("merge.shuffle_write_mb", "MB", mg.shuffleWriteB / mb / n)
    m("merge.shuffle_read_mb", "MB", mg.shuffleReadB / mb / n)
    m("merge.spill_mb", "MB", mg.spillB / mb / n)
    m("merge.stages", "count", mg.stages / n)
    m("merge.tasks", "count", mg.tasks / n)
    m("rpc.posts", "count", rpc.posts / n)
    m("rpc.receipt_lookups", "count", rpc.receipts / n)
    m("rpc.block_lookups", "count", rpc.blocks / n)
    m("rpc.cache_hit_ratio", "ratio",
      if (wl.enrichedPerOp <= 0) 0.0 else 1.0 - rpc.receipts / n / wl.enrichedPerOp)
    m("rpc.wait_s", "s", rpc.waitNs / 1e9 / n)
    m("rpc.server_busy_s", "s", rpc.serviceNs / 1e9 / n)
    m("rpc.failed", "count", rpc.failed.toDouble)
    Seq("parquet", "daily", "metadata_csv", "trash_csv").foreach { s =>
      m(s"sinks.${s}_s", "s", secondsOf(spans)(_.name == s"sinks.$s") / n)
    }
    m("sinks.bytes_written", "B", sumsOf(spans, sums)(_.layer == "sinks").outputB / n)
    val analyses = per(spans.count(_.layer == "analyze"))
    m("analyze.s", "s", secondsOf(spans)(_.layer == "analyze") / analyses)
    m("analyze.jobs", "count", sumsOf(spans, sums)(_.layer == "analyze").jobs / analyses)
    m("corpus.semdedup_s", "s", secondsOf(spans)(_.name == "corpus.semdedup") / n)
    m("corpus.write_s", "s", secondsOf(spans)(_.name == "corpus.write") / n)
    m("corpus.build_s", "s", secondsOf(spans)(_.layer == "corpus") / n)
    val corpus = sumsOf(spans, sums)(_.layer == "corpus")
    m("corpus.shuffle_write_mb", "MB", corpus.shuffleWriteB / mb / n)
    m("corpus.jobs", "count", corpus.jobs / n)
    val all = sumsOf(spans, sums)(_ => true)
    m("spark.jobs", "count", all.jobs / n)
    m("spark.stages", "count", all.stages / n)
    m("spark.tasks", "count", all.tasks / n)
    m("spark.executor_cpu_s", "s", all.cpuNs / 1e9 / n)
    m("spark.gc_s", "s", all.gcMs / 1e3 / n)
    m("spark.scheduler_delay_s", "s", all.schedDelayMs / 1e3 / n)
    Layers.foreach { l =>
      m(s"self.${l}_s", "s", spans.filter(_.layer == l).map(Tracer.selfNs(_, spans)).sum / 1e9 / n)
    }
    wl.layerExtras(m, ops, sumsOf(spans, sums)(_.name == "sources.tx").inputRows / n)
  }
}
