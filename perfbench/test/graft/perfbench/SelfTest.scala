package graft.perfbench

import graft.functions.ParseTx
import java.nio.file.{Files, Path}

/** Harness self-tests, run by `python3 perfbench/run.py --test`: generator
  * determinism per seed, the valid-signature knob, the percentile rule the
  * reported medians use, and span self time. Exits non-zero on any failure. */
object SelfTest {
  private var pass, fail = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; pass += 1; println(s"ok   $name") }
    catch { case e: Throwable => fail += 1; println(s"FAIL $name: $e") }

  private def assertEq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val cfg = Gen.DayCfg(nUnique = 400)
    val tmp = Files.createTempDirectory("perfbench-selftest")

    test("same seed, same day: txs, blocks and staged files") {
      val (a, b) = (Gen.day(7, 0, cfg), Gen.day(7, 0, cfg))
      assertEq(a.txs.toSeq.map(t => (t.hash, t.raw, t.ts, t.dupTs, t.sources, t.block, t.f1)),
        b.txs.toSeq.map(t => (t.hash, t.raw, t.ts, t.dupTs, t.sources, t.block, t.f1)), "txs")
      assertEq(a.blocks.toSeq.map(x => (x.hash, x.tsSec, x.txs.toSeq)),
        b.blocks.toSeq.map(x => (x.hash, x.tsSec, x.txs.toSeq)), "blocks")
      Gen.stage(a, tmp.resolve("a")); Gen.stage(b, tmp.resolve("b"))
      val (ta, tb) = (tree(tmp.resolve("a")), tree(tmp.resolve("b")))
      assertEq(ta.keySet, tb.keySet, "staged file names")
      assertEq(ta.keys.count(k => ta(k) != tb(k)), 0, "files with different bytes")
    }

    test("another seed or day gives other txs") {
      val a = Gen.day(7, 0, cfg).txs.map(_.hash).toSet
      assertEq(Gen.day(8, 0, cfg).txs.count(t => a(t.hash)), 0, "hashes shared across seeds")
      assertEq(Gen.day(7, 1, cfg).txs.count(t => a(t.hash)), 0, "hashes shared across days")
    }

    test("same seed, same corpus") {
      val ((d1, e1), (d2, e2)) = (Gen.corpus(3, Gen.CorpusCfg(300)), Gen.corpus(3, Gen.CorpusCfg(300)))
      assertEq(d1.toSeq.map(d => (d.text, d.emb.toSeq, d.nearOf)),
        d2.toSeq.map(d => (d.text, d.emb.toSeq, d.nearOf)), "docs")
      assertEq(e1.toSeq, e2.toSeq, "eval texts")
    }

    test("valid share: valid txs recover a sender, the rest are signature errors") {
      val d = Gen.day(11, 0, cfg.copy(validShare = 0.9))
      d.txs.foreach { t =>
        val p = ParseTx.parseHex(t.raw).getOrElse(throw new AssertionError("undecodable"))
        assertEq(p.hash, t.hash, "hash")
        assertEq(p.reason, if (t.valid) None else Some("signature-error"), s"reason of ${t.hash}")
      }
      val share = d.txs.count(_.valid).toDouble / d.txs.length
      if (share < 0.85 || share > 0.95) throw new AssertionError(s"valid share $share")
    }

    test("inclusion: delays positive, F1 txs ≥ 12 s before first sighting") {
      val d = Gen.day(5, 0, cfg.copy(f1Share = 0.2))
      val inc = d.txs.filter(_.included)
      if (inc.isEmpty || !inc.exists(_.f1)) throw new AssertionError("no included / F1 txs")
      inc.foreach { t =>
        if (t.f1 && t.delayMs > -Gen.AlreadyIncludedMs) throw new AssertionError(s"F1 delay ${t.delayMs}")
        if (!t.f1 && t.delayMs <= 0) throw new AssertionError(s"delay ${t.delayMs}")
        assertEq(t.blockTsMs % 1000, 0L, "block timestamps are whole seconds")
      }
    }

    test("percentile: nearest rank") {
      val xs = (1 to 100).map(_.toDouble)
      assertEq(Stats.percentile(xs, 0.5), 50.0, "p50 of 1..100")
      assertEq(Stats.percentile(xs, 0.9), 90.0, "p90 of 1..100")
      assertEq(Stats.percentile(xs.reverse, 0.9), 90.0, "order-free")
      assertEq(Stats.percentile(Seq(4.0), 0.9), 4.0, "one sample")
      assertEq(Stats.percentile(Seq(1.0, 2.0, 3.0), 1.0), 3.0, "p100 is the max")
      assertEq(scala.util.Try(Stats.percentile(Nil, 0.5)).isFailure, true, "no samples")
    }

    test("median: the lower middle sample of an even count") {
      assertEq(Stats.median(Seq(7.0, 3.0)), 3.0, "two samples")
      assertEq(Stats.median(Seq(9.0, 1.0, 5.0)), 5.0, "three samples")
      assertEq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.0, "four samples")
    }

    test("self time: duration minus the union of direct children") {
      val spans = Seq(Span(1, "op", -1, "r", 0, 100), Span(2, "merge", 1, "r", 10, 30),
        Span(3, "plan", 1, "r", 20, 40), Span(4, "sinks.parquet", 1, "r", 50, 60),
        Span(5, "plan", 2, "r", 12, 14), Span(6, "query", 1, "r", 90, 130))
      assertEq(Tracer.selfNs(spans.head, spans), 100L - 30 - 10 - 10, "op")
      assertEq(Tracer.selfNs(spans(1), spans), 18L, "merge")
      assertEq(Tracer.selfNs(spans(3), spans), 10L, "leaf")
    }

    Workload.deleteTree(tmp)
    println(s"$pass pass, $fail fail")
    System.exit(if (fail == 0) 0 else 1)
  }
}
