package graft.perfbench

import graft.functions.{EthTx, Keccak256, ParseTx, Rlp, Secp256k1}

/** The `functions` layer measured alone: a single-threaded loop outside
  * Spark over the workload's own raw txs, timing each public function the
  * merge's parse expression is built from. Each figure is the median of
  * three passes over up to [[Rows]] txs, after one untimed pass. */
object FunctionsLoop {

  private val Rows = 800

  def run(m: Metrics, raws: Array[String]): Unit = {
    val sample = raws.take(Rows)
    if (sample.isEmpty) {
      Seq("parse", "recover", "keccak", "rlp").foreach(f => m(s"functions.${f}_us_per_tx", "us", 0))
      m("functions.recover_ok_ratio", "ratio", 0)
      return
    }
    val bytes = sample.map(r => EthTx.unhex(r.stripPrefix("0x")))
    // the signing hash and signature of each type-2 envelope
    val sigs = bytes.map { b =>
      val items = Rlp.decode(b.drop(1)).asInstanceOf[Rlp.Lst].items
      val msg = Keccak256.hash(Array(b(0)) ++ Rlp.encode(Rlp.Lst(items.take(9))))
      (msg, Rlp.toBigInt(items(10)).bigInteger, Rlp.toBigInt(items(11)).bigInteger,
        Rlp.toBigInt(items(9)).intValue)
    }
    var sink = 0L
    def usPerTx(f: Int => Unit): Double = {
      sample.indices.foreach(f)
      val passes = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < sample.length) { f(i); i += 1 }
        (System.nanoTime() - t0) / 1e3 / sample.length
      }
      Stats.median(passes)
    }
    m("functions.parse_us_per_tx", "us", usPerTx(i => sink += ParseTx.parseHex(sample(i)).size))
    m("functions.recover_us_per_tx", "us", usPerTx { i =>
      val (msg, r, s, v) = sigs(i)
      sink += Secp256k1.recoverAddress(msg, r, s, v).size
    })
    m("functions.keccak_us_per_tx", "us", usPerTx(i => sink += Keccak256.hash(bytes(i))(0)))
    m("functions.rlp_us_per_tx", "us", usPerTx(i => sink += Rlp.decode(bytes(i).drop(1)).hashCode))
    m("functions.recover_ok_ratio", "ratio", sigs.count { case (msg, r, s, v) =>
      Secp256k1.recoverAddress(msg, r, s, v).isDefined
    }.toDouble / sample.length)
    // keep every result live, so the JIT cannot drop the timed calls
    if (sink == 42) System.err.println("")
  }
}
