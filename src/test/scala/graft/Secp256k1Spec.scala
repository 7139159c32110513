package graft

import graft.functions.{Keccak256, Secp256k1}
import java.math.BigInteger
import org.scalatest.funsuite.AnyFunSuite

/** Proves the pinned GLV constants of [[Secp256k1]] against the curve and
  * checks recovery end to end against signatures made here. The reference
  * arithmetic is deliberately naive — affine BigInteger points, one
  * inversion per operation, plain double-and-add — so it shares no code
  * or formula with the limb ladder it checks. */
class Secp256k1Spec extends AnyFunSuite {
  private val P = new BigInteger(
    "fffffffffffffffffffffffffffffffffffffffffffffffffffffffefffffc2f", 16)
  private val N = new BigInteger(
    "fffffffffffffffffffffffffffffffebaaedce6af48a03bbfd25e8cd0364141", 16)
  private val G: Aff = Some((
    new BigInteger("79be667ef9dcbbac55a06295ce870b07029bfcdb2dce28d959f2815b16f81798", 16),
    new BigInteger("483ada7726a3c4655da4fbfc0e1108a8fd17b448a68554199c47d08ffb10d4b8", 16)))
  private val Three = BigInteger.valueOf(3)

  /** Affine point; None is the point at infinity. */
  private type Aff = Option[(BigInteger, BigInteger)]

  private def add(a: Aff, b: Aff): Aff = (a, b) match {
    case (None, _) => b
    case (_, None) => a
    case (Some((x1, y1)), Some((x2, y2))) =>
      if (x1 == x2 && y1.add(y2).mod(P).signum == 0) None
      else {
        val l =
          if (x1 == x2) Three.multiply(x1).multiply(x1)
            .multiply(y1.shiftLeft(1).modInverse(P)).mod(P)
          else y2.subtract(y1).multiply(x2.subtract(x1).modInverse(P)).mod(P)
        val x3 = l.multiply(l).subtract(x1).subtract(x2).mod(P)
        Some((x3, l.multiply(x1.subtract(x3)).subtract(y1).mod(P)))
      }
  }

  private def mul(k: BigInteger, p: Aff): Aff =
    (k.bitLength - 1 to 0 by -1).foldLeft(None: Aff) { (acc, i) =>
      val d = add(acc, acc)
      if (k.testBit(i)) add(d, p) else d
    }

  private def bytes32(v: BigInteger): Array[Byte] = {
    val b = v.toByteArray.takeRight(32)
    Array.fill[Byte](32 - b.length)(0) ++ b
  }

  private def address(pub: Aff): Seq[Byte] = {
    val (x, y) = pub.get
    Keccak256.hash(bytes32(x) ++ bytes32(y)).slice(12, 32).toSeq
  }

  private def modN(v: BigInteger) = v.mod(N)

  test("pinned λ and β are nontrivial cube roots of unity and λ·G = (β·Gx, Gy)") {
    import Secp256k1.{Beta, Lambda}
    assert(Lambda != BigInteger.ONE && Lambda.modPow(Three, N) == BigInteger.ONE)
    assert(Beta != BigInteger.ONE && Beta.modPow(Three, P) == BigInteger.ONE)
    val (gx, gy) = G.get
    assert(mul(Lambda, G) == Some((gx.multiply(Beta).mod(P), gy)))
  }

  test("pinned v1, v2 are a basis of the GLV lattice {(a, b) : a + b·λ ≡ 0 (mod n)}") {
    import Secp256k1.{Lambda, V1, V2}
    Seq(V1, V2).foreach { case (a, b) =>
      assert(modN(a.add(b.multiply(Lambda))).signum == 0, s"($a, $b) not in the lattice")
    }
    // determinant ±n: the two vectors span the whole lattice, not a sublattice
    assert(V1._1.multiply(V2._2).subtract(V1._2.multiply(V2._1)).abs == N)
  }

  test("glvDecompose: k1 + k2·λ ≡ k (mod n) with |k1|, |k2| < 2^131, edge and 10,000 random k") {
    val rnd = new java.util.Random(20261018L)
    val edges = Seq(BigInteger.ZERO, BigInteger.ONE, BigInteger.TWO,
      N.subtract(BigInteger.ONE), N.subtract(BigInteger.TWO),
      Secp256k1.Lambda, N.shiftRight(1))
    val random = Seq.fill(10000)(new BigInteger(256, rnd).mod(N))
    (edges ++ random).foreach { k =>
      val (k1, k2) = Secp256k1.glvDecompose(k)
      assert(modN(k1.add(k2.multiply(Secp256k1.Lambda)).subtract(k)).signum == 0,
        s"decomposition of $k does not reconstruct it")
      assert(k1.abs.bitLength <= 131 && k2.abs.bitLength <= 131,
        s"decomposition of $k is unbalanced: ($k1, $k2)")
    }
  }

  test("signing round trip: recoverAddress(sign(d, k, msg)) == keccak(d·G)[12..32]") {
    val rnd = new java.util.Random(7L)
    def scalar(): BigInteger = new BigInteger(256, rnd).mod(N.subtract(BigInteger.ONE))
      .add(BigInteger.ONE)
    val nMinus1 = N.subtract(BigInteger.ONE)
    // (d, k, msg): edge keys/nonces (k = λ puts R on φ(G)) and edge hashes
    // (0, n−1, and 2^256−1, which the recovery must reduce mod n)
    val edgeMsgs = Seq(BigInteger.ZERO, BigInteger.ONE, nMinus1,
      BigInteger.ONE.shiftLeft(256).subtract(BigInteger.ONE))
    val edgeKeys = Seq(BigInteger.ONE, BigInteger.TWO, nMinus1)
    val edgeNonces = Seq(BigInteger.ONE, nMinus1, Secp256k1.Lambda)
    val edgeCases = for { d <- edgeKeys; k <- edgeNonces; e <- edgeMsgs } yield (d, k, e)
    val randomCases = Seq.fill(80)((scalar(), scalar(), new BigInteger(256, rnd))) ++
      edgeMsgs.map(e => (scalar(), scalar(), e))
    var highS = 0
    (edgeCases ++ randomCases).foreach { case (d, k, msg) =>
      val (rx, ry) = mul(k, G).get
      val r = modN(rx)
      var s = k.modInverse(N).multiply(modN(msg).add(r.multiply(d))).mod(N)
      var recId = (if (ry.testBit(0)) 1 else 0) | (if (rx.compareTo(N) >= 0) 2 else 0)
      if (s.compareTo(N.shiftRight(1)) > 0) { s = N.subtract(s); recId ^= 1; highS += 1 }
      assert(r.signum != 0 && s.signum != 0)
      val got = Secp256k1.recoverAddress(bytes32(msg), r, s, recId)
      assert(got.map(_.toSeq) == Some(address(mul(d, G))),
        s"d=$d k=$k msg=$msg recovered ${got.map(_.toSeq)}")
    }
    assert(highS > 0, "no signature exercised the low-s normalization")
  }
}
