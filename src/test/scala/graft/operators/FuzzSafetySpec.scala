package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.parse.HtmlParser
import graft.sources.Fixtures.mix

/**
 * Total-safety fuzz over the byte-level kernels: on a 10^12-row corpus
 * every decoder WILL eventually see adversarial bytes, and the contract
 * is "drop the row, never kill the job" — so decodePpm / decodeWavPcm16
 * must return (never throw) on ARBITRARY input, and HtmlParser.parse
 * must return a structurally-sane tree for any byte soup. Seeded
 * deterministic draws (mix), same convention as TopKPropertySpec — no
 * scalatestplus bridge in the offline cache.
 */
class FuzzSafetySpec extends AnyFunSuite {
  import FuzzSafetySpec._

  /** Flip `flips` random bytes of a valid payload — the "slightly
   * corrupted real file" shape that pure-random fuzz rarely reaches. */
  private def mutate(valid: Array[Byte], seed: Long, flips: Int): Array[Byte] = {
    val out = valid.clone()
    (0 until flips).foreach { f =>
      val pos = ((mix(seed * 31 + f) & 0x7fffffff) % out.length).toInt
      out(pos) = (mix(seed * 37 + f) & 0xff).toByte
    }
    out
  }

  test("PIP kernel total and reference-identical on adversarial rings") {
    // rings with NaN / ±Inf / denormal coordinates: the engine kernel, with
    // a NULL index and with band indexes, must neither throw nor diverge
    // from the reference ray cast (both skip non-finite edges through the
    // same NaN-propagating crossing test)
    import graft.functions.PipKernel
    import graft.geo.Geometry
    def coord(seed: Long): Double = (mix(seed) % 13).toInt match {
      case 0 => Double.NaN
      case 1 => Double.PositiveInfinity
      case 2 => Double.NegativeInfinity
      case 3 => java.lang.Double.MIN_VALUE
      case 4 => -0.0
      case 5 => 1e308
      case _ => (mix(seed * 7 + 1) % 4001).toInt / 100.0 - 20.0
    }
    for (trial <- 0 until 300) {
      // up to 40 vertices, so the longer rings also get a derived index
      val n = 3 + ((mix(trial) & 0x7fffffff) % 38).toInt
      val ring = Array.tabulate(2 * n)(i => coord(trial * 10007L + i))
      for (bands <- PipKernel.bandChoices(ring, Seq(1, 3, 16)); p <- 0 until 40) {
        val x = coord(trial * 65537L + p * 2)
        val y = coord(trial * 65537L + p * 2 + 1)
        assert(PipKernel.decide(x, y, ring, bands) == Geometry.pointInPolygon(x, y, ring),
          s"trial=$trial bands=$bands p=($x,$y) ring=${ring.toSeq}")
      }
    }
  }

  test("decodePpm is total: random bytes and corrupted headers never throw") {
    (0 until 3000).foreach { s => Multimodal.decodePpm(randomBytes(s, 200)) }
    // random tails behind a plausible magic (exercises the header parser)
    (0 until 2000).foreach { s =>
      Multimodal.decodePpm("P6".getBytes ++ randomBytes(s + 10000, 100))
    }
    val rgb = Array.tabulate(8 * 6 * 3)(i => (i % 251).toByte)
    val valid = Multimodal.encodePpm(8, 6, rgb)
    (0 until 2000).foreach { s =>
      val m = mutate(valid, s, 1 + (s % 4))
      Multimodal.decodePpm(m).foreach { case (w, h, px) =>
        assert(w > 0 && h > 0 && px.length.toLong == w.toLong * h * 3)
      }
      // truncations at every boundary
      Multimodal.decodePpm(java.util.Arrays.copyOf(m, s % m.length))
    }
  }

  test("decodeWavPcm16 is total: random bytes and corrupted chunks never throw") {
    (0 until 3000).foreach { s => Multimodal.decodeWavPcm16(randomBytes(s, 200)) }
    val valid = Multimodal.encodeWavPcm16(8000,
      Array.tabulate(64)(i => ((i * 991) % 65536 - 32768).toShort))
    (0 until 2000).foreach { s =>
      val m = mutate(valid, s, 1 + (s % 6))
      Multimodal.decodeWavPcm16(m).foreach { case (rate, samples) =>
        assert(rate > 0 && samples != null)
      }
      Multimodal.decodeWavPcm16(java.util.Arrays.copyOf(m, s % m.length))
    }
  }

  test("PPM and WAV round-trip identity over seeded random payloads") {
    (0 until 50).foreach { s =>
      val w = 1 + ((mix(s) & 0x7fffffff) % 40).toInt
      val h = 1 + ((mix(s + 500) & 0x7fffffff) % 40).toInt
      val rgb = Array.tabulate(w * h * 3)(i => (mix(s * 7919L + i) & 0xff).toByte)
      val Some((w2, h2, back)) = Multimodal.decodePpm(Multimodal.encodePpm(w, h, rgb))
      assert(w2 == w && h2 == h && java.util.Arrays.equals(back, rgb))
      val n = ((mix(s + 900) & 0x7fffffff) % 300).toInt
      val samples = Array.tabulate(n)(i => (mix(s * 104729L + i) & 0xffff).toInt.toShort)
      val Some((rate, sBack)) = Multimodal.decodeWavPcm16(
        Multimodal.encodeWavPcm16(44100, samples))
      assert(rate == 44100 && java.util.Arrays.equals(sBack, samples))
    }
  }

  test("HtmlParser.parse is total and structurally sane on byte soup") {
    import HtmlParser.{Document, Element, Text}
    (0 until 2000).foreach { s =>
      val raw = htmlSoup(s)
      val t = HtmlParser.parse(raw).nodes
      assert(t.kind(0) == Document && t.parent(0) == -1 && t.depth(0) == 0 &&
        t.startByte(0) == 0 && t.endByte(0) == raw.length, s"document node, seed $s")
      val rawTextChildren = new Array[Int](t.length)
      (1 until t.length).foreach { i =>
        val p = t.parent(i)
        val clue = s"seed $s node $i parent $p"
        assert(t.startByte(i) <= t.endByte(i) && t.endByte(i) <= raw.length, clue)
        assert(t.startByte(i - 1) <= t.startByte(i), s"document order, $clue")
        assert(p >= 0 && p < i, s"parent precedes child, $clue")
        assert(t.kind(p) == Document || t.kind(p) == Element, s"only elements own children, $clue")
        assert(t.startByte(p) <= t.startByte(i) && t.endByte(i) <= t.endByte(p),
          s"child span inside parent span, $clue")
        assert(t.depth(i) == t.depth(p) + 1, clue)
        // script/style own exactly their raw text, and it is the only
        // text a projection skips
        val rawParent = t.kind(p) == Element && HtmlParser.RawTextElements.contains(t.name(p))
        if (rawParent) {
          assert(t.kind(i) == Text, s"raw-text element owns a non-text node, $clue")
          rawTextChildren(p) += 1
          assert(rawTextChildren(p) == 1, s"two raw-text runs in one element, $clue")
        }
        assert(t.isRawText(i) == rawParent, clue)
      }
    }
  }
}

object FuzzSafetySpec {
  def randomBytes(seed: Long, maxLen: Int): Array[Byte] = {
    val len = (mix(seed) & 0x7fffffff).toInt % (maxLen + 1)
    Array.tabulate(len)(i => (mix(seed * 1000003L + i) & 0xff).toByte)
  }

  private val Meta = "<>/=\"' abc&#;!-".getBytes("US-ASCII")

  /** Parser fuzz input `s`: random bytes on even seeds, a soup biased
   * toward markup metacharacters on odd ones. */
  def htmlSoup(s: Int): Array[Byte] =
    if (s % 2 == 0) randomBytes(s, 300)
    else Array.tabulate(((mix(s) & 0xff) + 1).toInt)(i =>
      Meta(((mix(s * 131L + i) & 0x7fffffff) % Meta.length).toInt))
}
