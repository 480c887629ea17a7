package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.util.Base64
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper

/**
 * Byte-identity parity of Utf8.decodeReplace with CPython's
 * bytes.decode("utf-8", errors="replace") — the reference's decode rule
 * (reference: utils/tree_sitter_helpers.py:253-258). The fixture
 * utf8_replace_cases.json was generated ONCE by CPython (seed 42) and is
 * committed; see FIXTURES.md F4.
 */
class Utf8Spec extends AnyFunSuite {

  test("matches CPython errors=replace on 323 fixture cases") {
    // fixture is a flat JSON array of {"b": base64, "s": base64}
    val cases = new ObjectMapper()
      .readTree(getClass.getResourceAsStream("/byteid/utf8_replace_cases.json"))
      .asScala.map(n => (n.get("b").asText, n.get("s").asText)).toSeq
    assert(cases.length == 323)
    cases.zipWithIndex.foreach { case ((b64, s64), i) =>
      val bytes = Base64.getDecoder.decode(b64)
      val expected = new String(Base64.getDecoder.decode(s64), java.nio.charset.StandardCharsets.UTF_8)
      val got = Utf8.decodeReplace(bytes)
      assert(got == expected, s"case $i: bytes=${bytes.map(x => f"${x & 0xff}%02x").mkString(" ")}")
    }
  }

  test("ascii fast path") {
    assert(Utf8.decodeReplace("hello world".getBytes("UTF-8")) == "hello world")
  }

  test("slice decode honors [from, until)") {
    val b = "héllo".getBytes("UTF-8")
    assert(Utf8.decodeReplace(b, 0, 1) == "h")
    assert(Utf8.decodeReplace(b, 1, 2) == "�") // first half of é
    assert(Utf8.decodeReplace(b, 1, 3) == "é")
  }
}
