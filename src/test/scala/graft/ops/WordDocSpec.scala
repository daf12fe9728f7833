package graft.ops

import org.scalatest.funsuite.AnyFunSuite

/** Word-97 extraction against the reference's own parse-tika sample
  * and TestMSWordParser expectation, plus CFB/piece-table round-trips
  * through the first-party writer. */
class WordDocSpec extends AnyFunSuite {

  // lazy: a missing sample fails each test that reads it, not the
  // whole suite, so the synthetic-input tests still run
  private lazy val sample = java.nio.file.Files.readAllBytes(
    java.nio.file.Paths
      .get("/root/reference/src/plugin/parse-tika/sample/word97.doc"))

  test("reference word97.doc starts with TestMSWordParser's expected text") {
    val Some(r) = WordDoc.extract(sample)
    assert(r.text.startsWith("This is a sample doc file prepared for nutch."),
      r.text.take(120))
  }

  test("CFB layer reads the sample's directory and mini-streams") {
    val Some(cfb) = WordDoc.Cfb(sample)
    val names = cfb.entries.filter(_.objType == 2).map(_.name)
    assert(names.contains("WordDocument") && names.contains("1Table"))
    // both live under the 4096 mini-cutoff -> mini-FAT path exercised
    val Some(wd) = cfb.stream("WordDocument")
    assert(wd.length == 2596)
  }

  test("synth round-trip: cp1252 piece + UTF-16 piece in order") {
    val p1 = "Compressed piece with café text.\r"
    val p2 = "Unicode piece ąćę and more – done."
    val Some(r) = WordDoc.extract(WordDoc.synth(p1, p2))
    assert(r.text ==
      ("Compressed piece with café text.\nUnicode piece ąćę and more " +
        "– done."))
  }

  test("encrypted flag and non-Word OLE2 refuse honestly") {
    val bytes = WordDoc.synth("a", "b")
    // set FIB fEncrypted (flags at WordDocument+0x0A; stream starts at
    // sector 2 -> file offset 512*3)
    val enc = bytes.clone()
    enc(512 * 3 + 0x0A) = (enc(512 * 3 + 0x0A) | 0x01).toByte // low byte
    // fEncrypted is bit 8 -> high byte bit 0
    enc(512 * 3 + 0x0B) = (enc(512 * 3 + 0x0B) | 0x01).toByte
    assert(WordDoc.extract(enc).isEmpty)
    val notWord = bytes.clone()
    notWord(512 * 3) = 0 // break wIdent
    assert(WordDoc.extract(notWord).isEmpty)
  }

  test("malformed inputs never throw") {
    assert(WordDoc.extract(null).isEmpty)
    for (n <- 0 until math.min(sample.length, 2048))
      WordDoc.extract(sample.take(n)) // no throw
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 300) {
      val b = sample.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      WordDoc.extract(b) // no throw
    }
    val synth = WordDoc.synth("hello", "world")
    for (_ <- 1 to 300) {
      val b = synth.clone()
      b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      WordDoc.extract(b) // no throw
    }
  }
}
