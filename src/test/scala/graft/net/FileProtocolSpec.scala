package graft.net

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Fetch
import graft.schemas.CrawlDatum

/** protocol-file analog over a real temp tree (TestProtocolFile.java
  * shape): file reads, directory listings as crawlable HTML, 304s,
  * content-limit truncation, missing-path Gone. */
class FileProtocolSpec extends AnyFunSuite {

  private val datum = CrawlDatum.unfetched(0L, 2592000, 1f)

  test("file fetch returns bytes with a sniffed or extension type") {
    val dir = Files.createTempDirectory("fileproto")
    val f = dir.resolve("page.html")
    Files.writeString(f, "<html><title>F</title><body>file body</body></html>")
    val out = new FileProtocol().fetch(f.toUri.toString, datum)
    assert(out.code == Fetch.Code.Success)
    assert(new String(out.bytes, "UTF-8").contains("file body"))
    assert(out.contentType == "text/html")
  }

  test("directory listing is crawlable html: one anchor per entry") {
    val dir = Files.createTempDirectory("fileproto-dir")
    Files.writeString(dir.resolve("a.txt"), "A")
    Files.writeString(dir.resolve("b.txt"), "B")
    Files.createDirectory(dir.resolve("sub"))
    val out = new FileProtocol().fetch(dir.toUri.toString, datum)
    assert(out.code == Fetch.Code.Success)
    assert(out.contentType == "text/html")
    val html = new String(out.bytes, "UTF-8")
    assert(html.contains("a.txt") && html.contains("b.txt"))
    assert(html.contains("sub/"))
    // the anchors resolve as real file: URLs the next round can fetch
    val href = """href="([^"]+)"""".r.findAllMatchIn(html)
      .map(_.group(1)).toSeq
    assert(href.forall(_.startsWith("file:")))
    assert(href.size == 3)
  }

  test("unmodified file since datum.modifiedTime returns NotModified") {
    val dir = Files.createTempDirectory("fileproto-304")
    val f = dir.resolve("x.txt")
    Files.writeString(f, "hello")
    val future = datum.copy(modifiedTime = System.currentTimeMillis() + 60000)
    val out = new FileProtocol().fetch(f.toUri.toString, future)
    assert(out.code == Fetch.Code.NotModified)
    // datum with modifiedTime 0 (never fetched) reads normally
    assert(new FileProtocol().fetch(f.toUri.toString, datum).code ==
      Fetch.Code.Success)
  }

  test("content is truncated at maxContent") {
    val dir = Files.createTempDirectory("fileproto-trunc")
    val f = dir.resolve("big.txt")
    Files.writeString(f, "x" * 1000)
    val out = new FileProtocol(maxContent = 64).fetch(f.toUri.toString, datum)
    assert(out.code == Fetch.Code.Success)
    assert(out.bytes.length == 64)
  }

  test("missing path is Gone; non-file scheme is Retry") {
    val p = new FileProtocol()
    assert(p.fetch("file:///no/such/path/anywhere.txt", datum).code ==
      Fetch.Code.Gone)
    assert(p.fetch("http://example.com/", datum).code == Fetch.Code.Retry)
  }

  test("a full crawl round descends a directory tree via the listing") {
    val spark = graft.GraftSession("local[2]", "2")
    try {
      import spark.implicits._
      val root = Files.createTempDirectory("fileproto-crawl")
      Files.writeString(root.resolve("one.html"),
        "<html><title>1</title><body>leaf one</body></html>")
      Files.writeString(root.resolve("two.html"),
        "<html><title>2</title><body>leaf two</body></html>")
      val fl = Seq(graft.schemas.GenerateEntry(1, 1f, root.toUri.toString,
        datum)).toDS()
      val fr = Fetch(fl, new FileProtocol(), 1000L,
        honorRobots = false,
        pacer = Pacer.Config(serverDelayMs = 0))
      try {
        val dirFetch = fr.content.collect()
        assert(dirFetch.length == 1)
        // a deployment composing FileProtocol opts into file: outlinks
        // explicitly (Parse.Config gate; default denies the scheme)
        val parsed = graft.ops.Parse(fr.fetch, fr.content,
          graft.ops.Parse.Config(followFileSchemes = true),
          RegexUrlFilter.parse(Iterator("+.")))
        val outlinks = parsed.parseData.collect()
          .flatMap(_.outlinks.map(_.toUrl)).toSet
        assert(outlinks.exists(_.endsWith("one.html")), outlinks)
        assert(outlinks.exists(_.endsWith("two.html")), outlinks)
      } finally fr.release()
    } finally spark.stop()
  }
}
