package graftbench

import graft.ops.Crawl.RoundStats

/** Self-tests of the harness itself (no Spark): generators are
  * deterministic per seed, the BFS reference is right on tiny sites
  * checked by hand, and every checker rejects a corrupted output.
  * Exits 1 on the first failed group. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: ${e.getMessage}")
    }

  private def eq(got: Any, want: Any, what: String = ""): Unit =
    if (got != want) throw new AssertionError(s"$what got $got, want $want")

  private def rejects(errs: Seq[String], what: String): Unit =
    if (errs.isEmpty) throw new AssertionError(s"checker accepted $what")

  def main(args: Array[String]): Unit = {
    test("site pages are a pure function of seed and url") {
      val (a, b) = (Site(7, 20, 50), Site(7, 20, 50))
      val urls = a.allUrls.toSeq
      eq(urls.map(u => a.locate(u).map((a.body _).tupled)),
        urls.map(u => b.locate(u).map((b.body _).tupled)))
      val c = Site(8, 20, 50)
      if (urls.forall(u => a.locate(u).map((a.body _).tupled) ==
          c.locate(u).map((c.body _).tupled)))
        throw new AssertionError("seed 8 built the same site as seed 7")
      eq(urls.flatMap(a.locate).map((a.url _).tupled), urls, "locate/url round trip")
    }

    test("corpus generator is deterministic per seed") {
      val (a, b) = (CorpusGen.generate(3, 400, 20), CorpusGen.generate(3, 400, 20))
      eq(a, b)
      if (CorpusGen.generate(4, 400, 20).docs == a.docs)
        throw new AssertionError("seed 4 built the same corpus as seed 3")
      if (a.exactGroups.isEmpty) throw new AssertionError("no duplicate groups planted")
      for (g <- a.exactGroups) eq(g.map(i => a.docs(i.toInt).text).distinct.size, 1,
        s"group $g texts")
      eq(a.pii.forall(p => a.docs.exists(_.text.contains(p))), true, "pii planted")
      eq(a.docs.exists(d => CorpusGen.grams8(d.text).exists(a.evalGrams)), true,
        "eval grams planted")
    }

    // two hosts, seven pages each, fan-out 2: a binary tree of depth 2
    val tree = Site(1, 2, 7, fanout = 2, goneEvery = 0, dupEvery = 0,
      deadEvery = 0, crossLinks = false)

    test("reference BFS on a plain tree") {
      eq(Reference.crawl(tree, tree.roots, 3),
        Reference.Crawl(Seq(2, 4, 8), Seq(2, 4, 8), Seq(6, 14, 14), 14, 14))
    }

    test("reference BFS with every page a mirror of one text") {
      val s = tree.copy(dupEvery = 1, dupClasses = 1)
      // roots link to 4 children, which are mirrors without links:
      // 2 roots + 1 kept mirror indexed
      eq(Reference.crawl(s, s.roots, 3),
        Reference.Crawl(Seq(2, 4, 0), Seq(2, 4, 0), Seq(6, 6, 6), 3, 6))
    }

    test("reference BFS with every page gone") {
      val s = tree.copy(goneEvery = 1)
      eq(Reference.crawl(s, s.roots, 3),
        Reference.Crawl(Seq(2, 4, 0), Seq(2, 0, 0), Seq(6, 6, 6), 2, 6))
    }

    test("reference BFS with dead links") {
      // one host, pages 0..2: the root links to /p1, /p2 and /x0; the
      // children link only to their own dead /x1, /x2
      val s = Site(1, 1, 3, fanout = 2, goneEvery = 0, dupEvery = 0,
        deadEvery = 1, crossLinks = false)
      eq(Reference.crawl(s, s.roots, 3),
        Reference.Crawl(Seq(1, 3, 2), Seq(1, 2, 0), Seq(4, 6, 6), 3, 6))
    }

    test("crawl checker rejects a corrupted crawl") {
      val ref = Reference.crawl(tree, tree.roots, 3)
      val stats = ref.generated.indices.map(r =>
        RoundStats(r + 1, ref.generated(r), ref.fetched(r), ref.dbSize(r)))
      eq(Checks.crawl(ref, stats, ref.indexed, ref.linkNodes, 0, ref.dbSize.last), Nil)
      rejects(Checks.crawl(ref, stats.updated(1, stats(1).copy(fetched = 3)),
        ref.indexed, ref.linkNodes, 0, ref.dbSize.last), "a dropped fetch")
      rejects(Checks.crawl(ref, stats, ref.indexed - 1, ref.linkNodes, 0,
        ref.dbSize.last), "a dropped index row")
      rejects(Checks.crawl(ref, stats, ref.indexed, ref.linkNodes - 1, 0,
        ref.dbSize.last), "a dropped link node")
      rejects(Checks.crawl(ref, stats, ref.indexed, ref.linkNodes, 0,
        ref.dbSize.last + 1), "a grown crawldb")
    }

    test("corpus checker rejects a corrupted export") {
      val p = CorpusGen.generate(9, 600, 30)
      val grouped = p.exactGroups.flatMap(_.tail).toSet
      // a clean export: every doc free of duplicates, PII and eval grams
      val clean = p.docs.filterNot(d => grouped(d.doc_id) ||
        p.pii.exists(d.text.contains) || CorpusGen.grams8(d.text).exists(p.evalGrams))
        .map(d => d.doc_id -> d.text)
      val n = clean.size.toLong
      val gauges = Map("docs_in" -> 600L, "docs_kept" -> n, "dropped_quality" -> (600 - n))
      eq(CorpusCheck(p, 600, gauges, clean, n), Nil)
      rejects(CorpusCheck(p, 600, gauges, clean.tail, n), "a dropped output row")
      rejects(CorpusCheck(p, 600, gauges, clean, n - 1), "a short manifest")
      rejects(CorpusCheck(p, 600, gauges - "dropped_quality", clean, n),
        "unbalanced drop reasons")
      val withPii = clean.updated(0, clean.head._1 -> (clean.head._2 + " " + p.pii.head))
      rejects(CorpusCheck(p, 600, gauges, withPii, n), "a PII string left in")
      val g = p.evalGrams.head
      rejects(CorpusCheck(p, 600, gauges,
        clean.updated(0, clean.head._1 -> (clean.head._2 + " " + g)), n), "an eval 8-gram")
      val dup = p.exactGroups.head
      val twoKept = clean.filterNot(r => dup.contains(r._1)).take(clean.size - 2) ++
        dup.take(2).map(i => i -> p.docs(i.toInt).text)
      rejects(CorpusCheck(p, 600, gauges, twoKept, n), "two docs of one duplicate group")
    }

    println(if (failures == 0) "self-test: all passed" else s"self-test: $failures failed")
    if (failures > 0) sys.exit(1)
  }
}
