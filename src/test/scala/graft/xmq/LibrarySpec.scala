package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import graft.xmq.ixml.Ixml

/** Replays tests/test_library.sh and tests/test_samples.sh:
  *  - the self-describing grammar test: library/core/ixml.ixml parsed with
  *    ITSELF as the grammar must print the same xmq as library/core/ixml.xml;
  *  - every library/data grammar's test-&lt;name&gt; .inp/.out pairs;
  *  - the samples pipeline: csv --ixml--> table --xslq--> html --xpath-->
  *    count(//td) and /html/body/table/tr[last()]/td[last()].
  */
class LibrarySpec extends CorpusSuite(Fixtures.dir.resolveSibling("library")) {
  private def lib = corpus

  private def read(p: Path): String = Files.readString(p)

  test("library self test: ixml.ixml parses itself to ixml.xml's tree") {
    needsCorpus()
    val grammar = read(lib.resolve("core/ixml.ixml"))
    val got = XmqEngine.toXmq(Ixml.parseToDoc(grammar, grammar))
    val expected = XmqEngine.toXmq(
      XmqEngine.parse(Files.readAllBytes(lib.resolve("core/ixml.xml"))))
    assert(got == expected)
  }

  for {
    dataDir <- Seq(lib.resolve("data")) if Files.isDirectory(dataDir)
    grammarFile <- {
      import scala.jdk.CollectionConverters._
      Files.list(dataDir).iterator().asScala.toSeq.sortBy(_.toString)
        .filter(_.getFileName.toString.endsWith(".ixml"))
    }
    name = grammarFile.getFileName.toString.stripSuffix(".ixml")
    testDir = dataDir.resolve(s"test-$name")
    if Files.isDirectory(testDir)
    inp <- {
      import scala.jdk.CollectionConverters._
      Files.list(testDir).iterator().asScala.toSeq.sortBy(_.toString)
        .filter(_.getFileName.toString.endsWith(".inp"))
    }
  } test(s"library data $name ${inp.getFileName}") {
    val grammar = read(grammarFile)
    val expected = read(Paths.get(inp.toString.stripSuffix(".inp") + ".out"))
    val got = XmqEngine.toXmq(Ixml.parseToDoc(grammar, read(inp)))
    assert(got == expected, s"\n--- expected:\n$expected--- got:\n$got")
  }

  test("samples pipeline: csv -> ixml -> xslt -> html -> xpath") {
    needsCorpus()
    val csv = read(Paths.get("/root/reference/tests/samples/plumbing_products.csv"))
    val table = Ixml.parseToDoc(read(lib.resolve("data/csv.ixml")), csv)
    val html = Xslt.transform(table,
      Files.readAllBytes(lib.resolve("data/table-to-web.xslq")), Map.empty, "/root/reference")
    val htmlText = XmqEngine.toHtml(html)
    // re-load like the harness does (select runs on the written html file)
    val r1 = Cli.run(htmlText.getBytes("UTF-8"), "", "select count(//td) to-text")
    assert(r1.ok && r1.output.trim == "110", s"count: ${r1.output} err=${r1.error}")
    val r2 = Cli.run(htmlText.getBytes("UTF-8"), "",
      "select /html/body/table/tr[last()]/td[last()] to-text")
    assert(r2.ok && r2.output.trim == "2025-09-30", s"last: ${r2.output} err=${r2.error}")
  }
}
