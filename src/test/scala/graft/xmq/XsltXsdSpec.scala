package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Replays the xslt_* fixtures (tests/test_xslt.sh: $PROG $ARGS input.xml
  * transform $TARGS sheet.xslt $CMDS, cwd = reference root) and the xsd_*
  * fixtures (tests/test_xsd.sh: $PROG $ARGS input validate sheet.xsd $CMDS,
  * stdout sed-normalized to "validated against ...").
  */
class XsltXsdSpec extends CorpusSuite {

  private def grep(content: String, n: String) =
    content.split("\n").filter(_.startsWith(n)).map(_.drop(n.length + 1)).mkString("")

  private val tmp = Files.createTempDirectory("xsltxsd")

  for (p <- Fixtures.list("""xslt_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"xslt $name") {
      val content = Fixtures.read(p)
      val xml = Fixtures.section(content, "XML.*", "XSLT")
      val xslt = Fixtures.section(content, "XSLT", "EXPECTED")
      val expected = Fixtures.section(content, "EXPECTED", "END")
      val args = grep(content, "ARGS")
      val targs = grep(content, "TARGS")
      val cmds = grep(content, "CMDS")
      val sheet = tmp.resolve(s"$name.xslt")
      Files.writeString(sheet, xslt)
      val r = Cli.run(xml.getBytes(StandardCharsets.UTF_8), args,
        s"transform $targs $sheet $cmds", base = "/root/reference")
      assert(r.ok, s"failed: ${r.error}")
      assert(r.output == expected, s"\n--- expected:\n$expected--- got:\n${r.output}")
    }
  }

  for (p <- Fixtures.list("""xsd_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"xsd $name") {
      val content = Fixtures.read(p)
      val xsd = Fixtures.section(content, "XSD.*", "INPUT")
      val input = Fixtures.section(content, "INPUT", "OUTPUT")
      val expected = Fixtures.section(content, "OUTPUT", "END")
      val args = grep(content, "ARGS")
      val cmds = grep(content, "CMDS")
      val sheet = tmp.resolve(s"$name.xsd")
      Files.writeString(sheet, xsd)
      val r = Cli.run(input.getBytes(StandardCharsets.UTF_8), args,
        s"validate $sheet $cmds", base = "/root/reference")
      assert(r.ok, s"failed: ${r.error}")
      val got = r.output.replaceAll("validated against.*", "validated against ...")
      assert(got == expected, s"\n--- expected:\n$expected--- got:\n$got")
    }
  }
}
