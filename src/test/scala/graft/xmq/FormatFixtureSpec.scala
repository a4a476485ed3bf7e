package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Replays the reference formatting corpus (tests/format_*.test):
  * input (detected type) through CMDS (default to-xmq) must equal XMQ section;
  * same with --compact must equal COMPACT section (unless IGNORE). */
class FormatFixtureSpec extends CorpusSuite {

  private def grepDirective(content: String, name: String): String =
    content.split("\n").filter(_.contains(name)).map(_.drop(name.length + 1)).mkString("")

  /** render-* output is colorized presentation; --ixml needs the Earley
    * grammar subsystem — both outside the v1 engine scope (SURVEY.md §2.2/§2.7). */
  private val excluded = Set("format_019_html.test", "format_060_lines.test")

  for (p <- Fixtures.list("""format_\d+.*\.test""") if !excluded(p.getFileName.toString)) {
    val name = p.getFileName.toString
    test(s"format $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "START.*", "COMPACT")
      val expCompact = Fixtures.section(content, "COMPACT", "XMQ")
      val expXmq = Fixtures.section(content, "XMQ", "END")
      val args = grepDirective(content, "ARGS")
      val cmds0 = grepDirective(content, "CMDS")
      val cmds = if (cmds0.trim.isEmpty) "to-xmq" else cmds0
      val bytes = input.getBytes(StandardCharsets.UTF_8)

      val r = Cli.run(bytes, args, cmds)
      assert(r.ok, s"parse/convert failed: ${r.error}")
      assert(r.output == expXmq, s"\n--- expected:\n$expXmq--- got:\n${r.output}")

      if (expCompact.trim != "IGNORE") {
        val rc = Cli.run(bytes, args, cmds + " --compact")
        assert(rc.ok, s"compact failed: ${rc.error}")
        assert(rc.output == expCompact, s"\n--- expected compact:\n$expCompact--- got:\n${rc.output}")
      }
    }
  }
}
