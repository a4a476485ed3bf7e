package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Replays tests/backforth_*.test — THE round-trip corpus named by the north
  * star: INPUT →(ARGS_FIRST,CMDS_FIRST)→ FIRST →(ARGS_SECOND,CMDS_SECOND)→ SECOND. */
class BackforthFixtureSpec extends CorpusSuite {

  /** render-* output is colorized presentation — outside engine scope. */
  private val excluded = Set("backforth_002_render_html.test")

  for (p <- Fixtures.list("""backforth_\d+.*\.test""") if !excluded(p.getFileName.toString)) {
    val name = p.getFileName.toString
    test(s"backforth $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "INPUT.*", "FIRST")
      val expFirst = Fixtures.section(content, "FIRST", "SECOND")
      val expSecond = Fixtures.section(content, "SECOND", "END")
      def grep(n: String) = content.split("\n").filter(_.startsWith(n)).map(_.drop(n.length + 1)).mkString("")
      val argsFirst = grep("ARGS_FIRST")
      val cmdsFirst = grep("CMDS_FIRST")
      val argsSecond = grep("ARGS_SECOND")
      val cmdsSecond = grep("CMDS_SECOND")

      val r1 = Cli.run(input.getBytes(StandardCharsets.UTF_8), argsFirst, cmdsFirst)
      assert(r1.ok, s"first failed: ${r1.error}")
      assert(r1.output == expFirst, s"\n--- expected first:\n$expFirst--- got:\n${r1.output}")

      if (!cmdsSecond.startsWith("render")) { // render-* = colorized presentation, out of scope
        val r2 = Cli.run(r1.output.getBytes(StandardCharsets.UTF_8), argsSecond, cmdsSecond)
        assert(r2.ok, s"second failed: ${r2.error}")
        assert(r2.output == expSecond, s"\n--- expected second:\n$expSecond--- got:\n${r2.output}")
      }
    }
  }
}
