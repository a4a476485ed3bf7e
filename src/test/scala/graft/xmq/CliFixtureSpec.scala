package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Replays the remaining CLI fixture families: cmd_*, select_*, noinput_*,
  * statistics_*, pipe_* (runners tests/test_cmds.sh etc.). */
class CliFixtureSpec extends CorpusSuite {

  private def grep(content: String, n: String) =
    content.split("\n").filter(_.startsWith(n)).map(_.drop(n.length + 1)).mkString("")

  // cmd_*: INPUT → CMDS → OUTPUT
  for (p <- Fixtures.list("""cmd_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"cmd $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "INPUT.*", "OUTPUT")
      val expected = Fixtures.section(content, "OUTPUT", "END")
      val args = grep(content, "ARGS")
      val cmds = grep(content, "CMDS")
      val r = Cli.run(input.getBytes(StandardCharsets.UTF_8), args, cmds)
      assert(r.ok, s"failed: ${r.error}")
      assert(r.output == expected, s"\n--- expected:\n$expected--- got:\n${r.output}")
    }
  }

  // theme_*: ENV XMQ_THEME=... render-tex | grep definecolor (test_theme.sh)
  for (p <- Fixtures.list("""theme_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"theme $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "INPUT.*", "OUTPUT")
      val expected = Fixtures.section(content, "OUTPUT", "END")
      val env = grep(content, "ENV").split("\\s+").filter(_.contains("="))
        .map { kv => val i = kv.indexOf('='); kv.substring(0, i) -> kv.substring(i + 1) }.toMap
      val args = grep(content, "ARGS")
      val cmds = grep(content, "CMDS")
      val r = Cli.run(input.getBytes(StandardCharsets.UTF_8), args, s"$cmds render-tex", env = env)
      assert(r.ok, s"failed: ${r.error}")
      val got = r.output.split("\n").filter(_.contains("definecolor")).map(_ + "\n").mkString
      assert(got == expected, s"\n--- expected:\n$expected--- got:\n$got")
    }
  }

  test("render-html and render-terminal colorize the token stream") {
    val input = "alfa(x = 1) { beta = 'hi there' }"
    val h = Cli.run(input.getBytes(StandardCharsets.UTF_8), "", "render-html")
    assert(h.ok, s"${h.error}")
    assert(h.output.startsWith("<!DOCTYPE html>\n<html>\n"))
    assert(h.output.contains("<xmqEN>alfa</xmqEN>"))
    assert(h.output.contains("<xmqAK>x</xmqAK>"))
    // quote delimiters and content are separate spans (printer-driven
    // coloring - verified byte-exact vs the binary in round 3)
    assert(h.output.contains("<xmqEKV>'</xmqEKV><xmqEKV>hi there</xmqEKV><xmqEKV>'</xmqEKV>"))
    assert(h.output.contains("xmqEN{color:#a86c00;}"))  // light theme css
    assert(h.output.contains("xmqEN{color:#ff8c00;}"))  // dark theme css
    // the CLI pipes: non-tty render-terminal disables coloring like the
    // binary; the ANSI path stays available via Theme.renderTerminal
    val t = Cli.run(input.getBytes(StandardCharsets.UTF_8), "", "render-terminal")
    assert(t.ok, s"${t.error}")
    assert(t.output == "alfa(x = 1)\n{\n    beta = 'hi there'\n}\n")
    val ansi = Theme.renderTerminal(XmqEngine.parse(input.getBytes(StandardCharsets.UTF_8),
      XmqEngine.ParseFlags()), null)
    assert(ansi.contains("\u001b[0;38;2;255;140;0malfa"))   // EN dark #ff8c00
    assert(ansi.endsWith("\u001b[0m\n"))
  }

  test("tokenize --type=tex/html/terminal colorize the raw input") {
    // expectations recorded from the reference binary (round 3): tex wraps
    // in \texttt, html in <pre>, terminal uses 256-color codes with a
    // reset-prefix per uncolored token and no trailing reset
    val input = "alfa(x = 1)"
    val tex = Cli.run(input.getBytes(StandardCharsets.UTF_8), "", "tokenize --type=tex")
    assert(tex.ok && tex.output ==
      "\\texttt{\\flushleft\\noindent \\xmqEN{alfa}(\\xmqAK{x} = \\xmqAKV{1})\n}\n", tex.output)
    val html = Cli.run(input.getBytes(StandardCharsets.UTF_8), "", "tokenize --type=html")
    assert(html.ok && html.output ==
      "<pre class=\"xmq xmq_dark\"><xmqEN>alfa</xmqEN>(<xmqAK>x</xmqAK> = <xmqAKV>1</xmqAKV>)</pre>", html.output)
    val term = Cli.run(input.getBytes(StandardCharsets.UTF_8), "", "tokenize --type=terminal")
    assert(term.ok && term.output ==
      "\u001b[0;38;5;208malfa\u001b[0m(\u001b[0;38;5;111mx\u001b[0m \u001b[0m=\u001b[0m \u001b[0;38;5;69m1\u001b[0m)",
      term.output)
  }

  // warning_*: START → CMDS → WARNING section = stderr warnings + stdout json
  for (p <- Fixtures.list("""warning_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"warning $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "START", "WARNING")
      val expected = Fixtures.section(content, "WARNING", "END")
      val args = grep(content, "ARGS")
      val cmds = { val c = grep(content, "CMDS"); if (c.isEmpty) "to-xmq" else c }
      val r = Cli.run(input.getBytes(StandardCharsets.UTF_8), args, cmds)
      assert(r.ok, s"failed: ${r.error}")
      assert(r.output == expected, s"\n--- expected:\n$expected--- got:\n${r.output}")
    }
  }

  test("for-each --shell passes node values via environment, not interpolation (no command injection)") {
    // document content containing shell metacharacters must reach the command
    // as DATA (env var), never as executable shell syntax
    val evil = "x; echo INJECTED; $(echo ALSO_INJECTED) `echo BACKTICK`"
    val input = s"doc { item { v = '$evil' } }"
    val r = Cli.run(input.getBytes(StandardCharsets.UTF_8), "",
      "for-each /doc/item --shell='echo GOT=${v}'")
    assert(r.ok, s"failed: ${r.error}")
    assert(r.output == s"GOT=$evil\n", s"got: ${r.output}")
    assert(!r.output.contains("INJECTED\n"), "document content was executed as shell")
  }

  // select_*: START → select XPATH to-xmq --compact → expected (single line)
  for (p <- Fixtures.list("""select_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"select $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "START.*", "SELECT.*")
      val sel = content.split("\n").find(_.startsWith("SELECT")).get.drop(7)
      val xpath = sel.split(" ", 2)(0)
      val expected = sel.split(" ", 2)(1) + "\n"
      val r = Cli.run(input.getBytes(StandardCharsets.UTF_8), "", s"select $xpath to-xmq --compact")
      assert(r.ok, s"failed: ${r.error}")
      assert(r.output == expected, s"\n--- expected:\n$expected--- got:\n${r.output}")
    }
  }

  // noinput_*: xmq -z ARGS CMDS → XMQ section
  for (p <- Fixtures.list("""noinput_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"noinput $name") {
      val content = Fixtures.read(p)
      val expected = Fixtures.section(content, "XMQ", "END")
      val args = grep(content, "ARGS")
      val cmds = grep(content, "CMDS")
      val r = Cli.run(Array.empty[Byte], args, cmds)
      assert(r.ok, s"failed: ${r.error}")
      assert(r.output == expected, s"\n--- expected:\n$expected--- got:\n${r.output}")
    }
  }

  // statistics_*: START → statistics → STATISTICS section
  for (p <- Fixtures.list("""statistics_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"statistics $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "START.*", "STATISTICS")
      val expected = Fixtures.section(content, "STATISTICS", "END")
      val r = Cli.run(input.getBytes(StandardCharsets.UTF_8), "", "statistics")
      assert(r.ok, s"failed: ${r.error}")
      assert(r.output == expected, s"\n--- expected:\n$expected--- got:\n${r.output}")
    }
  }

  // pipe_001: tokenizer sections (same shape as NNN_ fixtures)
  for (p <- Fixtures.list("""pipe_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"pipe $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "START.*", "DEBUG")
      val expTokens = Fixtures.section(content, "DEBUG", "CONTENT")
      val expContent = Fixtures.section(content, "CONTENT", "END")
      val bytes = input.getBytes(StandardCharsets.UTF_8)
      assert(Xmq.debugTokens(bytes) == expTokens)
      assert(Xmq.debugContent(bytes) == expContent)
    }
  }
}
