package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets

/** Replays tests/parse_json_*.test: INPUT json → to-xmq equals XMQ section,
  * and → to-json equals JSON section. */
class ParseJsonFixtureSpec extends CorpusSuite {

  for (p <- Fixtures.list("""parse_json_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"parse_json $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "INPUT.*", "XMQ")
      val expXmq = Fixtures.section(content, "XMQ", "JSON")
      val expJson = Fixtures.section(content, "JSON", "END")
      def grep(n: String) = content.split("\n").filter(_.startsWith(n)).map(_.drop(n.length + 1)).mkString("")
      val args = grep("ARGS")
      val bytes = input.getBytes(StandardCharsets.UTF_8)

      val r = Cli.run(bytes, args, "to-xmq")
      assert(r.ok, s"to-xmq failed: ${r.error}")
      assert(r.output == expXmq, s"\n--- expected xmq:\n$expXmq--- got:\n${r.output}")

      if (expJson.trim.nonEmpty && expJson.trim != "IGNORE") {
        val rj = Cli.run(bytes, args, "to-json")
        assert(rj.ok, s"to-json failed: ${rj.error}")
        assert(rj.output == expJson, s"\n--- expected json:\n$expJson--- got:\n${rj.output}")
      }
    }
  }
}

/** Replays tests/json_*.test: INPUT (xmq) → to-json equals OUTPUT, and
  * --compact variant equals COMPACT (unless IGNORE). */
class JsonFixtureSpec extends CorpusSuite {

  for (p <- Fixtures.list("""json_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"json $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "INPUT.*", "OUTPUT")
      val expected = Fixtures.section(content, "OUTPUT", "COMPACT")
      def grep(n: String) = content.split("\n").filter(_.startsWith(n)).map(_.drop(n.length + 1)).mkString("")
      val args = grep("ARGS")
      val cmds = { val c = grep("CMDS"); if (c.trim.isEmpty) "to-json" else c }
      val bytes = input.getBytes(StandardCharsets.UTF_8)
      val r = Cli.run(bytes, args, cmds)
      assert(r.ok, s"failed: ${r.error}")
      assert(r.output == expected, s"\n--- expected:\n$expected--- got:\n${r.output}")
    }
  }
}
