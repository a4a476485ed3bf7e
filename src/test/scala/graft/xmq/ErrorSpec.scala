package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.functions._

/** Error-path behavior (tests/error_*.test inputs): malformed documents must
  * yield a clean failure (Result.ok=false / null from the expression), never
  * an uncaught task-killing exception (SURVEY.md §3.2). */
class ErrorSpec extends CorpusSuite {

  for (p <- Fixtures.list("""error_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"error input $name fails cleanly") {
      val content = Fixtures.read(p)
      // error fixtures carry the input in the first section up to OUTPUT/END
      val input = {
        val s = Fixtures.section(content, "START.*|INPUT.*", "OUTPUT|END")
        if (s.nonEmpty) s else content.split("\n").take(3).mkString("\n")
      }
      val r = Cli.run(input.getBytes(StandardCharsets.UTF_8), "--xmq", "to-xmq")
      // either parses (some fixtures are warnings) or fails with ok=false —
      // never throws out of Cli.run
      assert(r.ok || r.error != null)
    }
  }

  test("xmq_roundtrip expression returns null for malformed content, not an exception") {
    val bad = Seq("a { unclosed", "k = 'no end", "x = &bad.ent", "}}}}")
    bad.foreach { b =>
      assert(graft.expr.XmqExprs.roundtrip(b, "xmq") == null, s"should fail: $b")
    }
  }

  test("replace and replace-entity commands") {
    val in = "a { b = old c { &name; } }".getBytes(StandardCharsets.UTF_8)
    val r1 = Cli.run(in, "", "replace /a/b=new to-xmq --compact")
    assert(r1.ok && r1.output == "a{b=new c=&name;}\n", r1.output)
    val r2 = Cli.run(in, "", "replace-entity name World to-xmq --compact")
    assert(r2.ok && r2.output == "a{b=old c=World}\n", r2.output)
  }
}
