package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths, Path}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

object Fixtures {
  val dir: Path = Paths.get("/root/reference/tests")
  def available: Boolean = Files.isDirectory(dir)
  def list(prefixRegex: String): Seq[Path] =
    if (!available) Seq.empty
    else Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches(prefixRegex)).sortBy(_.getFileName.toString)

  /** Extract section: lines strictly between `startMarker` line and `endMarker` line
    * (mirrors the sed -n '/^A$/,/^B$/p | tail +2 | sed $d' in tests/test_single.sh). */
  def section(content: String, start: String, end: String): String = {
    val lines = content.split("\n", -1)
    val out = new StringBuilder
    var in = false
    var done = false
    for (l <- lines if !done) {
      if (!in && l.matches(start)) in = true
      else if (in && l.matches(end)) { done = true }
      else if (in) out.append(l).append('\n')
    }
    out.toString
  }

  def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
}

/** Base of the suites that replay the reference corpus at `corpus`. Without
  * the corpus the fixture loops register nothing, so the suite reports ONE
  * canceled test instead — a visible "not checked here", neither a silent
  * pass nor an aborted suite (an assume in the class body throws from the
  * constructor). Standalone tests that read the corpus call needsCorpus(). */
abstract class CorpusSuite(protected val corpus: Path = Fixtures.dir) extends AnyFunSuite {
  protected def needsCorpus(): Unit =
    assume(Files.isDirectory(corpus), s"reference corpus not present at $corpus")

  if (!Files.isDirectory(corpus)) test("reference corpus") { needsCorpus() }
}

/** Replays the reference tokenizer corpus (tests/001..047_*.test):
  * input xmq must produce identical debugtokens and debugcontent streams. */
class TokenizerFixtureSpec extends CorpusSuite {

  for (p <- Fixtures.list("""\d\d\d_.*\.test""")) {
    val name = p.getFileName.toString
    test(s"tokenize $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "START", "DEBUG")
      val expTokens = Fixtures.section(content, "DEBUG", "CONTENT")
      val expContent = Fixtures.section(content, "CONTENT", "END")
      val bytes = input.getBytes(StandardCharsets.UTF_8)
      val gotTokens = Xmq.debugTokens(bytes)
      val gotContent = Xmq.debugContent(bytes)
      assert(gotTokens == expTokens, s"\n--- tokens expected:\n$expTokens--- got:\n$gotTokens")
      assert(gotContent == expContent, s"\n--- content expected:\n$expContent--- got:\n$gotContent")
    }
  }
}
