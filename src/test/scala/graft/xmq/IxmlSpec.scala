package graft.xmq

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.xmq.ixml.Ixml

/** Replays the reference iXML corpus: tests/ixml/correct/<name>.{ixml,inp}
  * must produce <name>.output.xmq byte-for-byte (the same check as
  * tests/test_ixml_correct.sh), plus the ixml_not_* fixtures (the !
  * negative-lookahead extension and the failure document format). */
class IxmlSpec extends CorpusSuite {

  private val correctDir = Paths.get("/root/reference/tests/ixml/correct")

  // grammars still out of scope in this round (documented): none yet — the
  // loop below reports each file pass/fail so the skip list stays explicit.
  private val skip: Set[String] = Set()

  private val cases: Seq[String] =
    if (!Files.isDirectory(correctDir)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      Files.list(correctDir).iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".output.xmq"))
        .map(_.stripSuffix(".output.xmq"))
        .filter(n => Files.exists(correctDir.resolve(s"$n.inp")))
        .toSeq.sorted
    }

  for (name <- cases if !skip(name)) {
    test(s"ixml correct $name") {
      val grammar = Files.readString(correctDir.resolve(s"$name.ixml"))
      val input = Files.readString(correctDir.resolve(s"$name.inp"))
      val expected = Files.readString(correctDir.resolve(s"$name.output.xmq"))
      val doc = Ixml.parseToDoc(grammar, input)
      val out = XmqEngine.toXmq(doc)
      assert(out == expected, s"\n--- expected:\n$expected--- got:\n$out")
    }
  }

  // ixml_grammar_*: the grammar must parse (xmq --ixml=g -z exits 0)
  for (p <- Fixtures.list("""ixml_grammar_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"ixml grammar $name") {
      val grammar = Fixtures.section(Fixtures.read(p), "START", "END")
      graft.xmq.ixml.IxmlReader.parse(grammar) // must not throw
    }
  }

  // ixml_parse_*: input joined without newlines (test_ixml_parse.sh tr -d \n);
  // --ixml-all-parses fixtures go through the ambiguity enumeration.
  for (p <- Fixtures.list("""ixml_parse_\d+.*\.test""")) {
    val name = p.getFileName.toString
    val content = Fixtures.read(p)
    test(s"ixml parse $name") {
      val grammar = Fixtures.section(content, "START", "INPUT")
      val input = Fixtures.section(content, "INPUT", "OUTPUT").replace("\n", "")
      val expected = Fixtures.section(content, "OUTPUT", "END")
      val doc =
        if (content.contains("--ixml-all-parses")) Ixml.parseAllToDoc(grammar, input)
        else Ixml.parseToDoc(grammar, input)
      val out = XmqEngine.toXmq(doc)
      assert(out == expected, s"\n--- expected:\n$expected--- got:\n$out")
    }
  }

  // xmqixml_*: parse xmq text via the reference's own xmq-in-ixml grammar,
  // through the CLI's --ixml load flag exactly like the harness
  // (test_xmqixml_format.sh: --ixml=library/core/xmq.ixml <input> to-xmq)
  private val xmqGrammarPath = Paths.get("/root/reference/library/core/xmq.ixml")
  for (p <- Fixtures.list("""xmqixml_\d+.*\.test""") if Files.exists(xmqGrammarPath)) {
    val name = p.getFileName.toString
    test(s"ixml $name") {
      val content = Fixtures.read(p)
      val input = Fixtures.section(content, "START", "IXML")
      val expected = Fixtures.section(content, "IXML", "END")
      val r = Cli.run(input.getBytes("UTF-8"), "--ixml=library/core/xmq.ixml",
        "to-xmq", base = "/root/reference")
      assert(r.ok, s"${r.error}")
      assert(r.output == expected, s"\n--- expected:\n$expected--- got:\n${r.output}")
    }
  }

  test("ixml:name grammar library resolution (--ixml=ixml:data/csv)") {
    needsCorpus()
    val r = Cli.run("1,2\n".getBytes("UTF-8"), "--ixml=ixml:data/csv",
      "to-xmq --compact", base = "/root/reference")
    assert(r.ok, s"${r.error}")
    assert(r.output == "table{tr{td=1 td=2}}\n", r.output)
  }

  // ixml_not_* fixtures: START grammar, INPUT, OUTPUT (success or failure doc)
  for (p <- Fixtures.list("""ixml_not_\d+.*\.test""")) {
    val name = p.getFileName.toString
    test(s"ixml $name") {
      val content = Fixtures.read(p)
      val grammar = Fixtures.section(content, "START", "INPUT")
      val input0 = Fixtures.section(content, "INPUT", "OUTPUT")
      // test_ixml_not.sh strips the newline only when INPUT is a single line
      val input =
        if (input0.stripSuffix("\n").contains("\n")) input0
        else input0.stripSuffix("\n")
      val expected = Fixtures.section(content, "OUTPUT", "END")
      val doc = Ixml.parseToDoc(grammar, input)
      val out = XmqEngine.toXmq(doc)
      assert(out == expected, s"\n--- expected:\n$expected--- got:\n$out")
    }
  }

  // Epsilon-completion regression (ADVICE r2): a Neg-only guard nonterminal
  // completes with zero width at position k; an item predicted LATER at k
  // whose dot sits before that guard must still advance. The long B→C→D→E
  // chain delays E's prediction past the guard's completion processing.
  test("ixml zero-width !-guard completes for late-predicted items") {
    val grammar =
      """S: A; B.
        |A: guard, "a".
        |B: C.
        |C: D.
        |D: E.
        |E: guard, "e".
        |-guard: !"z".
        |""".stripMargin
    val doc = Ixml.parseToDoc(grammar, "e")
    val out = XmqEngine.toXmq(doc, compact = true)
    assert(out.contains("S") && out.contains("E"), out)
    // and the guard still rejects when the lookahead matches (failure doc)
    val fail = XmqEngine.toXmq(Ixml.parseToDoc(grammar, "z"), compact = true)
    assert(!fail.contains("S{"), fail)
  }

  // chart items pack (prodId, dot, origin) into one long; a production past
  // the dot field's 12 bits would silently corrupt parses via the
  // dot-increment carry — the compiler must refuse instead (ADVICE r3)
  test("a production with 4096+ symbols is rejected as too large") {
    val big = "S: " + Seq.fill(4096)("\"a\"").mkString(", ") + ".\n"
    val e = intercept[IllegalArgumentException] { Ixml.parseToDoc(big, "a" * 4096) }
    assert(e.getMessage.contains("grammar too large"), e.getMessage)
  }
}
