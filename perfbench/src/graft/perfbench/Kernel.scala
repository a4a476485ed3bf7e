package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import graft.xmq.{Xmq, XmqEngine, XDoc}
import graft.expr.XmqExprs

/** Single-thread xmq kernel rates on a fixed sample of the workload's own
  * rows: parse and print MB/s per language, and round-trip rows/s. Runs on
  * the driver thread, one measurement loop per number. */
object Kernel {
  val langs: Seq[String] = Seq("xml", "json", "html", "xmq")

  private def forced(lang: String): Xmq.ContentType = lang match {
    case "xml" => Xmq.XML
    case "json" => Xmq.JSON
    case "html" => Xmq.HTML
    case _ => Xmq.XMQ
  }

  private def print(lang: String, doc: XDoc): String = lang match {
    case "xml" => XmqEngine.toXml(doc)
    case "json" => XmqEngine.toJson(doc)
    case "html" => XmqEngine.toHtml(doc)
    case _ => XmqEngine.toXmq(doc)
  }

  /** Repeat `step(i)` over indices 0..n-1 cyclically for at least
    * `budgetNs`; returns (units summed over the calls, seconds). */
  private def loop(n: Int, budgetNs: Long)(step: Int => Long): (Double, Double) = {
    val t0 = System.nanoTime()
    var units = 0L
    var i = 0
    while (System.nanoTime() - t0 < budgetNs || i < n) {
      units += step(i % n)
      i += 1
    }
    (units.toDouble, (System.nanoTime() - t0) / 1e9)
  }

  /** `sample` holds intact (lang, content) rows; every language in [[langs]]
    * must be present. */
  def measure(sample: Seq[(String, String)], budgetNs: Long, tracer: Option[Tracer])
      : Map[String, Double] = {
    def span[T](name: String)(b: => T): T = tracer.fold(b)(_.span("xmq", name)(b))
    val out = Map.newBuilder[String, Double]
    langs.foreach { lang =>
      val docs = sample.filter(_._1 == lang).map(_._2.getBytes(UTF_8)).toIndexedSeq
      require(docs.nonEmpty, s"kernel sample has no $lang rows")
      val flags = XmqEngine.ParseFlags(forced = forced(lang))
      val (inBytes, parseS) = span(s"parse.$lang") {
        loop(docs.length, budgetNs) { i => XmqEngine.parse(docs(i), flags); docs(i).length.toLong }
      }
      out += s"xmq.parse_MBps.$lang" -> inBytes / parseS / 1e6
      val trees = docs.map(XmqEngine.parse(_, flags))
      val (outBytes, printS) = span(s"print.$lang") {
        loop(trees.length, budgetNs) { i => print(lang, trees(i)).length.toLong }
      }
      // chars count as bytes: the generated content is ASCII
      out += s"xmq.print_MBps.$lang" -> outBytes / printS / 1e6
    }
    val rows = sample.toIndexedSeq
    val (n, rtS) = span("roundtrip") {
      loop(rows.length, budgetNs) { i => XmqExprs.roundtrip(rows(i)._2, rows(i)._1); 1L }
    }
    out += "xmq.roundtrip_rows_per_s_1t" -> n / rtS
    out.result()
  }
}
