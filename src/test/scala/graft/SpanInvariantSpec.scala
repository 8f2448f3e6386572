package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.kg.emit.{SpanInvariant, TableIO}
import graft.kg.io.SyntheticCorpus
import graft.kg.schema.{PostingDoc, Span}

/** BASELINE.json:15 — span-sequence equality on (kind, text, media_ref,
  * order) for every surviving row, over seeded generated documents (media
  * interleaved, empty spans, unicode, 0..60 spans) and over the derived
  * corpus.
  */
class SpanInvariantSpec extends SparkTestBase {

  private def genDocs(seed: Int, n: Int): Seq[PostingDoc] = {
    val rnd = new scala.util.Random(seed)
    val texts = Seq("", "a", "Pensum 80 - 100%", "Erfahrung mit Java",
      "unicode √ü√§√∂ 中文 🚀", "the fast key", "8005 Zuerich", "Acme AG")
    (0 until n).map { i =>
      val spans = (0 until rnd.nextInt(61)).map { j =>
        if (rnd.nextBoolean() && j % 2 == 1) Span("media", "", s"img://$i/$j", j)
        else Span(Seq("h1", "p", "li", "footer")(rnd.nextInt(4)),
          texts(rnd.nextInt(texts.length)), "", j)
      }
      PostingDoc(s"gen-$i", spans)
    }
  }

  test("filter-type stages preserve spans byte-exactly (generated docs)") {
    val s = spark
    import s.implicits._
    val postings = spark.createDataset(genDocs(99, 120)).toDF()
    // representative surviving-row stages: predicate filter, repartition,
    // anti-join (the checkpoint-resume shape)
    val filtered = postings.where(size(col("spans")) % 2 === 0)
    SpanInvariant.enforce(postings, filtered)
    val repart = postings.repartition(7, col("doc_id"))
    SpanInvariant.enforce(postings, repart)
    val done = postings.select(col("doc_id")).limit(30)
    val resumed = postings.join(done, Seq("doc_id"), "left_anti")
    SpanInvariant.enforce(postings, resumed)
    assert(SpanInvariant.violations(postings, postings).count() == 0)
  }

  test("violations are detected (mutated spans)") {
    val s = spark
    import s.implicits._
    val postings = spark.createDataset(genDocs(7, 30).filter(_.spans.nonEmpty)).toDF()
    val mutated = postings.withColumn("spans",
      expr("transform(spans, sp -> named_struct('kind', sp.kind, 'text', upper(sp.text), " +
        "'media_ref', sp.media_ref, 'offset', sp.offset))"))
    assert(SpanInvariant.violations(postings, mutated).count() > 0)
  }

  test("derived corpus: offsets strictly increasing from 0; media/text exclusive") {
    val p = SyntheticCorpus.postings(spark, "/root/testdata/sf0.001")
    val bad = p.select(col("doc_id"), col("spans"))
      .where(!expr(
        """forall(transform(spans, (sp, i) -> sp.offset = i), x -> x)
          | or exists(spans, sp -> (sp.kind = 'media' and (sp.text != '' or sp.media_ref = ''))
          |                     or (sp.kind != 'media' and sp.media_ref != ''))""".stripMargin))
    assert(bad.count() == 0)
  }

  test("materialized postings: a table deleted under its cache is rebuilt") {
    val sf = Files.createTempDirectory("graft-sf")
    Files.copy(Paths.get("/root/testdata/sf0.001/documents.parquet"),
      sf.resolve("documents.parquet"))
    def table(): (Long, String) = {
      val p = SyntheticCorpus.materializedPostings(spark, sf.toString)
      (p.count(), Paths.get(new java.net.URI(p.inputFiles.head)).getParent.toString)
    }
    val (n, dir) = table()
    TableIO.deleteTree(dir)
    val (n2, dir2) = table()
    assert(n2 == n && n > 0)
    Seq(dir2, sf.toString).foreach(TableIO.deleteTree)
  }

  test("pipeline run leaves the postings table unchanged") {
    val p = SyntheticCorpus.postings(spark, "/root/testdata/sf0.001")
    graft.kg.Pipeline.allTriples(p, graft.kg.Pipeline.defaultGazetteers(spark)).count()
    SpanInvariant.enforce(SyntheticCorpus.postings(spark, "/root/testdata/sf0.001"), p)
  }

  test("HTML on-ramp: flatten(render(postings)) reproduces spans byte-exactly") {
    val s = spark
    import s.implicits._
    // adversarial texts: markup characters, entity-looking strings, fake
    // closing tags, quotes, newlines, whitespace edges, unicode — the
    // escaper/unescaper pair must round-trip all of them through HTML
    val texts = Seq("", "a < b & c > d", "&amp;lt; literal", "line1\nline2",
      "</p><p>fake close", "quote \" inside", "unicode √ü 中文 🚀",
      "  leading and trailing  ", "Pensum 80 - 100%",
      // literal inline-markup text: render escapes it, and flatten must
      // NOT strip it (inline unwrap runs BEFORE entity unescaping)
      "<b>bold</b> kept literal", "break<br>tag literal")
    // media refs get the same adversarial treatment: quotes, ampersands,
    // and entity-looking substrings must survive the src="..." attribute
    val refs = Seq("img://plain/0", "img://q?a=1&b=2", "img://quote\"mark",
      "img://&quot;already", "img://&amp;amp")
    val rnd = new scala.util.Random(7)
    val docs = (0 until 80).map { i =>
      val spans = (0 until rnd.nextInt(40)).map { j =>
        if (j % 3 == 2) Span("media", "", refs((i + j) % refs.length), j)
        else Span(Seq("h1", "p", "li", "footer", "title", "h2")(rnd.nextInt(6)),
          texts(rnd.nextInt(texts.length)), "", j)
      }
      PostingDoc(s"html-$i", spans)
    }
    val postings = spark.createDataset(docs).toDF()
    SpanInvariant.enforce(postings,
      graft.kg.io.HtmlSpans.flatten(graft.kg.io.HtmlSpans.render(postings)))
    // and the derived sf0.001 corpus itself survives the round trip
    val p = SyntheticCorpus.postings(spark, "/root/testdata/sf0.001")
    SpanInvariant.enforce(p,
      graft.kg.io.HtmlSpans.flatten(graft.kg.io.HtmlSpans.render(p)))
  }

  test("HTML on-ramp: inline markup unwraps, unclosed li/p terminate at next tag") {
    val s = spark
    import s.implicits._
    val html = Seq(
      // inline children unwrapped to their text inside closed blocks
      ("d1", "<li>Java <b>required</b></li><p>see <a href=\"x\">link</a> now</p>"),
      // the crawled-list pattern: no </li> anywhere; </ul> terminates the last
      ("d2", "<ul><li>alpha<li>beta<li>gamma</ul>"),
      // nested same-tag: an open <p> terminates the dangling one
      ("d3", "<p>one<p>two</p>"),
      // unclosed li at end of document keeps its text
      ("d4", "<li>tail"),
      // img nested in a block is stripped from text (src dropped — the
      // flat model can't nest media); a top-level img is a media span
      ("d5", "<p>before <img src=\"in://x\"> after</p>\n<img src=\"top://y\">"),
      // unknown wrappers and stray closes fall away; <br> unwraps
      ("d6", "<div><p>a<br>b</p></div></section>"),
      // a nested block closes its parent (tag-soup: parent keeps only the
      // text before the child)
      ("d7", "<li>head<p>child</p></li>"))
      .toDF("doc_id", "html")
    val got = graft.kg.io.HtmlSpans.flatten(html)
      .select(col("doc_id"), expr(
        "transform(spans, sp -> concat(sp.kind, '|', sp.text, '|', sp.media_ref))").as("sp"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    assert(got("d1") == List("li|Java required|", "p|see link now|"))
    assert(got("d2") == List("li|alpha|", "li|beta|", "li|gamma|"))
    assert(got("d3") == List("p|one|", "p|two|"))
    assert(got("d4") == List("li|tail|"))
    assert(got("d5") == List("p|before  after|", "media||top://y"))
    assert(got("d6") == List("p|ab|"))
    assert(got("d7") == List("li|head|", "p|child|"))
  }

  private def nestedSpans(cases: Seq[(String, String)]): Map[String, List[String]] = {
    val s = spark
    import s.implicits._
    graft.kg.io.HtmlSpans.flattenNested(cases.toDF("doc_id", "html"))
      .select(col("doc_id"), expr(
        "transform(spans, sp -> concat(sp.kind, '|', sp.text, '|', sp.media_ref))").as("sp"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
  }

  test("event-stream parser: nested blocks keep tails, containers default to p") {
    val got = nestedSpans(Seq(
      // THE case the regex flattener documents as lost: text after a
      // nested child inside the same parent survives with the parent kind
      ("n1", "<li>a<p>b</p>c</li>"),
      // text directly under a non-emitted container degrades to p
      ("n2", "<div>lead<p>x</p>tail</div>"),
      // nested list: inner li does NOT close the outer (HTML5 — a new li
      // only auto-closes a top li; the nested ul keeps the outer open)
      ("n3", "<li>a<ul><li>b</li></ul>c</li>"),
      // deep non-emitted nesting inherits the nearest emitted kind
      ("n4", "<li>a<div>b</div></li>"),
      // p auto-closes on ANY block open
      ("n5", "<p>a<div>b</div>"),
      // img INSIDE a block splits the text span (richer than flatten,
      // which drops nested media): interleaved order preserved
      ("n6", "<li>a<img src=\"m\">b</li>"),
      // explicitly-closed empty block is a real (empty) span
      ("n7", "<p></p><li>x</li>"),
      // flush-then-close must NOT emit a spurious empty parent span
      ("n8", "<li>a<div>b</div></li><p>y</p>")))
    assert(got("n1") == List("li|a|", "p|b|", "li|c|"))
    assert(got("n2") == List("p|lead|", "p|x|", "p|tail|"))
    assert(got("n3") == List("li|a|", "li|b|", "li|c|"))
    assert(got("n4") == List("li|a|", "li|b|"))
    assert(got("n5") == List("p|a|", "p|b|"))
    assert(got("n6") == List("li|a|", "media||m", "li|b|"))
    assert(got("n7") == List("p||", "li|x|"))
    assert(got("n8") == List("li|a|", "li|b|", "p|y|"))
  }

  test("event-stream parser: soup tolerance — strays, scripts, comments, bare <") {
    val got = nestedSpans(Seq(
      // stray closes ignored; unknown tags transparent
      ("s1", "</p><p>a <foo>b</foo> c</p></div>"),
      // a '<' that opens no tag is text, not a swallowed pseudo-tag
      ("s2", "<p>a < b and c > d</p>"),
      // script/style bodies and comments are stripped BEFORE tokenizing
      ("s3", "<script>var x = '<p>no</p>';</script><!-- <p>no</p> --><p>yes</p>"),
      // whitespace-only unclosed emitted block is a real span (what the
      // regex flattener's tempered-dot emits too) ...
      ("s4", "<li> \n<p>x</p>"),
      // ... while separator whitespace under containers still drops
      ("s5", "<ul>\n<li>a</li>\n<li>b</li>\n</ul>"),
      // img with no src is transparent; entities unescape in text
      ("s6", "<p>a<img>b &amp; &lt;tag&gt;</p>"),
      // unclosed at end of document keeps its text
      ("s7", "<p>tail"),
      // a stray close MID-BLOCK must not split the span: the buffer keeps
      // accumulating across the ignored token (the round-6 review catch —
      // the old close branch flushed unconditionally of the pop)
      ("s8", "<p>a</div>b</p>"),
      ("s9", "<li>x</p>y"),
      // markup declarations / processing instructions are stripped, not
      // flushed as a spurious leading p span (every real page: <!DOCTYPE>)
      ("s10", "<!DOCTYPE html><?xml version=\"1.0\"?><html><p>a</p></html>")))
    assert(got("s1") == List("p|a b c|"))
    assert(got("s2") == List("p|a < b and c > d|"))
    assert(got("s3") == List("p|yes|"))
    assert(got("s4") == List("li| \n|", "p|x|"))
    assert(got("s5") == List("li|a|", "li|b|"))
    assert(got("s6") == List("p|ab & <tag>|"))
    assert(got("s7") == List("p|tail|"))
    assert(got("s8") == List("p|ab|"))
    assert(got("s9") == List("li|xy|"))
    assert(got("s10") == List("p|a|"))
  }

  test("event-stream parser: flattenNested(render(postings)) is the identity") {
    val s = spark
    import s.implicits._
    // the same adversarial generator as the flatten round-trip, PLUS the
    // empty and whitespace-only texts the close-preserves-empties rule
    // exists for
    val texts = Seq("", " ", "\t", "a < b & c > d", "&amp;lt; literal",
      "line1\nline2", "</p><p>fake close", "quote \" inside",
      "unicode √ü 中文 🚀", "  leading and trailing  ",
      "<b>bold</b> kept literal", "break<br>tag literal")
    val refs = Seq("img://plain/0", "img://q?a=1&b=2", "img://quote\"mark",
      "img://&quot;already", "img://&amp;amp")
    val rnd = new scala.util.Random(11)
    val docs = (0 until 80).map { i =>
      val spans = (0 until rnd.nextInt(40)).map { j =>
        if (j % 3 == 2) Span("media", "", refs((i + j) % refs.length), j)
        else Span(Seq("h1", "p", "li", "footer", "title", "h2")(rnd.nextInt(6)),
          texts(rnd.nextInt(texts.length)), "", j)
      }
      PostingDoc(s"nested-$i", spans)
    }
    val postings = spark.createDataset(docs).toDF()
    SpanInvariant.enforce(postings,
      graft.kg.io.HtmlSpans.flattenNested(graft.kg.io.HtmlSpans.render(postings)))
    // and the derived sf0.001 corpus itself survives the round trip
    val p = SyntheticCorpus.postings(spark, "/root/testdata/sf0.001")
    SpanInvariant.enforce(p,
      graft.kg.io.HtmlSpans.flattenNested(graft.kg.io.HtmlSpans.render(p)))
  }

  test("event-stream parser ≡ regex flattener on the synthetic HTML corpus") {
    // the result-equality that lets kg_html_spans_nested SHARE the
    // closed-form oracle: both flatteners over htmlCorpus(sf0.001), exact
    // set equality of exploded spans
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = graft.kg.io.HtmlSpans.htmlCorpus(docs)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), explode(col("spans")).as("sp"))
        .select(col("doc_id"), col("sp.kind"), col("sp.text"),
          col("sp.media_ref"), col("sp.offset"))
    val a = rows(graft.kg.io.HtmlSpans.flatten(corpus))
    val b = rows(graft.kg.io.HtmlSpans.flattenNested(corpus))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "flatten and flattenNested diverge on the synthetic corpus")
  }
}
