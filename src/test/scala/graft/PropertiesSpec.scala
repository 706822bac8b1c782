package graft

import graft.functions.{Hashing, Strings, TextAnalysis}
import graft.model.{Doc, Span, SpanKind}
import graft.tokenize.{Boilerplate, DocGen, SpanTokenizer}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties (SURVEY.md §5): tokenizer totality, offset
  * monotonicity, normalization idempotence, sketch invariants.
  */
class PropertiesSpec extends AnyFunSuite {
  /** scalatestplus bridge is not in the offline cache; run ScalaCheck
    * directly. The failing input's non-ASCII chars are escaped: a lone
    * surrogate in the message would kill sbt's forked test harness
    * (MalformedInputException) instead of reporting the counterexample.
    */
  private def check(prop: Prop, minSuccessful: Int = 60): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(minSuccessful), prop)
    assert(res.passed, res.status.toString.flatMap { c =>
      if (c >= ' ' && c < '\u007f') c.toString else f"\\u${c.toInt}%04x"
    })
  }

  private val rawKind = Gen.oneOf(
    SpanKind.Html, SpanKind.PdfText, SpanKind.TableRaw, SpanKind.Media,
    SpanKind.Edi, "garbage")
  private val rawSpan: Gen[(String, String)] = for {
    k <- rawKind
    t <- Gen.asciiPrintableStr
  } yield (k, t)
  private val doc: Gen[Doc] = for {
    id <- Gen.alphaNumStr.map("doc_" + _)
    spans <- Gen.listOfN(6, rawSpan)
  } yield Doc(id, spans.zipWithIndex.map { case ((k, t), i) =>
    Span(k, t, if (k == SpanKind.Media) s"ref_$i" else "", i)
  })

  test("tokenizer is total and offsets are exactly 0..n-1") {
    check(Prop.forAll(doc) { d =>
      val out = SpanTokenizer.extract(d)
      out.spans.map(_.offset) == out.spans.indices &&
        out.n_spans == out.spans.length
    })
  }

  test("tokenizer is deterministic and input-order independent") {
    check(Prop.forAll(doc) { d =>
      val shuffled = Doc(d.doc_id, d.spans.reverse)
      SpanTokenizer.extract(d) == SpanTokenizer.extract(shuffled)
    })
  }

  test("normalizeWhitespace is idempotent") {
    check(Prop.forAll { (s: String) =>
      val once = Strings.normalizeWhitespace(s)
      Strings.normalizeWhitespace(once) == once
    })
  }

  test("cleanOcrText is idempotent") {
    check(Prop.forAll { (s: String) =>
      val once = Strings.cleanOcrText(s)
      Strings.cleanOcrText(once) == once
    })
  }

  test("levenshtein is a metric (symmetry + identity + triangle on samples)") {
    val short = Gen.resize(12, Gen.asciiPrintableStr)
    check(Prop.forAll(short, short, short) { (a: String, b: String, c: String) =>
      val ab = Strings.levenshtein(a, b)
      ab == Strings.levenshtein(b, a) &&
        Strings.levenshtein(a, a) == 0 &&
        ab <= Strings.levenshtein(a, c) + Strings.levenshtein(c, b)
    })
  }

  test("minhash similarity estimates Jaccard within tolerance") {
    val words = Gen.listOfN(60, Gen.oneOf("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta", "iota", "kappa"))
    check(Prop.forAll(words, words) { (w1: List[String], w2: List[String]) =>
      val s1 = TextAnalysis.shingles(w1.mkString(" "), 2).toSet
      val s2 = TextAnalysis.shingles(w2.mkString(" "), 2).toSet
      val trueJ =
        if (s1.isEmpty && s2.isEmpty) 1.0
        else if (s1.isEmpty || s2.isEmpty) 0.0
        else s1.intersect(s2).size.toDouble / s1.union(s2).size
      val est = Hashing.minhashSimilarity(
        Hashing.minhashSignature(s1, 128), Hashing.minhashSignature(s2, 128))
      math.abs(est - trueJ) <= 0.25
    })
  }

  test("simhash: identical inputs hash identically; hamming bounded") {
    check(Prop.forAll(Gen.listOfN(20, Gen.alphaStr)) { (ws: List[String]) =>
      val h1 = Hashing.simhash64(ws)
      val h2 = Hashing.simhash64(ws)
      h1 == h2 // equal hashes: Hamming distance 0
    })
  }

  test("lsh band keys: equal signatures share all bands") {
    check(Prop.forAll(Gen.listOfN(16, Gen.choose(Long.MinValue, Long.MaxValue))) {
      (xs: List[Long]) =>
        val sig = xs.toArray
        Hashing.lshBandKeys(sig, 4).sameElements(Hashing.lshBandKeys(sig.clone(), 4))
    })
  }

  test("fingerprint stable under whitespace jitter") {
    check(Prop.forAll(Gen.listOfN(30, Gen.alphaStr.suchThat(_.nonEmpty))) {
      (ws: List[String]) =>
        val a = ws.mkString(" ")
        val b = ws.mkString("   ")
        TextAnalysis.fingerprintFull(a) == TextAnalysis.fingerprintFull(b)
    })
  }

  test("full fingerprint separates near-dups and ignores case") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    val long = base * 8
    // any content change must change the fold
    assert(TextAnalysis.fingerprintFull(long) != TextAnalysis.fingerprintFull(long + " tail"))
    assert(TextAnalysis.fingerprintFull(long) == TextAnalysis.fingerprintFull(long.toUpperCase))
  }

  test("tokenizer is total and offsets dense on arbitrary hostile raw spans") {
    import graft.model.{Doc, Span}
    val kindGen = Gen.oneOf("html", "pdf_text", "table_raw", "media", "edi",
      "docx", "sheet", "dicom", "garbage", "", null)
    // hostile text: unclosed tags, entities at EOF, control chars, pipes,
    // newlines, zero-width chars
    val fragGen = Gen.oneOf(
      "<p>", "</p>", "<nav>", "<a href=x>", "</a>", "&amp;", "&", "&lt",
      "<h1>t</h1>", "|", "\n", "~", "*", ",", "H:", "S:", "T:", "word",
      "\u200B", "\u0000", " ", "<div", ">", "patient_name=", "12345")
    val textGen = Gen.frequency(
      1 -> Gen.const(null: String), 6 -> Gen.listOf(fragGen).map(_.mkString))
    val spanGen = for {
      k <- kindGen; t <- textGen
      m <- Gen.oneOf("", "s3://m/x_1.png", "not a ref", null)
    } yield (k, t, m)
    // a nullable parquet array column may also hold a null array or null
    // elements; both must read as spans that are not there
    val spansGen = Gen.frequency(
      1 -> Gen.const(null: Seq[Span]),
      12 -> Gen.listOf(Gen.frequency(1 -> Gen.const(None), 8 -> spanGen.map(Some(_))))
        .map(_.zipWithIndex.map {
          case (Some((k, t, m)), i) => Span(k, t, m, i)
          case (None, _) => null
        }))
    check(Prop.forAll(spansGen) { spans =>
      val doc = Doc("fuzz", spans)
      val out = graft.tokenize.SpanTokenizer.extract(doc) // must never throw
      // a null element yields what the doc without it yields; offsets are
      // order-relevant only, so the survivors keep theirs
      val present = Doc("fuzz", Option(spans).getOrElse(Nil).filter(_ != null))
      out.spans.map(_.offset) == out.spans.indices &&
        out.n_spans == out.spans.length &&
        out.modalities.contains("printed") &&
        out == graft.tokenize.SpanTokenizer.extract(present)
    })
  }

  // Differential properties: the one-pass kernel against the staged
  // formulation it replaced (KernelOracle), HTML against the regex
  // formulation. The fragments aim at the scanners' edge cases.
  private val fragment: Gen[String] = Gen.oneOf(Seq(
    // tags: case-mixed, attribute-bearing, unclosed, truncated, and names
    // the regex does not take for block tags (\b after a letter, a digit,
    // `_`, a combining mark; non-ASCII case folds)
    "<p>", "</p>", "<P class=x>", "</P>", "<li>", "</li>", "<LI>", "</Li>",
    "<div>", "</div>", "<DIV id=a>", "</dIv>", "<nav>", "</nav>", "<footer>",
    "</footer>", "<header>", "</HEADER>", "<h1>", "</h1>", "<H2>", "</h2>",
    "<h6>", "</H6>", "<h7>", "<head>", "<a href=x>", "<A>", "</a>", "</A>",
    "<p", "<div", "</p", "</", "<", ">", "<pé>", "<p\u0301>", "<p_>", "<p1>",
    "<px>", "</dıv>", "<lı>", "</lı>", "<p\uD835\uDC00>", "<span>",
    // entities, cascaded and truncated
    "&amp;", "&amp;lt;", "&amp;amp;", "&lt;", "&gt;", "&quot;", "&#39;",
    "&nbsp;", "&amp;nbsp;", "&", "&l", "&lt",
    // words and sentence ends
    "alpha", "beta", "gamma", "delta", "Revenue grew ten percent", "x", ".", "!", "?",
    // whitespace, blank lines (CRLF too), \u000B and \f inside and between
    // blank lines, zero-width chars between newlines, controls, smart quotes
    " ", "  ", "\t", "\n", "\r\n", "\n\n", "\r\n\r\n", "\n \n", "\n\u000B\n",
    "\n\f\n", "\u000B", "\f", "a\u000Bb", "\n\u200B\n", "\u200B", "\uFEFF",
    "\u200D", "\u0001", "\u201C", "\u201D", "\u2018", "\u2019", "\uD835",
    // table, edi, sheet and dicom syntax
    "|", "H:", "S:", "T:", "~", "*", ",", "=", "patient_name=", "12.50",
    // controls and spaces at segment and field edges (String.trim vs \s)
    "~\u0001", "\u0001~", "\u0001*", " * ", "|\u0001", ", "))

  private val tagName = Gen.oneOf("p", "P", "li", "Li", "div", "DIV", "nav", "footer",
    "header", "h1", "H3", "h6", "a", "A", "span", "pé", "dıv", "p\u0301", "h7")

  private val htmlFragment: Gen[String] = Gen.frequency(
    3 -> tagName.map(t => s"<$t>"),
    1 -> tagName.map(t => s"<$t class=x>"),
    3 -> tagName.map(t => s"</$t>"),
    1 -> tagName.map(t => s"<$t"),
    2 -> Gen.oneOf("<a href=x>alpha beta</a>", "<a>x</a>", "<A HREF=y>delta &amp; zeta</A>",
      "<a>one two three four five six</a>"),
    4 -> Gen.oneOf("alpha", "beta gamma", "delta epsilon zeta", " ", "\n"),
    2 -> fragment)

  private def text(frag: Gen[String]): Gen[String] =
    Gen.frequency(1 -> Gen.const(null: String),
      12 -> Gen.resize(30, Gen.listOf(frag)).map(_.mkString))

  private val hostileDoc: Gen[Doc] = {
    val kind = Gen.frequency(
      4 -> Gen.const(SpanKind.Html), 3 -> Gen.const(SpanKind.PdfText),
      1 -> Gen.oneOf(SpanKind.TableRaw, SpanKind.Media, SpanKind.Edi, SpanKind.Docx,
        SpanKind.Sheet, SpanKind.Dicom, "garbage", "", null))
    val ref = Gen.oneOf("", null, "not a ref",
      "s3://graft-corpus/media/12/doc_000000001_3.png",
      "s3://graft-corpus/media/7/doc_000000002_0.png")
    val span = for {
      k <- kind
      t <- text(if (k == SpanKind.Html) htmlFragment else fragment)
      m <- ref
      off <- Gen.choose(-2, 8) // out of order, tied, negative
    } yield Span(k, t, m, off)
    Gen.resize(8, Gen.listOf(span)).map(spans => Doc("doc_000000042", spans))
  }

  test("one-pass kernel equals the staged kernel on hostile docs (both configs)") {
    check(minSuccessful = 400, prop = Prop.forAll(hostileDoc) { d =>
      SpanTokenizer.extract(d) == KernelOracle.extract(d) &&
        SpanTokenizer.extract(d, SpanTokenizer.pass2) ==
          KernelOracle.extract(d, SpanTokenizer.pass2)
    })
  }

  test("one-pass kernel equals the staged kernel span by span, every kind") {
    val kind = Gen.oneOf(SpanKind.Html, SpanKind.PdfText, SpanKind.TableRaw, SpanKind.Media,
      SpanKind.Edi, SpanKind.Docx, SpanKind.Sheet, SpanKind.Dicom, "garbage", null)
    val single = for { k <- kind; t <- text(fragment) } yield Doc("d", Seq(Span(k, t, "", 0)))
    check(minSuccessful = 2000, prop = Prop.forAll(single) { d =>
      SpanTokenizer.extract(d) == KernelOracle.extract(d)
    })
  }

  test("linear HTML scanner equals the regex formulation (both configs)") {
    val html = Gen.resize(40, Gen.listOf(htmlFragment)).map(_.mkString)
    check(minSuccessful = 1500, prop = Prop.forAll(html) { h =>
      Boilerplate.mainContent(h) == KernelOracle.mainContent(h) &&
        Boilerplate.mainContent(h, SpanTokenizer.pass2.boilerplate) ==
          KernelOracle.mainContent(h, SpanTokenizer.pass2.boilerplate)
    })
  }

  test("one-pass kernel equals the staged kernel on DocGen docs") {
    (0L until 3000L).foreach { i =>
      val d = DocGen.syntheticDoc(i)
      assert(SpanTokenizer.extract(d) == KernelOracle.extract(d), d.doc_id)
    }
  }

  test("token-array minhash/simhash fast paths are bit-identical to the string-shingle forms") {
    check(Prop.forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumStr, Gen.asciiPrintableStr)).map(_.mkString(" "))) { text =>
      val toks = Strings.splitWs(if (text == null) "" else text.toLowerCase)
      val fast = Hashing.minhashFromTokens(toks, 3, 64).toSeq
      val slow = Hashing.minhashSignature(TextAnalysis.shingles(text, 3).toSet, 64).toSeq
      val fastSim = Hashing.simhashFromTokens(toks)
      val slowSim = Hashing.simhash64(TextAnalysis.shingles(text, 1))
      fast == slow && fastSim == slowSim
    })
  }
}
