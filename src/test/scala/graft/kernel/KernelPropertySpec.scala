package graft.kernel

import scala.collection.mutable.ListBuffer

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property hardening of the pure kernel (SURVEY.md §5.3): arbitrary
  * unicode input must never throw; spans must be valid offsets into the
  * cleaned text; cleanup must be idempotent; chunkers must respect bounds.
  *
  * Uses raw ScalaCheck generators with a fixed seed (the scalatest-plus
  * bridge isn't in the offline cache) — 200 deterministic samples per
  * property.
  */
class KernelPropertySpec extends AnyFunSuite {

  // mixes plain words, OCR-confusable tokens, pattern-shaped fragments,
  // control chars, unicode, long runs
  private val fragment: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.oneOf("rn", "cl", "0", "O", "l", "1", "S", "5", "nao", "dr", "sr"),
    Gen.oneOf("123.456.789-09", "11.222.333/0001-81", "01/02/2023", "25:99",
      "x@y.zw", "R$ 1.500,00", "http://a.b", "(11) 98765-4321"),
    Gen.oneOf(" ", "", "​", " ", "ação", "ÀÉÎÕÜ", "日本語", "🙂"),
    Gen.listOfN(5, Gen.oneOf("\n", "\n\n", "\t", " ", "  ")).map(_.mkString),
    Gen.const("a" * 600))

  private val textGen: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, fragment)).map(_.mkString(" "))

  private def samples(n: Int): Seq[String] = {
    var seed = Seed(42L)
    (1 to n).map { _ =>
      val s = textGen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      s
    }
  }

  private val corpus = samples(200)

  /** `re.findall` on the generic engine: every `find()`, as
    * [[Py.findallItem]]. The oracle of the kernel's anchored scans.
    */
  private def findAll(p: java.util.regex.Pattern, s: String): List[String] = {
    val m = p.matcher(s)
    val out = ListBuffer.empty[String]
    while (m.find()) out += Py.findallItem(m)
    out.toList
  }

  test("kernel never throws; output metrics are consistent") {
    val kernel = new TextKernel
    corpus.foreach { text =>
      val res = kernel.processSafe(text)
      res.foreach { r =>
        // kernel lengths are python len() = code points, not UTF-16 units
        assert(r.metrics.originalLength == text.codePointCount(0, text.length))
        assert(r.metrics.processedLength == r.text.codePointCount(0, r.text.length))
        assert(r.metrics.confidenceImprovement >= 0.0 &&
          r.metrics.confidenceImprovement <= 0.30 + 1e-12)
      }
    }
  }

  test("repeated cleanup matches the reference's (non-idempotent) behavior exactly") {
    // The REFERENCE pipeline is itself not idempotent: abbreviation
    // expansion + punctuation spacing regrow a trailing " ." each pass
    // (verified by executing text_processor.py on this input). We reproduce
    // that behavior bit-for-bit rather than "fixing" it (SURVEY.md §7.4).
    val kernel = new TextKernel
    val t0 = "  \n \n  \n\t   0 ação ​ 1 123.456.789-09 dr \n"
    val t1 = kernel.processSafe(t0).get.text
    assert(t1 == "o ação 1 123. 456. 789-09 dr.")
    val t2 = kernel.processSafe(t1).get.text
    assert(t2 == "o ação 1 123. 456. 789-09 dr. .")
    val t3 = kernel.processSafe(t2).get.text
    assert(t3 == "o ação 1 123. 456. 789-09 dr. . .")
  }

  // Python's `\s` and `str.isspace`; Java's `\s` under
  // UNICODE_CHARACTER_CLASS lacks U+001C-U+001F
  private val pyWs = """[\s\x1C-\x1F]"""

  // short random strings over whitespace, punctuation, quotes, parens and
  // control/format characters — where the whitespace stages' rules live
  private val wsSamples: Seq[String] = {
    val alphabet = "ab.,;:!?\"() \t\n\u0001\u000B\r\u001C\u001F\u0085\u00A0\u2003\u200B\u2028"
    val rnd = new scala.util.Random(7)
    (0 until 20000).map(_ => Seq.fill(rnd.nextInt(13))(alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  test("cleanText matches the verbatim filter and sub chain") {
    // the reference's body: category-C filter by code point (keep \n \t),
    // then the four subs and the strip, patterns verbatim
    val pWs = Py.compile(pyWs + "+")
    val pMultiBreak = Py.compile("\n" + pyWs + "*\n")
    val pMidWordBreak = Py.compile("""([a-z])\n([a-z])""")
    def ref(t0: String): String = {
      val kept = t0.codePoints().toArray.filter { cp =>
        val t = Character.getType(cp)
        cp == '\n' || cp == '\t' ||
        !(t == Character.CONTROL || t == Character.FORMAT || t == Character.SURROGATE ||
          t == Character.PRIVATE_USE || t == Character.UNASSIGNED)
      }
      var text = new String(kept, 0, kept.length)
      text = Py.subLiteral(pWs, " ", text)
      text = Py.strip(text)
      text = Py.subLiteral(pMultiBreak, "\n\n", text)
      Py.sub(pMidWordBreak, """\1 \2""", text)
    }
    // isPySpace is exactly the references' whitespace class
    val ws = Py.compile(pyWs)
    (0 to 0xFFFF).foreach { c =>
      assert(Py.isPySpace(c.toChar) == ws.matcher(c.toChar.toString).matches(),
        f"isPySpace diverged at U+$c%04X")
    }
    val kernel = new TextKernel
    val edges = Seq(
      "", " ", "a\u0001b", "a\u007Fb", "ab cd", "a \u0001 b", "a\u0001 \u0001b",
      "\u0001 a", "a \u0001", "a\n\nb", "a\nb", "a \n \n b", "\ta\t", "a\r\nb",
      "a\u000B\u000Cb", "a\u001Cb", "a\u0085b", "a\u00A0\u2003b", "a\u200Bb",
      "a\u2028b", "a\u2029\u2029b", "\uD800", "a\uDC00b", "\uDC00\uD800", "🙂 🙂",
      "a \uD83D b", "\uE000x", "\u0378", "ação  日本語")
    (edges ++ wsSamples ++ corpus).foreach { t =>
      val got = kernel.cleanText(t)
      assert(got == ref(t), s"cleanText diverged on: ${t.take(80)}")
      assert(kernel.cleanText(got) eq got, s"clean input was copied: ${got.take(80)}")
    }
    assert(kernel.cleanText("a\u0001b") == "ab")
    assert(kernel.cleanText("a\u007Fb") == "ab")
    assert(kernel.cleanText("ab cd") == "ab cd")
  }

  test("formatText matches the verbatim sub chain") {
    // the reference's body with every sub unconditional, patterns verbatim
    val pWs = Py.compile(pyWs + "+")
    val pSpaceBeforePunct = Py.compile(pyWs + "+([.,;:!?])")
    val pPunctSpace = Py.compile("([.,;:!?])" + pyWs + "*")
    val pSpaceQuote = Py.compile(pyWs + "+\"")
    val pQuoteSpace = Py.compile("\"" + pyWs + "+")
    val pSpaceOpenParen = Py.compile(pyWs + "+\\(")
    val pOpenParenSpace = Py.compile("\\(" + pyWs + "+")
    val pSpaceCloseParen = Py.compile(pyWs + "+\\)")
    val pCloseParenSpace = Py.compile("\\)" + pyWs + "+")
    val pTripleBreak = Py.compile("\n" + pyWs + "*\n" + pyWs + "*\n")
    def ref(t0: String): String = {
      var text = t0
      text = Py.sub(pSpaceBeforePunct, """\1""", text)
      text = Py.sub(pPunctSpace, Seq(Py.Grp(1), Py.Lit(" ")), text)
      text = Py.subLiteral(pSpaceQuote, " \"", text)
      text = Py.subLiteral(pQuoteSpace, "\" ", text)
      text = Py.subLiteral(pSpaceOpenParen, " (", text)
      text = Py.subLiteral(pOpenParenSpace, "(", text)
      text = Py.subLiteral(pSpaceCloseParen, ")", text)
      text = Py.subLiteral(pCloseParenSpace, ") ", text)
      text = Py.subLiteral(pWs, " ", text)
      text = Py.subLiteral(pTripleBreak, "\n\n", text)
      Py.strip(text)
    }
    val kernel = new TextKernel
    val edges = Seq(
      "", ".", ". ", "a.", "a. ", "a.b", "a. b", "a.  b", "a .b", "a . b",
      "a.\nb", "a..", "a.. b", "a,;x", "a, b. c! d? e: f; g.",
      "end with quote. \"", "(a. b)", "( a.b )", "\"a\" . b", "a...",
      "x.  ", "x. .", "tab.\tb", "nbsp.\u00A0b", "a.b. c.d.", "á. ç.",
      "12:34", "12:34:56", "123.456.789-09", "a . . b", "a \t. b",
      ". . ", "a.\t\n.b", ",;:!?.", " , ; ", "R$ 1.500,00", "x:  :y",
      "( )", "()", "(.)", "( . )", ".(", ") (", "a ( b ) c", "\" \"", "a\"b",
      // triple breaks: the reference's last sub runs after the collapse
      "a\n\n\nb", "a\n \n\t\nb", "\n\n\n", "a.\n\n\n(b)",
      // U+001C-U+001F: whitespace to Python, not to Java's \s
      "a\u001C.", "(\u001Fa\u001E)", "x\u001D\"y")
    val cleaned = corpus.map(kernel.cleanText)
    (edges ++ wsSamples ++ corpus ++ cleaned).foreach { t =>
      val got = kernel.formatText(t)
      assert(got == ref(t), s"formatText diverged on: ${t.take(80)}")
      assert(kernel.formatText(got) eq got, s"formatted input was copied: ${got.take(80)}")
    }
  }

  /** The reference's `_correct_confused_characters` loop (text_processor.py:
    * 332-365) verbatim on the regex engine, table copied from the kernel:
    * per single-char pair, findall of the probe over the current text, then
    * one whole-text replace per match; per multi-char pair, one replace
    * counted on the replaced text.
    */
  private def confusedLoop(t0: String): (String, Int) = {
    import java.util.regex.Pattern
    val table = Seq(
      "rn" -> "m", "cl" -> "d", "li" -> "h", "nn" -> "n", "oo" -> "o",
      "ii" -> "i",
      "0" -> "o", "O" -> "0", "l" -> "1", "I" -> "1", "S" -> "5", "G" -> "6",
      "B" -> "8", "g" -> "9",
      "voce" -> "você", "nao" -> "não", "estao" -> "estão", "entao" -> "então",
      "coracao" -> "coração", "posicao" -> "posição",
      "informacao" -> "informação", "atencao" -> "atenção",
      "funcao" -> "função", "decisao" -> "decisão", "opcao" -> "opção",
      "situacao" -> "situação", "condicao" -> "condição")
    var text = t0
    var corrections = 0
    table.foreach { case (wrong, correct) =>
      if (wrong.length == 1 && correct.length == 1) {
        val (w, c) = (wrong.charAt(0), correct.charAt(0))
        val (probe, keep) =
          if (Character.isDigit(w) && Character.isLetter(c))
            ("""\b\w*""" + Pattern.quote(wrong) + """\w*\b""", (m: String) => !Py.isDigitStr(m))
          else if (Character.isLetter(w) && Character.isDigit(c))
            ("""\b\d*""" + Pattern.quote(wrong) + """\d*\b""", (m: String) => !Py.isAlphaStr(m))
          else (null, null)
        if (probe != null) findAll(Py.compile(probe), text).foreach { m =>
          if (keep(m)) {
            text = text.replace(m, m.replace(wrong, correct))
            corrections += 1
          }
        }
      } else if (text.contains(wrong)) {
        text = text.replace(wrong, correct)
        corrections += Py.count(text, correct) - Py.count(text, wrong)
      }
    }
    (text, corrections)
  }

  // short random texts over the probes' chars, their targets, digits,
  // word joiners and separators: where the replays interact
  private def randomTexts(alphabet: IndexedSeq[String], n: Int, maxLen: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => Seq.fill(1 + rnd.nextInt(maxLen))(alphabet(rnd.nextInt(alphabet.length))).mkString)
  }

  test("confusion-probe token scanners match the verbatim reference regexes") {
    // the stage's one walk against the reference loop on its own regex
    // probes: same text, same count, including nested and overlapping
    // tokens, repeated matches and matches that recur after a replace
    val kernel = new TextKernel
    assert(kernel.probePremise, "a probe moves a run boundary or writes a later probe's char")
    val adversarial = Seq(
      "", "0", "l", "5l5", "l5l", "ll", "0l0", "a0b 00 x_0 _0_",
      "5O5O", "O", "xO1", "1O", "O1", "a O b", "1 l 2", "l.l,l",
      "v0ce c0m 1nf0", "tel: 4002-8922 l1nha", "٣l٤ ٠0٠",   // Arabic-Indic digits
      "él0 combining", "a‍0 zwj a‌0 zwnj",   // marks + join controls
      "𝔞0𝔟 astral", "𝟘l astral-digit", "ǅ0 titlecase",
      "_0_ __ l_1", "über0 açã0 ação", "日本語0 漢l字",
      "0̀ grave-on-digit", "a-0-b a.0.b (0) [l5]",
      "trailing0", "0leading", "many 0s 0 0 0 dup dup0 dup0",
      // a match that holds an earlier one, and chains of duplicates
      "o0 o0 o00", "x10 x100 ax10 x1000 x10", "o00 o0 o0", "0o0 o0o0 o0",
      "1O 1O1O", "1O1O 1O", "5l 5l5l 55l", "l1 1l l1l1", "g9 9g 9g9g 99g",
      "0O O0 0O0O", "rn0 rn 0rn", "voce0 v0ce", "0g 0l 0O 0S 0B 0G 0I",
      "x10 " * 3 + "x100 " * 2)
    val random = randomTexts(
      Vector("0", "o", "O", "l", "1", "I", "S", "5", "G", "6", "B", "8", "g", "9",
        "a", "x", "_", " ", " ", ".", "٣", "\uD835\uDFD8", "\u0301"), 20000, 10, 3)
    val generated = (0 until 300).map(t => graft.pipeline.TranscriptGen.turnText(5L, t))
    val distinct = (1 to 2000).map(i => s"x${i}0").mkString(" ")
    (adversarial ++ random ++ corpus ++ generated :+ distinct).foreach { t =>
      assert(kernel.correctConfusedCharacters(t) == confusedLoop(t),
        s"confusion stage diverged on: ${t.take(80)}")
    }
    assert(kernel.correctConfusedCharacters("o0 o0 o00") == ("oo oo ooo", 3))
  }

  test("digit-anchored findAll matches the generic engine on the table patterns") {
    // the verbatim digit-opening patterns from the table
    // (text_processor.py:167-231) — anchored driving, which also tries the
    // '(' before each run (harmless for the six patterns that cannot open
    // with one), must yield the exact same match list as the plain scan
    val table = Seq(
      """\b\d{3}\.?\d{3}\.?\d{3}-?\d{2}\b""",
      """\b\d{2}\.?\d{3}\.?\d{3}/?\d{4}-?\d{2}\b""",
      """\b\d{5}-?\d{3}\b""",
      """\b\(?\d{2}\)?\s?\d{4,5}-?\d{4}\b""",
      """\b\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4}\b""",
      """\b\d{1,2}:\d{2}(:\d{2})?\b""",
      """\b\d{7}-?\d{2}\.\d{4}\.\d{1}\.\d{2}\.\d{4}\b""").map(Py.compile)
    val kernel = new TextKernel
    // U+1D7D8 MATHEMATICAL DOUBLE-STRUCK DIGIT ZERO: an astral Nd digit
    val z = new String(Character.toChars(0x1D7D8))
    val adversarial = Seq(
      "", "123.456.789-09", "x123.456.789-09y", "123456789012345678901234",
      "(11) 98765-4321", "a(11)98765-4321", " (11 98765-4321", "((11) 91234-5678",
      "01/02/2023 25:99 12:34:56 12:34:56:78", "11.222.333/0001-81",
      "12345-678 1234567-89.0123.4.56.7890", "a1b2c3 9999",
      "٣٤٥ ١٢:٣٤ unicode digits", "1٢3 mixed-digit run",
      "00000000000", "000.000.000-00", "end digits 123", "123 start digits",
      "dots.1.2.3.4.5 colons:1:2:3", "(((((((", "()()() (1) (12)3456-7890",
      "12:34", "1:23", ":123:", "x:12:34:x",
      z * 5 + "-" + z * 3, "12345-678 " + z * 5 + "-" + z * 3,
      "(" + z * 2 + ") " + z * 5 + "-" + z * 4, "1" + z + "2" + z + "3" + z)
    // each pattern's lead digits, and none for a lead that may be empty
    assert(table.map(p => TextKernel.leadDigits(p.pattern)) == Seq(3, 2, 5, 2, 1, 1, 7))
    assert(Seq("""\b\d*1""", """\b\d?1""", """\b\d{0,2}1""", """\d{3}""", """\b\w\d""", """\b\d\d""")
      .map(TextKernel.leadDigits) == Seq(0, 0, 0, 0, 0, 1))
    val random = randomTexts(
      Vector("1", "12", "123", "12345", "1234567", "(", ")", " ", "-", ".", "/", ":", "a", "_", "é",
        "\u0301", "٣", z), 20000, 12, 31)
    (adversarial ++ random ++ corpus).foreach { t =>
      val index = DigitIndex(t)
      table.foreach { p =>
        assert(kernel.findAllDigitAnchored(p, index, TextKernel.leadDigits(p.pattern)) == findAll(p, t),
          s"anchored findAll diverged for ${p.pattern} on: ${t.take(80)}")
        assert(kernel.findAllDigitAnchored(p, index, 0) == findAll(p, t),
          s"unfiltered anchored findAll diverged for ${p.pattern} on: ${t.take(80)}")
      }
    }
    // the stage's own feasibility counts see astral digits too: the cep
    // regex finds one match in the first text and two in the second
    val cep = table(2)
    Seq(z * 5 + "-" + z * 3, "12345-678 " + z * 5 + "-" + z * 3).foreach { t =>
      val found = kernel.detectAndFormatPatterns(t)._2.get("cep").map(_.toList)
      assert(found.contains(findAll(cep, t)), s"cep diverged on: $t")
    }
  }

  /** The reference's `_detect_and_format_patterns` loop (text_processor.py:
    * 405-436) verbatim on the regex engine, table copied from the kernel:
    * per pattern, findall over the current text, then per valid match its
    * formatted form, and one whole-text replace of the match by the form.
    */
  private def patternLoop(t0: String): (String, Seq[(String, Seq[String])]) = {
    type Fmt = Option[(String, String)]
    val table: Seq[(String, String, Fmt, Option[String => Boolean])] = Seq(
      ("cpf", """\b\d{3}\.?\d{3}\.?\d{3}-?\d{2}\b""",
        Some("""(\d{3})\.?(\d{3})\.?(\d{3})-?(\d{2})""" -> """\1.\2.\3-\4"""), Some(Validators.cpf)),
      ("cnpj", """\b\d{2}\.?\d{3}\.?\d{3}/?\d{4}-?\d{2}\b""",
        Some("""(\d{2})\.?(\d{3})\.?(\d{3})/(\d{4})-?(\d{2})""" -> """\1.\2.\3/\4-\5"""), Some(Validators.cnpj)),
      ("cep", """\b\d{5}-?\d{3}\b""", Some("""(\d{5})-?(\d{3})""" -> """\1-\2"""), None),
      ("phone", """\b\(?\d{2}\)?\s?\d{4,5}-?\d{4}\b""",
        Some("""\(?(\d{2})\)?\s?(\d{4,5})-?(\d{4})""" -> """(\1) \2-\3"""), None),
      ("date", """\b\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4}\b""",
        Some("""(\d{1,2})[\/\-\.](\d{1,2})[\/\-\.](\d{2,4})""" -> """\1/\2/\3"""), Some(Validators.date)),
      ("time", """\b\d{1,2}:\d{2}(:\d{2})?\b""",
        Some("""(\d{1,2}):(\d{2})(:\d{2})?""" -> """\1:\2\3"""), Some(Validators.time)),
      ("currency", """R\$\s?\d{1,3}(?:\.\d{3})*(?:,\d{2})?""",
        Some("""R\$\s?(\d{1,3}(?:\.\d{3})*)(?:,(\d{2}))?""" -> """R$ \1,\2"""), None),
      ("email", """\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b""", None, Some(Validators.email)),
      ("url", """https?://[^\s<>"{}|\\^`\[\]]+""", None, None),
      ("processo_judicial", """\b\d{7}-?\d{2}\.\d{4}\.\d{1}\.\d{2}\.\d{4}\b""",
        Some("""(\d{7})-?(\d{2})\.(\d{4})\.(\d{1})\.(\d{2})\.(\d{4})""" -> """\1-\2.\3.\4.\5.\6"""), None))
    var text = t0
    val found = ListBuffer.empty[(String, Seq[String])]
    table.foreach { case (name, regex, fmt, validator) =>
      val matches = findAll(Py.compile(regex), text)
      if (matches.nonEmpty) {
        val bucket = ListBuffer.empty[String]
        matches.foreach { m =>
          if (validator.forall(_(m))) fmt match {
            case Some((fp, tpl)) =>
              val formatted = Py.sub(Py.compile(fp), tpl, m)
              text = text.replace(m, formatted)
              bucket += formatted
            case None => bucket += m
          }
        }
        found += name -> bucket.toList
      }
    }
    (text, found.toList)
  }

  private def patternStage(kernel: TextKernel, t: String): (String, Seq[(String, Seq[String])]) = {
    val (text, found) = kernel.detectAndFormatPatterns(t)
    (text, found.toList.map { case (k, v) => k -> v.toList })
  }

  test("pattern stage matches the verbatim replace loop") {
    // 52998224725 and 11222333000181 pass the check-digit validators
    val kernel = new TextKernel
    val adversarial = Seq(
      "", "cep 12345678 cep 12345678 12345-678", "12345678 9912345678 123456789",
      "cpf 52998224725 e 529.982.247-25 e 529982247-25 e 52998224725",
      "11.222.333/0001-81 11222333/000181 11222333000181",
      // phone's form holds its match: repeats grow the text
      "tel (11) 99999-9999 " * 5, "11) 99999-9999 11)99999-9999 (11)99999-9999",
      "11 99999-9999 11999999999 (11) 99999-9999 11 999999999",
      "x 11) 99999-9999 x 11)99999-9999 11) 99999-9999",
      // currency's form adds a comma that a repeat then finds again
      "R$1.000 R$ 1.000 R$1.000,00 R$ 5 R$5,00 R$ 1.000", "R$ 1.000 " * 4,
      "R$1.000.000,00R$1.000", "R$ 123.456.789",
      "01-02-2023 1.2.2023 01/02/23 1-2-2023 01-02-2023",
      "1234567-89.2023.8.26.0100 123456789.2023.8.26.0100 123456789.2023.8.26.0100",
      "12:34 12:34:56 25:99", "a.b%c+d@x.com e+f@y.org", "mail a@b.cd http://x.y/z",
      "٣٤٥٦٧٨٩٠ ١٢٣٤٥٦٧٨", "(" * 5 + "11) 99999-9999",
      // occurrences of one match that overlap: the leftmost wins
      "cep 11111111 e 1111111111111111 e 111111111", "12121212 121212121212121212",
      "11 1111-1111 111111111111111111111", "R$ 1.000 R$ 1.000.000.000")
    val random = randomTexts(
      Vector("1", "12", "123", "1234", "12345", "99999", "9999", "11", "529", "982",
        "247", "25", "0001", "81", "2023", "01", "02", "52998224725", "12345678",
        ".", "-", "/", "(", ")", " ", " ", ":", "R$", "R$ ", ",", "00", "@", "a",
        "b.cd", "x", "cep ", "tel ", "\u00A0", "٣"), 20000, 12, 5)
    val generated = (0 until 300).map(t => graft.pipeline.TranscriptGen.turnText(9L, t))
    val distinctCeps = (0 until 2000).map(i => s"cep ${10000000 + i}").mkString(" ")
    (adversarial ++ random ++ corpus ++ generated :+ distinctCeps).foreach { t =>
      assert(patternStage(kernel, t) == patternLoop(t), s"pattern stage diverged on: ${t.take(80)}")
    }
    assert(kernel.detectAndFormatPatterns("tel (11) 99999-9999 " * 3)._1 ==
      "tel ((((11) 99999-9999 " * 3)
  }

  test("pattern replay returns the digit index of the text it builds") {
    // each formatted table pattern's replaces on the pattern stage's test
    // texts, replayed from the input's index: the text is the verbatim
    // replace loop's, and the index is a fresh walk's
    val formatted = Seq(
      """\b\d{3}\.?\d{3}\.?\d{3}-?\d{2}\b""" -> ("""(\d{3})\.?(\d{3})\.?(\d{3})-?(\d{2})""", """\1.\2.\3-\4"""),
      """\b\d{2}\.?\d{3}\.?\d{3}/?\d{4}-?\d{2}\b""" ->
        ("""(\d{2})\.?(\d{3})\.?(\d{3})/(\d{4})-?(\d{2})""", """\1.\2.\3/\4-\5"""),
      """\b\d{5}-?\d{3}\b""" -> ("""(\d{5})-?(\d{3})""", """\1-\2"""),
      """\b\(?\d{2}\)?\s?\d{4,5}-?\d{4}\b""" -> ("""\(?(\d{2})\)?\s?(\d{4,5})-?(\d{4})""", """(\1) \2-\3"""),
      """\b\d{1,2}[\/\-\.]\d{1,2}[\/\-\.]\d{2,4}\b""" ->
        ("""(\d{1,2})[\/\-\.](\d{1,2})[\/\-\.](\d{2,4})""", """\1/\2/\3"""),
      """R\$\s?\d{1,3}(?:\.\d{3})*(?:,\d{2})?""" -> ("""R\$\s?(\d{1,3}(?:\.\d{3})*)(?:,(\d{2}))?""", """R$ \1,\2"""))
      .map { case (p, (f, t)) => (Py.compile(p), Py.compile(f), t) }
    val z = new String(Character.toChars(0x1D7D8))
    val adversarial = Seq(
      "cep 12345678 cep 12345678 12345-678", "tel (11) 99999-9999 " * 5,
      "11) 99999-9999 11)99999-9999 (11)99999-9999", "R$1.000 R$ 1.000 R$1.000,00 R$ 5 R$5,00 R$ 1.000",
      "01-02-2023 1.2.2023 01/02/23", "cep 11111111 e 1111111111111111 e 111111111",
      "12345678" + z + "12345678", z * 5 + "-" + z * 3 + " " + z * 8, "1" * 8, "12345678")
    val random = randomTexts(
      Vector("1", "12", "123", "1234", "12345", "99999", "11", "2023", "01", ".", "-", "/", "(", ")", " ",
        "R$", ",", "a", "\u00A0", z), 20000, 12, 23)
    val generated = (0 until 300).map(t => graft.pipeline.TranscriptGen.turnText(23L, t))
    def same(a: DigitIndex, b: DigitIndex): Boolean =
      a.text == b.text && a.digits.sameElements(b.digits) && a.at.sameElements(b.at) &&
        a.runStarts.sameElements(b.runStarts) && a.maxRun == b.maxRun
    var replayed = 0
    (adversarial ++ random ++ corpus ++ generated).foreach { t =>
      formatted.foreach { case (p, fp, tpl) =>
        val edits = findAll(p, t).map(m => m -> Py.sub(fp, tpl, m)).filter { case (m, f) => m != f }
        if (edits.nonEmpty) {
          val got = new FormatReplay(DigitIndex(t), edits, Long.MaxValue).result
          val want = edits.foldLeft(t) { case (text, (m, f)) => text.replace(m, f) }
          assert(got.text == want, s"replay of ${p.pattern} diverged on: ${t.take(80)}")
          assert(same(got, DigitIndex(got.text)), s"replay index of ${p.pattern} diverged on: ${t.take(80)}")
          replayed += 1
        }
      }
    }
    assert(replayed > 5000)
  }

  test("e-mail probe matches the generic engine") {
    val kernel = new TextKernel
    val email = Py.compile("""\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b""")
    val adversarial = Seq(
      "", "@", "a@b.cd", "a.b%c+d-e_f@x.y.com", ".a@b.cd", "%a@b.cd", "-a@b.cd",
      "_a@b.cd", "ça@b.cd", "é.a@b.cd", "a\u0301@b.cd", "日本a@b.cd", "𝔞a@b.cd",
      "a@b@c.de", "a@b.cd@e.fg", "x.@y.zz", "a@b.c", "a@b.c1", "a@-.cd",
      "a@b.cd.ef gh@ij.kl", "a@b.cdé", "a@b.c|d", "a@b.|d", "..@a.bc",
      "a@@b.cd", "a @b.cd", "a.@b.cd.", "1@2.34", "+@a.bc", "a+@b.cd%",
      ("a." * 200) + "@b.cd", ("a." * 200) + "x", "a@" * 50 + "b.cd")
    val random = randomTexts(
      Vector("a", "Z", "9", ".", "_", "%", "+", "-", "@", " ", "ç", "cd", "|", "\u0301"), 20000, 14, 7)
    (adversarial ++ random ++ corpus).foreach { t =>
      assert(kernel.findAllEmails(email, t) == findAll(email, t), s"e-mail probe diverged on: $t")
    }
  }

  /** `(start, end, group 1 or the match)` of each match a cursor finds. */
  private def matchList(c: Cursor): List[(Int, Int, String)] = {
    val out = ListBuffer.empty[(Int, Int, String)]
    while (c.find()) out += ((c.m.start(), c.m.end(), c.m.group(math.min(1, c.m.groupCount))))
    out.toList
  }

  /** [[matchList]] of the generic `find()` loop. */
  private def findList(p: java.util.regex.Pattern, t: String): List[(Int, Int, String)] = {
    val m = p.matcher(t)
    val out = ListBuffer.empty[(Int, Int, String)]
    while (m.find()) out += ((m.start(), m.end(), m.group(math.min(1, m.groupCount))))
    out.toList
  }

  test("Business Card e-mail field probe matches the generic find loop") {
    val src = """([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,})"""
    val email = java.util.regex.Pattern.compile(src, Py.IFLAGS | java.util.regex.Pattern.MULTILINE)
    assert(SpanTemplates.businessCard.fields.exists(_.name == "email"))
    assert(FieldExtractor.atSignAnchored(email))
    assert(!FieldExtractor.atSignAnchored(java.util.regex.Pattern.compile(src)), "case-sensitive")
    assert(!FieldExtractor.atSignAnchored(
      java.util.regex.Pattern.compile(src + """\1""", Py.IFLAGS)), "back-reference")
    // the probe's class test is the engine's, on every code point
    val cls = java.util.regex.Pattern.compile("[a-zA-Z0-9._%+-]", Py.IFLAGS)
    (0 to Character.MAX_CODE_POINT).foreach { cp =>
      val s = new String(Character.toChars(cp))
      val isLocal = s.length == 1 && FieldExtractor.localChar(s.charAt(0))
      assert(isLocal == cls.matcher(s).matches(), f"class test diverged at U+$cp%04X")
    }
    def generic(t: String) = findList(email, t)
    def probed(t: String) = matchList(new AtSignProbe(email, t))
    // ſ, K (U+212A), ı and İ fold to ASCII letters, so they are local
    // chars under IFLAGS; Å and é are not
    val adversarial = Seq(
      "", "@", "a@b.cd", "a.b%c+d-e_f@x.y.com", "ſ@b.cd", "aK@b.cd", "K@K.KK",
      "ı@b.cd", "İ@b.cd", "xKſ@ſ.ſſ", "é@b.cd", "éa@b.cd", "Å@b.cd", "日本a@b.cd",
      "𝔞a@b.cd", "a@b@c.de", "a@b.cd@e.fg", "a@b.cd.ef gh@ij.kl", "a@b.c", "a@-.cd",
      "a@@b.cd", "a @b.cd", "+@a.bc", "a@b.cd%e@f.gh", "a@b.cdx@y.zz", "ab@c.d1x@y.zz",
      ("a." * 200) + "@b.cd", ("a" * 300) + "x", "a@" * 50 + "b.cd", "Ka@b.CD\nk@b.cd")
    val random = randomTexts(
      Vector("a", "Z", "9", ".", "%", "+", "-", "@", " ", "\n", "é", "ſ", "K", "ı", "cd", "@b.cd"),
      20000, 14, 11)
    (adversarial ++ random ++ corpus).foreach { t =>
      assert(probed(t) == generic(t), s"e-mail field probe diverged on: $t")
    }
  }

  test("currency and URL literal-start scans match the generic engine") {
    val kernel = new TextKernel
    val currency = Py.compile("""R\$\s?\d{1,3}(?:\.\d{3})*(?:,\d{2})?""")
    val url = Py.compile("""https?://[^\s<>"{}|\\^`\[\]]+""")
    val z = new String(Character.toChars(0x1D7D8)) // an astral Nd digit
    val adversarial = Seq(
      "", "R$", "R$ ", "R$1", "R$ 1", "R$1.000", "R$ 1.000,00", "R$1.000.000,00R$1.000",
      "R$R$1", "R$R$ 1", "R$ R$ 1,00", "RR$1", "R$$1", "r$1", "R$\u00A01", "R$\t1",
      "R$1,0", "R$1.00", "R$12.345.6", "R$" + z, "R$ ٣٤", "R$1" * 50, "R$ " * 50 + "1",
      "http", "http:", "http://", "http://a", "https://a.b/c?d=e", "httphttp://x",
      "hhttp://x", "http://x http://y", "http://x\"y", "http://x<y>z", "http://a|b",
      "http://é", "HTTP://x", "http://" + z, "https://http://x", "http://x" * 20,
      "ver http://x.com/e\u0301 e http://x.com/e\u0301z fim")
    val random = randomTexts(
      Vector("R$", "R", "$", " ", "1", "12", "123", ".", ",", "00", "000", "http", "s", "://",
        "x", "/", "<", "\"", "\u00A0", "٣", z), 20000, 12, 13)
    val generated = (0 until 300).map(t => graft.pipeline.TranscriptGen.turnText(13L, t))
    (adversarial ++ random ++ corpus ++ generated).foreach { t =>
      assert(kernel.findAllAtLiteral(currency, t, "R$") == findAll(currency, t), s"currency scan diverged on: $t")
      assert(kernel.findAllAtLiteral(url, t, "http") == findAll(url, t), s"URL scan diverged on: $t")
    }
    // the table runs the same patterns the same way
    val (_, found) = kernel.detectAndFormatPatterns("pago R$1.000 em http://x.y/z")
    assert(found("currency").toList == List("R$ 1.000,") && found("url").toList == List("http://x.y/z"))
  }

  // texts where the fold anomalies meet the field literals: İ lowers to
  // two chars, ı and ſ stay non-ASCII but fold to i and s, K (U+212A)
  // lowers to k
  private val foldTexts = Seq(
    "CNPJ 11.222.333/0001-81", "cnpj: 11222333000181", "Cnpj:11.222.333/0001-81 cnpj 1",
    "cnpj\u212A 11.222.333/0001-81", "\u212Acnpj 11222333000181", "total: R$ 12,00",
    "TOTAL R$ 1.500,00 total 3", "valor total: 99", "VALOR\tTOTAL:R$5", "data de emissão: 01/02/2023",
    "DATA DE EMISSAO 1-2-23", "emitida em 01/02/2023", "número: 123", "NÚMERO 42", "nf: 77",
    "NF:1 nf 2", "nota fiscal: 5", "pago: R$ 3", "PAGO 4,50", "ıtotal 1", "nota fıscal 3",
    "ſnf 1", "nf ſ 1", "İ cnpj 11.222.333/0001-81", "total İ 12", "n\u0307umero 1", "")

  test("field literal probes match the generic find loop") {
    // every ASCII letter's case-insensitive matches lower to it, but for
    // the three chars the guard sends to the generic scan
    ('a' to 'z').foreach { l =>
      val ci = java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(l.toString), Py.IFLAGS)
      (0 to 0xFFFF).foreach { c =>
        val s = c.toChar.toString
        if (ci.matcher(s).matches())
          assert(Py.lower(s) == l.toString || "\u0130\u0131\u017F".contains(c.toChar),
            f"U+$c%04X matches '$l' but lowers to ${Py.lower(s)}")
      }
    }
    val anchored = SpanTemplates.all.flatMap(_.fields).flatMap(_.scans).filter(_.anchor._1.nonEmpty)
    assert(anchored.map(_.anchor._1).distinct.sorted ==
      Seq("cnpj", "data", "emitida", "n", "nf", "nota", "pago", "total", "valor"))
    val random = randomTexts(
      Vector("cnpj", "CNPJ", "total", "TOTAL", "nf", "NF", "n", "número", "numero", "valor", "data de emissão",
        "emitida em", "nota fiscal", "pago", " ", ":", "R$", "$", "1", "11.222.333/0001-81", "01/02/2023",
        "12,00", "\n", "\u212A", "\u0130", "\u0131", "\u017F", "ú", "\uD835\uDFD8"), 20000, 10, 17)
    val kernel = new TextKernel
    val generated = (0 until 300).map(t => kernel.process(graft.pipeline.TranscriptGen.turnText(17L, t)).text)
    var probed = 0
    (foldTexts ++ random ++ corpus ++ generated).foreach { t =>
      val lw = SpanTemplates.guarded(t, Py.lower(t))
      if (lw == null) assert(Seq('\u0130', '\u0131', '\u017F').exists(c => t.indexOf(c) >= 0), t)
      else probed += 1
      anchored.foreach { scan =>
        assert(matchList(scan.cursor(t, lw)) == findList(scan.pattern, t),
          s"literal probe of ${scan.pattern.pattern} diverged on: ${t.take(80)}")
      }
    }
    assert(probed > 10000)
    // literals that recur inside a match, and a literal later in one
    // branch than in the other
    val synthetic = Seq("""ab\w*""", """fone\w*|telefone""", """a\.b[\w.]*""")
      .map(p => new Scan(java.util.regex.Pattern.compile(p, Py.IFLAGS | java.util.regex.Pattern.MULTILINE)))
    assert(synthetic.map(_.anchor) == Seq(("ab", 0), ("fone", 4), ("a.b", 0)))
    randomTexts(Vector("ab", "a", "b", "fone", "tele", ".", " ", "\n", "x", "A", "B"), 20000, 10, 29).foreach { t =>
      val lw = SpanTemplates.guarded(t, Py.lower(t))
      synthetic.foreach { scan =>
        assert(matchList(scan.cursor(t, lw)) == findList(scan.pattern, t),
          s"literal probe of ${scan.pattern.pattern} diverged on: $t")
      }
    }
  }

  test("Business Card company probe matches the generic find loop") {
    val company = SpanTemplates.businessCard.fields.find(_.name == "company").get.scans.head
    val sr = SuffixRuns.of(company.pattern).get
    assert(sr.suffixes.toSeq == Seq("ltda", "s.a.", "inc", "corp"))
    // the probe's classes are the engine's, on every code point: astral
    // code points are in neither
    val start = java.util.regex.Pattern.compile("[A-Z]", company.pattern.flags)
    val run = java.util.regex.Pattern.compile("""[a-zA-Z\s&]""", company.pattern.flags)
    (0 to Character.MAX_CODE_POINT).foreach { cp =>
      val s = new String(Character.toChars(cp))
      val one = s.length == 1
      assert((one && sr.starts(s.charAt(0))) == start.matcher(s).matches(), f"start class diverged at U+$cp%04X")
      assert((one && sr.inRun(s.charAt(0))) == run.matcher(s).matches(), f"run class diverged at U+$cp%04X")
    }
    assert(SuffixRuns.of(java.util.regex.Pattern.compile("""([A-Z][a-z]+(?:Ltda|S\.A\.)\.?)""", Py.IFLAGS)).isDefined)
    assert(SuffixRuns.of(java.util.regex.Pattern.compile("""([a-z\s][A-Z]+(?:Ltda)\.?)""", Py.IFLAGS)).isEmpty,
      "a start outside the run class")
    assert(SuffixRuns.of(java.util.regex.Pattern.compile("""([A-Z][a-z]+(?:Lt+da)\.?)""", Py.IFLAGS)).isEmpty,
      "a suffix that is not a literal")
    val adversarial = Seq(
      "", "Acme Ltda", "ACME LTDA.", "acme s.a.", "Acme S.A.. x", "Acme S.A.Ltda Beta Inc",
      "Inc", "Inc Inc", "A Inc", "AInc", "A.Inc", "x Inc", "& Inc", " Inc", "1 Acme Corp 2 Beta Corp.",
      "Acme Inc e Beta Ltda e Gama S.A.", "Acme S.A", "Acme S. A.", "S.A.", "AS.A.", "A S.A.",
      "Ltda Ltda Ltda", "LtdaLtda", "inc." * 30, "a " * 300 + "Inc", "a " * 300, "Inc " * 100,
      "Acme\nLtda", "Acme\u00A0Ltda", "Acme\u2028Corp", "Ação Ltda", "Açme Ltda", "日本 Inc",
      "\u212Acme Corp", "Acme \u212Aorp", "\u212A Inc", "\u0130nc Acme Inc", "Acme \u0131nc", "\u017F.a. Acme S.A.",
      "Acme \u017F.A.", "Ab Corp" + "\uD835\uDD1E" + "Cd Inc", "x@y.com Acme Ltda (11) 98765-4321")
    val random = randomTexts(
      Vector("A", "a", "Z", " ", "&", ".", "Ltda", "ltda", "S.A.", "s.a", "Inc", "INC", "Corp", "corp",
        "\n", "1", "ç", "\u212A", "\u0130", "\u0131", "\u017F", "\u00A0", "\uD835\uDD1E"), 30000, 12, 19)
    val kernel = new TextKernel
    val generated = (0 until 300).map(t => kernel.process(graft.pipeline.TranscriptGen.turnText(19L, t)).text)
    var probed = 0
    (adversarial ++ random ++ corpus ++ generated).foreach { t =>
      val lw = SpanTemplates.guarded(t, Py.lower(t))
      if (lw != null) {
        probed += 1
        assert(matchList(new SuffixRunProbe(company.pattern, t, lw, sr)) == findList(company.pattern, t),
          s"company probe diverged on: ${t.take(80)}")
      }
      assert(matchList(company.cursor(t, lw)) == findList(company.pattern, t), s"company scan diverged on: ${t.take(80)}")
    }
    assert(probed > 10000)
  }

  test("a turn past the output limit becomes one amplification row") {
    import graft.schema.Turn
    val kernel = new TextKernel
    // 80k chars; without the limit the pattern stage grows it to 16.1M
    val text = "tel (11) 99999-9999 " * 4000
    val t0 = System.nanoTime()
    val row = graft.pipeline.ExtractionJob.processTurn(kernel, Turn("c", 0, "user", text, "ocr", null))
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(!row.success && row.error_message.contains("amplification"))
    assert(row.original_length == text.length && row.text_clean.isEmpty)
    assert(seconds < 2.0, f"the amplified turn took $seconds%.1f s")
    // the abbreviation stage's own growth (`R$` → `R.$` re-expanded)
    intercept[TextKernel.Amplification](kernel.process("R$ 1.000,00 " * 3000))
    // within the limit nothing changes
    val ok = "tel (11) 99999-9999 " * 20
    assert(kernel.process(ok).text.length <= TextKernel.outputLimit(ok.length))
    assert(graft.pipeline.ExtractionJob.processTurn(kernel, Turn("c", 0, "user", ok, "ocr", null)).success)
  }

  /** The reference's `_correct_abbreviations` loop (text_processor.py:
    * 438-459) verbatim on the regex engine, table copied from the kernel:
    * per key, findall(\bKEY\b, re.I) over the current text, then one
    * whole-text sub(\bm\b) per match.
    */
  private def abbreviationLoop(t0: String): (String, Int) = {
    import java.util.regex.Pattern
    val table = Seq(
      "dr" -> "Dr.", "dra" -> "Dra.", "sr" -> "Sr.", "sra" -> "Sra.",
      "ltda" -> "Ltda.", "sa" -> "S.A.", "cia" -> "Cia.", "prof" -> "Prof.",
      "profa" -> "Profa.", "av" -> "Av.", "r" -> "R.", "al" -> "Al.",
      "tv" -> "Tv.", "pca" -> "Pça.", "est" -> "Est.", "rod" -> "Rod.",
      "km" -> "Km.", "n" -> "Nº", "art" -> "Art.", "inc" -> "Inc.",
      "par" -> "Par.", "cf" -> "Cf.", "fl" -> "Fl.", "fls" -> "Fls.",
      "p" -> "P.", "pp" -> "Pp.", "obs" -> "Obs.", "ref" -> "Ref.",
      "anexo" -> "Anexo", "apendice" -> "Apêndice")
    var text = t0
    var corrections = 0
    table.foreach { case (key, fullForm) =>
      findAll(Py.compileI("""\b""" + Pattern.quote(key) + """\b"""), text).foreach { m =>
        val repl =
          if (Py.isUpperStr(m)) Py.upper(fullForm)
          else if (Py.isTitleStr(m)) fullForm
          else Py.lower(fullForm)
        text = Py.subLiteral(Py.compile("""\b""" + Pattern.quote(m) + """\b"""), repl, text)
        corrections += 1
      }
    }
    (text, corrections)
  }

  test("abbreviation stage and bounded replace match the verbatim loop") {
    import java.util.regex.Pattern
    val kernel = new TextKernel
    val adversarial = Seq(
      "", "dr", "dr.", "Dr. Silva", "DR", "dR", "a_dr", "dr_a", "pedro",
      "adr dra drax", "dr dr dr", "o sr. e a sra.", "km 42 KM KKm",
      "ſr ſa", "İnc ınc inc", "n Nº nº", "ǅr", "ſr ınc İnc",
      "dR dr Dr DR dr", "r R r. R.", "p pp P PP p", "\u212Am \u212AM km",
      "r. r, r; R", "p.p pp p_p", "av av. AV Av", "ação dr ação",
      "日本語 dr 漢字", "a‍dr zwj-run", "combining dr̃ tilde",
      "𝔡r astral", "_r r_ _r_", "x.r.y", "(r) [r] {r}",
      "apendice Apendice APENDICE anexo sa S.A. pca Pça",
      "R$ 1.000,00 " * 250)
    // stages 1-4 first, as process() feeds this stage, and generator turns
    val staged = corpus.map { t =>
      val s2 = kernel.correctConfusedCharacters(kernel.cleanText(t))._1
      kernel.detectAndFormatPatterns(kernel.correctSpelling(s2)._1)._1
    }
    val generated = (0 until 200).map(t => graft.pipeline.TranscriptGen.turnText(7L, t))
    val texts = adversarial ++ corpus ++ staged ++ generated
    // the stage gives the loop's text, or throws when that text is past
    // the output limit of its input (`"R$ 1.000,00 " × 250`: each `R`
    // gains one '.' per match of `r`, 65k chars from 3k)
    var amplified = 0
    texts.foreach { t =>
      val want = abbreviationLoop(t)
      if (want._1.length > TextKernel.outputLimit(t.length)) {
        intercept[TextKernel.Amplification](kernel.correctAbbreviations(t))
        amplified += 1
      } else
        assert(kernel.correctAbbreviations(t) == want, s"abbreviation stage diverged on: ${t.take(80)}")
    }
    assert(amplified == 1)
    // bounded replace vs the verbatim case-sensitive \bm\b subLiteral
    val ms = Seq("dr", "Dr", "DR", "r", "Km", "KKm", "anexo", "Nº")
    texts.foreach { t =>
      ms.foreach { m =>
        val rx = Py.compile("""\b""" + Pattern.quote(m) + """\b""")
        assert(kernel.replaceWordBounded(t, m, "X.") == Py.subLiteral(rx, "X.", t),
          s"bounded replace diverged for '$m' on: ${t.take(80)}")
      }
    }
  }

  test("abbreviation stage on a 1.5M-char turn finishes within a generous bound") {
    // 16,000 generator turns joined by newlines; the per-match whole-text
    // rewrite this stage used to do took minutes on such a turn
    val sb = new java.lang.StringBuilder
    (0 until 16000).foreach { t =>
      if (t > 0) sb.append('\n')
      sb.append(graft.pipeline.TranscriptGen.turnText(7L, t))
    }
    val text = sb.toString
    assert(text.length > 1000000)
    val kernel = new TextKernel
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // each of its thousands of `r`, `dr`, `sr`… runs gains one '.' per
    // match of its key, so the loop's text grows with the square of the
    // matches, past the output limit: the stage stops before building it
    val (_, stopped) = timed(intercept[TextKernel.Amplification](kernel.correctAbbreviations(text)))
    assert(stopped < 5.0, f"correctAbbreviations took $stopped%.1f s on ${text.length} chars")
    // as many matches of keys whose expansions do not match again
    val plain = "n sa pca apendice anexo palavra " * (text.length / 32)
    val ((out, corrections), seconds) = timed(kernel.correctAbbreviations(plain))
    assert(corrections == 5 * (text.length / 32) && out.length > plain.length)
    assert(out.startsWith("nº s.a. pça. apêndice anexo palavra nº"))
    assert(seconds < 5.0, f"correctAbbreviations took $seconds%.1f s on ${plain.length} chars")
  }

  test("correctSpelling matches the split-join reference") {
    // the original stage body (text_processor.py:367-384 semantics, the
    // correction table verbatim) — ground truth for the one-walk stage
    val table = Seq(
      "rn" -> "m", "cl" -> "d", "li" -> "h", "nn" -> "n", "oo" -> "o",
      "ii" -> "i",
      "0" -> "o", "O" -> "0", "l" -> "1", "I" -> "1", "S" -> "5", "G" -> "6",
      "B" -> "8", "g" -> "9",
      "voce" -> "você", "nao" -> "não", "estao" -> "estão", "entao" -> "então",
      "coracao" -> "coração", "posicao" -> "posição",
      "informacao" -> "informação", "atencao" -> "atenção",
      "funcao" -> "função", "decisao" -> "decisão", "opcao" -> "opção",
      "situacao" -> "situação", "condicao" -> "condição")
    val tableMap = table.toMap
    val pNonWord = Py.compile("""[^\w]""")
    val kernel = new TextKernel
    def ref(text: String): (String, Int) = {
      var corrections = 0
      val words = Py.splitWs(text)
      var i = 0
      while (i < words.length) {
        val word = words(i)
        val cleanWord = Py.subLiteral(pNonWord, "", Py.lower(word))
        tableMap.get(cleanWord).foreach { corr =>
          val corrected = kernel.preserveWordFormat(word, corr)
          if (corrected != word) { words(i) = corrected; corrections += 1 }
        }
        i += 1
      }
      (words.mkString(" "), corrections)
    }
    val adversarial = Seq(
      "", " ", "voce", "Voce", "VOCE", "voce.", "(voce)", "v_oce", "nao nao",
      "  double  space", "tab\there", "trailing ", " leading", "não ação",
      "İ voce", "ſ nao", "voce nao", "l 0 O I S G B g", "l. (0)",
      "informacao", "informacaoo", "…voce…", "🙂voce", "a_b c-d e.f",
      "rn cl li nn oo ii", "RN Cl lI", "x\nvoce", "٣ voce", "ǅvoce",
      "K km", "\u212A km", "\u212Akm", "İi İI ii", "voce \u212A", "0̀ combining-on-digit", "word " * 30,
      // fold anomalies mid-turn after ASCII words: K (U+212A) and İ lower
      // to ASCII (the only two code points that do), ſ stays non-ASCII;
      // Ⓝ (U+24C3, So) and Ⅰ (U+2160, Nl) are cased non-ASCII chars outside
      // the letters, Σ lowers by context; ¹ is a caseless non-word char.
      // Java's tables hold no cased non-word char: every code point whose
      // toLowerCase differs is a `\w` char.
      "texto simples aqui \u212Al nao", "texto simples aqui İi voce",
      "texto simples aqui ſ nao ſl", "texto simples \u212Aoo Lİ",
      "texto simples Ⓝao \u24C3 voce", "texto simples Ⅰ li Ⅰl",
      "texto ΣΣ nao Σ", "texto ¹nao naoª voce¹",
      // whitespace runs right after a corrected word
      "nao\t\tvoce", "Voce\u00A0\u00A0nao", "nao\u2028\u2028x", "x nao\t",
      "NAO \u00A0\t\u2028 Voce\u2029", "\u00A0nao")
    // key words deep inside long generator turns, through cleanText and
    // the confusion stage as process() feeds this stage
    val long = (0 until 3).map { c =>
      val sb = new java.lang.StringBuilder
      var t = 0
      while (sb.length < 34000) {
        if (t > 0) sb.append('\n')
        sb.append(graft.pipeline.TranscriptGen.turnText(c.toLong, t))
        if (t % 40 == 17) sb.append(" Voce nao (informacao) CL. rn, OO")
        t += 1
      }
      kernel.correctConfusedCharacters(kernel.cleanText(sb.toString))._1
    }
    assert(long.forall(t => t.length >= 30000 && ref(t)._2 > 0))
    (adversarial ++ corpus ++ long).foreach { t =>
      val got = kernel.correctSpelling(t)
      assert(got == ref(t), s"correctSpelling diverged on: ${t.take(80)}")
      // a turn the stage leaves as it is comes back as the same instance
      if (got._1 == t) assert(got._1 eq t, s"unchanged turn was copied: ${t.take(80)}")
    }
    val clean = "texto limpo sem nenhuma chave"
    assert(kernel.correctSpelling(clean)._1 eq clean)
  }

  test("Py.isUWordCp equals the engine's \\w over the BMP and sampled astral planes") {
    import java.util.regex.Pattern
    val w = Pattern.compile("""\w""", Pattern.UNICODE_CHARACTER_CLASS)
    def engineW(cp: Int): Boolean =
      w.matcher(new String(Character.toChars(cp))).matches()
    // full BMP sweep (surrogate code points can't be expressed as a
    // standalone string, skip them), then a sampled astral sweep covering
    // the math-alphanumeric, CJK-B, and emoji blocks
    (0 to 0xFFFF).foreach { cp =>
      if (!Character.isSurrogate(cp.toChar))
        assert(Py.isUWordCp(cp) == engineW(cp), f"isUWordCp diverged at U+$cp%04X")
    }
    (Seq(0x10000, 0x1D400, 0x1D7CE, 0x1F600, 0x20000, 0x2F800) ++
      (0x10000 to 0x2FFFF by 257)).foreach { cp =>
      assert(Py.isUWordCp(cp) == engineW(cp), f"isUWordCp diverged at U+$cp%04X")
    }
  }

  test("Py.isUWordCp's Latin-1 table equals its formula") {
    (0 until 256).foreach { cp =>
      assert(Py.uWordLatin1(cp) == Py.uWordFormula(cp), f"Latin-1 table diverged at U+$cp%04X")
    }
    assert(Py.isUWordCp('ç') && Py.isUWordCp('ª') && Py.isUWordCp('µ') && !Py.isUWordCp('×') && !Py.isUWordCp('\u00A0'))
  }

  test("identify's literal prefilter is a sound necessary condition") {
    // the parser derives the expected anchors for the inventory's shapes
    assert(SpanTemplates.anchorCI("""nota\s+fiscal""") == ("nota", 0))
    assert(SpanTemplates.anchorCI("""@\w+\.\w+""") == ("@", 0))
    assert(SpanTemplates.anchorCI("""\(\d{2}\)\s*\d{4,5}\-?\d{4}""") == ("(", 0))
    assert(SpanTemplates.anchorCI("""cel\.|celular""") == ("cel", 0))
    assert(SpanTemplates.anchorCI("""fone|telefone""") == ("fone", 4))
    assert(SpanTemplates.anchorCI("""ab?c""") == ("a", 0))
    assert(SpanTemplates.anchorCI("""ab+c""") == ("ab", 0))
    assert(SpanTemplates.anchorCI("""\w+x""") == ("", 0))
    assert(SpanTemplates.anchorCI("""(a|b)c""") == ("", 0))
    assert(SpanTemplates.anchorCI("""a\.?b""") == ("a", 0))
    assert(SpanTemplates.anchorCI("""ab{0,2}c""") == ("a", 0))
    assert(SpanTemplates.anchorCI("""ab{2}c""") == ("ab", 0))
    // the literal prefix both parsers share: unescaped, and where it ends
    assert(SpanTemplates.literalPrefix("""S\.A\.""") == ("S.A.", 6))
    assert(SpanTemplates.literalPrefix("""ab\dc""") == ("ab", 2))
    assert(SpanTemplates.literalPrefix("""a\-b+""") == ("a-b", 4))
    assert(SpanTemplates.literalPrefix("") == ("", 0))
    // every built-in identification pattern must yield a non-empty anchor
    // (the anchoring's whole point — a pattern edit that defeats the
    // parser silently reverts that template to scanning every position)
    SpanTemplates.all.foreach { t =>
      assert(t.scans.forall(_.anchor._1.nonEmpty),
        s"template ${t.name} has a pattern with no derivable anchor: " +
          t.scans.map(_.anchor).mkString("[", ", ", "]"))
    }
    // anchored and unanchored matching agree on pattern-bearing text in
    // assorted cases, on the property corpus, and on the fold-guard chars
    val bearing = Seq(
      "Nota Fiscal no 123", "NOTA   FISCAL", "emitiu nfe ontem", "NFE",
      "CNPJ 11.222.333/0001-81", "valor total R$ 12,00", "VALOR\tTOTAL",
      "fatura vence", "FATURA", "mail a@b.cd ok", "tel (11) 98765-4321",
      "cel. 99999", "CELULAR novo", "fone 3222", "TELEFONE fixo",
      "cupom fiscal 77", "CUPOM FISCAL", "recibo anexo", "COMPROVANTE",
      "total pago hoje", "TOTAL PAGO", "fıscal dotless", "ſtotal long-s",
      "İstanbul nota fiscal", "",
      // anchors at the text's edges and overlapping themselves
      "fone", "telefone", "xtelefone", "lefone", "efone", "telefonefone",
      "cel", "cel.", "celula", "a@b", "@x.y", "(11)98765-4321", "((11) 9876-4321",
      // case folds: K (U+212A) lowers to k, İ (U+0130) lowers to two chars
      "TELEFONE \u212A", "\u212A telefone İ", "İ CELULAR", "nota fiscal \u212A",
      "İİ fone İ", "CUPOM\u00A0FISCAL", "Total\u2003Pago", "valor\ntotal")
    assert(SpanTemplates.businessCard.matchesDocument("telefone", "telefone") == 0.25)
    // a literal that sits later in one branch than in another
    val later = new SpanTemplate("later", Seq("""telefone|fonex""", """\d\d|x\d"""), Seq.empty)
    assert(later.scans.map(_.anchor).toSeq == Seq(("fone", 4), ("", 0)))
    Seq("telefone", "TELEFONE", "xtelefone fonex", "fonex", "tele fone").foreach { text =>
      assert(later.matchesDocument(text, Py.lower(text)) == later.matchesDocument(text, null), text)
    }
    assert(later.matchesDocument("telefone", "telefone") == 0.5)
    (bearing ++ corpus).foreach { text =>
      SpanTemplates.all.foreach { t =>
        val lowered = Py.lower(text)
        val lw =
          if (lowered.length == text.length &&
            lowered.indexOf('ı') < 0 && lowered.indexOf('ſ') < 0) lowered
          else null
        assert(t.matchesDocument(text, lw) == t.matchesDocument(text, null),
          s"prefilter changed ${t.name} on: $text")
      }
    }
  }

  test("spans are valid offsets and raw matches slice the text") {
    val kernel = new TextKernel
    corpus.foreach { text =>
      val cleaned = kernel.processSafe(text).map(_.text).getOrElse("")
      SpanTemplates.identify(cleaned).toSeq.flatMap(_.extractFields(cleaned)).foreach { f =>
        assert(f.start >= 0 && f.start <= f.end && f.end <= cleaned.length,
          s"span out of range: $f in len=${cleaned.length}")
        assert(cleaned.substring(f.start, f.end) == f.raw,
          s"raw mismatch: '${cleaned.substring(f.start, f.end)}' vs '${f.raw}'")
      }
    }
  }

  test("chunkers never exceed bounds and lose no words") {
    corpus.foreach { text =>
      val idx = Chunker.index(text, maxLength = 64)
      assert(idx.flatMap(Py.splitWs(_)).toSeq == Py.splitWs(text).toSeq)
      idx.foreach { c =>
        assert(c.length <= 64 || !c.contains(" "),
          s"multi-word chunk over bound: ${c.length}")
      }
      // semantic variant loses no NEW words either (overlap duplicates ok)
      val sem = Chunker.semantic(text, chunkSize = 64, overlapWords = 4)
      val semWords = sem.flatMap(Py.splitWs(_)).toSet
      assert(Py.splitWs(text).toSet.subsetOf(semWords) || Py.strip(text).length < 10)
    }
  }

  test("abbreviation prefilter safety: no expansion creates a later abbreviation") {
    assert(new TextKernel().abbreviationPrefilterSafe,
      "an expansion holds a word whose fold is a later key: the abbreviation " +
        "stage's one walk over its input would miss that key's new matches")
  }

  test("Py case predicates follow CPython: titlecase chars are cased but not upper") {
    // ǅ (U+01C5) is Lt: "ǅ".isupper() is False in Python, "ǅa".istitle() True
    assert(!Py.isUpperStr("ǅ"))
    assert(!Py.isUpperStr("ABǅ"))
    assert(Py.isUpperStr("AB"))
    assert(Py.isUpperStr("A1 B"))
    assert(!Py.isUpperStr("1 2"))      // no cased char
    assert(Py.isTitleStr("ǅa"))   // titlecase leads a title word
    assert(!Py.isTitleStr("aǅ"))  // upper/title after cased breaks title
  }

  test("empty input: process throws the reference's ZeroDivisionError analog; processSafe -> None") {
    val kernel = new TextKernel
    intercept[ArithmeticException](kernel.process(""))
    assert(kernel.processSafe("").isEmpty)
    assert(kernel.processSafe(null).isEmpty)
  }

  test("DocType.classify degrades null to the generic family (kernel null convention)") {
    assert(DocType.classify(null) == DocType.Generic)
    assert(DocType.classify("") == DocType.Generic)
  }

  test("DocType.classify's family scores match the verbatim patterns") {
    val verbatim = DocType.families.map { case (name, srcs) => name -> srcs.map(Py.compile) }
    def ref(lowered: String): Seq[(String, Int)] =
      verbatim.map { case (name, ps) => name -> ps.count(_.matcher(lowered).find()) }
    // every pattern's segments, split and recombined across line
    // terminators (Java's `.` stops at \n, \r, U+0085, U+2028, U+2029)
    val words = DocType.families.flatMap(_._2).flatMap(_.split("""\.\*""")).map {
      case "n[uú]mero" => "número"
      case """\d+""" => "42"
      case w => w
    }.distinct :+ "numero"
    val seps = Seq(" ", "", "x", "\n", "\r", "\r\n", "\u0085", "\u2028", "\u2029", " 7 ")
    val rnd = new scala.util.Random(11)
    val texts = (0 until 3000).map { _ =>
      Seq.fill(1 + rnd.nextInt(7))(
        words(rnd.nextInt(words.length)) + seps(rnd.nextInt(seps.length))).mkString
    } ++ Seq("processo\r\nnúmero", "processo número", "oab\u2028 1", "oab x 1",
      "quadro\ngeral credores", "quadro geral\u0085credores", "quadro credores geral",
      "garantiareal", "valor crédito\nvalor", "vara cível tribunal justiça",
      "oab x\n1", "oab \uD835\uDFD8", "oab \u0663", "processo\u2029número", "processo\rnúmero\n",
      "quadro geral\r\ncredores quadro geral credores", "processo " * 50 + "\nnúmero processo x número")
    // kernel outputs joined by "\n\n", as the conversation assembly does
    val kernel = new TextKernel
    val assembled = (0 until 20).map { c =>
      (0 until 30).map(t => kernel.process(graft.pipeline.TranscriptGen.turnText(c.toLong, t)).text)
        .mkString("\n\n")
    }
    (texts ++ assembled ++ corpus).foreach { t =>
      val lowered = Py.lower(t)
      assert(DocType.scores(lowered) == ref(lowered), s"DocType scores diverged on: $t")
    }
  }

  test("DocType.classify is linear on a recurring first segment with no second") {
    // the verbatim `processo.*n[uú]mero` retried `.*` to the end of the
    // line from every "processo": 70 s on this input on a 4-vCPU VM
    // and lines holding each chained pattern's segments, first
    // alternatives only, last segment first (`numero processo`): every
    // line starts a search for the rest that only a later line answers,
    // and a class's other alternatives (`número`) never occur, so neither
    // may be searched for again from every line
    val reversed = DocType.families.flatMap(_._2).filter(_.contains(".*")).flatMap { src =>
      val line = src.split("""\.\*""").reverse.map(_.replace("""\d+""", "1")
        .replaceAll("""\[(.)[^\]]*\]""", "$1")).mkString(" ")
      Seq(line + "\n", line + "\n\n", line + "\r\n")
    }
    assert(reversed.contains("numero processo\n\n"))
    def seconds(text: String): Double = {
      val t0 = System.nanoTime()
      assert(DocType.classify(text) == DocType.Generic)
      (System.nanoTime() - t0) / 1e9
    }
    (Seq("processo ", "tribunal ") ++ reversed).foreach { w =>
      seconds(w * 3200) // warm-up
      val small = seconds(w * 3200)
      val big = seconds(w * 32000)
      // 10× the lines: linear is 10× the time, quadratic 100×
      assert(big < 1.0 && big <= 30 * math.max(small, 1e-3),
        f"classify took $small%.3f s on 3,200 and $big%.3f s on 32,000 of '$w'")
    }
  }

  test("sections/row-extractors never throw and produce well-formed output") {
    corpus.foreach { text =>
      Sections.split(text).foreach(s => assert(s.name.nonEmpty))
      Sections.historyEvents(text).foreach { e =>
        assert(e.data.nonEmpty && e.descricao.nonEmpty)
      }
      Sections.pedidos(text).foreach(p => assert(p.length > 10))
      Sections.creditorRows(text).foreach(r => assert(r.item.nonEmpty))
    }
  }
}
