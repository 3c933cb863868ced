package graft.kernel

import java.util.regex.Pattern

import scala.collection.mutable.ListBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.ExtractionJob
import graft.schema.Turn

/** Time against input size, the way UDFBench (PAPERS.md) measures opaque
  * row functions: the kernel's known adversarial shapes, and every regex
  * `ExtractionJob.processTurn` reaches on a long input built from the
  * pattern's own literals. A superlinear row cannot be split by any
  * partitioning, so each must stay linear in its turn.
  */
class KernelScalingSpec extends AnyFunSuite {

  /** Best wall time of `reps` runs of `f`, in seconds, after one warm-up. */
  private def seconds(reps: Int)(f: => Any): Double = {
    f
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }.min
  }

  /** `unit(0) + unit(1) + …` up to at least `chars` chars. */
  private def build(chars: Int)(unit: Int => String): String = {
    val sb = new java.lang.StringBuilder
    var i = 0
    while (sb.length < chars) { sb.append(unit(i)); i += 1 }
    sb.toString
  }

  private def turn(text: String) = Turn("c", 0, "user", text, "ocr", null)

  // 10× the input may cost at most this many times as much; linear is 10,
  // quadratic 100. Below the floor a time is noise, not a trend.
  private val MaxStepRatio = 30.0
  private val FloorSeconds = 0.02

  private def linear(times: Seq[Double]): Boolean =
    times.sliding(2).forall { case Seq(a, b) => b < FloorSeconds || b <= MaxStepRatio * math.max(a, 1e-4) }

  test("the adversarial shapes scale linearly from 1k to 10k to 100k chars") {
    // distinct `x<i>0` tokens: one whole-text replace per token in the
    // confusion stage (117k chars took 617 ms); distinct unformatted CEPs:
    // one whole-text replace per CEP in the pattern stage (208k: 2.39 s)
    val shapes = Seq[(String, Int => String)](
      "distinct x<i>0 tokens" -> (i => s"x${i}0 "),
      "distinct unformatted CEPs" -> (i => s"cep ${10000000 + i} "))
    shapes.foreach { case (name, unit) =>
      val times = Seq(1000, 10000, 100000).map { n =>
        val text = build(n)(unit)
        seconds(3)(ExtractionJob.processTurn(kernel, turn(text)))
      }
      info(f"$name: ${times.map(t => f"${t * 1e3}%.1f ms").mkString(" / ")} at 1k / 10k / 100k chars")
      assert(linear(times), s"$name is superlinear: $times")
      assert(times.last < 2.0, s"$name took ${times.last} s at 100k chars")
    }
  }

  /** Every `Pattern` held by the objects `processTurn` runs, found by
    * walking their fields, so a new pattern joins the inventory unasked.
    */
  private def reachablePatterns(roots: Seq[AnyRef]): Seq[Pattern] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    val out = ListBuffer.empty[Pattern]
    def visit(o: Any): Unit = o match {
      case p: Pattern => if (seen.add(p)) out += p
      case _: String =>
      case it: Iterable[_] => if (seen.add(it)) it.foreach(visit)
      case a: Array[AnyRef] => if (seen.add(a)) a.foreach(visit)
      case p: Product if !p.getClass.getName.startsWith("graft.") => p.productIterator.foreach(visit)
      case r: AnyRef if r.getClass.getName.startsWith("graft.") && seen.add(r) =>
        var c: Class[_] = r.getClass
        while (c != null && c != classOf[Object]) {
          c.getDeclaredFields.foreach { f =>
            if (!f.getType.isPrimitive) {
              f.setAccessible(true)
              visit(f.get(r))
            }
          }
          c = c.getSuperclass
        }
      case _ =>
    }
    roots.foreach(visit)
    out.toSeq
  }

  /** A string shaped like a match of `src`, built from its literals: each
    * literal as itself, `\d` as 1, `\w` and `.` as a, `\s` as a space, a
    * class as its first member, an atom under `{m,…}` m times, the first
    * branch of an alternation. The inventory leaves out its last char, the
    * closing literal, so the engine tries and fails everywhere.
    */
  private def shapeOf(src: String): String = {
    val out = new StringBuilder
    var last = ""
    var i = 0
    def emit(s: String): Unit = { out ++= s; last = s }
    def skipBranches(): Unit = { // from a '|' to the end of its group
      var depth = 0
      while (i < src.length && !(depth == 0 && src.charAt(i) == ')')) {
        src.charAt(i) match {
          case '\\' => i += 1
          case '(' => depth += 1
          case ')' => depth -= 1
          case _ =>
        }
        i += 1
      }
    }
    while (i < src.length) {
      val c = src.charAt(i)
      c match {
        case '\\' =>
          val e = src.charAt(i + 1)
          i += 2
          e match {
            case 'd' => emit("1")
            case 'w' => emit("a")
            case 's' => emit(" ")
            case 'b' | 'B' | 'A' | 'z' | 'Z' | 'G' => last = ""
            case other => emit(other.toString)
          }
        case '[' =>
          // a class ends at the first unescaped ']' after its first member
          var close = i + 1
          if (src.charAt(close) == '^') close += 1
          close += 1
          while (src.charAt(close) != ']') close += (if (src.charAt(close) == '\\') 2 else 1)
          val body = src.substring(i + 1, close)
          emit(
            if (body.startsWith("^")) "a"
            else if (body.startsWith("\\d")) "1"
            else if (body.startsWith("\\s")) " "
            else if (body.startsWith("\\w")) "a"
            else if (body.startsWith("\\")) body.charAt(1).toString
            else body.charAt(0).toString)
          i = close + 1
        case '(' =>
          i += 1
          if (i < src.length && src.charAt(i) == '?') i += 2
        case ')' => i += 1
        case '|' => skipBranches(); if (i >= src.length) i = src.length
        case '.' => emit("a"); i += 1
        case '^' | '$' => i += 1
        case '?' | '*' | '+' => i += 1
        case '{' =>
          val close = src.indexOf('}', i)
          val m = src.substring(i + 1, close).takeWhile(_.isDigit)
          if (m.nonEmpty) (1 until m.toInt).foreach(_ => out ++= last)
          i = close + 1
        case other => emit(other.toString); i += 1
      }
    }
    out.toString
  }

  // Patterns known to be superlinear, by source, with what shows it (best
  // of 2 on a 4-vCPU VM). They are left out of the pairwise check below.
  private val knownSuperlinear: Map[String, String] = Map.empty

  private val kernel = new TextKernel
  // each template pattern's scan, by pattern
  private val templateScans: Map[Pattern, Scan] =
    SpanTemplates.all.flatMap(t => t.scans ++ t.fields.flatMap(_.scans)).map(s => s.pattern -> s).toMap

  /** `p`'s scan as the program runs it: a table pattern through the
    * pattern stage's own scan, a template pattern through its [[Scan]] over
    * the text's guarded lowered copy, any other through `find()`.
    */
  private def scan(p: Pattern, text: String): Unit =
    kernel.patternTable.find(_.regex eq p) match {
      case Some(cfg) => cfg.matches(DigitIndex(text))
      case None => templateScans.get(p) match {
        case Some(s) =>
          val c = s.cursor(text, SpanTemplates.guarded(text, Py.lower(text)))
          while (c.find()) ()
        case None =>
          val m = p.matcher(text)
          while (m.find()) ()
      }
    }

  test("every pattern processTurn reaches is linear on an input built from its literals") {
    val patterns = reachablePatterns(Seq(kernel, Validators, SpanTemplates))
    assert(patterns.size >= 40, s"only ${patterns.size} patterns found")
    // one long input per pattern: its shape without the closing literal;
    // and one word as long as the input
    val units = (patterns.map { p =>
      val shape = shapeOf(p.pattern)
      (if (shape.length > 1) shape.dropRight(1) else shape) + " "
    } :+ "a").distinct
    val failures = ListBuffer.empty[String]
    // processTurn on each input: the kernel stages, identify, doctype and
    // the identified template's fields
    units.foreach { unit =>
      val times = Seq(1000, 10000, 100000).map { n =>
        val text = build(n)(_ => unit)
        seconds(1)(ExtractionJob.processTurn(kernel, turn(text)))
      }
      if (!linear(times) || times.last > 1.0) failures += s"processTurn on '${unit.trim}': $times"
    }
    // every pattern's own scan (`scan`) on every input: a template's field
    // extractors run on the whole turn once a short header identifies it
    val scanned = patterns.distinctBy(p => (p.pattern, p.flags))
    scanned.filterNot(p => knownSuperlinear.contains(p.pattern)).foreach { p =>
      units.foreach { unit =>
        val times = Seq(1000, 10000).map { n =>
          val text = build(n)(_ => unit)
          seconds(1)(scan(p, text))
        }
        if (!linear(times)) failures += s"${p.pattern} on '${unit.trim}': $times"
      }
    }
    info(s"${patterns.size} patterns (${scanned.size} distinct), ${units.size} inputs")
    assert(failures.isEmpty, failures.mkString("superlinear:\n", "\n", ""))
  }
}
