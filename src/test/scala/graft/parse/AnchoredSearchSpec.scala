package graft.parse

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

/** `CompiledRule.firstMatch` tries only the candidate starts its pattern's
  * head allows, anchored; it must return exactly the match of the verbatim
  * `pattern.matcher(text).find()` — same start, end and group — for every
  * shipped rule, on strings built from the rules' trigger words, the
  * email run's class chars, Unicode whitespace and case-fold hazards.
  */
object AnchoredSearchSpec extends Properties("anchored-rule-search") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(3000)

  private val rules: Seq[RulesEngine.CompiledRule] =
    RulesEngine.GlobalCompiled ++
      RulesEngine.compile(SignatureTable.Default.flatMap(_.overrideRules))

  private val triggers = Seq("invoice", "inv", "bill", "number", "no.", "#",
    "total", "amount", "sum", "due", "vendor", "company", "from", "GSTIN",
    "PO", "P.O.", "Reply-To", ":", "$", "12/31/2024", "555-123-4567",
    "27AAPFU0939F1ZV", "a.b@c.io", "x@y", "@", ".", "..", "-", "_", "%", "+")

  // Kelvin sign (folds to k), long s (folds to s), dotted capital I and
  // dotless i (fold to i), a surrogate pair and a lone low surrogate
  private val hazards = Seq("\u212A", "\u017F", "\u0130", "\u0131",
    "\uD83D\uDE00", 0xDE00.toChar.toString)

  private val spaces = Seq(" ", "\n", "\t", "\u0085", "\u2028", "\u00A0", "")

  private def mixCase(w: String): Gen[String] =
    Gen.listOfN(w.length, Gen.prob(0.5)).map { ups =>
      w.zip(ups).map { case (c, up) => if (up) c.toUpper else c.toLower }.mkString
    }

  /** A trigger word with one char swapped for a char that folds to it. */
  private def folded(w: String): Gen[String] = {
    val swaps = Map('i' -> Seq("\u0130", "\u0131"), 's' -> Seq("\u017F"))
    val at = w.indices.filter(i => swaps.contains(w(i).toLower))
    if (at.isEmpty) Gen.const(w)
    else for {
      i <- Gen.oneOf(at)
      r <- Gen.oneOf(swaps(w(i).toLower))
    } yield w.substring(0, i) + r + w.substring(i + 1)
  }

  private val word: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf(triggers).flatMap(mixCase),
    2 -> Gen.oneOf(triggers).flatMap(folded),
    3 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('.', '_', '%', '+', '-')))
      .map(_.mkString),
    2 -> Gen.oneOf(hazards),
    2 -> Gen.numStr)

  private val text: Gen[String] = for {
    n <- Gen.choose(0, 30)
    ws <- Gen.listOfN(n, Gen.zip(word, Gen.oneOf(spaces)))
  } yield ws.map { case (w, s) => w + s }.mkString

  private def found(m: java.util.regex.Matcher) =
    (m.start, m.end, if (m.groupCount() > 0) m.group(1) else m.group(0))

  property("firstMatch == pattern.matcher(t).find() for every shipped rule") =
    forAll(text) { t =>
      Prop.all(rules.map { cr =>
        val m = cr.pattern.matcher(t)
        val want = if (m.find()) Some(found(m)) else None
        val got = cr.firstMatch(t).map(found)
        (got == want) :| s"${cr.rule.fieldName} on ${t.map(_.toInt)}: $got != $want"
      }: _*)
    }

  property("head shapes: 4 literal, 1 run, 4 plain") = {
    import RulesEngine.Head._
    val heads = rules.map(r => r.rule.fieldName -> r.head).toMap
    heads == Map(
      "invoice_number" -> Literals(Seq("invoice", "inv", "bill")),
      "total_amount" -> Literals(Seq("total", "amount", "sum", "due")),
      "vendor_name" -> Literals(Seq("vendor", "company", "from")),
      "po_number" -> Literals(Seq("PO", "P.O.")),
      "email" -> RunBefore("[a-zA-Z0-9._%+-]", '@'),
      "date" -> Plain, "phone_number" -> Plain, "gstin" -> Plain,
      "reply_to" -> Plain)
  }

  // top-level alternation, an optional head, a non-literal alternative, a
  // backreference to the run, a letter after the run, a negated class
  property("head shapes that do not decide where a match begins are plain") =
    Seq("(?:total|due)x|y", "(?:total|due)?x", "(?:total|)x", "(?:to\\s|due)x",
      "([a-z]+@)\\1", "([a-z]+@?x)", "([a-z]+a)", "([^a-z]+@)")
      .forall(p => RulesEngine.Head.of(p) == RulesEngine.Head.Plain)
}
