package graft.parse

import java.util.regex.{Matcher, Pattern}
import graft.model.{KeyValue, Rule}

/** Regex field extraction (reference: `src/normalization/rules_engine.py:82-128`
  * + rule definitions `rules/global_rules.yml:5-45`).
  *
  * Per rule: `re.search(pattern, text, IGNORECASE | MULTILINE)`, first match
  * only; `group(1)` if the pattern has groups else `group(0)`; Python strip;
  * then numeric coercion for amount/cost/price fields. Global rules always
  * run first (in file order), then the matched signature's override rules —
  * the broadcast rule table replaces the reference's on-disk YAML (S8) and
  * its stateful signature-override store.
  */
object RulesEngine {

  /** The six global rules, verbatim patterns from
    * `rules/global_rules.yml` (all verified Python/Java-regex compatible —
    * SURVEY §7.3 R2).
    */
  val GlobalRules: Seq[Rule] = Seq(
    Rule("invoice_number",
      "(?:invoice|inv|bill)\\s*(?:number|#|no\\.?)\\s*:?\\s*([A-Z0-9-]+)",
      0.9, required = true),
    Rule("total_amount",
      "(?:total|amount|sum|due)\\s*:?\\s*\\$?([0-9,]+\\.?[0-9]*)",
      0.8, required = true),
    Rule("date",
      "([0-9]{1,2}[/-][0-9]{1,2}[/-][0-9]{2,4})",
      0.7, required = false),
    Rule("vendor_name",
      "(?:vendor|company|from)\\s*:?\\s*([A-Za-z\\s&\\.]+?)(?:\\n|$|\\.|,)",
      0.6, required = false),
    Rule("email",
      "([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,})",
      0.9, required = false),
    Rule("phone_number",
      "(\\(?[0-9]{3}\\)?[-\\.\\s]?[0-9]{3}[-\\.\\s]?[0-9]{4})",
      0.8, required = false))

  /** Compiled rule ready for per-partition reuse (pooled parser state).
    * UNICODE_CASE because Python's `re.IGNORECASE` on str patterns folds
    * case per Unicode, not ASCII — without it e.g. the Kelvin sign `K`
    * would match `(?i)k` in the reference but not here. Residual known
    * divergence either way: Java's fold (toUpper/toLower closure) and
    * Python's simple-folding table disagree on the Turkish dotted/dotless
    * i pair (`İ`/`ı`) — unreconcilable at the flag level, absent from the
    * corpus and fuzz suite, and irrelevant to the shipped ASCII trigger
    * words. No-op on the ASCII rule patterns/corpus (fuzz parity 2000/2000
    * unchanged under the flag).
    */
  final class CompiledRule(val rule: Rule) {
    // UNICODE_CHARACTER_CLASS (implies UNICODE_CASE): Python's \s in str
    // patterns matches Unicode whitespace — 'Total: 123.45' matches
    // the total_amount rule in the reference (verified live) and must
    // here too; ASCII-only \s silently dropped such kvs.
    val pattern: Pattern = Pattern.compile(rule.pattern, Flags)

    val head: Head = Head.of(rule.pattern)

    private val alts: Array[Array[Int]] = head match {
      case Head.Literals(as) => as.map(_.map(c => fold(c)).toArray).toArray
      case _ => Array.empty
    }
    private val minAlt = if (alts.isEmpty) 0 else alts.map(_.length).min

    private val run: Pattern = head match {
      case Head.RunBefore(cls, _) => Pattern.compile(cls, Flags)
      case _ => null
    }
    private val runAscii: Array[Boolean] =
      if (run == null) Array.empty
      else Array.tabulate(128)(c => run.matcher(c.toChar.toString).matches())

    /** The match `pattern.matcher(text).find()` returns, or None.
      * `find()` retries the whole pattern at every position; here only
      * the head's candidate starts are tried, in increasing order, each
      * anchored with `lookingAt()` over the rest of the text (transparent,
      * non-anchoring bounds: lookaround and `^`/`$` see the whole text, as
      * under `find()`). The candidates include every position where a
      * match can begin, so the first success is the leftmost match.
      */
    def firstMatch(text: String): Option[Matcher] = {
      val m = pattern.matcher(text)
      head match {
        case Head.Plain => if (m.find()) Some(m) else None
        case _ =>
          m.useTransparentBounds(true).useAnchoringBounds(false)
          val n = text.length
          def matchesAt(p: Int): Boolean = { m.region(p, n); m.lookingAt() }
          head match {
            case Head.RunBefore(_, x) =>
              var q = text.indexOf(x)
              while (q >= 0) {
                val s = runStart(text, q)
                if (s < q && matchesAt(s)) return Some(m)
                q = text.indexOf(x, q + 1)
              }
            case _ =>
              var p = 0
              while (p <= n - minAlt) {
                if (altAt(text, p) && matchesAt(p)) return Some(m)
                p += 1
              }
          }
          None
      }
    }

    /** Does some literal alternative match `text` at `p` under the
      * regex's own per-char fold (`java.util.regex` compares literal
      * slices as `toLowerCase(toUpperCase(c))`)?
      */
    private def altAt(text: String, p: Int): Boolean = {
      val f0 = fold(text.charAt(p))
      var k = 0
      while (k < alts.length) {
        val a = alts(k)
        if (a(0) == f0 && p + a.length <= text.length) {
          var i = 1
          while (i < a.length && a(i) == fold(text.charAt(p + i))) i += 1
          if (i == a.length) return true
        }
        k += 1
      }
      false
    }

    /** Start of the maximal run of class members ending just before `q`,
      * read by code point as the regex reads them. A pair outside the
      * class whose lone low surrogate is inside it still starts a match
      * at that low surrogate (`find()` steps by char).
      */
    private def runStart(text: String, q: Int): Int = {
      var s = q
      while (s > 0) {
        val cp = Character.codePointBefore(text, s)
        if (inRun(cp)) s -= Character.charCount(cp)
        else {
          if (cp > 0xFFFF && inRun(text.charAt(s - 1))) s -= 1
          return s
        }
      }
      s
    }

    private def inRun(cp: Int): Boolean =
      if (cp < 128) runAscii(cp)
      else run.matcher(new String(Character.toChars(cp))).matches()
  }

  private val Flags =
    Pattern.CASE_INSENSITIVE | Pattern.MULTILINE | Pattern.UNICODE_CHARACTER_CLASS

  /** The regex's case fold of one char (`java.util.regex` SliceU/SingleU). */
  private def fold(c: Char): Int =
    if (c < 128) { if (c >= 'A' && c <= 'Z') c + 32 else c }
    else Character.toLowerCase(Character.toUpperCase(c.toInt))

  /** Where a rule's leftmost match can begin, read from the head of its
    * pattern. The pattern strings themselves stay verbatim: the DuckDB
    * oracle SQL (`ExtractQueries.extractBaseCte`) embeds the same strings.
    */
  sealed trait Head
  object Head {

    /** `(?:a|b|..)…` — a non-optional group of literal alternatives: a
      * match begins only where some alternative matches.
      */
    final case class Literals(alts: Seq[String]) extends Head

    /** `([C]+x…` — a class run before a punctuation literal `x` outside
      * the class: a match begins only at the start of the maximal run
      * that ends at an `x`. `cls` is the class as a pattern, `[C]`.
      */
    final case class RunBefore(cls: String, x: Char) extends Head

    /** Anything else: plain `find()`. */
    case object Plain extends Head

    def of(p: String): Head =
      if (p.contains("\\Q") || topLevelAlternation(p)) Plain
      else literals(p).orElse(runBefore(p)).getOrElse(Plain)

    /** The literal char at `i` and the index after it, if `p(i)` is one. */
    private def literalAt(p: String, i: Int): Option[(Char, Int)] =
      if (i >= p.length) None
      else if (p(i) == '\\')
        if (i + 1 < p.length && !p(i + 1).isLetterOrDigit) Some((p(i + 1), i + 2))
        else None
      else if ("^$.|?*+()[]{}".indexOf(p(i)) >= 0) None
      else Some((p(i), i + 1))

    private def literals(p: String): Option[Head] =
      if (!p.startsWith("(?:")) None
      else {
        val alts = Seq.newBuilder[String]
        val cur = new StringBuilder
        var i = 3
        var done = false
        var ok = true
        while (ok && !done) {
          if (i < p.length && (p(i) == '|' || p(i) == ')')) {
            ok = cur.nonEmpty
            alts += cur.result()
            cur.clear()
            done = p(i) == ')'
            i += 1
          } else literalAt(p, i) match {
            case Some((c, next)) => cur += c; i = next
            case None => ok = false
          }
        }
        if (ok && !quantified(p, i)) Some(Literals(alts.result())) else None
      }

    private def quantified(p: String, i: Int): Boolean =
      i < p.length && "?*+{".indexOf(p(i)) >= 0

    private def runBefore(p: String): Option[Head] =
      if (!p.startsWith("([") || "\\\\(?:[0-9]|k<)".r.findFirstIn(p).isDefined) None
      else {
        var i = 2
        while (i < p.length && p(i) != ']' && p(i) != '[') i += (if (p(i) == '\\') 2 else 1)
        if (i >= p.length || p(i) != ']' || p(2) == '^' || i == 2 ||
          i + 1 >= p.length || p(i + 1) != '+') None
        else {
          val cls = p.substring(1, i + 1)
          literalAt(p, i + 2).collect {
            case (x, next) if x < 128 && !x.isLetterOrDigit && !quantified(p, next) &&
                !Pattern.compile(cls, Flags).matcher(x.toString).matches() =>
              RunBefore(cls, x)
          }
        }
      }

    /** Does `p` have a `|` outside every group (so the head alone does not
      * decide where a match begins)?
      */
    private def topLevelAlternation(p: String): Boolean = {
      var depth = 0
      var i = 0
      while (i < p.length) {
        p(i) match {
          case '\\' => i += 1
          case '[' =>
            var cls = 1
            i += 1
            while (i < p.length && cls > 0) {
              p(i) match {
                case '\\' => i += 1
                case '[' => cls += 1
                case ']' => cls -= 1
                case _ =>
              }
              i += 1
            }
            i -= 1
          case '(' => depth += 1
          case ')' => depth -= 1
          case '|' if depth == 0 => return true
          case _ =>
        }
        i += 1
      }
      false
    }
  }

  def compile(rules: Seq[Rule]): Seq[CompiledRule] = rules.map(new CompiledRule(_))

  val GlobalCompiled: Seq[CompiledRule] = compile(GlobalRules)

  /** Apply one rule — returns None when no match (`rules_engine.py:93-96`). */
  def applyRule(cr: CompiledRule, text: String): Option[KeyValue] =
    cr.firstMatch(text).flatMap { m =>
      val raw = if (m.groupCount() > 0) m.group(1) else m.group(0)
      // group(1) can be null only if the group didn't participate — not
      // possible for these patterns, but guard like Python would TypeError.
      if (raw == null) None
      else {
        val stripped = PyCompat.pyStrip(raw)
        val (value, valueNum) = coerce(stripped, cr.rule.fieldName)
        Some(KeyValue(cr.rule.fieldName, value, valueNum, cr.rule.confidence, "rule"))
      }
    }

  /** Value type coercion (`rules_engine.py:114-128`): amount/cost/price
    * fields get `[$,]` stripped then Python `int()`/`float()`; on failure the
    * ORIGINAL string is kept. Returns the Python `str(value)` rendering plus
    * the numeric value when coerced.
    */
  def coerce(value: String, fieldName: String): (String, Option[Double]) = {
    val f = fieldName.toLowerCase
    if (f.contains("amount") || f.contains("cost") || f.contains("price")) {
      val numeric = value.replace("$", "").replace(",", "")
      if (numeric.contains(".")) {
        pyFloat(numeric) match {
          case Some(d) => (PyCompat.pyFloatRepr(d), Some(d))
          case None => (value, None)
        }
      } else {
        pyInt(numeric) match {
          case Some(bi) => (bi.toString, Some(bi.toDouble))
          case None => (value, None)
        }
      }
    } else (value, None)
  }

  /** Python `int(s)`: optional sign, digits (ASCII), surrounding whitespace
    * ok; underscores between digits accepted but never produced by our
    * patterns.
    */
  private def pyInt(s: String): Option[BigInt] = {
    val t = PyCompat.pyStrip(s)
    if (t.isEmpty) None
    else {
      val body = if (t.head == '+' || t.head == '-') t.tail else t
      if (body.nonEmpty && body.forall(c => c >= '0' && c <= '9'))
        Some(BigInt(t))
      else None
    }
  }

  /** Python `float(s)` for the decimal forms our patterns can produce
    * (digits with one '.'): both Python and Java parse correctly-rounded.
    * Python accepts "123." and ".5"; rejects "." and "".
    */
  private def pyFloat(s: String): Option[Double] = {
    val t = PyCompat.pyStrip(s)
    val body = if (t.nonEmpty && (t.head == '+' || t.head == '-')) t.tail else t
    val parts = body.split("\\.", -1)
    val ok = body.nonEmpty && parts.length <= 2 &&
      parts.exists(_.nonEmpty) &&
      parts.forall(p => p.forall(c => c >= '0' && c <= '9'))
    if (!ok) None
    else try Some(t.toDouble) catch { case _: NumberFormatException => None }
  }

  /** Full extraction: global rules then override rules of the matched
    * signature (`rules_engine.py:54-80`). Returns (kvs, rules_applied).
    */
  def applyAll(
      globals: Seq[CompiledRule],
      overrides: Seq[CompiledRule],
      overrideSigId: String,
      text: String): (Seq[KeyValue], Seq[String]) = {
    val out = Seq.newBuilder[KeyValue]
    val applied = Seq.newBuilder[String]
    if (globals.nonEmpty) {
      globals.foreach(cr => applyRule(cr, text).foreach(out += _))
      applied += "global"
    }
    if (overrides.nonEmpty) {
      overrides.foreach(cr => applyRule(cr, text).foreach(out += _))
      applied += s"signature_$overrideSigId"
    }
    (out.result(), applied.result())
  }
}
