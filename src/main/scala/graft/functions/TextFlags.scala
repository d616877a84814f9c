package graft.functions

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native curation-flag bundle — the c1/c2 spine's per-document flag
  * projection (language pick, quality keep, content hash, BPE-ish token
  * count) as ONE pass over the text instead of ~20 builtin `split` /
  * `regexp_extract_all` / `md5` evaluations per row.
  *
  * Value parity with the declarative TextOps formulations (which the t1,
  * t2, t3 DuckDB oracles mirror) is EXACT, pinned by FlagsSpec:
  *  - `lang_pred`: per-language stopword scores are NON-OVERLAPPING
  *    left-to-right counts of `" word "` in `" " + text + " "` (exactly
  *    `size(split(padded, quote(" w "))) - 1` — after a match the scan
  *    resumes past the consumed delimiter); best score wins with earlier
  *    language winning ties (en > es > de > fr), `und` when all zero.
  *  - `qual_ok`: `numChars(text) >= 100 AND tokens >= 20`, where length
  *    counts CODE POINTS (Spark's `length`, not Java's UTF-16 units) and
  *    tokens = single-space splits with empties kept (= 0x20 bytes + 1).
  *  - `content_hash`: lowercase-hex md5 of the UTF-8 bytes.
  *  - `n_bpe`: match count of `[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]` — ASCII
  *    letter runs, digit runs, then one match per remaining CODE POINT
  *    (Java regex char classes match code points, so a supplementary
  *    char is one match, not two).
  */
object TextFlags {

  val Langs: Seq[String] = Seq("en", "es", "de", "fr")

  val Stopwords: Seq[Seq[String]] = Seq(
    Seq("the", "a", "of", "and"),
    Seq("el", "la", "de", "que"),
    Seq("der", "die", "und", "das"),
    Seq("le", "la", "et", "les"))

  /** Non-overlapping occurrence count of `pat` in `s` (split semantics). */
  def occ(s: String, pat: String): Int = {
    var n = 0
    var i = s.indexOf(pat)
    while (i >= 0) { n += 1; i = s.indexOf(pat, i + pat.length) }
    n
  }

  def langPred(text: String): String = {
    val padded = " " + text + " "
    val scores = Stopwords.map(_.map(w => occ(padded, " " + w + " ")).sum)
    val best = scores.max
    if (best == 0) "und"
    else Langs(scores.indexOf(best)) // earlier language wins ties
  }

  def bpeCount(text: String): Long = {
    var n = 0L
    var i = 0
    val len = text.length
    while (i < len) {
      val c = text.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        n += 1
        while (i < len && {
          val d = text.charAt(i)
          (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z')
        }) i += 1
      } else if (c >= '0' && c <= '9') {
        n += 1
        while (i < len && text.charAt(i) >= '0' && text.charAt(i) <= '9') i += 1
      } else if (c == ' ') {
        i += 1
      } else {
        // one match per CODE POINT: a surrogate pair advances two units
        n += 1
        i += Character.charCount(text.codePointAt(i))
      }
    }
    n
  }

  def curationFlagsCol(c: Column): Column =
    GraftColumns.column(CurationFlags(GraftColumns.expression(c)))
}

/** struct<lang_pred, qual_ok, content_hash, n_bpe> — see [[TextFlags]]. */
case class CurationFlags(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("lang_pred", StringType, nullable = false),
    StructField("qual_ok", BooleanType, nullable = false),
    StructField("content_hash", StringType, nullable = false),
    StructField("n_bpe", LongType, nullable = false)))

  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"curation_flags needs string input, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    // tokens = single-space splits with empties = 0x20 bytes + 1 (space
    // cannot occur inside a UTF-8 multibyte sequence)
    val bytes = u.getBytes
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) spaces += 1; i += 1 }
    val qualOk = u.numChars() >= 100 && (spaces + 1) >= 20
    val row = new GenericInternalRow(4)
    row.update(0, UTF8String.fromString(TextFlags.langPred(s)))
    row.update(1, java.lang.Boolean.valueOf(qualOk))
    row.update(2, UTF8String.fromString(graft.parse.PyCompat.md5Hex(bytes)))
    row.update(3, java.lang.Long.valueOf(TextFlags.bpeCount(s)))
    row: InternalRow
  }

  override protected def withNewChildInternal(newChild: Expression): CurationFlags =
    copy(child = newChild)
}
