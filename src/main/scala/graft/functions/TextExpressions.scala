package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a codegen'd Catalyst expression — the
  * canonicalization pass of a text-cleaning pipeline (decomposed accent
  * sequences, compatibility variants from different scrapers, etc. must
  * collapse to one canonical form BEFORE hashing/dedup, or byte-unequal
  * spellings of the same text defeat every digest-based operator).
  *
  * Spark has no built-in normalizer, and a Scala UDF would pay
  * serialization + boxing per row; this stays inside whole-stage
  * codegen. The already-normalized fast path (the overwhelmingly common
  * case for real corpora) is allocation-free: `Normalizer.isNormalized`
  * scans without building a new string, and the input UTF8String passes
  * through untouched.
  *
  * Mirrors DuckDB's `nfc_normalize`, so oracle queries replay it
  * verbatim (both implement Unicode canonical composition).
  */
@ExpressionDescription(
  usage = "_FUNC_(str) - Unicode NFC (canonical composition) normalization")
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val u = input.asInstanceOf[UTF8String]
    val s = u.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) u
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      s"""
         |String $s = $c.toString();
         |if (java.text.Normalizer.isNormalized($s, java.text.Normalizer.Form.NFC)) {
         |  ${ev.value} = $c;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd text kernels (the SURVEY §7 "custom Expression" tier).
  *
  * Why these exist: the declarative forms — `filter(split(text, "\\s+"),
  * _ =!= "")` and `transform(sequence(...), i => array_join(slice(toks,
  * i, k), " "))` — route through higher-order functions (ArrayFilter /
  * ArrayTransform), which never enter whole-stage codegen; the per-row
  * lambda walk costs ~1 ms/row and was the measured wall of every
  * shingle-family map stage. These kernels compute the IDENTICAL result
  * (same Java regex split, same empty-token drop, same single-space
  * join) as one compiled JVM call per row, so every consumer — and the
  * DuckDB oracles, which replay `string_split_regex` + `list_filter` —
  * agrees byte-for-byte.
  */
@ExpressionDescription(
  usage = "_FUNC_(text) - whitespace tokens of text, empty tokens dropped")
case class WordTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_tokens needs a string, got $other")
    }

  // identical to Spark's split(text, "\\s+"): Java regex over the
  // decoded string, limit -1 (UTF8String.split delegates to Java split)
  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")

  def tokenize(t: UTF8String): ArrayData = {
    val parts = ws.split(t.toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (!parts(i).isEmpty) n += 1; i += 1 }
    val out = new Array[Any](n)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) { out(j) = UTF8String.fromString(parts(i)); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(t: Any): Any = tokenize(t.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val ref = ctx.addReferenceObj("wordTokens", this, classOf[WordTokens].getName)
      s"${ev.value} = $ref.tokenize($c);"
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The mojibake-repair kernel: "sloppy windows-1252" recode, the ftfy
  * discipline. Text whose UTF-8 bytes were once mis-decoded as Latin-1
  * OR windows-1252 ("Ã©" for é, "â€™" with a real € for ’) is mapped
  * back to bytes — cp1252's 0x80–0x9F specials (€ ‚ ƒ „ … † ‡ ˆ ‰ Š ‹
  * Œ Ž ' ' " " • – — ˜ ™ š › œ ž Ÿ) by their cp1252 byte, every other
  * char ≤ U+00FF by Latin-1 identity (covering cp1252's five undefined
  * slots, which a strict Java cp1252 encoder would reject) — then
  * strictly re-decoded as UTF-8.
  *
  * Failure is NEVER an exception and never a substitution character:
  * any char outside the sloppy-cp1252 range (the string mixes damage
  * with genuine non-Latin text) or any byte sequence that is not
  * well-formed UTF-8 (the "artifacts" were genuine Latin-1 text) falls
  * back to the ORIGINAL string wholesale. Spark's own encode/decode
  * are unusable here: on Spark 4 they THROW on malformed input unless
  * a legacy conf substitutes '?'/U+FFFD, and both behaviors corrupt
  * the guard (a genuine '?' in the input masks the substitution).
  */
object MojibakeKernel {
  // cp1252 bytes 0x80–0x9F decoded: 27 specials + 5 identity slots.
  private val cp1252High: Array[Char] = Array(
    '\u20AC', '\u0081', '\u201A', '\u0192', '\u201E', '\u2026', '\u2020', '\u2021',
    '\u02C6', '\u2030', '\u0160', '\u2039', '\u0152', '\u008D', '\u017D', '\u008F',
    '\u0090', '\u2018', '\u2019', '\u201C', '\u201D', '\u2022', '\u2013', '\u2014',
    '\u02DC', '\u2122', '\u0161', '\u203A', '\u0153', '\u009D', '\u017E', '\u0178')

  /** char → sloppy-cp1252 byte as 0..255, or -1 if unencodable. */
  private def byteOf(c: Char): Int = {
    if (c <= 'ÿ') c.toInt
    else {
      var i = 0
      while (i < 32) {
        if (cp1252High(i) == c) return 0x80 + i
        i += 1
      }
      -1
    }
  }

  /** Candidate pre-check: an artifact lead pair — Â/Ã/â (the decoded
    * C2/C3/E2 UTF-8 lead bytes of Latin text and general punctuation)
    * followed by a char that maps to a high sloppy-cp1252 byte. Clean
    * ASCII and ordinary accented text short-circuit here for free.
    */
  private def looksDamaged(s: String): Boolean = {
    val n = s.length - 1
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == 'Â' || c == 'Ã' || c == 'â') {
        val b = byteOf(s.charAt(i + 1))
        if (b >= 0x80) return true
      }
      i += 1
    }
    false
  }

  private val utf8Strict = new ThreadLocal[java.nio.charset.CharsetDecoder] {
    override def initialValue(): java.nio.charset.CharsetDecoder =
      java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
  }

  def repair(u: UTF8String): UTF8String = {
    val s = u.toString
    if (!looksDamaged(s)) return u
    val bytes = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val b = byteOf(s.charAt(i))
      if (b < 0) return u // mixed with genuine non-Latin text: keep original
      bytes(i) = b.toByte
      i += 1
    }
    try {
      val dec = utf8Strict.get()
      dec.reset()
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (out == s) u else UTF8String.fromString(out)
    } catch {
      case _: java.nio.charset.CharacterCodingException => u // genuine Latin-1 text
    }
  }
}

/** Column-level mojibake repair over [[MojibakeKernel.repair]] — a
  * codegen'd row-local projection (stays inside whole-stage codegen;
  * the kernel itself is one array pass + one strict UTF-8 decode).
  */
@ExpressionDescription(
  usage = "_FUNC_(str) - repair Latin-1/cp1252 mojibake; unrepairable text passes through")
case class FixMojibake(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"fix_mojibake needs a string, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    MojibakeKernel.repair(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MojibakeKernel$$.MODULE$$.repair($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word k-gram shingles straight from text: tokenize (as [[WordTokens]])
  * then join each k consecutive tokens with a single space, one element
  * per starting token in token order, so element i is the gram at token
  * position i. Fewer than k tokens, or NULL text, yields an EMPTY array
  * (never null).
  */
@ExpressionDescription(
  usage = "_FUNC_(text, k) - word k-gram shingles of text (empty when fewer than k tokens)")
case class WordShingles(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType, right.foldable) match {
      case (StringType, IntegerType, true) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_shingles needs (string, foldable int k), got $other")
    }

  @transient private lazy val k: Int = {
    val v = right.eval().asInstanceOf[Int]
    require(v >= 1, s"word_shingles: k must be >= 1, got $v")
    v
  }
  @transient private lazy val ws = java.util.regex.Pattern.compile("\\s+")
  @transient private lazy val empty = new GenericArrayData(Array.empty[Any])

  def emptyResult: ArrayData = empty

  def shingle(t: UTF8String): ArrayData = {
    val parts = ws.split(t.toString, -1)
    var n = 0
    var i = 0
    while (i < parts.length) { if (!parts(i).isEmpty) n += 1; i += 1 }
    if (n < k) return empty
    val toks = new Array[String](n)
    var j = 0
    i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) { toks(j) = parts(i); j += 1 }
      i += 1
    }
    val out = new Array[Any](n - k + 1)
    var s = 0
    while (s <= n - k) {
      val sb = new java.lang.StringBuilder
      var c = 0
      while (c < k) {
        if (c > 0) sb.append(' ')
        sb.append(toks(s + c))
        c += 1
      }
      out(s) = UTF8String.fromString(sb.toString)
      s += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val t = left.eval(input)
    if (t == null) empty else shingle(t.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = left.genCode(ctx)
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    ev.copy(
      code = code"""
        ${childGen.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          ${childGen.isNull} ? $ref.emptyResult() : $ref.shingle(${childGen.value});
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** The MinHash signature of one document, computed inside its row.
  *
  * Tokens are [[WordTokens]]' split: Java's `\\s+` matches exactly the
  * ASCII whitespace bytes 9–13 and 32, which never occur inside a
  * multi-byte UTF-8 sequence, so the tokens are cut straight from the
  * UTF-8 bytes of the decoded text. Each word k-gram's bytes (tokens
  * joined by one space, as [[WordShingles]] joins them) stream into one
  * reused MD5; h1 and h2 are the top 60 bits of the digest's first and
  * second 8 bytes, i.e. `conv(substring(md5(sh), 1|17, 15), 16, 10)`.
  * Slot i is the min over the doc's shingles of
  * `((h1 % p) + i * (h2 % p)) % p`, p = [[Prime]]: min over the multiset
  * equals min over the distinct set, so repeated shingles need no dedup.
  * Returns null when the text has fewer than k tokens.
  */
object MinhashKernel {
  val Prime = 1000000007L

  private final class State {
    val md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var starts = new Array[Int](256)
    var ends = new Array[Int](256)
  }
  private val state = ThreadLocal.withInitial[State](() => new State)

  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  private def top60(d: Array[Byte], at: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(at + i) & 0xffL); i += 1 }
    v >>> 4
  }

  def sign(text: UTF8String, k: Int, numPerm: Int): ArrayData = {
    val st = state.get()
    val bytes = text.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var n = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSpace(bytes(i))) i += 1
      if (i < bytes.length) {
        if (n == st.starts.length) {
          st.starts = java.util.Arrays.copyOf(st.starts, 2 * n)
          st.ends = java.util.Arrays.copyOf(st.ends, 2 * n)
        }
        st.starts(n) = i
        while (i < bytes.length && !isSpace(bytes(i))) i += 1
        st.ends(n) = i
        n += 1
      }
    }
    if (n < k) return null
    val mins = Array.fill(numPerm)(Prime)
    var s = 0
    while (s <= n - k) {
      var c = 0
      while (c < k) {
        if (c > 0) st.md.update(' '.toByte)
        st.md.update(bytes, st.starts(s + c), st.ends(s + c) - st.starts(s + c))
        c += 1
      }
      st.md.digest(st.digest, 0, 16)
      val b = top60(st.digest, 8) % Prime
      var v = top60(st.digest, 0) % Prime
      var j = 0
      while (j < numPerm) {
        if (v < mins(j)) mins(j) = v
        v += b
        if (v >= Prime) v -= Prime
        j += 1
      }
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** `minhash_signature(text, k, numPerm)`: [[MinhashKernel.sign]] as a
  * codegen'd row-local projection, `array<bigint>` of length numPerm,
  * NULL for null text or fewer than k tokens.
  */
@ExpressionDescription(
  usage = "_FUNC_(text, k, numPerm) - minhash signature of text's word k-grams (null below k tokens)")
case class MinhashSignature(text: Expression, k: Expression, numPerm: Expression)
    extends TernaryExpression {

  override def first: Expression = text
  override def second: Expression = k
  override def third: Expression = numPerm

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (text.dataType, k.dataType, numPerm.dataType, k.foldable && numPerm.foldable) match {
      case (StringType, IntegerType, IntegerType, true) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_signature needs (string, foldable int k, foldable int numPerm), got $other")
    }

  @transient private lazy val kv: Int = {
    val v = k.eval().asInstanceOf[Int]
    require(v >= 1, s"minhash_signature: k must be >= 1, got $v")
    v
  }
  @transient private lazy val nv: Int = {
    val v = numPerm.eval().asInstanceOf[Int]
    require(v >= 1, s"minhash_signature: numPerm must be >= 1, got $v")
    v
  }

  override def eval(input: InternalRow): Any = {
    val t = text.eval(input)
    if (t == null) null else MinhashKernel.sign(t.asInstanceOf[UTF8String], kv, nv)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = text.genCode(ctx)
    val sign = s"graft.functions.MinhashKernel$$.MODULE$$.sign"
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = ${c.isNull} ? null :
        $sign(${c.value}, $kv, $nv);
      boolean ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(text = f, k = s, numPerm = t)
}

object TextExpressions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  /** Registration triple for SparkSessionExtensions.injectFunction. */
  val nfcNormalizeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("nfc_normalize"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
    (children: Seq[Expression]) => NfcNormalize(children.head))

  /** Column form (resolved through the registered SQL function). */
  def nfc_normalize(c: Column): Column =
    org.apache.spark.sql.functions.call_function("nfc_normalize", c)

  val wordTokensFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_tokens"),
    new ExpressionInfo(classOf[WordTokens].getName, "word_tokens"),
    (children: Seq[Expression]) => WordTokens(children.head))

  val wordShinglesFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
    (children: Seq[Expression]) => WordShingles(children(0), children(1)))

  def word_tokens(text: Column): Column =
    org.apache.spark.sql.functions.call_function("word_tokens", text)

  def word_shingles(text: Column, k: Int): Column =
    org.apache.spark.sql.functions.call_function("word_shingles", text,
      org.apache.spark.sql.functions.lit(k))

  val minhashSignatureFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_signature"),
    (children: Seq[Expression]) => MinhashSignature(children(0), children(1), children(2)))

  def minhash_signature(text: Column, k: Int, numPerm: Int): Column =
    org.apache.spark.sql.functions.call_function("minhash_signature", text,
      org.apache.spark.sql.functions.lit(k), org.apache.spark.sql.functions.lit(numPerm))

  val fixMojibakeFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("fix_mojibake"),
    new ExpressionInfo(classOf[FixMojibake].getName, "fix_mojibake"),
    (children: Seq[Expression]) => FixMojibake(children.head))

  def fix_mojibake(c: Column): Column =
    org.apache.spark.sql.functions.call_function("fix_mojibake", c)
}
