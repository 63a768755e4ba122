package graft.functions.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-token md5 halves as LONGS in one digest pass — the native form of the
  * engine's token-hash chain
  *
  *   `transform(ts, t => conv(substring(md5(t), 1, 8), 16, 10).cast(long))`
  *
  * (and its two-half struct sibling, [[Md5HalfPairs]]). The composed chain
  * pays, PER TOKEN: a hex-encode of the 16-byte digest into a 32-char string,
  * one or two UTF8String substrings, and one or two `conv` base-16 string
  * parses back to the very bytes the digest already held — r19 profile: the
  * LSH signature build (q36/q86/q130/q134/q141/q93/q114 all stand on it) was
  * 17-30 CPU-seconds per query at sf0.1, the engine's densest per-row
  * arithmetic. These expressions take the digest's leading bytes directly:
  *
  *   h1 = bytes 0-3 as an unsigned 32-bit value (== conv(hex[1..8], 16, 10))
  *   h2 = bytes 4-7 as an unsigned 32-bit value (== conv(hex[9..16], 16, 10))
  *
  * Bit-identical by construction: md5's hex rendering is the byte sequence in
  * order, so the first 8 hex chars ARE bytes 0-3, and `conv(_, 16, 10)` casts
  * to the same non-negative long. Null contracts mirror the composed forms
  * exactly (Md5HalfSpec pins both, element-for-element, on fixture tokens):
  * null array → null; null element → null long ([[Md5Half]]) / non-null
  * struct with null fields ([[Md5HalfPairs]] — `struct(null, null)` is what
  * `transform(t => struct(conv(md5(null))...))` yields).
  * Measured gains: OPTIMIZATION_r19.md; the composed chains live on only as
  * Md5HalfSpec's reference forms.
  */
abstract class Md5TokenHashBase extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $t")
  }

  // ThreadLocal (ADVICE r19): expression instances are normally deserialized
  // per task, but a same-JVM plan evaluated interpreted from several threads
  // (driver-side eval, local collect paths) would share ONE instance — a
  // shared mutable MessageDigest corrupts digests under concurrency. Codegen
  // allocates per-stage mutable state and is unaffected.
  @transient private lazy val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))
  protected def md: java.security.MessageDigest = mdLocal.get()
}

object Md5TokenHashBase {
  /** (h1, h2) from one md5 digest of the UTF-8 bytes — the shared kernel of
    * both expressions' interpreted and generated paths.
    */
  def halves(md: java.security.MessageDigest, s: UTF8String): (Long, Long) = {
    val d = md.digest(s.getBytes)
    (((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
       ((d(2) & 0xffL) << 8) | (d(3) & 0xffL),
     ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
       ((d(6) & 0xffL) << 8) | (d(7) & 0xffL))
  }
}

/** array<string> → array<long>: first md5 half per token (h1). */
case class Md5Half(child: Expression) extends Md5TokenHashBase {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_md5half"

  override def nullSafeEval(input: Any): Any = {
    val ts = input.asInstanceOf[ArrayData]
    val n = ts.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!ts.isNullAt(i))
        out(i) = Long.box(Md5TokenHashBase.halves(md, ts.getUTF8String(i))._1)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mdRef = ctx.addMutableState("java.security.MessageDigest", "md5half",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      val gadCls = classOf[GenericArrayData].getName
      // NOTE: continuation lines must NOT start with `|` — downstream code
      // templating strips it as a margin character, silently deleting the
      // bitwise-OR and producing unparseable Java; the stage then falls back
      // to INTERPRETED execution with no test signal (found at the 10× rung;
      // Md5HalfSpec now compiles with codegen fallback disabled to pin this)
      s"""
         |int $n = $x.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i)) {
         |    byte[] $d = $mdRef.digest($x.getUTF8String($i).getBytes());
         |    long $h = (($d[0] & 0xffL) << 24) | (($d[1] & 0xffL) << 16) |
         |      (($d[2] & 0xffL) << 8) | ($d[3] & 0xffL);
         |    $out[$i] = Long.valueOf($h);
         |  }
         |}
         |${ev.value} = new $gadCls($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Half =
    copy(child = newChild)
}

/** array<string> → array<struct<h1:long,h2:long>>: both md5 halves per token
  * (the Kirsch–Mitzenmacher pair feeding the minhash signature).
  */
case class Md5HalfPairs(child: Expression) extends Md5TokenHashBase {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("h1", LongType), StructField("h2", LongType))),
    containsNull = false)
  override def prettyName: String = "graft_md5halfpairs"

  override def nullSafeEval(input: Any): Any = {
    val ts = input.asInstanceOf[ArrayData]
    val n = ts.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (ts.isNullAt(i))
        out(i) = InternalRow(null, null)
      else {
        val (h1, h2) = Md5TokenHashBase.halves(md, ts.getUTF8String(i))
        out(i) = InternalRow(h1, h2)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mdRef = ctx.addMutableState("java.security.MessageDigest", "md5pairs",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val d = ctx.freshName("d")
      val f = ctx.freshName("f")
      val h1 = ctx.freshName("h1")
      val h2 = ctx.freshName("h2")
      val out = ctx.freshName("out")
      val gadCls = classOf[GenericArrayData].getName
      val girCls = "org.apache.spark.sql.catalyst.expressions.GenericInternalRow"
      // see Md5Half.doGenCode: no `|`-leading continuation lines
      s"""
         |int $n = $x.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  Object[] $f = new Object[2];
         |  if (!$x.isNullAt($i)) {
         |    byte[] $d = $mdRef.digest($x.getUTF8String($i).getBytes());
         |    long $h1 = (($d[0] & 0xffL) << 24) | (($d[1] & 0xffL) << 16) |
         |      (($d[2] & 0xffL) << 8) | ($d[3] & 0xffL);
         |    long $h2 = (($d[4] & 0xffL) << 24) | (($d[5] & 0xffL) << 16) |
         |      (($d[6] & 0xffL) << 8) | ($d[7] & 0xffL);
         |    $f[0] = Long.valueOf($h1);
         |    $f[1] = Long.valueOf($h2);
         |  }
         |  $out[$i] = new $girCls($f);
         |}
         |${ev.value} = new $gadCls($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Md5HalfPairs =
    copy(child = newChild)
}

/** string → long: the first `nibbles` hex digits of md5(s) as an unsigned
  * value — the SCALAR sibling of [[Md5Half]] for the engine's slot/bucket
  * hashes (`conv(substring(md5(s), 1, n), 16, 10).cast(long)`), which still
  * paid the full hex-encode + substring + base-16 string re-parse per row at
  * r19's end (q49/q63/q95/q120/q134 sites). Bit-identical by construction:
  * md5's hex rendering is the digest nibbles in order, so the first n hex
  * digits ARE the leading n nibbles, and `conv(_, 16, 10)` yields the same
  * non-negative value (n ≤ 15 keeps it under 2^60 — no sign/overflow edge).
  * Null contract mirrors the composed chain: null input → null.
  * Measured gains: OPTIMIZATION_r20.md.
  */
case class Md5PrefixLong(child: Expression, nibbles: Int) extends UnaryExpression {
  require(nibbles >= 1 && nibbles <= 15,
    s"graft_md5prefix supports 1..15 hex digits, got $nibbles")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got $t")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_md5prefix"

  // ThreadLocal — same concurrency argument as Md5TokenHashBase.md
  @transient private lazy val mdLocal =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = {
    val d = mdLocal.get().digest(input.asInstanceOf[UTF8String].getBytes)
    Md5PrefixLong.prefix(d, nibbles)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mdRef = ctx.addMutableState("java.security.MessageDigest", "md5prefix",
      v => s"""try { $v = java.security.MessageDigest.getInstance("MD5"); }
              |catch (java.security.NoSuchAlgorithmException e) { throw new RuntimeException(e); }
              |""".stripMargin)
    nullSafeCodeGen(ctx, ev, x => {
      val d = ctx.freshName("d")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val v = ctx.freshName("v")
      // see Md5Half.doGenCode: no `|`-leading continuation lines
      s"""
         |byte[] $d = $mdRef.digest($x.getBytes());
         |long $v = 0L;
         |for (int $i = 0; $i < $nibbles; $i++) {
         |  int $b = $d[$i >> 1] & 0xff;
         |  $v = ($v << 4) | (($i & 1) == 0 ? ($b >>> 4) : ($b & 0xf));
         |}
         |${ev.value} = $v;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

object Md5PrefixLong {
  /** Leading `nibbles` hex digits of a digest as an unsigned long — shared by
    * the interpreted path and [[graft.functions.TextFunctions.md5PrefixLong]]'s
    * spec fixtures.
    */
  def prefix(d: Array[Byte], nibbles: Int): Long = {
    var v = 0L
    var i = 0
    while (i < nibbles) {
      val b = d(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }
}
