package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/* Custom Catalyst expressions for the ER scoring kernel.
  *
  * These are native codegen'd expressions (not Scala UDFs): they stay
  * inside whole-stage codegen, avoid Row boxing, and Catalyst can
  * reason about their null behavior (`nullIntolerant` → null-check
  * hoisting). The hot inner loops are static JVM kernels in
  * [[StringSim]]; the generated code calls them directly.
  *
  * The reference's equivalents live inside the closed Senzing engine;
  * the observable contract is the fixture's merged name variants
  * (/root/reference/test/fixtures/flow-output.jsonl:1 — Robert/Bob/
  * Robbie Smith under one NAME feature).
  */

/** Given-name similarity (JW + single-letter-initial rule). */
case class GivenNameSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "given_name_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    StringSim.givenSimU(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StringSim.givenSimU($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Surname similarity (JW + compound-token containment rule). */
case class SurnameSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "surname_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    StringSim.surnameSimU(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.StringSim.surnameSimU($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** MinHash-LSH band keys over a string's character shingles — one
  * codegen'd kernel producing array<long> of `bands` keys.
  */
case class MinHashBands(child: Expression, shingle: Int, bands: Int, rows: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_bands"
  override protected def nullSafeEval(s: Any): Any =
    StringSim.minHashBands(s.asInstanceOf[UTF8String], shingle, bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      s => s"graft.functions.StringSim.minHashBands($s, $shingle, $bands, $rows)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash of a document's whitespace tokens (one codegen'd
  * kernel; Charikar random-projection fingerprint).
  */
case class SimHash64(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(s: Any): Any =
    StringSim.simHash64(s.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.StringSim.simHash64($s)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Multi-table random-hyperplane LSH sign-buckets of an embedding
  * vector (array<float> or array<double>) — array<long> of `tables`
  * bucket values, all computed in one codegen'd kernel pass.
  */
case class HyperplaneBuckets(child: Expression, tables: Int, planes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  // def, not val: child.dataType is only legal after analysis
  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hyperplane_buckets"
  override protected def nullSafeEval(v: Any): Any =
    VecSim.hyperplaneBuckets(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], isFloat, tables, planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      v => s"graft.functions.VecSim.hyperplaneBuckets($v, $isFloat, $tables, $planes)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Integer-quantized cosine similarity (scale-1000 by default) —
  * bit-identical to the quantized DuckDB oracle arithmetic.
  *
  * Ragged pairs (length(a) != length(b) — truncated/dirty vectors) are
  * NULL, matching the zip_with null-pad semantics this kernel replaced:
  * a similarity filter then drops the pair instead of comparing against
  * out-of-bounds garbage.
  */
case class CosineQuantized(left: Expression, right: Expression, scale: Int)
    extends BinaryExpression {
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_quantized"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else VecSim.cosineQuantized(aa, bb, isFloat(left), isFloat(right), scale)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VecSim.cosineQuantized($a, $b, ${isFloat(left)}, ${isFloat(right)}, $scale);
         |}""".stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Plain double cosine similarity over embedding arrays. Ragged pairs
  * are NULL (see [[CosineQuantized]]).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val aa = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bb = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (aa.numElements() != bb.numElements()) null
    else VecSim.cosine(aa, bb, isFloat(left), isFloat(right))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VecSim.cosine($a, $b, ${isFloat(left)}, ${isFloat(right)});
         |}""".stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** First span text of a given kind out of the canonical span array —
  * the feature-extraction primitive. The Catalyst formulation
  * (`get(filter(spans, s -> s.kind = k), 0).text`) is an interpreted
  * CodegenFallback HOF that allocates a filtered array per call, and
  * Normalize/Assemble evaluate it ~25× per row — the measured
  * allocation wall of the features_raw and assembly stages. This
  * kernel is one codegen'd scan of the (typically ~7-element) array
  * with zero allocation; the whole projection stays in whole-stage
  * codegen.
  */
case class SpanFirstText(child: Expression, kind: String)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  // lazy vals, not defs: child.dataType is only legal after analysis,
  // but the interpreted eval path must not re-resolve field ordinals
  // per row (a copy via withNewChildrenInternal re-creates them)
  @transient private lazy val elem: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  @transient private lazy val kindOrd: Int = elem.fieldIndex("kind")
  @transient private lazy val textOrd: Int = elem.fieldIndex("text")
  @transient private lazy val kindU = UTF8String.fromString(kind)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "span_first_text"
  override protected def nullSafeEval(v: Any): Any =
    SpanOps.firstText(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      kindOrd, textOrd, elem.size, kindU)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kindRef = ctx.addReferenceObj("spanKind", kindU,
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.functions.SpanOps.firstText($v, $kindOrd, $textOrd, ${elem.size}, $kindRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** One-pass normalized address parse (see SpanOps.parseAddr for the
  * exact contract) — replaces a Catalyst subtree of two regex
  * replaces + three interpreted HOF filters with per-token rlike over
  * a duplicated token list, measured as ~80% of the features_raw
  * stage. Bit-identical semantics spec-pinned (NormalizeKernelSpec).
  */
case class ParseAddr(child: Expression, stop: Seq[String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("house", StringType),
    StructField("zip", StringType),
    StructField("street", StringType),
    StructField("stokens", ArrayType(StringType, containsNull = false)),
    StructField("digits", ArrayType(StringType, containsNull = false))))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "parse_addr"
  @transient private lazy val stopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    stop.foreach(s.add)
    s
  }
  override protected def nullSafeEval(v: Any): Any =
    SpanOps.parseAddr(v.asInstanceOf[UTF8String], stopSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val stopRef = ctx.addReferenceObj("addrStop", stopSet, "java.util.HashSet")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.functions.SpanOps.parseAddr($v, $stopRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** DOB parse into struct(y,m,d) (see SpanOps.parseDob for the exact
  * contract) — one regex match per format per row instead of
  * regexp_extract's one interpreted match per GROUP (13/row).
  */
case class ParseDob(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("y", IntegerType), StructField("m", IntegerType),
    StructField("d", IntegerType)))
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "parse_dob"
  override protected def nullSafeEval(v: Any): Any =
    SpanOps.parseDob(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.functions.SpanOps.parseDob($v);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Tokenwise dictionary canonicalization (see SpanOps.canonTokens) —
  * hash lookup per token instead of an interpreted linear scan of the
  * map literal.
  */
case class CanonTokens(child: Expression, dict: Map[String, String])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "canon_tokens"
  @transient private lazy val dictMap: java.util.HashMap[String, String] = {
    val m = new java.util.HashMap[String, String]()
    dict.foreach { case (k, v) => m.put(k, v) }
    m
  }
  override protected def nullSafeEval(v: Any): Any =
    SpanOps.canonTokens(v.asInstanceOf[UTF8String], dictMap)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val dictRef = ctx.addReferenceObj("canonDict", dictMap, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = graft.functions.SpanOps.canonTokens($v, $dictRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Winnowing-style rolling-hash document fingerprint: min 64-bit
  * Karp–Rabin hash over all byte windows of width `window`.
  */
case class RollingMinHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_min_hash"

  override protected def nullSafeEval(s: Any, w: Any): Any =
    StringSim.rollingMinHash(s.asInstanceOf[UTF8String], w.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, w) => s"graft.functions.StringSim.rollingMinHash($s, $w)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
