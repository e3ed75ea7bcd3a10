package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Document fingerprint: 64-bit polynomial rolling hash over the UTF-8 bytes
  * (base 257, wrapping in 64-bit). A native Catalyst expression with codegen
  * so it stays inside WholeStageCodegen — a Scala UDF here would break the
  * codegen span of every pipeline that fingerprints documents.
  *
  * The reference delegates hashing-adjacent work to its engine's built-ins;
  * this is the Spark-native equivalent surface for dedup/fingerprint
  * pipelines (SURVEY.md §2.3 #46).
  */
case class RollingHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override protected def nullSafeEval(input: Any): Any =
    RollingHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RollingHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  /** Shared by interpreted eval and generated code. */
  def hash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1125899906842597L // large prime seed
    var i = 0
    while (i < bytes.length) {
      h = h * 257L + (bytes(i) & 0xff)
      i += 1
    }
    h
  }
}

/** Unicode NFC canonicalization — the pre-dedup normalization pass: a
  * combining-mark sequence (e + U+0301) and its precomposed char (é) hash
  * DIFFERENTLY, so exact/minhash dedup silently misses visually-identical
  * text unless the corpus canonicalizes first. Spark ships no normalizer
  * builtin; this native codegen expression keeps the pass inside
  * WholeStageCodegen, and DuckDB's `nfc_normalize` is the cross-engine
  * oracle twin. Already-normalized text (the overwhelming case — ASCII is
  * trivially NFC) returns the input object unchanged, no allocation. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.normalize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.normalize($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
  override def prettyName: String = "nfc_normalize"
}

object NfcNormalize {
  /** Shared by interpreted eval and generated code. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Accent stripping (DuckDB's `strip_accents`) — Unicode NFD decomposition
  * with combining marks removed: 'Café' → 'Cafe'. The search-normalization
  * step DuckDB users call by name and Spark has no builtin for; native
  * codegen like [[NfcNormalize]], with the same already-clean fast path
  * (pure-ASCII text returns the input object, no allocation). */
case class StripAccents(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def inputTypes = Seq(org.apache.spark.sql.types.StringType)

  override protected def nullSafeEval(input: Any): Any =
    StripAccents.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StripAccents.strip($c)")

  override protected def withNewChildInternal(newChild: Expression): StripAccents =
    copy(child = newChild)
  override def prettyName: String = "strip_accents"
}

object StripAccents {
  private val marks = java.util.regex.Pattern.compile("\\p{Mn}+")

  /** Shared by interpreted eval and generated code. */
  def strip(s: UTF8String): UTF8String = {
    // ASCII fast path: nothing to decompose
    val n = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < n) { if ((s.getByte(i) & 0x80) != 0) ascii = false; i += 1 }
    if (ascii) return s
    val nfd = java.text.Normalizer.normalize(s.toString,
      java.text.Normalizer.Form.NFD)
    UTF8String.fromString(marks.matcher(nfd).replaceAll(""))
  }
}

/** Column wrappers for graft's native expressions. */
object GraftFunctions {
  def rolling_hash(c: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(c)))

  def nfc_normalize(c: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))

  def strip_accents(c: Column): Column =
    ColumnBridge.column(StripAccents(ColumnBridge.expression(c)))

  def winnow_fp(c: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFp(ColumnBridge.expression(c), k, w))

  def stride_win_hashes(c: Column, w: Int, stride: Int): Column =
    ColumnBridge.column(StrideWinHashes(ColumnBridge.expression(c), w, stride))

  def cdc_chunks(c: Column): Column =
    ColumnBridge.column(CdcChunks(ColumnBridge.expression(c)))

  /** Drop-in for `sum(c.cast(DecimalType(28, scale)))` (same DECIMAL(38,
    * scale) type, same exact value, same null semantics) with the
    * BigDecimal-free 128-bit accumulator — see [[Int128SumAgg]]. Caller
    * contract: |c| < 10^(18-scale) per row so the compact cast cannot
    * overflow (every statistics-tier site bounds this by construction).
    * r18 (r17 ADVICE): the contract is ENFORCED, not documented — under
    * non-ANSI eval an overflowing cast yields NULL and the aggregate
    * would silently drop the row from the sum; instead a non-null input
    * whose compact cast comes back null raises, so a future unbounded
    * call site fails loudly rather than producing a wrong sum. */
  def sum_dec_exact(c: Column, scale: Int): Column = {
    import org.apache.spark.sql.functions.{coalesce, concat, lit, raise_error, when}
    val dec18 = org.apache.spark.sql.types.DecimalType(18, scale)
    // coalesce, not CASE WHEN on the cast: a CASE evaluates the (string-
    // routed, expensive) double→decimal cast in both the predicate and the
    // else branch — measured +0.9 s over five sums of 600k rows (OPTIMIZATION_r17.md,
    // int128_x5 0.78 → 1.70 s). coalesce evaluates it ONCE; only rows
    // whose cast came back null (true null or overflow) touch the guard.
    val guarded = coalesce(
      c.cast(dec18),
      when(c.isNull, lit(null).cast(dec18))
        .otherwise(raise_error(concat(
          lit(s"sum_dec_exact: input overflows DECIMAL(18,$scale) (|x| >= " +
            s"10^${18 - scale}): "), c.cast("string"))).cast(dec18)))
    ColumnBridge.column(Int128SumAgg(
      UnscaledLong(ColumnBridge.expression(guarded)),
      scale).toAggregateExpression())
  }

  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))

  def minhash_sig(c: Column, k: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(c), k))

  def cosine_sim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def hyperplane_sig(vec: Column, nBits: Int, table: Int): Column =
    ColumnBridge.column(HyperplaneSig(ColumnBridge.expression(vec), nBits, table))

  def pq_encode(vec: Column, books: Array[Double], m: Int, k: Int, sub: Int): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(vec), books, m, k, sub))

  def adc_score(codes: Column, table: Column): Column =
    ColumnBridge.column(AdcScore(ColumnBridge.expression(codes), ColumnBridge.expression(table)))

  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncode(ColumnBridge.expression(text), merges))

  def lm_score(text: Column, model: Seq[(String, Long)], n: Int,
      total: Double, v: Double): Column =
    ColumnBridge.column(LmScore(ColumnBridge.expression(text), model, n, total, v))

  def topk_select(entry: Column, k: Int, dedup: Boolean): Column =
    ColumnBridge.column(
      TopKSelect(ColumnBridge.expression(entry), k, dedup).toAggregateExpression())

  def mg_freq_items(item: Column, k: Int): Column =
    ColumnBridge.column(
      MgFreqItems(ColumnBridge.expression(item), k).toAggregateExpression())

  def cms_merge(sketch: Column): Column =
    ColumnBridge.column(
      CmsMergeAgg(ColumnBridge.expression(sketch)).toAggregateExpression())

  def cms_estimate(sketch: Column, item: Column): Column =
    ColumnBridge.column(
      CmsEstimate(ColumnBridge.expression(sketch), ColumnBridge.expression(item)))

  def vec_sum(c: Column): Column =
    ColumnBridge.column(
      VecSumAgg(ColumnBridge.expression(c)).toAggregateExpression())

  def jaro_similarity(a: Column, b: Column): Column =
    ColumnBridge.column(JaroSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def jaro_winkler_similarity(a: Column, b: Column): Column =
    ColumnBridge.column(JaroWinklerSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def damerau_levenshtein(a: Column, b: Column): Column =
    ColumnBridge.column(DamerauLevenshtein(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def hamming(a: Column, b: Column): Column =
    ColumnBridge.column(HammingDist(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def char_jaccard(a: Column, b: Column): Column =
    ColumnBridge.column(CharSetJaccard(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Extract a literal Int argument of a SQL call (e.g. the `k` of
    * `mg_freq_items(tok, 64)`) — aggregates parameterized at plan time
    * can't take it from a column. */
  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private[functions] val registry: Seq[(String, org.apache.spark.sql.catalyst.expressions.ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[RollingHash].getName, "rolling_hash"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)),
    ("cosine_sim",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CosineSim].getName, "cosine_sim"),
      (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))),
    // aggregate functions: the analyzer wraps a returned AggregateFunction
    // in its AggregateExpression, same as the builtin registrations
    ("mg_freq_items",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MgFreqItems].getName, "mg_freq_items"),
      (exprs: Seq[Expression]) =>
        MgFreqItems(exprs(0), litInt(exprs(1), "mg_freq_items k"))),
    ("topk_select",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[TopKSelect].getName, "topk_select"),
      (exprs: Seq[Expression]) => TopKSelect(exprs(0),
        litInt(exprs(1), "topk_select k"),
        exprs.length > 2 && (exprs(2) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(b: Boolean, BooleanType) => b
          case _ => false
        }))),
    ("winnow_fp",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[WinnowFp].getName, "winnow_fp"),
      (exprs: Seq[Expression]) => WinnowFp(exprs(0),
        litInt(exprs(1), "winnow_fp k"), litInt(exprs(2), "winnow_fp w"))),
    ("stride_win_hashes",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[StrideWinHashes].getName, "stride_win_hashes"),
      (exprs: Seq[Expression]) => StrideWinHashes(exprs(0),
        litInt(exprs(1), "stride_win_hashes w"),
        litInt(exprs(2), "stride_win_hashes stride"))),
    ("cdc_chunks",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CdcChunks].getName, "cdc_chunks"),
      (exprs: Seq[Expression]) => CdcChunks(exprs(0))),
    ("simhash64",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[SimHash64].getName, "simhash64"),
      (exprs: Seq[Expression]) => SimHash64(exprs(0))),
    ("minhash_sig",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[MinHashSig].getName, "minhash_sig"),
      (exprs: Seq[Expression]) =>
        MinHashSig(exprs(0), litInt(exprs(1), "minhash_sig k"))),
    ("cms_merge",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CmsMergeAgg].getName, "cms_merge"),
      (exprs: Seq[Expression]) => CmsMergeAgg(exprs.head)),
    ("cms_estimate",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CmsEstimate].getName, "cms_estimate"),
      (exprs: Seq[Expression]) => CmsEstimate(exprs(0), exprs(1))),
    ("nfc_normalize",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)),
    ("strip_accents",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[StripAccents].getName, "strip_accents"),
      (exprs: Seq[Expression]) => StripAccents(exprs.head)),
    // string-similarity family under DuckDB's exact SQL names, so a
    // migrating user's `SELECT jaccard(a, b)` runs unchanged (mismatch is
    // DuckDB's documented alias for hamming)
    ("jaro_similarity",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[JaroSim].getName, "jaro_similarity"),
      (exprs: Seq[Expression]) => JaroSim(exprs(0), exprs(1))),
    ("jaro_winkler_similarity",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[JaroWinklerSim].getName, "jaro_winkler_similarity"),
      (exprs: Seq[Expression]) => JaroWinklerSim(exprs(0), exprs(1))),
    ("damerau_levenshtein",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[DamerauLevenshtein].getName, "damerau_levenshtein"),
      (exprs: Seq[Expression]) => DamerauLevenshtein(exprs(0), exprs(1))),
    ("hamming",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[HammingDist].getName, "hamming"),
      (exprs: Seq[Expression]) => HammingDist(exprs(0), exprs(1))),
    ("mismatch",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[HammingDist].getName, "mismatch"),
      (exprs: Seq[Expression]) => HammingDist(exprs(0), exprs(1))),
    ("jaccard",
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[CharSetJaccard].getName, "jaccard"),
      (exprs: Seq[Expression]) => CharSetJaccard(exprs(0), exprs(1))))

  /** Make graft functions callable from `spark.sql` on an existing session
    * (SQL parity, SURVEY §4). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registry.foreach { case (name, info, builder) =>
      ColumnBridge.registerFunction(spark, name, info, builder)
    }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` — the deploy-time
  * injection path: every session on the cluster gets graft's native SQL
  * functions AND the scale-safety optimizer rules
  * ([[graft.plans.GlobalRowNumberRewrite]]) without code changes.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.registry.foreach { case (name, info, builder) =>
      ext.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.GlobalRowNumberRewrite)
  }
}
