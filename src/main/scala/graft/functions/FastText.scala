package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Glue
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-hash hot paths.
  *
  * The [[TextHash]] formulations compose higher-order functions
  * (`transform`/`aggregate`), which Catalyst evaluates interpreted with
  * per-element boxing — O(shingles × 64 perms) boxed lambda calls per
  * row made minhash the dominant cost of the whole suite. These
  * expressions compute identical values (same tokenization, same
  * engine-neutral charPoly31 + permutation-grid mod-P algebra —
  * asserted by FastTextSpec) in one tight primitive JVM loop per row:
  * typically 100-1000× faster.
  *
  * Each expression implements `doGenCode` as a single static call into
  * [[FastTextRuntime]], so it participates in whole-stage codegen (no
  * CodegenFallback row-boxing boundary); interpreted eval shares the
  * exact same runtime methods.
  *
  * Scale note: each is a per-row scalar/array expression — no state, no
  * shuffle — so they ride any plan shape and parallelize per-partition
  * like any builtin.
  */
object FastText {

  private val RT = "graft.functions.FastTextRuntime"

  /** MinHash signature over word-n-gram shingles: equals
    * TextHash.minhashSignature(TextHash.shingleHashes31(text, n), as, bs)
    * slot for slot. Docs with < n tokens get P in every slot.
    */
  case class MinHashSig(child: Expression, shingleN: Int,
      as: Seq[Long], bs: Seq[Long]) extends UnaryExpression {
    private lazy val asArr = as.toArray
    private lazy val bsArr = bs.toArray
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.minhashSig(input.asInstanceOf[UTF8String], shingleN,
        asArr, bsArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val aRef = ctx.addReferenceObj("minhashAs", asArr, "long[]")
      val bRef = ctx.addReferenceObj("minhashBs", bsArr, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $RT.minhashSig($c, $shingleN, $aRef, $bRef);")
    }
    override protected def withNewChildInternal(c: Expression): MinHashSig =
      copy(child = c)
  }

  /** 64-bit SimHash of the token multiset — equals TextHash.simhash64. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.simhash64(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $RT.simhash64($c);")
    override protected def withNewChildInternal(c: Expression): SimHash64 =
      copy(child = c)
  }

  /** Engine-neutral polynomial string hash — equals
    * TextHash.charPoly31 (the HOF reference) value for value.
    */
  case class CharPoly31(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_char_poly31"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.charPoly31Of(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $RT.charPoly31Of($c);")
    override protected def withNewChildInternal(c: Expression): CharPoly31 =
      copy(child = c)
  }

  /** Karp–Rabin rolling fingerprint — equals TextHash.rollingFingerprint. */
  case class RollingFp(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_rolling_fp"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.rollingFp(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $RT.rollingFp($c);")
    override protected def withNewChildInternal(c: Expression): RollingFp =
      copy(child = c)
  }

  /** Min 31-bit shingle hash (winnowing fingerprint): equals
    * coalesce(array_min(shingleHashesPoly(text, n)), P) — the
    * engine-neutral polynomial hash, so the operator carries a full
    * cross-engine oracle.
    */
  case class ShingleMin31(child: Expression, shingleN: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_shingle_min31"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.shingleMin31(input.asInstanceOf[UTF8String], shingleN)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $RT.shingleMin31($c, $shingleN);")
    override protected def withNewChildInternal(c: Expression): ShingleMin31 =
      copy(child = c)
  }

  /** Distinct word-n-gram shingles — equals
    * array_distinct(TextHash.shingles(text, n)) (first-occurrence order).
    */
  case class DistinctShingles(child: Expression, shingleN: Int)
      extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_distinct_shingles"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.distinctShingles(input.asInstanceOf[UTF8String], shingleN)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $RT.distinctShingles($c, $shingleN);")
    override protected def withNewChildInternal(c: Expression): DistinctShingles =
      copy(child = c)
  }

  /** All word-n-gram shingles WITH duplicates (corpus frequency use
    * case, e.g. t05). Empty array when the doc has fewer than n tokens.
    */
  case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_word_ngrams"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.wordNgrams(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $RT.wordNgrams($c, $n);")
    override protected def withNewChildInternal(c: Expression): WordNgrams =
      copy(child = c)
  }

  /** Per-document term frequencies: one (term, tf) struct per distinct
    * split(text, " ") token, first-occurrence order — equals the
    * groupBy(doc, term).count() of the exploded tokens, row by row.
    */
  case class TermCounts(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "graft_term_counts"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.termCounts(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $RT.termCounts($c);")
    override protected def withNewChildInternal(c: Expression): TermCounts =
      copy(child = c)
  }

  /** Language-ID scorer: fraction of each profile's character bigrams
    * present among the doc's distinct bigrams; returns the argmax as a
    * (score, lang) struct with array_max tie-break semantics.
    */
  case class LangScore(child: Expression, profiles: Seq[(String, Seq[String])])
      extends UnaryExpression {
    // Guard at construction: an empty profile list would emit a null lang
    // into a non-nullable struct field, and an empty n-gram profile would
    // divide by zero into NaN scores.
    require(profiles.nonEmpty, "graft_lang_score: profiles must be non-empty")
    require(profiles.forall(_._2.nonEmpty),
      s"graft_lang_score: every language profile needs >=1 n-gram " +
        s"(empty: ${profiles.filter(_._2.isEmpty).map(_._1).mkString(",")})")
    private lazy val langsArr: Array[UTF8String] =
      profiles.map(p => UTF8String.fromString(p._1)).toArray
    private lazy val profArr: Array[Array[String]] =
      profiles.map(_._2.toArray).toArray
    override def dataType: DataType = StructType(Seq(
      StructField("score", DoubleType, nullable = false),
      StructField("lang", StringType, nullable = false)))
    override def prettyName: String = "graft_lang_score"
    override protected def nullSafeEval(input: Any): Any =
      FastTextRuntime.langScore(input.asInstanceOf[UTF8String], langsArr,
        profArr)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lRef = ctx.addReferenceObj("langs", langsArr,
        "org.apache.spark.unsafe.types.UTF8String[]")
      val pRef = ctx.addReferenceObj("profiles", profArr,
        "java.lang.String[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $RT.langScore($c, $lRef, $pRef);")
    }
    override protected def withNewChildInternal(c: Expression): LangScore =
      copy(child = c)
  }

  // Column-facing wrappers.
  def minhashSig(text: Column, n: Int, as: Seq[Long], bs: Seq[Long]): Column =
    Glue.column(MinHashSig(Glue.expression(text), n, as, bs))
  def simhash64(text: Column): Column =
    Glue.column(SimHash64(Glue.expression(text)))
  def rollingFp(text: Column): Column =
    Glue.column(RollingFp(Glue.expression(text)))
  def charPoly31(text: Column): Column =
    Glue.column(CharPoly31(Glue.expression(text)))
  def shingleMin31(text: Column, n: Int): Column =
    Glue.column(ShingleMin31(Glue.expression(text), n))
  def langScore(text: Column, profiles: Seq[(String, Seq[String])]): Column =
    Glue.column(LangScore(Glue.expression(text), profiles))
  def distinctShingles(text: Column, n: Int): Column =
    Glue.column(DistinctShingles(Glue.expression(text), n))
  def wordNgrams(text: Column, n: Int): Column =
    Glue.column(WordNgrams(Glue.expression(text), n))
  def termCounts(text: Column): Column =
    Glue.column(TermCounts(Glue.expression(text)))
}
