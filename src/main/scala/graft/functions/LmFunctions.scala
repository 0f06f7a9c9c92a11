package graft.functions

import java.util.Locale
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native row-local LM scorer — the codegen'd fold behind
 * [[graft.operators.LmScore.score]], the trigram quality model's one
 * scorer. The canonical alphabet is `[a-z ]`, so the trigram domain is
 * exactly 27³ = 19,683 — a dense `Array[Long]` indexed by
 * `code(c₀)·729 + code(c₁)·27 + code(c₂)` holds the model, and each row
 * is ONE codegen'd call: canonicalize, walk the trigrams, O(1) lookups
 * (untrained slots hold the `__OOV__` sentinel), integer sum. Zero
 * shuffle — the form a STREAM can run per arriving document.
 *
 * MUST produce the integers the DuckDB oracles compute over the same
 * fixture (`tx_lm_score`, `st_lm`, LmFuzzSpec): the canonicalization
 * replicates [[graft.operators.LmScore.canonical]] exactly (strip
 * `[^A-Za-z ]` FIRST with the same Java regex, ASCII lowercase, collapse
 * `" +"`, trim — all on the post-strip ASCII string, so no locale/ICU
 * divergence can enter), and documents whose canonical form is shorter
 * than one trigram yield NULL (`score` omits them). Returns
 * `struct(n_tri, sum_micro)`; the average is the caller's one exact
 * division.
 */
case class LmRowScore(child: Expression, scores: Array[Long])
    extends UnaryExpression {

  require(scores.length == 27 * 27 * 27, "scores must cover the 27^3 domain")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tri", LongType, nullable = false),
    StructField("sum_micro", LongType, nullable = false)))
  // Returns null for NON-null sub-trigram input, so nullability must not
  // follow the child: with a non-nullable text column the default would
  // let NullPropagation fold the caller's isNotNull filter away AND make
  // doGenCode assign to a FalseLiteral isNull (a Janino compile error).
  override def nullable: Boolean = true
  override def prettyName: String = "lm_row_score"

  /** Mirrors LmScore.canonical: Spark regexp_replace/lower/trim are the
    * same Java regex + ASCII fold once the strip has run. */
  private def canonical(s: String): String =
    s.replaceAll("[^A-Za-z ]", "").toLowerCase(Locale.ROOT)
      .replaceAll(" +", " ").trim

  private def code(c: Char): Int = if (c == ' ') 26 else c - 'a'

  def compute(text: UTF8String): InternalRow = {
    val c = canonical(text.toString)
    if (c.length < 3) return null
    var n = 0L; var sum = 0L
    var i = 0
    while (i <= c.length - 3) {
      sum += scores(code(c.charAt(i)) * 729 + code(c.charAt(i + 1)) * 27 +
        code(c.charAt(i + 2)))
      n += 1; i += 1
    }
    InternalRow(n, sum)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmRowScore", this, classOf[LmRowScore].getName)
    val irCls = classOf[InternalRow].getName
    nullSafeCodeGen(ctx, ev, v => s"""
      |$irCls r = $ref.compute($v);
      |if (r == null) { ${ev.isNull} = true; } else { ${ev.value} = r; }
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): LmRowScore =
    copy(child = newChild)
}

object LmFunctions {
  private val counter = new AtomicInteger()

  /** Dense score table from a materialized `(tri, score_micro)` model
    * frame ([[graft.operators.LmScore.trainModel]]'s output, read back
    * from its fixture): untrained slots get the `__OOV__` sentinel.
    * Bounded driver state — 19,683 longs. A malformed fixture (no or two
    * `__OOV__` rows, a trigram twice, a null, a key outside the canonical
    * alphabet) throws IllegalArgumentException rather than keeping one of
    * the conflicting scores. */
  def denseScores(model: DataFrame): Array[Long] = {
    val rows = model.select("tri", "score_micro").collect().map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1), s"model row with a null: $r")
      r.getString(0) -> r.getLong(1)
    }
    val oovs = rows.collect { case ("__OOV__", v) => v }
    require(oovs.length == 1, s"model must hold one __OOV__ row, found ${oovs.length}")
    val arr = Array.fill(27 * 27 * 27)(oovs.head)
    val seen = new java.util.BitSet(arr.length)
    def code(c: Char): Int = if (c == ' ') 26 else c - 'a'
    rows.foreach { case (tri, v) =>
      if (tri != "__OOV__") {
        require(tri.length == 3 && tri.forall(c => c == ' ' || (c >= 'a' && c <= 'z')),
          s"trigram outside the canonical alphabet: '$tri'")
        val i = code(tri(0)) * 729 + code(tri(1)) * 27 + code(tri(2))
        require(!seen.get(i), s"model holds trigram '$tri' twice")
        seen.set(i)
        arr(i) = v
      }
    }
    arr
  }

  /** Scoped registration (the [[BloomFunctions.withMightContain]]
    * contract). */
  def withRowScore[T](spark: SparkSession, scores: Array[Long],
                      text: Column)(build: Column => T): T = {
    val name = s"graft_lm_rs_${counter.incrementAndGet()}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, children => LmRowScore(children.head, scores), "built-in")
    try build(call_function(name, text))
    finally spark.sessionState.catalog.dropTempFunction(name, ignoreIfNotExists = true)
  }
}
