package graft.functions

import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native row-local DSIR scorer — the codegen'd fold behind
 * [[graft.operators.Dsir.score]], the importance model's one scorer. The
 * model is a plain `Array[Long]` indexed by bucket (O(1) lookups), the
 * gram walk is a tight JVM loop over the token split, and the expression
 * participates in whole-stage codegen via a reference-object call (the
 * [[BloomMightContain]] pattern): no explode, no join, no shuffle.
 *
 * MUST produce the integers the DuckDB oracles compute over the same
 * fixture (`pipeline_dsir`, `st_dsir`, SelectionFuzzSpec) — same split
 * semantics (Java regex split with limit -1 ≡ Spark's and DuckDB's
 * `split(text, " ")`), same md5-of-UTF8 first-4-bytes bucket. The
 * xxhash64 fast family, which no oracle can reproduce, follows Spark's
 * multi-arg `xxhash64(salt, gram)` seed chain (salt hashed at seed 42,
 * gram hashed at the salt's hash); OperatorsSpec pins it against
 * [[graft.operators.Dsir.hashBucket]]'s Column form.
 */
case class DsirRowScore(child: Expression, model: Array[Long], salt: String,
                        fastHash: Boolean)
    extends UnaryExpression {

  private val nBuckets = model.length

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("logw_micro", LongType, nullable = false)))
  override def prettyName: String = "dsir_row_score"

  @transient private lazy val saltColonBytes = (salt + ":").getBytes("UTF-8")
  @transient private lazy val saltSeed: Long = {
    val u = UTF8String.fromString(salt)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** One digest instance per compute() call (digest() resets it between
    * grams) — a getInstance per gram would put a JCA provider lookup +
    * allocation inside the hot loop this expression exists to tighten. */
  private def bucket(g: String, md: MessageDigest): Int =
    if (fastHash) {
      val u = UTF8String.fromString(g)
      java.lang.Math.floorMod(
        XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, saltSeed),
        nBuckets.toLong).toInt
    } else {
      md.update(saltColonBytes)
      md.update(g.getBytes("UTF-8"))
      val d = md.digest()
      // first 8 hex chars of the digest = first 4 bytes, unsigned
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (v % nBuckets).toInt
    }

  /** Called from both interpreted eval and generated code. */
  def compute(text: UTF8String): InternalRow = {
    val md = if (fastHash) null else MessageDigest.getInstance("MD5")
    val toks = text.toString.split(" ", -1)
    var n = 0L; var sum = 0L
    var i = 0
    while (i < toks.length) { sum += model(bucket(toks(i), md)); n += 1; i += 1 }
    i = 0
    while (i < toks.length - 1) {
      sum += model(bucket(toks(i) + " " + toks(i + 1), md)); n += 1; i += 1
    }
    InternalRow(n, sum)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dsirRowScore", this, classOf[DsirRowScore].getName)
    val irCls = classOf[InternalRow].getName
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = ($irCls) $ref.compute($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): DsirRowScore =
    copy(child = newChild)
}

object DsirFunctions {
  private val counter = new AtomicInteger()

  /** Scoped registration (the [[BloomFunctions.withMightContain]]
    * contract) of a scorer over `model` (bucket → lr_micro, one slot per
    * bucket): frames analyze eagerly, so the temp-function entry is
    * deregistered as soon as `build` returns — nothing accumulates in a
    * long-lived session. */
  def withRowScore[T](spark: SparkSession, model: Array[Long], salt: String,
                      fastHash: Boolean, text: Column)(build: Column => T): T = {
    val name = s"graft_dsir_rs_${counter.incrementAndGet()}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, children => DsirRowScore(children.head, model, salt, fastHash),
      "built-in")
    try build(call_function(name, text))
    finally spark.sessionState.catalog.dropTempFunction(name, ignoreIfNotExists = true)
  }
}
