package graft.result

import org.apache.spark.sql.{DataFrame, GraftCollect, Row}
import org.apache.spark.sql.functions.{col, lit, struct}

import graft.engine.PlannedQuery

/**
 * Result shaping to the reference's JSON response format
 * (frocket/common/tasks/query.py:96-140 + serializable.py:76-98: camelCase
 * keys, null-stripping, per-value dicts keyed by stringified values).
 *
 * This executes the planned DataFrames (the only place the engine calls an
 * action) and assembles the reference-shaped response:
 * {
 *   "query":  {"matchingGroups": n, "matchingGroupRows": n,
 *              "aggregations": [{"name":..., "value"|"values": ...}]},
 *   "funnel": {"sequence": [{"sequenceGroups": n, "sequenceRowCount": n}],
 *              "stepAggregations": [...], "endAggregations": [...]}
 * }
 *
 * One query is one union, one SQL execution and one Spark job: every
 * output frame of the plan becomes one branch of a union, collected
 * together ([[frameRows]]). A job, and the optimizer and planner pass in
 * front of it, cost the same whatever the frame, so a query with an
 * aggregation and a funnel no longer pays them four times (BENCH.md §"One
 * job per served query"). The union is collected through
 * `GraftCollect`, which submits the job without the per-job bytecode scan
 * `Dataset.collect` pays in Spark's closure cleaner.
 */
object ResultJson {

  def build(plan: PlannedQuery): String = {
    val rows = frameRows(plan).iterator
    val s = rows.next()(0)
    val parts = new StringBuilder
    parts ++= s"""{"query": {"matchingGroups": ${s.getLong(0)}, "matchingGroupRows": ${s.getLong(1)}"""
    if (plan.aggregations.nonEmpty) {
      val aggs = plan.aggregations.map { case (name, df) => aggJson(name, df, rows.next()) }
      parts ++= s""", "aggregations": [${aggs.mkString(", ")}]"""
    }
    parts ++= "}"
    plan.funnel.foreach { _ =>
      val steps = rows.next().sortBy(_.getInt(0)).map { r =>
        s"""{"sequenceGroups": ${r.getLong(1)}, "sequenceRowCount": ${r.getLong(2)}}"""
      }
      parts ++= s""", "funnel": {"sequence": [${steps.mkString(", ")}]"""
      if (plan.funnelAggregations.nonEmpty) {
        val aggs = plan.funnelAggregations.map { case (name, df) => aggJson(name, df, rows.next()) }
        parts ++= s""", "aggregations": [${aggs.mkString(", ")}]"""
      }
      parts ++= "}"
    }
    parts ++= "}"
    parts.toString
  }

  /** The output frames of `plan` in response order: the summary, the
    * aggregations, the funnel counts, the funnel's step/end aggregations. */
  private[graft] def frames(plan: PlannedQuery): Seq[DataFrame] =
    Seq(plan.summary) ++ plan.aggregations.map(_._2) ++ plan.funnel.toSeq ++
      plan.funnelAggregations.map(_._2)

  /** The rows of each of [[frames]], each frame's in its own order, from one
    * action. Branch i of the union is `(__tag = i, __f0, ..., __fk)`, where
    * `__fi` packs frame i's row into a struct and every other `__fj` is a
    * null of frame j's struct type, so each value keeps its native type.
    * A union keeps each branch's row order: it concatenates the branches'
    * partitions in branch order or, where they share a partitioning, joins
    * partition i of every branch in branch order. So a top-K frame's one
    * sorted partition comes back in its order. */
  private[graft] def frameRows(plan: PlannedQuery): Seq[Array[Row]] = {
    val fs = frames(plan)
    val types = fs.map(_.schema)
    val branches = fs.zipWithIndex.map { case (f, i) =>
      f.select(lit(i).as("__tag") +: types.indices.map { j =>
        (if (j == i) struct(col("*")) else lit(null).cast(types(j))).as(s"__f$j")
      }: _*)
    }
    val byTag = GraftCollect.collect(branches.reduce(_ union _)).groupBy(_.getInt(0))
    fs.indices.map(i => byTag.getOrElse(i, Array.empty[Row]).map(_.getStruct(i + 1)))
  }

  /** Append `"key": valueJson` as a trailing top-level field of an
    * already-serialized JSON object. The checked replacement for slicing
    * serialized strings by hand (r14 assembled the response via two
    * `dropRight(1)`s that silently produced invalid JSON if either
    * serializer ever gained trailing whitespace): callers (ApiServer's
    * stats block) compose objects through this, and a non-object input
    * fails fast instead of corrupting the response. `valueJson` must be
    * pre-rendered JSON. */
  def addTopLevelField(objJson: String, key: String, valueJson: String): String = {
    val trimmed = objJson.trim
    require(trimmed.startsWith("{") && trimmed.endsWith("}"),
      s"not a JSON object: ${trimmed.take(40)}...")
    val bodyIsEmpty = trimmed.drop(1).dropRight(1).trim.isEmpty
    val sep = if (bodyIsEmpty) "" else ", "
    s"${trimmed.dropRight(1)}$sep${quote(key)}: $valueJson}"
  }

  /** One aggregation result: scalar → "value"; per-value → "values" dict
    * with stringified keys (reference behavior, query_engine.py:281). */
  private def aggJson(name: String, df: DataFrame, rows: Array[Row]): String = {
    if (df.columns.length == 1) {
      s"""{"name": ${quote(name)}, "value": ${jsonValue(rows.headOption.map(_.get(0)).orNull)}}"""
    } else {
      val entries = rows.map { r =>
        s"${quote(String.valueOf(r.get(0)))}: ${jsonValue(r.get(1))}"
      }
      s"""{"name": ${quote(name)}, "values": {${entries.mkString(", ")}}}"""
    }
  }

  private[graft] def jsonValue(v: Any): String = v match {
    case null                => "null"
    case s: String           => quote(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float            => jsonValue(f.toDouble)
    case b: java.math.BigDecimal => b.toPlainString
    case n: Number           => n.toString
    case other               => quote(String.valueOf(other))
  }

  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
