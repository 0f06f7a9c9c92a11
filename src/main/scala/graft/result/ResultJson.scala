package graft.result

import org.apache.spark.sql.Row

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
 */
object ResultJson {

  def build(plan: PlannedQuery): String = {
    val s = plan.summary.collect()(0)
    val parts = new StringBuilder
    parts ++= s"""{"query": {"matchingGroups": ${s.getLong(0)}, "matchingGroupRows": ${s.getLong(1)}"""
    if (plan.aggregations.nonEmpty) {
      parts ++= s""", "aggregations": [${plan.aggregations.map((aggJson _).tupled).mkString(", ")}]"""
    }
    parts ++= "}"
    plan.funnel.foreach { f =>
      val steps = f.collect().sortBy(_.getInt(0)).map { r =>
        s"""{"sequenceGroups": ${r.getLong(1)}, "sequenceRowCount": ${r.getLong(2)}}"""
      }
      parts ++= s""", "funnel": {"sequence": [${steps.mkString(", ")}]"""
      if (plan.funnelAggregations.nonEmpty)
        parts ++= s""", "aggregations": [${plan.funnelAggregations.map((aggJson _).tupled).mkString(", ")}]"""
      parts ++= "}"
    }
    parts ++= "}"
    parts.toString
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
  private def aggJson(name: String, df: org.apache.spark.sql.DataFrame): String = {
    val rows = df.collect()
    val cols = df.columns
    if (cols.length == 1) {
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
