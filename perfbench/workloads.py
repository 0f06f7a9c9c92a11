"""Workloads and query templates of the query-service benchmark.

Every workload draws from the same nine templates, which together cover
every query family of the language: count and sum targets (with
includeZero), an OR relation, 2- and 3-step sequences (one with a negated
step), counts-only funnels, funnels with step aggregations, per-value
top-K aggregations of all four kinds, and a timeframe. A template instance
is a small dict; `body` renders it as the JSON request and `oracle_sql`
renders the DuckDB statements whose results `expected` assembles into the
answer the server must give (the response minus its `stats` block).

The SQL mirrors the engine's semantics step by step, after the DuckDB
differential fuzzer in the repo's test suite (`QueryFuzzer`): a sequence
anchor is the earliest matching row strictly after the previous anchor, a
negated step requires no such row, and per-value aggregations keep the top
K by measure descending, value ascending.
"""
import json
import random
import re

from gen import DAY_US, DAYS, EVENT_TYPES, START_US

TEMPLATE_VERSION = 3
NS = 1000  # the engine compares timestamps as epoch nanoseconds

# --------------------------------------------------------------- workloads

WORKLOADS = {
    # The per-request fixed cost shows: a small dataset below the engine's
    # 32 MB routing gate (window plans), cache off, no two bodies equal.
    "dashboard_small": {
        "data": {"users": 500, "rows": 10000, "parts": 4},
        "cache_entries": 0, "routing_min_bytes": None,
        "queries_per_s": 2, "min_queries": 40,
    },
    # Result cache on and smaller than the Zipf-drawn body pool; the
    # dataset is re-registered every `register_every` queries, alternating
    # v2 (v1 plus one appended day part) and v1. The routing gate is 0, so
    # sequences and funnels run on the routed SequenceMatch path.
    "dashboard_churn": {
        "data": {"users": 500, "rows": 10000, "parts": 4, "appended_rows": 500},
        "cache_entries": 4, "routing_min_bytes": 0,
        "queries_per_s": 2.4, "min_queries": 40, "pool": 40, "register_every": 15,
    },
}

# ----------------------------------------------------------------- atoms


def sql_lit(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def filter_sql(f):
    col, op, v = f
    if op == "contains":
        return "contains(%s, %s)" % (col, sql_lit(v))
    return "%s %s %s" % (col, {"==": "=", "!=": "<>"}.get(op, op), sql_lit(v))


def filters_sql(fs):
    return " AND ".join("(%s)" % filter_sql(f) for f in fs)


def _etype(rnd):
    return rnd.choice(EVENT_TYPES)


# Templates take two generators: `shape` picks the structure (which
# columns, how many steps, which aggregation) and does not depend on the
# seed, so every seed runs the same mix of plans; `rnd` picks the literal
# values from the seed.


def _atom(shape, rnd):
    r = shape.random()
    if r < 0.55:
        return ["event_type", "==", _etype(rnd)]
    if r < 0.65:
        return ["event_type", "!=", _etype(rnd)]
    if r < 0.85:
        return ["value", shape.choice([">", ">=", "<", "<="]), rnd.randrange(50, 950, 25)]
    return ["props", "contains", '"k": %d' % rnd.randrange(1, 10)]


def _step(shape, rnd, row_found=True):
    fs = [["event_type", "==", _etype(rnd)]]
    if shape.random() < 0.35:
        fs.append(_atom(shape, rnd))
    return {"filters": fs, "rowFound": row_found}


def _agg(shape, kind, top=None):
    col = shape.choice(["event_type", "props"]) if kind != "count" else \
        shape.choice(["event_type", "value", "props"])
    a = {"column": col, "type": kind}
    if kind in ("sumPerValue", "meanPerValue"):
        a["otherColumn"] = "value"
    if top is not None:
        a["top"] = top
    return a


def _duration(rnd):
    return rnd.choice([2, 6, 24, 72, 240]) * 3600 * 10**9


# -------------------------------------------------------------- templates


def t_count_target(shape, rnd):
    return {"conditions": [{"filters": [_atom(shape, rnd)],
                            "target": ["count", ">=", rnd.randrange(1, 6)]}],
            "aggregations": [_agg(shape, "countPerValue")]}


def t_sum_include_zero(shape, rnd):
    return {"conditions": [
        {"filters": [["event_type", "==", _etype(rnd)]],
         "target": ["sum", "value", ">", rnd.randrange(200, 3000, 100)]},
        {"filters": [["event_type", "==", _etype(rnd)]],
         "target": ["count", "<", rnd.randrange(1, 4)], "includeZero": True}]}


def t_or_relation(shape, rnd):
    return {"conditions": [
        {"filters": [_atom(shape, rnd)], "target": ["count", ">=", rnd.randrange(2, 8)]},
        {"filters": [_atom(shape, rnd), _atom(shape, rnd)], "target": ["count", ">=", 1]}],
        "relation": "$0 or $1"}


def t_sequence2(shape, rnd):
    return {"conditions": [{"sequence": [_step(shape, rnd), _step(shape, rnd)]}]}


def t_sequence3_negated(shape, rnd):
    return {"conditions": [{"sequence": [_step(shape, rnd), _step(shape, rnd, row_found=False),
                                         _step(shape, rnd)],
                            "maxDuration": _duration(rnd)}]}


def t_funnel_counts(shape, rnd):
    f = {"sequence": [_step(shape, rnd) for _ in range(shape.choice([2, 3]))]}
    if shape.random() < 0.5:
        f["maxDuration"] = _duration(rnd)
    return {"funnel": f}


def t_funnel_aggs(shape, rnd):
    return {"funnel": {"sequence": [_step(shape, rnd), _step(shape, rnd)],
                       "stepAggregations": [_agg(shape, "countPerValue", top=5)]}}


def t_topk(shape, rnd):
    kind = shape.choice(["countPerValue", "groupsPerValue", "sumPerValue", "meanPerValue"])
    return {"aggregations": [_agg(shape, kind, top=rnd.choice([3, 5, 10]))]}


def t_timeframe(shape, rnd):
    lo = rnd.randrange(0, DAYS - 7)
    hi = lo + shape.randrange(3, 8)
    return {"timeframe": [(START_US + lo * DAY_US) * NS, (START_US + hi * DAY_US) * NS],
            "conditions": [{"filters": [_atom(shape, rnd)],
                            "target": ["count", ">=", rnd.randrange(1, 4)]}]}


TEMPLATES = [t_count_target, t_sum_include_zero, t_or_relation, t_sequence2,
             t_sequence3_negated, t_funnel_counts, t_funnel_aggs, t_topk, t_timeframe]
# The warm-up pass of every set-up: one instance of each code path (window
# filters, sequence, funnel, per-value aggregation, timeframe), kept short
# because a run sets up three times.
WARMUP = [t_count_target, t_sequence2, t_funnel_counts, t_topk, t_timeframe]

# ------------------------------------------------------------------ JSON


def body(q):
    """The request body of template instance `q`."""
    out = {}
    query = {}
    if q.get("conditions"):
        conds = []
        for c in q["conditions"]:
            if "sequence" in c:
                cj = {"sequence": [_step_json(s) for s in c["sequence"]]}
                if c.get("maxDuration"):
                    cj["maxDuration"] = c["maxDuration"]
            else:
                cj = {"filters": c["filters"], "target": c["target"]}
                if "includeZero" in c:
                    cj["includeZero"] = c["includeZero"]
            conds.append(cj)
        query["conditions"] = conds
    if q.get("relation"):
        query["relation"] = q["relation"]
    if q.get("aggregations"):
        query["aggregations"] = q["aggregations"]
    if query:
        out["query"] = query
    if q.get("funnel"):
        f = q["funnel"]
        fj = {"sequence": [_step_json(s) for s in f["sequence"]]}
        for k in ("maxDuration", "stepAggregations", "endAggregations"):
            if f.get(k):
                fj[k] = f[k]
        out["funnel"] = fj
    if q.get("timeframe"):
        out["timeframe"] = {"from": q["timeframe"][0], "to": q["timeframe"][1]}
    return json.dumps(out, separators=(",", ":"))


def _step_json(s):
    j = {"filters": s["filters"]}
    if not s["rowFound"]:
        j["rowFound"] = False
    return j


# ------------------------------------------------------------------- SQL


def _seq_ctes(tag, src, steps, max_duration):
    """Chained-anchor CTEs over `src` (QueryFuzzer.seqSql): returns
    (ctes, last cte name, cumulative passed expression per step)."""
    ctes, passed, parts, carried = [], [], [], []
    prev = anchor = first_anchor = None
    for j, s in enumerate(steps):
        pred = filters_sql(s["filters"])
        cond = "(%s) AND tl > p.%s" % (pred, anchor) if anchor else "(%s)" % pred
        agg = ("min(CASE WHEN %s THEN tl END) AS a%d" % (cond, j) if s["rowFound"]
               else "max(CASE WHEN %s THEN 1 END) AS x%d" % (cond, j))
        cols = ["user_id"] + ["max(p.%s) AS %s" % (c, c) for c in carried] + [agg]
        frm = "%s JOIN %s p USING (user_id)" % (src, prev) if prev else src
        name = "%s_%d" % (tag, j)
        ctes.append("%s AS (SELECT %s FROM %s GROUP BY user_id)" % (name, ", ".join(cols), frm))
        if s["rowFound"]:
            parts.append("a%d IS NOT NULL" % j)
            anchor = "a%d" % j
            first_anchor = first_anchor or anchor
            carried.append(anchor)
        else:
            parts.append("x%d IS NULL" % j)
            carried.append("x%d" % j)
        terms = list(parts)
        if max_duration and anchor and first_anchor and anchor != first_anchor:
            terms.append("%s - %s <= %d" % (anchor, first_anchor, max_duration))
        passed.append(" AND ".join("(%s)" % t for t in terms))
        prev = name
    return ctes, prev, passed


def _agg_name(a):
    return a.get("name") or "%s_%s" % (a["column"], a["type"])


def _agg_sql(a, frm, where=""):
    c = "me." + a["column"]
    t = a["type"]
    if t == "count":
        return "SELECT count(%s) AS value FROM %s%s" % (c, frm, where)
    measure = {
        "countPerValue": "count(*)",
        "groupsPerValue": "count(DISTINCT me.user_id)",
        "sumPerValue": "CAST(sum(me.%s) AS DOUBLE)" % a.get("otherColumn"),
        "meanPerValue": "CAST(sum(me.{0}) AS DOUBLE) / count(me.{0})".format(a.get("otherColumn")),
    }[t]
    return ("SELECT %s AS value, %s AS m FROM %s%s GROUP BY %s "
            "ORDER BY m DESC, value ASC LIMIT %d" % (c, measure, frm, where, c, a.get("top", 10)))


def oracle_sql(q, table):
    """[(key, sql)] whose results `expected` assembles. `table` holds the
    dataset with `tl` = epoch-nanosecond timestamps."""
    where = ""
    if q.get("timeframe"):
        where = " WHERE tl >= %d AND tl < %d" % tuple(q["timeframe"])
    ctes = ["e AS (SELECT * FROM %s%s)" % (table, where)]
    conds = q.get("conditions") or []
    for i, c in enumerate(conds):
        if "sequence" in c:
            cs, last, passed = _seq_ctes("c%ds" % i, "e", c["sequence"], c.get("maxDuration"))
            ctes += cs + ["c%d AS (SELECT user_id, %s AS p FROM %s)" % (i, passed[-1], last)]
        else:
            pred = filters_sql(c["filters"])
            mc = "sum(CASE WHEN %s THEN 1 ELSE 0 END)" % pred
            t = c["target"]
            if t[0] == "count":
                op = {"==": "=", "!=": "<>"}.get(t[1], t[1])
                base = "(%s %s %d)" % (mc, op, t[2])
                iz = c.get("includeZero", t[1] == "==" and t[2] == 0)
                p = base if iz else "(%s AND %s > 0)" % (base, mc)
            else:
                op = {"==": "=", "!=": "<>"}.get(t[2], t[2])
                p = "((%s > 0) AND (COALESCE(sum(CASE WHEN %s THEN %s END), 0) %s %s))" % (
                    mc, pred, t[1], op, t[3])
            ctes.append("c%d AS (SELECT user_id, %s AS p FROM e GROUP BY user_id)" % (i, p))
    if conds:
        joins = "".join(" JOIN c%d USING (user_id)" % i for i in range(1, len(conds)))
        rel = " AND ".join("c%d.p" % i for i in range(len(conds)))
        if q.get("relation"):
            rel = re.sub(r"\$(\d+)", r"c\1.p", q["relation"]).replace(" or ", " OR ").replace(
                " and ", " AND ")
        ctes.append("m AS (SELECT c0.user_id FROM c0%s WHERE %s)" % (joins, rel))
        ctes.append("me AS (SELECT e.* FROM e JOIN m USING (user_id))")
    else:
        ctes.append("me AS (SELECT * FROM e)")
    prefix = "WITH " + ",\n".join(ctes) + "\n"
    out = [("summary", prefix + "SELECT count(DISTINCT user_id), count(*) FROM me")]
    for a in q.get("aggregations") or []:
        out.append(("agg:" + _agg_name(a), prefix + _agg_sql(a, "me")))
    f = q.get("funnel")
    if f:
        cs, last, passed = _seq_ctes("f", "me", f["sequence"], f.get("maxDuration"))
        fl = "fl AS (SELECT user_id, %s FROM %s)" % (
            ", ".join("%s AS p%d" % (p, j) for j, p in enumerate(passed)), last)
        fprefix = prefix.rstrip("\n") + ",\n" + ",\n".join(cs + [fl]) + "\n"
        steps = " UNION ALL ".join(
            "SELECT %d AS step, count(DISTINCT CASE WHEN fl.p%d THEN me.user_id END), "
            "COALESCE(sum(CASE WHEN fl.p%d THEN 1 ELSE 0 END), 0) "
            "FROM me JOIN fl USING (user_id)" % (j, j, j) for j in range(len(passed)))
        out.append(("funnel", fprefix + "SELECT * FROM (%s) ORDER BY step" % steps))
        joined = "me JOIN fl USING (user_id)"
        for j in range(len(passed)):
            for a in f.get("stepAggregations") or []:
                out.append(("fagg:step%d_%s" % (j, _agg_name(a)),
                            fprefix + _agg_sql(a, joined, " WHERE fl.p%d" % j)))
        for a in f.get("endAggregations") or []:
            out.append(("fagg:end_%s" % _agg_name(a),
                        fprefix + _agg_sql(a, joined, " WHERE fl.p%d" % (len(passed) - 1))))
    return out


def _agg_json(name, rows):
    """A scalar aggregation's statement returns one column, a per-value
    aggregation's two (value, measure)."""
    if rows and len(rows[0]) == 1:
        return {"name": name, "value": rows[0][0]}
    return {"name": name, "values": {str(k): v for k, v in rows}}


def expected(q, results):
    """The answer for `q` from {key: rows} of its `oracle_sql` statements,
    in statement order (the engine's order of aggregations)."""
    g, r = results["summary"][0]
    query = {"matchingGroups": g, "matchingGroupRows": r}
    aggs = [_agg_json(k[len("agg:"):], rows) for k, rows in results.items() if k.startswith("agg:")]
    if aggs:
        query["aggregations"] = aggs
    out = {"query": query}
    if "funnel" in results:
        fj = {"sequence": [{"sequenceGroups": sg, "sequenceRowCount": sr}
                           for _, sg, sr in results["funnel"]]}
        faggs = [_agg_json(k[len("fagg:"):], rows) for k, rows in results.items()
                 if k.startswith("fagg:")]
        if faggs:
            fj["aggregations"] = faggs
        out["funnel"] = fj
    return out


# ------------------------------------------------------------- requests


def _zipf_indices(n_draws, pool_size, s=1.1):
    """Pool indices drawn Zipf-skewed from a FIXED generator: every seed
    requests the same index sequence (only the bodies differ), so the
    cache hit share is the same on every seed."""
    rnd = random.Random("zipf/%d/%d" % (pool_size, n_draws))
    w = [1.0 / (k + 1) ** s for k in range(pool_size)]
    return rnd.choices(range(pool_size), weights=w, k=n_draws)


def plan(workload, seed, seconds):
    """The fixed request list of one run of `workload` under `seed`.

    The query count is `queries_per_s` x `seconds`, at least `min_queries`
    (enough samples for the p75 rule). Returns {"key", "warmup": [query],
    "prewarm": [query], "pool": [query], "requests": [item]}, where an
    item is {"kind": "query", "q": pool index} or {"kind": "register",
    "version": "v1" | "v2"}. Pool entries are distinct from each other and
    from both warm-ups. Pool entry i is an instance of template i mod 9,
    so every seed runs the same template mix.
    """
    w = WORKLOADS[workload]
    n = max(w["min_queries"], round(w["queries_per_s"] * seconds))
    rnd = random.Random("%s/%d/%d" % (workload, seed, TEMPLATE_VERSION))
    warm_rnd = random.Random("%s/%d/%d/warmup" % (workload, seed, TEMPLATE_VERSION))
    warmup = [t(random.Random("shape/warmup/%d" % i), warm_rnd) for i, t in enumerate(WARMUP)]
    # One instance of every template, run after the last set-up and before
    # the timed pass, outside set-up time: without it the JIT is still
    # warming through the first dozen timed queries and the run's latency
    # median moves with it.
    prewarm = [t(random.Random("shape/prewarm/%d" % i), warm_rnd) for i, t in enumerate(TEMPLATES)]
    seen = {body(q) for q in warmup + prewarm}
    pool_size = w.get("pool") or n
    pool = []
    attempt = 0
    while len(pool) < pool_size:
        i = len(pool)
        shape = random.Random("shape/%s/%d/%d" % (workload, i, attempt))
        q = TEMPLATES[i % len(TEMPLATES)](shape, rnd)
        b = body(q)
        attempt += 1
        if b not in seen:
            seen.add(b)
            pool.append(q)
            attempt = 0
    if not w.get("register_every"):
        requests = [{"kind": "query", "q": i} for i in range(n)]
    else:
        requests, version = [], "v1"
        for k, i in enumerate(_zipf_indices(n, pool_size)):
            if k and k % w["register_every"] == 0:
                version = "v2" if version == "v1" else "v1"
                requests.append({"kind": "register", "version": version})
            requests.append({"kind": "query", "q": i})
    return {"key": "p%d" % pool_size, "warmup": warmup, "prewarm": prewarm, "pool": pool,
            "requests": requests}
