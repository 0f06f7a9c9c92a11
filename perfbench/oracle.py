"""DuckDB oracle: the expected answer of every benchmark request.

Each dataset version is loaded once into an in-memory table with the
timestamp as epoch nanoseconds (`tl`, the engine's contract), then every
query's statements run against it in one batch, as `tools/fuzz_oracle.py`
does for the fuzzers. `compare` checks one server response against its
expected answer.
"""
import json
import os

import duckdb

import workloads


def compute(version_dirs, queries, threads):
    """{version: [expected answer per query]} for every dataset version."""
    con = duckdb.connect()
    con.execute("SET threads TO %d" % threads)
    out = {}
    for version, d in sorted(version_dirs.items()):
        table = "ev_" + version
        con.execute(
            "CREATE TABLE %s AS SELECT user_id, event_type, event_id, props, value, "
            "epoch_ns(ts) AS tl FROM read_parquet('%s')" % (table, os.path.join(d, "*.parquet")))
        answers = []
        for q in queries:
            results = {k: con.execute(sql).fetchall() for k, sql in workloads.oracle_sql(q, table)}
            answers.append(workloads.expected(q, results))
        out[version] = answers
        con.execute("DROP TABLE %s" % table)
    con.close()
    return out


def _items(x):
    """Order-preserving form of a parsed JSON value: objects become lists
    of (key, value) pairs, so top-K order is compared, not just content."""
    if isinstance(x, dict):
        return [(k, _items(v)) for k, v in x.items()]
    if isinstance(x, list):
        return [_items(v) for v in x]
    return x


def compare(response_text, want):
    """None when the response, minus its `stats` block, equals `want`;
    otherwise a one-line reason."""
    try:
        got = json.loads(response_text)
    except ValueError as e:
        return "unparseable response: %s" % e
    if not isinstance(got, dict):
        return "response is not an object"
    got = {k: v for k, v in got.items() if k != "stats"}
    if _items(got) != _items(want):
        return "answer differs: got %s want %s" % (
            json.dumps(got)[:300], json.dumps(want)[:300])
    return None
