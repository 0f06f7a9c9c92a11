"""Seeded event-log generator for the query-service benchmark.

Writes parquet part files with the events schema the repo's test data uses
(event_id BIGINT, ts TIMESTAMP (microseconds, no zone), user_id BIGINT,
event_type VARCHAR, value DOUBLE, props VARCHAR):

- rows per user are Zipf-skewed, so a few heavy users make straggler tasks;
- `value` is integer-valued, so sums and means are exact in any order;
- every part file holds a contiguous user-id range (files clustered by
  user, as in funnel-rocket's layout), rows sorted by (user_id, ts).

The same (seed, spec) always produces byte-identical files; `digest`
checks that, and `cached` keys its on-disk cache by workload, seed, size
and GENERATOR_VERSION.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

EVENT_TYPES = ["view", "search", "click", "add_to_cart", "purchase", "signup"]
EVENT_WEIGHTS = [0.38, 0.16, 0.22, 0.11, 0.07, 0.06]
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
DAYS = 30
PROPS_KEYS = 100
ZIPF_S = 1.0  # rows-per-user skew: weight of the user of rank r is 1/(r+20)^ZIPF_S


def _events(rng, n_users, n_rows, first_user, start_us, days):
    """One block of events: (user_id, ts_us, event_type idx, value, k)."""
    ranks = rng.permutation(n_users) + 1
    w = 1.0 / np.power(ranks + 20.0, ZIPF_S)
    per_user = rng.multinomial(n_rows - n_users, w / w.sum()) + 1
    users = np.repeat(np.arange(first_user, first_user + n_users, dtype=np.int64), per_user)
    ts = start_us + rng.integers(0, days * DAY_US, size=n_rows, dtype=np.int64)
    order = np.lexsort((ts, users))
    users, ts = users[order], ts[order]
    etype = rng.choice(len(EVENT_TYPES), size=n_rows, p=EVENT_WEIGHTS).astype(np.int32)
    value = rng.integers(1, 1000, size=n_rows).astype(np.float64)
    k = np.minimum(rng.zipf(1.3, size=n_rows) - 1, PROPS_KEYS - 1).astype(np.int64)
    return users, ts, etype, value, k


def _table(users, ts, etype, value, k, first_event_id):
    n = len(users)
    types = pa.array(EVENT_TYPES, type=pa.string())
    props = pa.array(['{"k": %d}' % i for i in range(PROPS_KEYS)], type=pa.string())
    return pa.table({
        "event_id": pa.array(np.arange(first_event_id, first_event_id + n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": types.take(pa.array(etype)),
        "value": pa.array(value),
        "props": props.take(pa.array(k)),
    })


def _write_parts(table, users, outdir, parts, prefix):
    """Split at user boundaries into `parts` files of ~equal row counts."""
    n = len(users)
    cuts = [0]
    for p in range(1, parts):
        i = int(n * p / parts)
        # move the cut forward to the next user boundary
        while 0 < i < n and users[i] == users[i - 1]:
            i += 1
        cuts.append(max(i, cuts[-1]))
    cuts.append(n)
    for p in range(parts):
        lo, hi = cuts[p], cuts[p + 1]
        if hi > lo:
            pq.write_table(table.slice(lo, hi - lo),
                           os.path.join(outdir, "%s-%05d.parquet" % (prefix, p)),
                           compression="snappy", row_group_size=1 << 20)


def generate(spec, seed, outdir):
    """Write the dataset(s) of `spec` under `outdir`; returns {version: dir}.

    spec: {"users", "rows", "parts"} plus optional
    {"appended_rows"}: when set, a second version v2 is written that is v1
    plus one appended day part over the first users (a daily data drop).
    """
    rng = np.random.default_rng([seed, spec["rows"], spec["users"]])
    users, ts, etype, value, k = _events(
        rng, spec["users"], spec["rows"], 1, START_US, DAYS)
    v1 = os.path.join(outdir, "v1")
    os.makedirs(v1)
    table = _table(users, ts, etype, value, k, 0)
    _write_parts(table, users, v1, spec["parts"], "part")
    out = {"v1": v1}
    extra = spec.get("appended_rows")
    if extra:
        v2 = os.path.join(outdir, "v2")
        os.makedirs(v2)
        for name in sorted(os.listdir(v1)):
            shutil.copyfile(os.path.join(v1, name), os.path.join(v2, name))
        n_users = max(1, spec["users"] // 4)
        u2, t2, e2, val2, k2 = _events(
            rng, n_users, extra, 1, START_US + DAYS * DAY_US, 1)
        day = _table(u2, t2, e2, val2, k2, spec["rows"])
        _write_parts(day, u2, v2, 1, "day-%02d" % (DAYS + 1))
        out["v2"] = v2
    return out


def digest(root):
    """sha256 over every file under `root` (relative names + bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for name in sorted(files):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def cache_key(workload, seed, spec):
    size = "u%d-r%d-p%d" % (spec["users"], spec["rows"], spec["parts"])
    if spec.get("appended_rows"):
        size += "-a%d" % spec["appended_rows"]
    return "%s-s%d-%s-g%d" % (workload, seed, size, GENERATOR_VERSION)


def cached(cache_root, workload, seed, spec):
    """Generate into the cache unless present; returns (dirs, digest, hit).

    A cache entry is a directory holding `data/` and `manifest.json` (the
    digest at generation time); an entry whose files no longer match its
    digest is regenerated.
    """
    entry = os.path.join(cache_root, cache_key(workload, seed, spec))
    manifest = os.path.join(entry, "manifest.json")
    data = os.path.join(entry, "data")
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if digest(data) == m["digest"]:
            return {v: os.path.join(data, v) for v in m["versions"]}, m["digest"], True
    shutil.rmtree(entry, ignore_errors=True)
    tmp = entry + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    dirs = generate(spec, seed, os.path.join(tmp, "data"))
    d = digest(os.path.join(tmp, "data"))
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"digest": d, "versions": sorted(dirs)}, f)
    os.rename(tmp, entry)
    return {v: os.path.join(data, v) for v in dirs}, d, False
