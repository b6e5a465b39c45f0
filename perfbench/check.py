"""End-of-run correctness checks against the generators' own models.

Each returns a list of problems; empty means the run's final state is
right. Per-op checks (point SELECT answers, planted near-duplicate pairs and
clusters, repeatable query results) are made inside the JVM and arrive as each op's `ok`."""
import json
import math
import os

import duckdb

import gen


def netmon(raw, inputs, seed):
    p = json.load(open(os.path.join(inputs, "netmon.json")))
    p.pop("rows")
    got = raw["result"]
    want = gen.netmon_model(gen.netmon_samples(seed, **p), got["batches"])
    return [f"netmon {k}: engine {got[k]} != model {v}"
            for k, v in want.items() if got[k] != v] + _queries(got["queries"], inputs)


def _txn(raw, inputs):
    p = json.load(open(os.path.join(inputs, "txn.json")))
    got = raw["result"]["txn"]
    want = p["rounds_plan"][got["rounds"] - 1]["digest"]
    bad = [f"txn {k}: engine {got[k]} != replay {v}"
           for k, v in want.items() if got[k] != v]
    if sum(got["refresh_modes"].values()) != got["rounds"]:
        bad.append(f"txn: {got['rounds']} refreshes ran, modes recorded {got['refresh_modes']}")
    return bad


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _canon(cols, rows):
    """Columns sorted by name, rows as an order-insensitive multiset."""
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in perm) for r in rows]
    # ints and floats compare equal (1 == 1.0); sort them alike too
    return sorted(out, key=lambda t: json.dumps(
        [float(x) if isinstance(x, int) and not isinstance(x, bool) else x for x in t],
        default=str))


def _queries(got, inputs):
    con = duckdb.connect()
    for f in sorted(os.listdir(inputs)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{inputs}/{f}')")
    bad = []
    for q, r in sorted(got.items()):
        want = con.sql(r["oracle"])
        want_rows = want.fetchall()
        if not want_rows:
            bad.append(f"olap {q}: oracle result is empty")
        elif sorted(want.columns) != sorted(r["columns"]):
            bad.append(f"olap {q}: columns {r['columns']} != oracle {want.columns}")
        elif _canon(want.columns, want_rows) != _canon(r["columns"], r["rows"]):
            bad.append(f"olap {q}: {len(r['rows'])} rows differ from the oracle's {len(want_rows)}")
    return bad


def lake(raw, inputs, seed):
    return _txn(raw, inputs)


CHECKS = dict(netmon=netmon, lake=lake)
