"""Seeded input generators for the four workloads, and the reference models
the correctness checks compare the engine's outputs against.

Every generator is a pure function of (seed, sizes): the same seed writes
byte-identical files, a different seed writes different values in the same
shape. The engine only ever sees the files written here.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# ------------------------------------------------------------------ netmon

# None of these sizes is measured traffic: each was chosen so that one op
# and one run fit the benchmark's time budget (perfbench/README.md gives the
# reason for each number).
NETMON = dict(hosts=250, ifaces=8, parts=4, per_batch=4000,
              batch_span_us=10_000_000)


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def netmon_samples(seed, hosts, ifaces, parts, per_batch, batches,
                   batch_span_us):
    """Monotone counter samples, batch-major and time-ordered.

    The key domain is hosts x interfaces with Zipf-skewed sample
    frequency; the seed draws the samples, not the skew. Each key's value is a utilisation counter on a 0..100 ring:
    it climbs by 0.25..10 per sample and wraps (a counter reset) when it
    passes 100. All values are multiples of 0.25, so every sum is exact in
    binary floating point. A key always lands on partition key % parts."""
    r = _rng(seed, 1)
    keys = hosts * ifaces
    # key k has the k-th largest weight whatever the seed, so every seed
    # puts the same load on each partition and shuffle partition
    weight = 1.0 / np.arange(1, keys + 1) ** 1.1
    weight /= weight.sum()
    n = per_batch * batches
    user = r.choice(keys, size=n, p=weight).astype(np.int64)
    batch = np.repeat(np.arange(batches, dtype=np.int64), per_batch)
    off = np.sort(r.integers(0, batch_span_us, size=(batches, per_batch)),
                  axis=1).reshape(-1)
    ts = T0_US + batch * batch_span_us + off
    inc = r.integers(1, 41, size=n).astype(np.int64)   # quarter units
    start = r.integers(0, 400, size=keys).astype(np.int64)
    # per-key running sum in global (time) order
    order = np.argsort(user, kind="stable")
    cs = np.cumsum(inc[order])
    grp = user[order]
    first = np.r_[True, grp[1:] != grp[:-1]]
    base = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    before = np.where(base > 0, cs[base - 1], 0)
    run = np.empty(n, dtype=np.int64)
    run[order] = cs - before + start[grp]
    value = (run % 400).astype(np.float64) / 4.0
    return dict(event_id=np.arange(n, dtype=np.int64), ts_us=ts,
                user_id=user, value=value, batch=batch, part=user % parts)


def netmon_model(s, n_batches):
    """What counterToRate and alertStream must have committed after the
    first n_batches: rate rows, their summed value and time deltas, the
    number of resets (negative deltas), and the alert toggles."""
    m = s["batch"] < n_batches
    user, ts, eid, val = s["user_id"][m], s["ts_us"][m], s["event_id"][m], s["value"][m]
    order = np.lexsort((eid, ts, user))
    user, ts, val = user[order], ts[order], val[order]
    same = user[1:] == user[:-1]
    dv = (val[1:] - val[:-1])[same]
    dt = (ts[1:] - ts[:-1])[same]
    raises = clears = 0
    cur = {}
    for u, v in zip(user.tolist(), val.tolist()):
        c = cur.get(u, 0)
        nxt = 1 if v >= 90.0 else 0 if v <= 30.0 else c
        if nxt != c:
            raises += nxt
            clears += 1 - nxt
        cur[u] = nxt
    return dict(rate_rows=int(same.sum()), sum_dv=float(dv.sum()),
                sum_dt=int(dt.sum()), resets=int((dv < 0).sum()),
                alert_rows=raises + clears, raises=raises)


def netmon_batches(seconds):
    """Batches for up to 10 warm-up ops and a window of `seconds` at up to
    5 ops a second (an op takes about 3.5 s on 4 cores); a run that still
    runs out fails."""
    return 10 + 5 * seconds


def write_netmon(seed, out, seconds=10, **kw):
    p = {**NETMON, "batches": netmon_batches(seconds), **kw}
    s = netmon_samples(seed, **p)
    cols = ["event_id", "ts_us", "user_id", "batch", "part"]
    with open(os.path.join(out, "netmon.bin"), "wb") as f:
        for c in cols:
            f.write(s[c].astype("<i8").tobytes())
        f.write(s["value"].astype("<f8").tobytes())
    _dump(out, "netmon.json", dict(p, rows=len(s["event_id"])))


# --------------------------------------------------------------------- txn

TXN = dict(keys=20_000, files=8, groups=64, insert_rows=100,
           merge_rows=200, merge_new=20, update_width=200)


def txn_plan(seed, keys, files, groups, rounds, insert_rows, merge_rows,
             merge_new, update_width):
    """The base table and a fixed sequence of SQL rounds, replayed in
    memory to give each point SELECT's answer and the table and view
    digests after every round.

    Live keys are the window [lo, lo + keys). A round inserts merge_new
    keys through MERGE's NOT MATCHED branch and insert_rows - merge_new
    through INSERT ... VALUES at the top of the window, deletes the
    insert_rows lowest keys, so the row count never changes."""
    r = _rng(seed, 2)
    v = r.integers(0, 1000, size=keys).astype(np.int64)
    table = dict(zip(range(keys), v.tolist()))
    base = dict(keys=keys, files=files, v=v)
    lo = 0
    plan = []
    for _ in range(rounds):
        hi = lo + keys
        new = list(range(hi, hi + insert_rows))
        stmts = []
        ins = [(k, int(r.integers(0, 1000))) for k in new[merge_new:]]
        stmts.append(dict(kind="insert", sql="INSERT INTO {t} VALUES " + ", ".join(
            f"(CAST({k} AS BIGINT), CAST({x} AS BIGINT), CAST({k % groups} AS BIGINT))"
            for k, x in ins)))
        # skewed toward the newest keys (mean distance 300 from the top), so
        # a MERGE rewrites the newest files and leaves the old ones alone
        hot = np.unique(hi - 1 - np.minimum(r.exponential(300, merge_rows).astype(np.int64),
                                            keys - insert_rows - 1))
        src = [(int(k), int(r.integers(0, 1000))) for k in hot] + \
              [(k, int(r.integers(0, 1000))) for k in new[:merge_new]]
        stmts.append(dict(kind="merge", sql=(
            "MERGE INTO {t} AS t USING (SELECT * FROM VALUES " + ", ".join(
                f"(CAST({k} AS BIGINT), CAST({x} AS BIGINT), CAST({k % groups} AS BIGINT))"
                for k, x in src) + " AS s(k, v, g)) AS s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")))
        a = int(lo + insert_rows + r.integers(0, keys - insert_rows - update_width))
        stmts.append(dict(kind="update", sql=(
            f"UPDATE {{t}} SET v = v + 1 WHERE k BETWEEN {a} AND {a + update_width - 1}")))
        stmts.append(dict(kind="delete", sql=(
            f"DELETE FROM {{t}} WHERE k BETWEEN {lo} AND {lo + insert_rows - 1}")))
        for k, x in ins + src:
            table[k] = x
        for k in range(a, a + update_width):
            table[k] += 1
        for k in range(lo, lo + insert_rows):
            del table[k]
        lo += insert_rows
        for _ in range(2):
            k = int(lo + r.integers(0, keys))
            stmts.append(dict(kind="select", sql=f"SELECT v FROM {{t}} WHERE k = {k}",
                              expect=table[k]))
        stmts.append(dict(kind="refresh", sql="REFRESH MATERIALIZED VIEW {mv}"))
        plan.append(dict(stmts=stmts, digest=_txn_digest(table, groups)))
    return base, plan


def _txn_digest(table, groups):
    k = np.fromiter(table.keys(), dtype=np.int64)
    v = np.fromiter(table.values(), dtype=np.int64)
    g = k % groups
    view = [[int(x), int((g == x).sum()), int(v[g == x].sum())] for x in range(groups)]
    return dict(rows=len(k), sum_k=int(k.sum()), sum_v=int(v.sum()),
                sum_kv=int((k * v).sum()), view=view)


def txn_rounds(seconds):
    """Rounds for up to 5 warm-up ops and a window of `seconds` at up to 2
    ops a second (an op takes about 6 s on 4 cores); a run that still runs
    out fails."""
    return 5 + 2 * seconds


def write_txn(seed, out, seconds=10, **kw):
    p = {**TXN, "rounds": txn_rounds(seconds), **kw}
    base, plan = txn_plan(seed, **p)
    base["v"].astype("<i8").tofile(os.path.join(out, "txn_base.bin"))
    _dump(out, "txn.json", dict(p, rounds_plan=plan))


# ------------------------------------------------------------------- dedup

DEDUP = dict(shards=4, docs=1000, words=40, vocab=50_000)


def dedup_shard(seed, shard, docs, words, vocab):
    """One shard of a sparse corpus with planted near-duplicates.

    Doc ids start at shard * docs. In every block of 20 docs, doc 1 is
    doc 0 with one word appended (Jaccard 40/41); in even blocks doc 2 is
    an exact copy of doc 1, making a three-doc cluster. Every other pair
    shares almost no words (random draws from a large vocabulary).

    MinHashLsh's 8 bands of 4 miss a pair of Jaccard J with probability
    (1 - J^4)^8: about 7e-9 at 40/41. Pairs nearer the S-curve are missed
    often enough to fail runs (1.4e-4 at 38/42, the earlier twins' lowest)."""
    r = _rng(seed, 1000 + shard)
    w = r.integers(0, vocab, size=(docs, words)).tolist()
    extra = (r.integers(0, vocab, size=docs // 20) + vocab).tolist()
    for blk, x in enumerate(extra):
        d = 20 * blk
        w[d + 1] = w[d] + [x]
        if blk % 2 == 0:
            w[d + 2] = w[d + 1]
    ids = np.arange(docs, dtype=np.int64) + shard * docs
    return ids, [" ".join(f"w{x}" for x in row) for row in w]


def planted_pairs(shard, docs):
    """The exact near-duplicate pair set of a shard, by arithmetic."""
    b = shard * docs
    out = []
    for blk in range(docs // 20):
        d = b + 20 * blk
        out.append((d, d + 1))
        if blk % 2 == 0:
            out += [(d, d + 2), (d + 1, d + 2)]
    return out


def write_dedup(seed, out, **kw):
    p = dict(DEDUP, **kw)
    for s in range(p["shards"]):
        ids, text = dedup_shard(seed, s, p["docs"], p["words"], p["vocab"])
        with open(os.path.join(out, f"dedup_{s}.tsv"), "w") as f:
            f.writelines(f"{i}\t{t}\n" for i, t in zip(ids.tolist(), text))
    pairs = [planted_pairs(s, p["docs"]) for s in range(p["shards"])]
    _dump(out, "dedup.json", dict(p, pairs=pairs))


# -------------------------------------------------------------------- olap

OLAP = dict(sf=0.02)

def olap_tables(seed, sf):
    """TPC-H-shaped customer, orders and lineitem tables with the column
    names, types and value ranges the declared queries expect."""
    r = _rng(seed, 3)
    n_cust, n_ord = int(15000 * sf), int(150000 * sf)
    n_part, n_supp = int(20000 * sf), int(1000 * sf)

    def money(lo, hi, n):
        return r.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0

    def days(lo, hi, n):
        d = r.integers(lo, hi, size=n).astype("int64")
        return pa.array(d * 86_400_000_000, type=pa.timestamp("us"))

    d95 = 9131  # 1995-01-01 in days since the epoch
    t = {}
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": days(d95, d95 + 2404, n_ord),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = r.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), lines), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1,
                                 pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": days(d95, d95 + 2500, n_li)})
    return t


def write_olap(seed, out, **kw):
    p = dict(OLAP, **kw)
    for name, tbl in olap_tables(seed, **p).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    _dump(out, "olap.json", p)


def write_netmon_run(seed, out, seconds):
    """netmon's inputs: counter samples and the declared queries' tables."""
    write_netmon(seed, out, seconds)
    write_olap(seed, out)


def write_lake(seed, out, seconds):
    write_txn(seed, out, seconds)
    write_dedup(seed, out)


def _dump(out, name, obj):
    with open(os.path.join(out, name), "w") as f:
        json.dump(obj, f, sort_keys=True, default=_np)


def _np(x):
    if isinstance(x, np.integer):
        return int(x)
    if isinstance(x, np.ndarray):
        return x.tolist()
    raise TypeError(type(x))


WRITERS = dict(netmon=write_netmon_run, lake=write_lake)
