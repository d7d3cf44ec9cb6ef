"""Seeded inputs for the federation benchmark: the data set, the op list of
one workload, and each op's expected result.

Everything here is a pure function of (workload, seed, scale): the same
seed gives the same tables, the same ops and the same expectations. The
expectations come from DuckDB over the generated parquet files (reads) or
from closed forms over the generated parameters (writes), computed before
the program under test starts, so checking them costs nothing in the timed
loop.
"""

import datetime
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PWORDS = ["small", "red", "ring", "widget", "blue", "gear", "green", "bolt"]
EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
VOCAB = ("row the query stream key agg scan slow table part a merge window "
         "order column join vector value hash batch sort data big filter "
         "dup fast spark line small customer group").split()

# Tables the Derby engine holds: a prefix of orders (and its lineitems),
# because every Derby row is inserted from Spark in JDBC batches.
DERBY_TABLES = ["orders", "lineitem"]

# Local operator gates run by fed_ingest, one per operator family, with
# the family each belongs to.
GATES = {
    "dedup_minhash": "dedup",
    "text_c4_filters": "text",
    "sim_ivf_topk": "similarity",
    "ev_sessionize": "events",
}

# The two operator chains of a fed_ingest cycle, of about equal cost.
CHAINS = [["dedup_minhash", "text_c4_filters"],
          ["sim_ivf_topk", "ev_sessionize"]]

DAY0 = np.datetime64("1995-01-01", "D")


def sizes(scale):
    orders = int(25000 * scale)
    return {
        "customer": int(2500 * scale), "supplier": 100, "part": 2000,
        "orders": orders, "derby_orders": int(4000 * scale),
        "events": int(3000 * scale), "documents": 500, "embeddings": 500,
    }


def _write(dirname, name, table):
    os.makedirs(dirname, exist_ok=True)
    pq.write_table(table, os.path.join(dirname, name + ".parquet"))


def _ts(days):
    return pa.array((DAY0 + days.astype("timedelta64[D]"))
                    .astype("datetime64[us]"), pa.timestamp("us"))


DATA_SEED = 42


def gen_data(root, scale):
    """Write the main tables to root/main and Derby's subset to root/derby.
    The tables are fixed (their own seed); the workload seed draws the ops
    and their parameters, so every run of a checkout reads the same data
    and data generation happens once per checkout, outside any run."""
    rng = np.random.default_rng([DATA_SEED, 1])
    n = sizes(scale)
    main = os.path.join(root, "main")
    derby = os.path.join(root, "derby")
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = n["part"]
    w = rng.integers(0, len(PWORDS), (npart, 2))
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PWORDS[a]} {PWORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2)})
    no = n["orders"]
    odays = rng.integers(0, 2400, no)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})
    per = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no), per)
    nl = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(np.repeat(odays, per) + rng.integers(1, 122, nl))})
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.08:      # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 10 and rng.random() < 0.08:    # near duplicate
            words = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[t] for t in
                                  rng.integers(0, len(VOCAB), k)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    centers = rng.normal(0, 0.15, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = (centers[labels] + rng.normal(0, 0.08, (nv, 64))).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        _write(main, name, t)
    nd_orders = n["derby_orders"]
    for name in DERBY_TABLES:
        t = tables[name]
        if name == "orders":
            t = t.slice(0, nd_orders)
        elif name == "lineitem":
            t = t.slice(0, int(np.searchsorted(lok, nd_orders)))
        _write(derby, name, t)
    return n


# ---------------------------------------------------------------- oracle

def _canon(v):
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if hasattr(v, "as_tuple"):   # Decimal
        return float(v)
    return v


class Oracle:
    """DuckDB over the generated parquet files, with one view per name the
    program sees: `duck_<t>` and local `<t>` over main, `jdbc_<t>` over
    the Derby subset."""

    def __init__(self, root):
        self.con = duckdb.connect()
        main = os.path.join(root, "main")
        for f in sorted(os.listdir(main)):
            t = f[:-len(".parquet")]
            p = os.path.join(main, f)
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.con.execute(
                f"CREATE VIEW duck_{t} AS SELECT * FROM read_parquet('{p}')")
        for t in DERBY_TABLES:
            p = os.path.join(root, "derby", t + ".parquet")
            self.con.execute(
                f"CREATE VIEW jdbc_{t} AS SELECT * FROM read_parquet('{p}')")

    def result(self, sql):
        cur = self.con.execute(sql)
        cols = [d[0] for d in cur.description]
        return {"cols": cols,
                "rows": [[_canon(v) for v in r] for r in cur.fetchall()]}

    def scalar(self, sql):
        return self.con.execute(sql).fetchone()


def spark_sql(sql):
    """The program-side text of a template: timestamp literals are NTZ in
    Spark (the parquet timestamps are naive), plain TIMESTAMP in DuckDB."""
    return sql.replace("TIMESTAMP '", "TIMESTAMP_NTZ '")


def _skewed(rng, domain):
    """Draw from a bounded domain with a Zipf-like skew, so that some
    parameters (and so some remote fragments) repeat and most do not."""
    w = 1.0 / np.arange(1, len(domain) + 1) ** 1.1
    order = rng.permutation(len(domain))
    return domain[order[int(rng.choice(len(domain), p=w / w.sum()))]]


def _day(d):
    return str(DAY0 + np.timedelta64(int(d), "D"))


# ------------------------------------------------------------- workloads

def interactive_ops(rng, n, count):
    cut = [_day(d) for d in range(1200, 2500, 20)]
    years = list(range(1995, 2001))
    templates = [
        ("q1_duck", 4, lambda: (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, "
            "COUNT(*) AS n_lines FROM duck_lineitem "
            f"WHERE l_shipdate <= TIMESTAMP '{_skewed(rng, cut)} 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus")),
        ("q1_derby", 3, lambda: (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
            "COUNT(*) AS n_lines FROM jdbc_lineitem "
            f"WHERE l_shipdate <= TIMESTAMP '{_skewed(rng, cut)} 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus")),
        ("q6_duck", 4, lambda: (lambda y, d, q: (
            "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue, "
            "COUNT(*) AS n FROM duck_lineitem "
            f"WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00' "
            f"AND l_shipdate < TIMESTAMP '{y + 1}-01-01 00:00:00' "
            f"AND l_discount BETWEEN {d - 0.01:.2f} AND {d + 0.01:.2f} "
            f"AND l_quantity < {q}"))(
                _skewed(rng, years), _skewed(rng, [0.02, 0.04, 0.06, 0.08]),
                _skewed(rng, [20, 24, 30]))),
        ("q3_duck", 4, lambda: (
            "SELECT o_orderkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue "
            "FROM duck_customer, duck_orders, duck_lineitem "
            f"WHERE c_mktsegment = '{_skewed(rng, SEGMENTS)}' "
            "AND c_custkey = o_custkey AND l_orderkey = o_orderkey "
            f"AND o_orderdate < TIMESTAMP '{_skewed(rng, cut)} 00:00:00' "
            "GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10")),
        ("xengine_join", 2, lambda: (
            "SELECT n_name, COUNT(*) AS n_orders, "
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
            "FROM jdbc_orders JOIN duck_customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE c_custkey % 97 = {_skewed(rng, list(range(97)))} "
            f"AND o_orderpriority = '{_skewed(rng, PRIORITIES)}' "
            "GROUP BY n_name ORDER BY n_name")),
        ("union_partial_agg", 4, lambda: (lambda q: (
            "SELECT l_returnflag, COUNT(*) AS n, "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty "
            "FROM (SELECT l_returnflag, l_quantity FROM duck_lineitem "
            f"WHERE l_quantity > {q} UNION ALL "
            "SELECT l_returnflag, l_quantity FROM jdbc_lineitem "
            f"WHERE l_quantity > {q}) u "
            "GROUP BY l_returnflag ORDER BY l_returnflag"))(
                _skewed(rng, list(range(1, 50))))),
        ("window_duck", 3, lambda: (lambda k: (
            "SELECT o_custkey, o_orderkey, rn FROM (SELECT o_custkey, "
            "o_orderkey, ROW_NUMBER() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey) AS rn FROM duck_orders "
            f"WHERE o_custkey >= {k} AND o_custkey < {k + 20}) t "
            "WHERE rn <= 2 ORDER BY o_custkey, rn"))(
                _skewed(rng, list(range(0, n["customer"] - 20, 20))))),
    ]
    # a cycle holds each template `weight` times, its copies spread evenly
    # over the cycle; the order is fixed and the seed draws the parameters.
    # The weights put fed_read's median op three ranks inside the run of
    # small pushed queries (q1, q3, q6, window: 50-140 ms on 4 cores), not
    # at its edge: next comes the union (~200 ms), and a median on that
    # gap jumps between the two.
    cycle = sorted(((k + 0.5) / t[1], i, t) for i, t in enumerate(templates)
                   for k in range(t[1]))
    ops = []
    while len(ops) < count:
        for _, _, (fam, _, make) in cycle:
            ops.append({"family": fam, "sql": make()})
    return ops, len(cycle)


def drain_ops(rng, n, count):
    """Slices of lineitem/orders into a local join + aggregate. Every slice
    is drawn fresh, so every fragment predicate is new. `duck_small` slices
    of ~24k-36k rows split over 4 cursors (line-JSON fetch); `duck_large`
    slices of ~70k-100k rows take one cursor, past the executor's
    65536-row staged-fetch threshold (about 4 lineitems per order)."""
    no, nd = n["orders"], n["derby_orders"]
    # (kind, narrowest and widest slice in orders, key range)
    kinds = [("duck_small", no * 24 // 100, no * 36 // 100, no),
             ("duck_large", no * 7 // 10, no, no),
             ("derby", nd // 4, nd // 2, nd),
             ("orders", no // 5, no * 2 // 5, no)]
    # duck_small is half of each cycle and its widths span a narrow band:
    # fed_read's tail percentile then falls inside one kind's latency
    # range, not in the gap between two kinds
    cycle = [0, 1, 0, 2, 0, 3]
    strata = 4
    ops = []
    seen = set()
    for i in range(-(-count // len(cycle)) * len(cycle)):
        k = cycle[i % len(cycle)]
        kind, w_lo, w_hi, hi_key = kinds[k]
        # stratified widths: every len(cycle) * strata ops span each
        # stratum of each kind, so runs differ in order and offsets, not mix
        if i % (len(cycle) * strata) == 0:
            order = [rng.permutation(strata * cycle.count(j)) % strata
                     for j in range(len(kinds))]
            used = [0] * len(kinds)
        stratum = order[k][used[k] % len(order[k])]
        used[k] += 1
        while True:
            w = int(w_lo + (w_hi - w_lo) * (stratum + rng.random()) / strata)
            a = int(rng.integers(0, max(1, hi_key - w + 1)))
            if (kind, a, w) not in seen:
                seen.add((kind, a, w))
                break
        b = a + w
        if kind == "orders":
            sql = ("SELECT n_name, COUNT(*) AS n, "
                   "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) "
                   "AS total FROM duck_orders "
                   "JOIN customer ON o_custkey = c_custkey "
                   "JOIN nation ON c_nationkey = n_nationkey "
                   f"WHERE o_orderkey >= {a} AND o_orderkey < {b} "
                   "GROUP BY n_name ORDER BY n_name")
        elif kind == "duck_large":
            # no integral column leaves the fragment, so it is not split:
            # one cursor carries the whole slice, past the staged-fetch
            # threshold
            sql = ("SELECT p_brand, COUNT(*) AS n, "
                   "CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) "
                   "AS revenue FROM (SELECT CAST(l_partkey AS DOUBLE) AS pk, "
                   "l_extendedprice AS price FROM duck_lineitem "
                   f"WHERE l_orderkey >= {a} AND l_orderkey < {b}) s "
                   "JOIN part ON pk = CAST(p_partkey AS DOUBLE) "
                   "GROUP BY p_brand ORDER BY p_brand")
        else:
            src = "jdbc_lineitem" if kind == "derby" else "duck_lineitem"
            sql = ("SELECT p_brand, COUNT(*) AS n, "
                   "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
                   f"AS revenue FROM {src} JOIN part ON l_partkey = p_partkey "
                   f"WHERE l_orderkey >= {a} AND l_orderkey < {b} "
                   "GROUP BY p_brand ORDER BY p_brand")
        ops.append({"family": "drain_" + kind, "sql": sql})
    return ops, len(cycle)


def _words(rng, k):
    return " ".join(VOCAB[t] for t in rng.integers(0, len(VOCAB), k))


STREAM_MIN_WORDS = 12


# One cycle of fed_ingest ops: each write kind once (every write step
# writes to both engines, so the steps cost about the same) and each
# operator chain once. The order is fixed; the seed draws the parameters.
INGEST_CYCLE = ["stream", "insert", "chain", "ctas", "dml", "chain"]


def ingest_ops(rng, count, key_base):
    """One ETL step per op. Key ranges are disjoint per op, so every op's
    read-back has a closed-form expectation regardless of op order. Chain
    steps run the CHAINS in turn."""
    ops = []
    chains = 0
    while len(ops) < count:
        for kind in INGEST_CYCLE:
            lo = (key_base + len(ops)) * 100000
            if kind == "chain":
                chain = CHAINS[chains % len(CHAINS)]
                chains += 1
                ops.append({"family": "chain_" + "_".join(
                    GATES[g] for g in chain), "chain": chain})
            elif kind == "stream":
                nd = int(rng.integers(68, 73))
                docs = [[lo + j, _words(rng, int(rng.integers(3, 40)))]
                        for j in range(nd)]
                kept = [d for d in docs
                        if len(d[1].split(" ")) >= STREAM_MIN_WORDS]
                ops.append({"family": "stream", "lo": lo, "hi": lo + nd,
                            "docs": docs,
                            "expect": [len(kept),
                                       sum(len(d[1].split(" ")) for d in kept)]})
            elif kind in ("insert", "dml"):
                nr = int(rng.integers(1080, 1121))
                ks = np.arange(lo, lo + nr)
                v = (ks % 97) / 4.0
                op = {"family": kind, "lo": lo, "hi": lo + nr}
                if kind == "dml":
                    # DELETE k % 3 = 0, then UPDATE v = v + 1 WHERE k % 2 = 0
                    keep = ks % 3 != 0
                    v2 = np.where(ks % 2 == 0, v + 1.0, v)[keep]
                    op["expect"] = [int(keep.sum()), int(ks[keep].sum()),
                                    float(v2.sum())]
                else:
                    op["expect"] = [nr, int(ks.sum()), float(v.sum())]
                ops.append(op)
            else:
                w = int(rng.integers(2180, 2221))
                a = int(rng.integers(0, 20000))
                ops.append({"family": "ctas", "lo": a, "hi": a + w})
    return ops, len(INGEST_CYCLE)


def read_ops(rng, n, count):
    """fed_read: each cycle is one cycle of interactive_ops and one of
    drain_ops, the drain ops spread evenly among the interactive ones."""
    inter, ci = interactive_ops(rng, n, count)
    drain, cd = drain_ops(rng, n, count)
    ops = []
    for c in range(-(-count // (ci + cd))):
        keyed = ([((k + 0.5) / ci, 0, op) for k, op
                  in enumerate(inter[c * ci:(c + 1) * ci])] +
                 [((k + 0.5) / cd, 1, op) for k, op
                  in enumerate(drain[c * cd:(c + 1) * cd])])
        ops += [op for _, _, op in sorted(keyed, key=lambda x: x[:2])]
    return ops, ci + cd


WORKLOADS = ("fed_read", "fed_ingest")

# (Derby tables, local tables) each workload's ops read: a workload sets up
# only those
TABLES = {"fed_read": (["orders", "lineitem"], ["part", "customer", "nation"]),
          "fed_ingest": ([], [])}

# The percentile op_tail_ms reports, per workload: the highest at which a
# run of 16 timed seconds on 4 cores (three cycles of fed_read, four of
# fed_ingest) has at least ten ops beyond it. A fixed percentile keeps the
# tail inside one op family's latency range; a percentile that moved with
# each run's op count would land in another family's range whenever the
# run held one cycle more or fewer.
TAIL_PCT = {"fed_read": 88.0, "fed_ingest": 58.0}


def _ops(workload, rng, n, count, key_base):
    if workload == "fed_read":
        return read_ops(rng, n, count)
    return ingest_ops(rng, count, key_base)


# Cycles of the op mix run as warm-up in set-up, before the timed loop,
# per workload. Latencies keep falling after each op family has run once
# (JIT, Spark's codegen cache), and how fast they fall differs from run to
# run. Measured on 4 cores, fed_read's first cycle runs 10-20 % slower than
# the later ones; fed_ingest's cycles fall by a third over the first four
# (about 20 s).
WARMUP_CYCLES = {"fed_read": 2, "fed_ingest": 4}


def build(workload, seed, data_dir, n, count, gate_oracles):
    """The op file's content: `count` timed ops drawn from `seed`, the
    length of one cycle of the op mix, and WARMUP_CYCLES cycles of warm-up
    ops drawn from a stream of their own."""
    ora = Oracle(data_dir)
    ops, cycle = _ops(workload, np.random.default_rng([seed, 2]), n, count, 1)
    warmup, _ = _ops(workload, np.random.default_rng([seed, 3]), n,
                     WARMUP_CYCLES[workload] * cycle, 10**7)
    gates = {}
    cache = {}
    for op in ops + warmup:
        if "sql" in op:
            if op["sql"] not in cache:
                cache[op["sql"]] = ora.result(op["sql"])
            op["expect_rows"] = cache[op["sql"]]
            op["sql"] = spark_sql(op["sql"])
        elif op["family"] == "ctas":
            cnt, tot = ora.scalar(
                "SELECT COUNT(*), CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
                " AS DOUBLE) FROM duck_orders "
                f"WHERE o_orderkey >= {op['lo']} AND o_orderkey < {op['hi']}")
            op["expect"] = [int(cnt), int(0), float(tot or 0.0)]
        elif "chain" in op:
            for g in op["chain"]:
                if g not in gates:
                    gates[g] = ora.result(gate_oracles[g])
    return {"workload": workload, "seed": seed, "ops": ops, "cycle": cycle,
            "warmup": warmup,
            "derby_tables": TABLES[workload][0],
            "local_tables": TABLES[workload][1],
            "stream_min_words": STREAM_MIN_WORDS,
            "tail_pct": TAIL_PCT[workload],
            "gates": {g: {"family": GATES[g], "expect": r}
                      for g, r in gates.items()},
            "sizes": n}


def write_ops(path, content):
    with open(path, "w") as f:
        json.dump(content, f)
