"""Seeded input generation for the benchmark.

Two input sets, both written as parquet in the layout the engine's loaders
read (`<dir>/<table>.parquet`):

- `tables(out, sf)`: the star schema plus `events` and `documents` that the
  sentinel queries read. Column domains follow the engine's test fixtures:
  uniform keys, TPC-H-style flags and dates, one month of events. The
  generation seed is fixed, so every run reads the same tables.
- `corpus(out, n_docs, seed)`: the document corpus of the `pipeline`
  workload, made by the repository's own `tools/gen_scale.py` (near- and
  exact-duplicate injection included). gen_scale resamples the empirical
  distributions of a source corpus; the source here is a profile corpus
  written by `profile_corpus`, so nothing outside the checkout is read.
"""
import datetime
import importlib.util
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES_SEED = 42
PROFILE_SEED = 4242
# The fixtures' vocabulary: 30 near-uniform words plus a rare marker word.
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
LANGS = {"en": 0.41, "es": 0.15, "fr": 0.15, "zh": 0.15, "de": 0.14}
N_SOURCES = 20


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, lo, hi, n):
    """Uniform midnight timestamps in [lo, hi] as timestamp[us]."""
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def _docs(rng, n, first_id=0):
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):  # the rare marker word
        texts[i] += " dup"
    langs = list(LANGS)
    lang = rng.choice(len(langs), n, p=list(LANGS.values()))
    return {
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([langs[i] for i in lang], pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def profile_corpus(out, n_docs=5000):
    """The source corpus whose distributions gen_scale resamples."""
    os.makedirs(out, exist_ok=True)
    _write(out, "documents", _docs(np.random.default_rng(PROFILE_SEED), n_docs))


def corpus(out, n_docs, seed, profile_dir):
    """`n_docs` documents from `tools/gen_scale.py`'s `main()`, seeded."""
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(os.path.dirname(here), "tools", "gen_scale.py")
    spec = importlib.util.spec_from_file_location("gen_scale", path)
    mod = importlib.util.module_from_spec(spec)
    argv = sys.argv
    sys.argv = [path]  # gen_scale reads its tier from argv at import time
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    # main() takes its parameters from module globals; the pipeline reads
    # only documents, so embeddings are kept token-sized.
    mod.SRC, mod.OUT, mod.N_DOCS, mod.N_VECS, mod.SEED = profile_dir, out, n_docs, 16, seed
    stdout = sys.stdout
    sys.stdout = sys.stderr  # keep gen_scale's progress line off the result stream
    try:
        mod.main()
    finally:
        sys.stdout = stdout


def tables(out, sf):
    """The star schema, events and documents at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(TABLES_SEED)
    n = lambda base: max(1, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev, n_users = n(1_500_000), n(6_000_000), n(1_000_000), n(15_000)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    pick = lambda vals, k: pa.array(np.array(vals)[rng.integers(0, len(vals), k)], pa.string())

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(1000, 500000, n_ord)),
        "o_orderdate": _days(rng, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(money(900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), n_line)})
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(t0 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out, "documents", _docs(rng, n(50_000)))
