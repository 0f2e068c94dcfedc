"""Deterministic TPC-H-ish fixture for the benchmark.

Writes the ten tables the query catalog reads (`graft.Tables.names`) as
one parquet file each. Column names, types, row counts and value
distributions follow the engine's sf0.01 test tables (FIXTURES.md §B),
measured column by column:

- SQL tables: customer 1,500, supplier 100, part 2,000, orders 15,000,
  lineitem 60,000, events 10,000 rows at scale 0.01, linear in scale;
  uniform keys, prices and dates over the same ranges.
- documents: 500 rows (the test tables hold 500 at sf0.001 and sf0.01 and
  5,000 at sf0.1, so 50,000 per unit scale with a floor of 500). Text is
  10-99 tokens drawn uniformly from the same 30-word vocabulary (median
  56 tokens, 48-553 characters); 5% of documents (25 of 500) are a copy
  of an earlier document plus the token "dup". Languages en 44%, then
  de/es/fr/zh; sources src0..src19 round-robin.
- embeddings: 500 rows (500 at sf0.001 and sf0.01, 2,000 at sf0.1, so
  20,000 per unit scale with a floor of 500): unit-norm 64-d float
  vectors with ten uniform labels.

The same scale always gives byte-identical tables (the generator's seed is
fixed), so the output fingerprints in `expected.json` stay valid. Run it alone with
`python3 perfbench/fixture.py <out_dir> [scale]`.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

# rows per table at scale 1.0; the fixture's sizes are these times `scale`
BASE_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
# the corpus tables never hold fewer rows than this
CORPUS_FLOOR = 500

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = (["en"] * 41 + ["de"] * 14 + ["es"] * 15 + ["fr"] * 15 + ["zh"] * 15)


def _days(start, end, n, rng):
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale):
    """Return {name: pyarrow.Table} for every fixture table."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n = {k: max(CORPUS_FLOOR if k in ("documents", "embeddings") else 10,
                int(round(v * scale))) for k, v in BASE_ROWS.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    np_ = n["part"]
    adj = rng.choice(["blue", "cold", "hot", "large", "new", "old", "red",
                      "small"], np_)
    noun = rng.choice(["anvil", "bolt", "gear", "gizmo", "plate", "ring",
                       "rod", "widget"], np_)
    out["part"] = pa.table({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days("1995-01-01", "2001-08-01", no, rng),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days("1995-01-02", "2001-11-04", nl, rng)})

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, max(10, ne // 66), ne).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    dups = set(rng.choice(np.arange(1, nd), nd // 20, replace=False).tolist())
    texts = []
    for i in range(nd):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32)})
    return out


def write(out_dir, scale):
    """Write every table to `out_dir/<name>.parquet`, then move the
    directory into place, so a killed run never leaves a partial fixture."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, t in tables(scale).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy")
    os.replace(tmp, out_dir)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit("usage: fixture.py <out_dir> [scale]")
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
