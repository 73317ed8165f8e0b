"""Seeded generator for the benchmark's input tables.

Every table follows the FIXTURES.md schemas (same parquet physical and
logical types as the sf fixtures), so the engine's loaders and the DuckDB
oracle SQL read them unchanged. Value domains mirror the fixtures: TPC-H-ish
keys, two-decimal prices, 30 days of events, a near-duplicate Zipfian
document corpus and clustered unit embeddings (the Corpora recipes).

A data set is identified by (family, seed); its directory holds one
`<table>.parquet` per table (a file, or a directory of part files when the
family spreads a table over several files) plus `manifest.json` with row,
byte and row-group counts and a content fingerprint. `ensure` reuses a
cached directory only when its fingerprint still matches.

Usage: python3 perfbench/gen.py <family> <seed> <out_root>
"""
import hashlib
import json
import os
import shutil
import sys
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1 (the fixtures hold sf 0.001/0.01/0.1).
SF1_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
RELATIONAL = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"]
TEXT = ["documents", "embeddings"]

# A family fixes the tables, their sizes and their physical layout; each
# is named after the workload that reads it.
#  - fixture_small: the bench fixtures' shape, sf0.1 relational tables, one file
#    and one row group per table, so scans are single-task and walls are
#    fixed cost. The text tables are a fifth of sf0.1's.
#  - rows: sf0.2 relational tables in 8 files per table with 8k-row groups
#    (events stays one file, which the stream source requires), so scans fan
#    out over every core.
FAMILIES = {
    "fixture_small": {"tables": RELATIONAL + TEXT, "sf": 0.1, "files": 1,
                      "row_group": None, "docs": 1_000, "vecs": 500},
    "rows": {"tables": RELATIONAL, "sf": 0.2, "files": 8,
             "row_group": 8_192},
}
GENERATOR_VERSION = 1

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EPOCH = datetime(1970, 1, 1)
US_PER_DAY = 86_400_000_000


def _days_us(lo, hi, rng, n):
    """n midnight timestamps (microseconds) uniform over [lo, hi]."""
    a = (datetime.fromisoformat(lo) - EPOCH).days
    b = (datetime.fromisoformat(hi) - EPOCH).days
    return rng.integers(a, b + 1, n).astype(np.int64) * US_PER_DAY


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def region(rng, n, spec):
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(names, pa.string())})


def nation(rng, n, spec):
    k = np.arange(25, dtype=np.int32)
    return pa.table({"n_nationkey": k,
                     "n_name": pa.array([f"NATION_{i}" for i in k], pa.string()),
                     "n_regionkey": k % 5})


def customer(rng, n, spec):
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": k,
        "c_name": pa.array([f"Customer#{i:09d}" for i in k], pa.string()),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})


def supplier(rng, n, spec):
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "s_suppkey": k,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in k], pa.string()),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})


def part(rng, n, spec):
    k = np.arange(n, dtype=np.int64)
    adj = np.asarray(P_ADJ, dtype=object)[rng.integers(0, len(P_ADJ), n)]
    noun = np.asarray(P_NOUN, dtype=object)[rng.integers(0, len(P_NOUN), n)]
    return pa.table({
        "p_partkey": k,
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _pick(rng, P_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)})


def orders(rng, n, spec):
    ncust = _rows("customer", spec)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, ncust, n).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_days_us("1995-01-01", "2001-08-01", rng, n)),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})


def lineitem(rng, n, spec):
    return pa.table({
        "l_orderkey": rng.integers(0, _rows("orders", spec), n).astype(np.int64),
        "l_partkey": rng.integers(0, _rows("part", spec), n).astype(np.int64),
        "l_suppkey": rng.integers(0, _rows("supplier", spec), n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts(_days_us("1995-01-02", "2001-11-04", rng, n))})


def events(rng, n, spec):
    start = (datetime(2024, 1, 1) - EPOCH).days * US_PER_DAY
    ts = start + np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, max(1, round(15_000 * spec["sf"])), n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})


VOCAB = 8000
ZIPF_S = 0.7
NEAR_DUP_FRAC = 0.3
MUTATE_P = 0.05


def documents(rng, n, spec):
    """Zipf(0.7) tokens over an 8k vocabulary; 70% originals of 10-100
    tokens, 30% near-duplicates that re-draw each token of an original with
    p=0.05 (Jaccard of 3-shingles about 0.75)."""
    w = 1.0 / np.power(np.arange(1, VOCAB + 1), ZIPF_S)
    cum = np.cumsum(w) / w.sum()
    words = np.array([f"w{i}" for i in range(VOCAB)], dtype=object)
    n_orig = max(1, int(n * (1 - NEAR_DUP_FRAC)))
    lens = rng.integers(10, 101, n_orig)
    toks = np.searchsorted(cum, rng.random(int(lens.sum())))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    docs = [toks[bounds[i]:bounds[i + 1]] for i in range(n_orig)]
    for _ in range(n - n_orig):
        base = docs[rng.integers(0, n_orig)].copy()
        hit = rng.random(len(base)) < MUTATE_P
        base[hit] = rng.integers(0, VOCAB, int(hit.sum()))
        docs.append(base)
    order = rng.permutation(n)
    text = [" ".join(words[docs[i]]) for i in order]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(text, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})


DIM = 64
CLUSTER_SIZE = 50
SIGMA = 0.025
BACKGROUND_FRAC = 0.15


def embeddings(rng, n, spec):
    """Unit vectors: 85% in clusters of ~50 (sigma 0.025 around a unit
    centre, intra-cluster cosine about 0.96), 15% uniform background;
    label = cluster mod 10."""
    n_clusters = max(1, n // CLUSTER_SIZE)
    centres = rng.standard_normal((n_clusters, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    cluster = rng.integers(0, n_clusters, n)
    v = centres[cluster] + SIGMA * rng.standard_normal((n, DIM))
    bg = rng.random(n) < BACKGROUND_FRAC
    v[bg] = rng.standard_normal((int(bg.sum()), DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    label = np.where(bg, rng.integers(0, 10, n), cluster % 10).astype(np.int32)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                     "embedding": pa.ListArray.from_arrays(offsets, flat),
                     "label": label})


BUILDERS = {f.__name__: f for f in
            [region, nation, customer, supplier, part, orders, lineitem,
             events, documents, embeddings]}


def _rows(table, spec):
    if table == "documents" and "docs" in spec:
        return spec["docs"]
    if table == "embeddings" and "vecs" in spec:
        return spec["vecs"]
    return max(1, round(SF1_ROWS[table] * spec["sf"])) if table in SF1_ROWS else 0


def _write(table, t, out, spec):
    """One file, or part files when the family spreads tables out. Events
    is always one file: the stream source globs `events.parquet`."""
    files = 1 if table == "events" else spec["files"]
    rg = spec["row_group"] or max(1, t.num_rows)
    path = os.path.join(out, f"{table}.parquet")
    if files == 1:
        pq.write_table(t, path, row_group_size=rg)
        return [path]
    os.makedirs(path)
    step = -(-t.num_rows // files)
    paths = []
    for i in range(files):
        p = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(t.slice(i * step, step), p, row_group_size=rg)
        paths.append(p)
    return paths


def _fingerprint(out):
    h = hashlib.sha256()
    for dirpath, dirs, files in sorted(os.walk(out)):
        dirs.sort()
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def generate(family, seed, out):
    """Write the family's tables for `seed` into `out` (must not exist) and
    return the manifest."""
    spec = FAMILIES[family]
    os.makedirs(out)
    tables = {}
    for i, name in enumerate(spec["tables"]):
        rng = np.random.default_rng([seed, GENERATOR_VERSION, i])
        t = BUILDERS[name](rng, _rows(name, spec), spec)
        paths = _write(name, t, out, spec)
        groups = sum(pq.ParquetFile(p).metadata.num_row_groups for p in paths)
        tables[name] = {"rows": t.num_rows, "files": len(paths), "row_groups": groups,
                        "bytes": sum(os.path.getsize(p) for p in paths)}
    manifest = {"family": family, "seed": seed, "version": GENERATOR_VERSION,
                "tables": tables, "rows": sum(t["rows"] for t in tables.values()),
                "bytes": sum(t["bytes"] for t in tables.values()),
                "fingerprint": _fingerprint(out)}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def ensure(family, seed, root):
    """The data directory for (family, seed) under `root`, generated on
    first use and reused while its fingerprint matches its manifest."""
    out = os.path.join(root, f"{family}-v{GENERATOR_VERSION}-s{seed}")
    man = os.path.join(out, "manifest.json")
    if os.path.exists(man):
        with open(man) as fh:
            manifest = json.load(fh)
        if manifest.get("fingerprint") == _fingerprint(out):
            return out, manifest
    if os.path.exists(out):
        shutil.rmtree(out)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    manifest = generate(family, seed, tmp)
    os.rename(tmp, out)
    return out, manifest


if __name__ == "__main__":
    fam, sd, root = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    d, m = ensure(fam, sd, root)
    print(d)
    print(json.dumps(m, indent=1, sort_keys=True))
