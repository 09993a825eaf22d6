"""Seeded inputs for the benchmark.

Everything the program under test receives is made here from ``--seed``:

* the star-schema tables, with ``tools/gen_testdata.py``'s schema, value
  domains and planted duplicates, at ``scale`` × the sf0.1 row counts
  (``lineitem`` is left out: the RDF mapping and the operators never
  read it);
* the per-kind query universe, serve_tier's read sequences (uniform
  draws; Zipf-skewed for the load phases), open-loop arrival times and
  writes.

The same seed always gives the same tables and the same sequence.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENTS = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "es", "fr"]
ADJECTIVES = ["large", "hot", "small", "cold", "red", "green", "shiny", "dim"]
NOUNS = ["ring", "bolt", "washer", "spring", "gear", "cog", "pin", "plate"]
EMB_DIM = 64

READ_KINDS = ("boolean", "fts", "facet", "hop", "order", "paths", "semantic")
# benchmark-owned quads for serve_tier writes: no read in the universe
# matches them, so reads keep their precomputed answers
WRITE_P = "<perfbench/p>"


def write_s(i: int) -> str:
    return f"<perfbench/w{i}>"


def write_o(i: int) -> str:
    return f'"perfbench write {i}"'


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)

    def n(rows_at_sf01: int) -> int:
        return max(1, int(rows_at_sf01 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    nc = n(15000)
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(0, 10000, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n(1000)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": np.round(rng.uniform(0, 10000, ns), 2),
    })
    np_ = n(20000)
    t["part"] = pa.table({
        "p_partkey": np.arange(np_),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": rng.integers(1, 51, np_, dtype=np.int32),
        "p_retailprice": np.round(900.0 + rng.uniform(0, 100, np_), 1),
    })
    no = n(150000)
    base = np.datetime64("1995-01-01")
    span_days = int((np.datetime64("2001-08-01") - base) / np.timedelta64(1, "D"))
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": (
            base + rng.integers(0, span_days + 1, no).astype("timedelta64[D]")
        ).astype("datetime64[us]"),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    ne, nusers = n(100000), n(1500)
    t0 = np.datetime64("2024-01-01T00:00:00.000000")
    ts = np.sort(rng.integers(0, 30 * 24 * 3600 * 1_000_000, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne),
        "ts": t0 + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, nusers, ne),
        "event_type": [EVENTS[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0, 600, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n(5000)
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:  # planted near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.053:  # planted exact copy
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(x) for x in texts]),
    })
    nv = n(2000)
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, EMB_DIM))
    vecs = centers[labels] * 0.5 + rng.normal(size=(nv, EMB_DIM))
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv),
        "embedding": [v.astype("float32") for v in vecs],
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out: Path) -> None:
    out.mkdir(parents=True, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, out / f"{name}.parquet")


def read_tables(d: Path) -> dict[str, pa.Table]:
    return {f.stem: pq.read_table(f) for f in sorted(Path(d).glob("*.parquet"))}


def query_universe(tables: dict[str, pa.Table], seed: int) -> dict[str, list]:
    """Every request of each read kind over the generated values; paths
    and semantic requests target 96 seeded customers. The universe is
    the same mix for every seed, so a seed changes which reads a run
    sends, not what they cost on average. Semantic requests carry a
    customer's embedding (embeddings are attached to
    ``<e/customer/{vec_id}>``)."""
    rng = np.random.default_rng(seed + 1)
    nc = tables["customer"].num_rows
    nv = min(tables["embeddings"].num_rows, nc)
    emb = tables["embeddings"].column("embedding").to_pylist()

    boolean = [
        {"filters": [{"p": "<p/mktsegment>", "o": f'"{s}"'},
                     {"op": "must", "p": "<p/nation>", "o": f"<e/nation/{k}>"}],
         "size": 10}
        for s in SEGMENTS for k in range(25)
    ]
    fts = [
        {"filters": [{"p": "fts", "o": f"{a} {b}"}], "size": 10}
        for a in ADJECTIVES for b in NOUNS
    ]
    facet = [
        {"filters": [{"p": "<p/mktsegment>", "o": f'"{s}"'}],
         "aggregates": ["<p/nation>"], "size": 0}
        for s in SEGMENTS
    ] + [
        {"filters": [{"p": "<p/parttype>", "o": f'"{t}"'}],
         "aggregates": ["<p/brand>"], "size": 0}
        for t in PTYPES
    ]
    hop = [
        {"filters": [{"p": "<p/nation> 1", "o": f"<e/nation/{k}>"}], "size": 10}
        for k in range(25)
    ]
    order = [
        {"filters": [{"p": "<p/type>", "o": f"<c/{c}>"}],
         "order": [{"by": "label", "dir": d}], "size": 25, "start": 25 * s}
        for c in ("customer", "part", "supplier") for d in ("asc", "desc")
        for s in range(4)
    ]
    paths = [
        {"filters": [{"p": "id", "o": f"<e/customer/{int(k)}>"}],
         "paths": ["<p/parent>"], "size": 1}
        for k in rng.choice(nc, size=min(nc, 96), replace=False)
    ]
    semantic = [
        {"filters": [{"p": "semantic", "vector": [float(x) for x in emb[int(k)]]}],
         "size": 5}
        for k in rng.choice(nv, size=min(nv, 96), replace=False)
    ]
    return dict(boolean=boolean, fts=fts, facet=facet, hop=hop, order=order,
                paths=paths, semantic=semantic)


def serving_sequence(
    universe: dict[str, list], seed: int, n_reads: int, zipf_s: float | None
) -> list[dict]:
    """``n_reads`` reads in blocks that hold each kind once, in a seeded
    order, so every run sees the same kind mix; within a kind the
    request is drawn Zipf-skewed (``zipf_s``) over a seeded permutation,
    or uniformly (None). Each op: {"kind", "key": (kind, index into the
    universe), "opts"}."""
    rng = np.random.default_rng(seed)
    draws = {}
    for kind in READ_KINDS:
        m = len(universe[kind])
        w = np.ones(m) if zipf_s is None else 1.0 / np.arange(1, m + 1) ** zipf_s
        draws[kind] = iter(rng.permutation(m)[rng.choice(m, size=n_reads, p=w / w.sum())])
    ops: list[dict] = []
    block: list[str] = []
    for _ in range(n_reads):
        if not block:
            block = [READ_KINDS[k] for k in rng.permutation(len(READ_KINDS))]
        kind = block.pop()
        j = int(next(draws[kind]))
        ops.append({"kind": kind, "key": (kind, j), "opts": universe[kind][j]})
    return ops


def arrivals(seed: int, rate: float, n: int) -> list[float]:
    """Due times (seconds from the start) of ``n`` open-loop requests:
    Poisson arrivals at ``rate`` per second, the first at 0."""
    gaps = np.random.default_rng(seed).exponential(1.0 / rate, n - 1)
    return [0.0] + np.cumsum(gaps).tolist()


def write_sequence(pairs: int) -> list[dict]:
    """Insert, then delete, each of ``pairs`` benchmark-owned quads."""
    return [{"kind": "write", "action": a, "id": i}
            for i in range(pairs) for a in ("insert", "delete")]


def exact_dup_groups(texts: list[str]) -> set[tuple[int, int]]:
    """Oracle for exact_dedup: {(min id, copies)} of every text that
    occurs more than once."""
    first: dict[str, int] = {}
    count: dict[str, int] = {}
    for i, x in enumerate(texts):
        first.setdefault(x, i)
        count[x] = count.get(x, 0) + 1
    return {(first[x], c) for x, c in count.items() if c > 1}


def near_dup_pairs(texts: list[str]) -> set[tuple[int, int]]:
    """Planted near-duplicates: (a, b) with text b == text a + " dup"."""
    idx: dict[str, int] = {}
    for i, x in enumerate(texts):
        idx.setdefault(x, i)
    out = set()
    for i, x in enumerate(texts):
        if x.endswith(" dup") and x[:-4] in idx:
            a = idx[x[:-4]]
            if a != i:
                out.add((min(a, i), max(a, i)))
    return out


def shingle_jaccard(a: str, b: str, k: int) -> float:
    def sh(x: str) -> set:
        t = x.split()
        return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}

    sa, sb = sh(a), sh(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


def session_count(tables: dict[str, pa.Table], gap_minutes: int = 30) -> int:
    """Oracle for sessionize: sessions over all users with a gap rule."""
    ev = tables["events"]
    user = ev.column("user_id").to_numpy()
    ts = ev.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    eid = ev.column("event_id").to_numpy()
    order = np.lexsort((eid, ts, user))
    u, t = user[order], ts[order]
    new = np.ones(len(u), dtype=bool)
    new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] > gap_minutes * 60 * 1_000_000)
    return int(new.sum())
