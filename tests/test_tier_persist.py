"""Tier cold-start persistence (r11): the driver tier persisted next to
the store as Arrow IPC (`{store}/_tier`, plans/local_tier.persist_tier)
and memory-mapped back on Engine construction — so a `serve` restart or
a fresh Engine serves its first point query in milliseconds with ZERO
Spark jobs instead of paying the one-time collect inside a request.

Also covers the store MANIFEST (`{store}/_meta.json`, graph.py
write_graph): tier and term-cache sizing verdicts priced from it with
zero Spark jobs (the r10 verdict's 100x-posture watch item — an engine
over a store that will never fit must not pay even a bounded probe).

Coherence is writer-owned and pinned here: write_graph deletes both
sidecars before rewriting, and mutation-derived graphs drop the
``tier_dir``/``store_meta`` fields by construction.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest


def _mk_graph(spark):
    from bikidata_spark import from_string_quads

    quads = spark.createDataFrame(
        [(f"<c/{i}>", "<p/name>", f'"val {i} über"', "") for i in range(400)]
        + [(f"<c/{i}>", "<p/ref>", f"<c/{(i + 1) % 400}>", "") for i in range(400)]
        + [
            (f"<c/{i}>", "<p/num>", f'"{i}"', "<g/even>" if i % 2 == 0 else "")
            for i in range(400)
        ],
        "s string, p string, o string, g string",
    )
    return from_string_quads(quads)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from bikidata_spark import Engine, read_graph, write_graph

    path = str(tmp_path_factory.mktemp("tierstore") / "store")
    write_graph(_mk_graph(spark), path)
    eng = Engine(read_graph(spark, path))
    meta = eng.persist_tier(path)
    assert meta is not None and meta["format"] == 1
    return path


BATTERY = [
    {"filters": [{"p": "<p/ref>", "o": "<c/3>"}], "size": 10},
    {"filters": [{"p": "<p/name>"}], "size": 5, "start": 2},
    {"filters": [{"p": "<p/name>"}], "size": 3, "aggregates": ["<p/ref>"]},
    {"filters": [{"p": "<p/num>", "g": "<g/even>"}], "size": 5},
    {"filters": [{"p": "id", "o": "<c/7>"}], "size": 1},
    {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "label", "dir": "desc"}],
        "size": 5,
    },
]


def test_manifest_written_and_attached(spark, store):
    from bikidata_spark import read_graph

    with open(os.path.join(store, "_meta.json")) as f:
        meta = json.load(f)
    assert meta["n_triples"] == 1200
    terms = spark.read.parquet(os.path.join(store, "terms")).select("value").collect()
    assert meta["n_terms"] == len(terms)
    assert meta["blob_bytes"] == sum(len(r["value"].encode("utf-8")) for r in terms)
    g = read_graph(spark, store)
    assert g.store_meta == meta
    assert g.tier_dir == os.path.join(store, "_tier")


def test_cold_engine_serves_first_query_zero_jobs(spark, store):
    """The item-2 'done' bar: a store opened cold, an Engine over it and
    its first point query run 0 Spark jobs (and the query in well under a
    second — enforced structurally by the zero-job assertion: no job, no
    Spark latency to pay). The open infers no schema and lists the 64
    terms bucket directories on the driver."""
    import time

    from bikidata_spark import Engine, read_graph

    sc = spark.sparkContext
    sc.setJobGroup("tier-cold-start", "probe")
    try:
        eng = Engine(read_graph(spark, store))
        t0 = time.perf_counter()
        r = eng.query({"filters": [{"p": "<p/name>", "o": '"val 7 über"'}]})
        dt = time.perf_counter() - t0
        jobs = sc.statusTracker().getJobIdsForGroup("tier-cold-start")
    finally:
        sc.setJobGroup(None, None)
    assert r["total"] == 1
    assert len(jobs) == 0, f"cold start scheduled Spark jobs: {jobs}"
    assert dt < 1.0, f"cold first query took {dt:.2f}s"
    # the tier came from the mmap, not a collect
    assert eng._local_tier() is not None


def test_loaded_tier_differential(spark, store):
    """Every battery response from the mmap-loaded tier must equal the
    Spark-collected tier AND the distributed path byte-for-byte."""
    from bikidata_spark import Engine, read_graph

    cold = Engine(read_graph(spark, store))
    g2 = read_graph(spark, store)
    g2.tier_dir = None  # force the collect build
    built = Engine(g2)
    g3 = read_graph(spark, store)
    plain = Engine(g3, local_tier_rows=0)
    assert cold._local_tier() is not None and built._local_tier() is not None
    for opts in BATTERY:
        opts = dict(opts, use_cache=False)
        a, b, c = cold.query(opts), built.query(opts), plain.query(opts)
        assert a == b, (opts, a, b)
        assert a == c, (opts, a, c)


def test_mutations_on_loaded_tier(spark, store):
    """The mmap base arrays are read-only; mutations must copy-on-write
    into overlay buffers (LocalTier.patched) and keep serving — the
    r9 overlay differential, re-run on a loaded tier."""
    from bikidata_spark import Engine, read_graph

    eng = Engine(read_graph(spark, store))
    assert eng._local_tier() is not None
    r = eng.mutate("insert", [{"s": "<c/new>", "p": "<p/name>", "o": '"fresh"'}])
    assert "error" not in r, r
    assert (
        eng.query({"filters": [{"p": "<p/name>", "o": '"fresh"'}]})["total"] == 1
    )
    r = eng.mutate("delete", [{"s": "<c/new>", "p": "<p/name>", "o": '"fresh"'}])
    assert "error" not in r, r
    assert (
        eng.query(
            {"filters": [{"p": "<p/name>", "o": '"fresh"'}], "use_cache": False}
        )["total"]
        == 0
    )
    # the loaded tier still demotes past the byte budget (read-only
    # base must not break the demotion path)
    tier = eng._local_tier()
    eng.local_tier_bytes = tier.approx_bytes + 100
    big = '"' + "y" * 4096 + '"'
    assert "error" not in eng.mutate(
        "insert", [{"s": "<c/big>", "p": "<p/name>", "o": big}]
    )
    assert eng._local_tier() is None
    assert (
        eng.query({"filters": [{"p": "<p/name>", "o": big}], "use_cache": False})[
            "total"
        ]
        == 1
    )


def test_persist_folds_overlay_state(spark, tmp_path):
    """persist_tier on a tier carrying pending mutations folds first —
    the artifact is always a compact base, and a reload equals the
    live engine's responses."""
    from bikidata_spark import Engine, read_graph, write_graph

    path = str(tmp_path / "store")
    write_graph(_mk_graph(spark), path)
    eng = Engine(read_graph(spark, path))
    assert eng._local_tier() is not None
    assert "error" not in eng.mutate(
        "insert", [{"s": "<c/extra>", "p": "<p/name>", "o": '"overlaid"'}]
    )
    assert "error" not in eng.mutate(
        "delete", [{"s": "<c/1>", "p": "<p/ref>", "o": "<c/2>"}]
    )
    tier = eng._local_tier()
    assert tier._live is not None or tier._sorted_n != tier.nrows
    meta = eng.persist_tier(path)
    assert meta["nrows"] == tier.live_rows

    cold = Engine(read_graph(spark, path))
    for opts in (
        {"filters": [{"p": "<p/name>", "o": '"overlaid"'}]},
        {"filters": [{"p": "<p/ref>", "o": "<c/2>"}]},
    ):
        opts = dict(opts, use_cache=False)
        assert cold.query(opts) == eng.query(opts)


def test_overwrite_drops_sidecars(spark, tmp_path):
    from bikidata_spark import read_graph, write_graph

    path = str(tmp_path / "store")
    g = _mk_graph(spark)
    write_graph(g, path)
    from bikidata_spark import Engine

    Engine(read_graph(spark, path)).persist_tier(path)
    assert os.path.isdir(os.path.join(path, "_tier"))
    write_graph(g, path)  # rewrite: both sidecars must go stale-proof
    assert not os.path.isdir(os.path.join(path, "_tier"))
    g2 = read_graph(spark, path)
    assert g2.tier_dir is None
    assert g2.store_meta is not None  # fresh manifest rewritten


def test_budget_gates_artifact_load(spark, store):
    """An over-budget engine must NOT load the artifact — the sizing
    verdict comes from the artifact's own record, zero jobs."""
    from bikidata_spark import Engine, read_graph

    sc = spark.sparkContext
    eng = Engine(read_graph(spark, store), local_tier_bytes=1024)
    sc.setJobGroup("tier-gate-probe", "probe")
    try:
        assert eng._local_tier() is None
        jobs = sc.statusTracker().getJobIdsForGroup("tier-gate-probe")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 0, f"sizing verdict scheduled jobs: {jobs}"
    # row cap gates too
    eng2 = Engine(read_graph(spark, store), local_tier_rows=10)
    assert eng2._local_tier() is None


def test_term_cache_verdict_from_manifest_zero_jobs(spark, store):
    """Item 8: an over-tier-cap engine makes the term-cache fit/no-fit
    decision from the store manifest with zero Spark jobs."""
    from bikidata_spark import Engine, read_graph

    sc = spark.sparkContext
    g = read_graph(spark, store)
    g.tier_dir = None
    eng = Engine(g, local_tier_rows=0)  # tier off: term cache path
    assert eng._term_dict() is not None  # fits: built (the build itself
    # collects — allowed, it only happens when the dictionary fits)

    # no-fit verdict: zero jobs — the 100x posture (a corpus dictionary
    # that will never fit must not pay a full terms scan to learn that)
    g2 = read_graph(spark, store)
    g2.tier_dir = None
    eng2 = Engine(g2, local_tier_rows=0, term_cache_bytes=16)
    sc.setJobGroup("term-verdict-probe2", "probe")
    try:
        assert eng2._term_dict() is None
        jobs = sc.statusTracker().getJobIdsForGroup("term-verdict-probe2")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 0


def test_corrupt_artifact_degrades_to_build(spark, tmp_path):
    """A damaged artifact must fall back to the Spark collect, never
    produce a wrong answer."""
    from bikidata_spark import Engine, read_graph, write_graph

    path = str(tmp_path / "store")
    write_graph(_mk_graph(spark), path)
    Engine(read_graph(spark, path)).persist_tier(path)
    with open(os.path.join(path, "_tier", "quads.arrow"), "wb") as f:
        f.write(b"not arrow")
    eng = Engine(read_graph(spark, path))
    r = eng.query({"filters": [{"p": "<p/name>", "o": '"val 7 über"'}]})
    assert r["total"] == 1
    assert eng._local_tier() is not None  # built the slow way


def test_loaded_termdict_roundtrip_values(spark, store):
    """The mmap'd TermDict must decode every term identically to a
    fresh Arrow collect — including multibyte blob slices and ranks."""
    from bikidata_spark import Engine, read_graph
    from bikidata_spark.plans.local_tier import load_tier

    tier = load_tier(os.path.join(store, "_tier"))
    g = read_graph(spark, store)
    g.tier_dir = None
    built = Engine(g)._local_tier()
    a, b = tier.terms, built.terms
    assert np.array_equal(a.th, b.th)
    assert np.array_equal(a.lit, b.lit)
    assert a.to_dict() == b.to_dict()
    assert np.array_equal(a.ranks(), b.ranks())


@pytest.fixture(scope="module")
def fts_store(spark, tmp_path_factory):
    """A warmed store whose artifact also carries the FTS mirror
    (CLI `warm` shape: an fts query before persist_tier, r11)."""
    from bikidata_spark import Engine, read_graph, write_graph

    path = str(tmp_path_factory.mktemp("tierstore_fts") / "store")
    write_graph(_mk_graph(spark), path)
    eng = Engine(read_graph(spark, path))
    assert eng.query({"filters": [{"p": "fts", "o": "val"}], "size": 1})["total"]
    meta = eng.persist_tier(path)
    assert meta is not None and "fts" in meta and meta["fts"]["n_rows"] > 0
    return path


def test_fts_artifact_cold_query_zero_jobs(spark, fts_store):
    """Cold Engine over an fts-warmed store: the FIRST fts query serves
    from the artifact mirror with zero Spark jobs and never builds the
    distributed FtsIndex; scores match a scratch distributed engine."""
    from bikidata_spark import Engine, read_graph

    eng = Engine(read_graph(spark, fts_store))
    control = Engine(read_graph(spark, fts_store), local_tier_rows=0)
    sc = spark.sparkContext
    sc.setJobGroup("fts-cold", "probe")
    try:
        got = eng.query({"filters": [{"p": "fts", "o": "val über"}], "size": 10})
        jobs = sc.statusTracker().getJobIdsForGroup("fts-cold")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 0, f"cold fts scheduled Spark jobs: {jobs}"
    assert eng._fts is None  # the distributed index was never built
    want = control.query({"filters": [{"p": "fts", "o": "val über"}], "size": 10})
    assert got == want


def test_fts_artifact_settings_mismatch_falls_back(spark, fts_store, monkeypatch):
    """An artifact built without stemming must NOT serve an engine whose
    env asks for the Porter stemmer — the mismatch falls through to the
    distributed build, which answers with the requested settings."""
    from bikidata_spark import Engine, read_graph

    monkeypatch.setenv("BIKIDATA_FTS_SETTINGS", '{"stemmer": "porter"}')
    eng = Engine(read_graph(spark, fts_store))
    control = Engine(read_graph(spark, fts_store), local_tier_rows=0)
    got = eng.query({"filters": [{"p": "fts", "o": "values"}], "size": 10})
    want = control.query({"filters": [{"p": "fts", "o": "values"}], "size": 10})
    assert got == want
    assert eng._fts is not None and eng._fts.stem  # rebuilt, stemmed


def test_fts_artifact_corrupt_degrades(spark, fts_store, tmp_path):
    """A truncated fts sidecar degrades to the lazy rebuild — the tier
    itself still loads and fts answers stay correct."""
    import shutil

    from bikidata_spark import Engine, read_graph

    path = str(tmp_path / "store")
    shutil.copytree(fts_store, path)
    with open(os.path.join(path, "_tier", "fts_postings.arrow"), "wb") as f:
        f.write(b"garbage")
    eng = Engine(read_graph(spark, path))
    assert eng._local_tier() is not None  # tier load survived
    control = Engine(read_graph(spark, path), local_tier_rows=0)
    got = eng.query({"filters": [{"p": "fts", "o": "val"}], "size": 5})
    want = control.query({"filters": [{"p": "fts", "o": "val"}], "size": 5})
    assert got == want


def test_fts_artifact_mutations_patch_mirror(spark, fts_store, tmp_path):
    """Literal inserts on a cold artifact engine patch the loaded
    mirror (base+overlay) and stay equal to a distributed control."""
    import shutil

    from bikidata_spark import Engine, read_graph

    path = str(tmp_path / "store")
    shutil.copytree(fts_store, path)
    eng = Engine(read_graph(spark, path))
    control = Engine(read_graph(spark, path), local_tier_rows=0)
    # serve once from the artifact first (the cold path under test)
    assert eng.query({"filters": [{"p": "fts", "o": "val"}], "size": 1})["total"]
    for i in range(3):
        a = eng.mutate(
            "insert", [{"s": f"<nf/{i}>", "p": "<p/name>", "o": f'"quokka text {i}"'}]
        )
        b = control.mutate(
            "insert", [{"s": f"<nf/{i}>", "p": "<p/name>", "o": f'"quokka text {i}"'}]
        )
        assert a == b and "error" not in a
    for q in ("quokka", "val", "quokka text"):
        got = eng.query({"filters": [{"p": "fts", "o": q}], "size": 10, "use_cache": False})
        want = control.query({"filters": [{"p": "fts", "o": q}], "size": 10, "use_cache": False})
        assert got == want, f"diverged on {q!r}"


def test_cold_order_and_paths_zero_jobs(spark, store):
    """r11 cold-surface completion: a cold Engine's FIRST ordered page
    (vectorized order build) and FIRST paths walk (edge map off the
    tier arrays) schedule zero Spark jobs."""
    from bikidata_spark import Engine, read_graph

    eng = Engine(read_graph(spark, store))
    sc = spark.sparkContext
    sc.setJobGroup("cold-op", "probe")
    try:
        ro = eng.query(
            {
                "filters": [{"p": "<p/name>"}],
                "order": [{"by": "label", "dir": "desc"}],
                "size": 5,
            }
        )
        rp = eng.query(
            {"filters": [{"p": "id", "o": "<c/7>"}], "paths": ["<p/ref>"], "size": 1}
        )
        jobs = sc.statusTracker().getJobIdsForGroup("cold-op")
    finally:
        sc.setJobGroup(None, None)
    assert ro["total"] == 400 and rp["total"] == 1
    assert len(jobs) == 0, f"cold order/paths scheduled Spark jobs: {jobs}"
    # and they answered the same as a distributed control engine
    control = Engine(read_graph(spark, store), local_tier_rows=0)
    assert ro == control.query(
        {
            "filters": [{"p": "<p/name>"}],
            "order": [{"by": "label", "dir": "desc"}],
            "size": 5,
        }
    )
    assert rp == control.query(
        {"filters": [{"p": "id", "o": "<c/7>"}], "paths": ["<p/ref>"], "size": 1}
    )


def test_order_sidecar_cold_first_page(spark, tmp_path_factory):
    """r12 (r11 verdict item 5): an ordered rule seen before persist
    rides the artifact as an order-index sidecar (`order_0.arrow`), and
    a fresh Engine's first ordered page for that rule is served FROM
    the sidecar — proven structurally: the vec builder and the Python
    twin's key source are both disabled, so only the sidecar can
    answer — with zero Spark jobs; a corrupt sidecar degrades to the
    lazy rebuild with identical results."""
    import bikidata_spark.plans.local_tier as lt
    from bikidata_spark import Engine, read_graph, write_graph

    path = str(tmp_path_factory.mktemp("ordstore") / "store")
    write_graph(_mk_graph(spark), path)
    opts = {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "label", "dir": "desc"}],
        "size": 5,
        "use_cache": False,
    }
    warm = Engine(read_graph(spark, path))
    want = warm.query(dict(opts))
    assert warm.persist_tier(path) is not None
    with open(os.path.join(path, "_tier", "meta.json")) as f:
        meta = json.load(f)
    assert meta.get("orders"), "persist did not carry the seen order"
    assert os.path.exists(os.path.join(path, "_tier", "order_0.arrow"))

    cold = Engine(read_graph(spark, path))
    tier = cold._local_tier()
    assert tier is not None and tier._order_sidecars
    orig_vec = lt.LocalTier._global_order_vec
    orig_keys = lt.LocalTier._order_keys_cached

    def boom(self, *a, **k):
        raise AssertionError("order rebuilt instead of sidecar-served")

    lt.LocalTier._global_order_vec = lambda self, *a, **k: None
    lt.LocalTier._order_keys_cached = boom
    sc = spark.sparkContext
    sc.setJobGroup("order-sidecar", "probe")
    try:
        got = cold.query(dict(opts))
        jobs = sc.statusTracker().getJobIdsForGroup("order-sidecar")
    finally:
        sc.setJobGroup(None, None)
        lt.LocalTier._global_order_vec = orig_vec
        lt.LocalTier._order_keys_cached = orig_keys
    assert got == want
    assert len(jobs) == 0, f"sidecar page scheduled Spark jobs: {jobs}"
    assert not tier._order_sidecars  # consumed into _global_orders

    # corruption degrades to the rebuild, never a wrong answer
    sidecar = os.path.join(path, "_tier", "order_0.arrow")
    with open(sidecar, "r+b") as f:
        f.truncate(32)
    broken = Engine(read_graph(spark, path))
    assert broken.query(dict(opts)) == want


def test_order_sidecar_mutation_footprint(spark, tmp_path_factory):
    """Unloaded sidecars follow the same carry rules as loaded global
    orders: a mutation outside the rule's footprint keeps the sidecar;
    one touching the label property drops it (and the ordered page
    stays correct either way)."""
    from bikidata_spark import Engine, read_graph, write_graph

    path = str(tmp_path_factory.mktemp("ordmut") / "store")
    write_graph(_mk_graph(spark), path)
    opts = {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "label"}],
        "size": 5,
        "use_cache": False,
    }
    warm = Engine(read_graph(spark, path))
    warm.query(dict(opts))
    assert warm.persist_tier(path) is not None

    eng = Engine(read_graph(spark, path))
    assert eng._local_tier()._order_sidecars
    # non-label edge on an existing subject: footprint-disjoint, carried
    r = eng.mutate("insert", [{"s": "<c/1>", "p": "<p/ref2>", "o": "<c/2>"}])
    assert "error" not in r
    assert eng._local_tier()._order_sidecars, "disjoint mutation dropped sidecar"
    # label literal insert: in-footprint, dropped
    label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    r = eng.mutate("insert", [{"s": "<c/1>", "p": label, "o": '"Zz new"'}])
    assert "error" not in r
    assert not eng._local_tier()._order_sidecars, "label mutation kept sidecar"
    control = Engine(eng.graph, local_tier_rows=0)
    assert eng.query(dict(opts)) == control.query(dict(opts))

def test_order_sidecar_identity_and_repersist(spark, tmp_path_factory):
    """r13 (ADVICE high): sidecars embed (sig, dir, nulls) in their
    Arrow schema metadata, so a stale pairing — swapped files, a
    persist that rewrote files a live tier still points at — can never
    serve a different rule's order. Also pins the persist lifecycle:
    unconsumed sidecars are carried through a re-persist, and the live
    tier's pointers are repointed at the rewritten files."""
    import pyarrow as pa

    from bikidata_spark import Engine, read_graph, write_graph

    path = str(tmp_path_factory.mktemp("ordsig") / "store")
    write_graph(_mk_graph(spark), path)
    asc = {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "property", "prop": "<p/name>"}],
        "size": 5,
        "use_cache": False,
    }
    desc = {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "property", "prop": "<p/name>", "dir": "desc"}],
        "size": 5,
        "use_cache": False,
    }
    warm = Engine(read_graph(spark, path))
    want_asc = warm.query(dict(asc))
    want_desc = warm.query(dict(desc))
    assert want_asc != want_desc
    assert warm.persist_tier(path) is not None
    tdir = os.path.join(path, "_tier")
    with open(os.path.join(tdir, "meta.json")) as f:
        metas = {(m["sig"], m["dir"]) for m in json.load(f)["orders"]}
    assert len(metas) == 2

    # every sidecar's embedded identity matches its meta entry
    with open(os.path.join(tdir, "meta.json")) as f:
        for m in json.load(f)["orders"]:
            md = pa.ipc.open_file(
                os.path.join(tdir, m["file"])
            ).schema.metadata
            assert md[b"order_sig"].decode() == m["sig"]
            assert md[b"order_dir"].decode() == m["dir"]

    # the ADVICE scenario: consume ONE sidecar, re-persist into the
    # same store, then serve the OTHER rule from the live tier
    eng = Engine(read_graph(spark, path))
    tier = eng._local_tier()
    assert len(tier._order_sidecars) == 2
    assert eng.query(dict(asc)) == want_asc  # consumes the asc sidecar
    assert len(tier._order_sidecars) == 1
    assert eng.persist_tier(path) is not None  # rewrites order_*.arrow
    # live pointer was repointed at the carried copy, not the old file
    (sc,) = tier._order_sidecars.values()
    assert os.path.exists(sc[0])
    assert eng.query(dict(desc)) == want_desc
    # carry-through: the re-persisted artifact still holds BOTH rules
    with open(os.path.join(tdir, "meta.json")) as f:
        metas2 = {(m["sig"], m["dir"]) for m in json.load(f)["orders"]}
    assert metas2 == metas

    # swapped files (same row count, different rule) must be rejected
    # by the identity check — a fresh engine rebuilds, never serves
    # the wrong direction
    f0 = os.path.join(tdir, "order_0.arrow")
    f1 = os.path.join(tdir, "order_1.arrow")
    tmp = os.path.join(tdir, "order_swap.tmp")
    os.replace(f0, tmp)
    os.replace(f1, f0)
    os.replace(tmp, f1)
    swapped = Engine(read_graph(spark, path))
    assert swapped.query(dict(asc)) == want_asc
    assert swapped.query(dict(desc)) == want_desc


def test_order_sidecar_true_lru(spark, tmp_path_factory):
    """r13 (ADVICE low): persist keeps the 4 most recently USED orders
    — a hot order built early but touched on every hit must survive
    persist over colder, later-built ones."""
    from bikidata_spark import Engine, read_graph, write_graph

    path = str(tmp_path_factory.mktemp("ordlru") / "store")
    write_graph(_mk_graph(spark), path)
    eng = Engine(read_graph(spark, path))
    rules = [
        {"by": "label"},
        {"by": "label", "dir": "desc"},
        {"by": "property", "prop": "<p/num>"},
        {"by": "property", "prop": "<p/num>", "dir": "desc"},
        {"by": "property", "prop": "<p/num>", "natural": True},
    ]
    for r in rules:
        eng.query(
            {
                "filters": [{"p": "<p/name>"}],
                "order": [dict(r)],
                "size": 3,
                "use_cache": False,
            }
        )
    # touch the FIRST rule again: with insertion-order-only semantics
    # it would be evicted from the artifact as the oldest of 5
    eng.query(
        {
            "filters": [{"p": "<p/name>"}],
            "order": [dict(rules[0])],
            "size": 3,
            "use_cache": False,
        }
    )
    assert eng.persist_tier(path) is not None
    with open(os.path.join(path, "_tier", "meta.json")) as f:
        kept = {(m["sig"], m["dir"]) for m in json.load(f)["orders"]}
    assert len(kept) == 4
    assert ('{"by": "label"}', "asc") in kept, kept
    assert ('{"by": "label"}', "desc") not in kept, kept  # the cold one


def test_driver_order_store_sidecar_and_notd_page(spark, tmp_path_factory, monkeypatch):
    """r13: (1) over-cap engines persist resident driver order indexes
    as store-level sidecars (dorder_*.arrow) even with NO tier to
    persist; (2) a cold over-cap engine mmap-loads them — proven by
    poisoning the order-key frame builder — and serves the ordered
    page without the one-time corpus collect; (3) with the dictionary
    also over budget, the TermDict-free driver page (one bounded value
    probe) still matches the tier oracle."""
    import bikidata_spark.plans.query as q
    from bikidata_spark import Engine, read_graph, write_graph

    # the budget env is read per call, so the 1-byte tier budget below
    # doesn't zero out the ledger budget the order index admits against
    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    path = str(tmp_path_factory.mktemp("dorder") / "store")
    write_graph(_mk_graph(spark), path)
    opts = {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "property", "prop": "<p/name>", "dir": "desc"}],
        "size": 5,
        "start": 2,
        "use_cache": False,
    }
    oracle = Engine(read_graph(spark, path))
    want = oracle.query(dict(opts))

    warm = Engine(read_graph(spark, path), local_tier_bytes=1,
                  term_cache_bytes=0)
    assert warm._local_tier() is None
    assert warm.query(dict(opts)) == want   # 1st sighting: distributed
    assert warm.query(dict(opts)) == want   # 2nd: builds index, notd page
    assert any(v != "over_cap" for v in warm._order_idx_cache.values())
    assert warm.persist_tier(path) is None  # no tier — dorders only
    tdir = os.path.join(path, "_tier")
    assert os.path.isfile(os.path.join(tdir, "dorder_meta.json"))
    assert os.path.isfile(os.path.join(tdir, "dorder_0.arrow"))

    cold = Engine(read_graph(spark, path), local_tier_bytes=1,
                  term_cache_bytes=0)
    assert cold._local_tier() is None
    orig = q.Engine._order_keys_cached

    def boom(self, rule):
        raise AssertionError("order index rebuilt instead of sidecar-loaded")

    q.Engine._order_keys_cached = boom
    try:
        got = cold.query(dict(opts))
    finally:
        q.Engine._order_keys_cached = orig
    assert got == want
    assert any(
        k.startswith("order_index:") for k in cold._residency_ledger
    ), "sidecar load not charged to the residency ledger"

    # a corrupt sidecar degrades to the rebuild, never a wrong answer
    with open(os.path.join(tdir, "dorder_0.arrow"), "r+b") as f:
        f.truncate(16)
    broken = Engine(read_graph(spark, path), local_tier_bytes=1,
                    term_cache_bytes=0)
    assert broken._local_tier() is None
    assert broken.query(dict(opts)) == want
    assert broken.query(dict(opts)) == want


def test_member_set_cache_roundtrip(spark):
    """r13: steady-state repeats of a filter spec reuse the resident
    member set (generation-keyed, ledger-charged); a mutation bumps
    the generation and the stale set is unreachable."""
    from bikidata_spark import Engine

    g = _mk_graph(spark)
    eng = Engine(g, local_tier_bytes=1)
    opts = {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "property", "prop": "<p/name>"}],
        "size": 5,
        "use_cache": False,
    }
    r1 = eng.query(dict(opts))
    r2 = eng.query(dict(opts))
    r3 = eng.query(dict(opts))
    assert r1 == r2 == r3
    assert eng._member_sets, "member set not cached"
    assert any(k.startswith("member_set:") for k in eng._residency_ledger)
    # mutation invalidates: results reflect the new member
    r = eng.mutate("insert", [{"s": "<c/zzz>", "p": "<p/name>", "o": '"zzz"'}])
    assert "error" not in r
    r4 = eng.query(dict(opts))
    assert r4["total"] == r1["total"] + 1
    control = Engine(eng.graph, local_tier_rows=0)
    assert r4 == control.query(dict(opts))


def test_driver_order_sidecar_natural_rule(spark, tmp_path_factory, monkeypatch):
    """The dorder sidecar's num/num_null columns (natural rules)
    roundtrip: a cold over-cap engine serves the natural-ordered page
    from the sidecar, matching the tier oracle."""
    import bikidata_spark.plans.query as q
    from bikidata_spark import Engine, read_graph, write_graph

    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    path = str(tmp_path_factory.mktemp("dordnat") / "store")
    write_graph(_mk_graph(spark), path)
    opts = {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "property", "prop": "<p/num>", "natural": True,
                   "dir": "desc"}],
        "size": 6,
        "start": 3,
        "use_cache": False,
    }
    oracle = Engine(read_graph(spark, path))
    want = oracle.query(dict(opts))

    warm = Engine(read_graph(spark, path), local_tier_bytes=1,
                  term_cache_bytes=0)
    assert warm.query(dict(opts)) == want
    assert warm.query(dict(opts)) == want
    assert warm.persist_tier(path) is None
    with open(os.path.join(path, "_tier", "dorder_meta.json")) as f:
        metas = json.load(f)["orders"]
    assert any("natural" in m["sig"] for m in metas)

    cold = Engine(read_graph(spark, path), local_tier_bytes=1,
                  term_cache_bytes=0)
    assert cold._local_tier() is None
    orig = q.Engine._order_keys_cached

    def boom(self, rule):
        raise AssertionError("rebuilt instead of sidecar-loaded")

    q.Engine._order_keys_cached = boom
    try:
        got = cold.query(dict(opts))
    finally:
        q.Engine._order_keys_cached = orig
    assert got == want


def test_notd_page_null_term_value_degrades(spark, monkeypatch):
    """r14 (ADVICE): a None in _term_values (nullable terms.value in a
    hand-built store) must degrade the TermDict-free driver page to the
    distributed path (return None), not raise a TypeError mid-sort."""
    from bikidata_spark import Engine

    eng = Engine(_mk_graph(spark), local_tier_rows=0)
    s_sorted = np.array([10, 20, 30], dtype=np.int64)
    rank = np.zeros(3, dtype=np.int64)  # all ties: forces the value probe
    oidx = (s_sorted, rank, None, None)
    hs = np.array([10, 20, 30], dtype=np.int64)
    rule = {"by": "label"}

    monkeypatch.setattr(
        eng, "_term_values",
        lambda hashes: {int(h): (None if int(h) == 20 else f"v{h}") for h in hashes},
    )
    assert eng._order_page_driver_notd(oidx, hs, rule, 2, 0) is None

    monkeypatch.setattr(
        eng, "_term_values",
        lambda hashes: {int(h): f"v{h}" for h in hashes},
    )
    page, total = eng._order_page_driver_notd(oidx, hs, rule, 2, 0)
    assert total == 3 and [r["s"] for r in page] == [10, 20]


def test_order_sidecar_over_budget_served_uncached(spark, tmp_path_factory, monkeypatch):
    """r14 (ADVICE): when the residency budget is full, the store dorder
    sidecar is still SERVED (zero-copy mmap, uncached) instead of being
    rejected into the distributed page — and nothing lands in the cache
    or the ledger."""
    import bikidata_spark.plans.query as q
    from bikidata_spark import Engine, read_graph, write_graph

    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    path = str(tmp_path_factory.mktemp("dorderob") / "store")
    write_graph(_mk_graph(spark), path)
    opts = {
        "filters": [{"p": "<p/name>"}],
        "order": [{"by": "property", "prop": "<p/name>", "dir": "desc"}],
        "size": 5,
        "start": 2,
        "use_cache": False,
    }
    oracle = Engine(read_graph(spark, path))
    want = oracle.query(dict(opts))

    warm = Engine(read_graph(spark, path), local_tier_bytes=1,
                  term_cache_bytes=0)
    assert warm.query(dict(opts)) == want
    assert warm.query(dict(opts)) == want
    assert warm.persist_tier(path) is None
    assert os.path.isfile(os.path.join(path, "_tier", "dorder_meta.json"))

    # budget too small to admit the index: the sidecar must still serve
    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", "16")
    cold = Engine(read_graph(spark, path), local_tier_bytes=1,
                  term_cache_bytes=0)
    assert cold._local_tier() is None
    orig = q.Engine._order_keys_cached

    def boom(self, rule):
        raise AssertionError("distributed rebuild instead of uncached sidecar")

    q.Engine._order_keys_cached = boom
    try:
        got = cold.query(dict(opts))
        got2 = cold.query(dict(opts))
    finally:
        q.Engine._order_keys_cached = orig
    assert got == want and got2 == want
    assert not any(k.startswith("order_index:") for k in cold._residency_ledger)
    assert not any(v for v in cold._order_idx_cache.values() if v != "over_cap")


def test_s_projection_store_sidecar(spark, tmp_path_factory):
    """r14: write_s_projection seeds an EXISTING store with the
    s-clustered point-probe projection; a cold over-cap engine's
    hydration path uses it directly (no lazy in-memory clustering
    shuffle), results match the tier oracle; and a store rewrite drops
    it (writer-owned coherence)."""
    from bikidata_spark import (
        Engine,
        read_graph,
        write_graph,
        write_s_projection,
    )

    path = str(tmp_path_factory.mktemp("sproj") / "store")
    write_graph(_mk_graph(spark), path)
    g = read_graph(spark, path)
    assert g.s_projection is None
    assert write_s_projection(g, path) is True
    assert write_s_projection(g, path) is False  # idempotent no-op
    assert os.path.isdir(os.path.join(path, "triples_by_s"))

    g2 = read_graph(spark, path)
    assert g2.s_projection is not None
    eng = Engine(g2, local_tier_bytes=1, term_cache_bytes=0)
    assert eng._local_tier() is None
    # the store projection is preferred outright — no lazy build, no
    # second-sighting gate, zero extra state
    assert eng._point_probe_triples() is g2.s_projection
    assert eng._hyd_state is None

    oracle = Engine(read_graph(spark, path))
    opts = {"filters": [{"p": "<p/ref>"}], "size": 4, "start": 1,
            "use_cache": False}
    assert eng.query(dict(opts)) == oracle.query(dict(opts))

    write_graph(_mk_graph(spark), path)  # rewrite: projection must go
    assert not os.path.isdir(os.path.join(path, "triples_by_s"))
    assert read_graph(spark, path).s_projection is None


def test_cli_warm_overcap_writes_s_projection(spark, tmp_path_factory, monkeypatch, capsys):
    """r14: CLI ``warm`` on an over-cap store persists the dorder
    sidecars AND the s-clustered projection, so a cold engine pays
    neither the order-index collect nor the lazy hydration shuffle."""
    import bikidata_spark.__main__ as M
    from bikidata_spark import Engine, read_graph, write_graph
    from bikidata_spark.__main__ import main as cli

    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    monkeypatch.setattr(
        M,
        "Engine",
        lambda graph, **kw: Engine(
            graph, local_tier_bytes=1, local_tier_rows=10,
            term_cache_bytes=0, **kw
        ),
    )
    path = str(tmp_path_factory.mktemp("warmsproj") / "store")
    write_graph(_mk_graph(spark), path)
    assert cli(["warm", path]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out.get("tier") == "over_cap"
    assert out.get("s_projection") is True
    assert os.path.isdir(os.path.join(path, "triples_by_s"))
    assert read_graph(spark, path).s_projection is not None
    # idempotent: second warm leaves it in place, reports no rewrite
    assert cli(["warm", path]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2.get("s_projection") is False


def test_order_cache_eviction_counters(spark, monkeypatch):
    """r14: driver_residency() surfaces order-index eviction and
    re-collect counters so operators can size _ORDER_IDX_MAX against
    their sort-rule mix (a rotation past the cap re-pays the corpus
    collect per miss — ~24-43 s at sf10)."""
    from bikidata_spark import Engine

    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    eng = Engine(_mk_graph(spark), local_tier_bytes=1, term_cache_bytes=0)
    assert eng._local_tier() is None
    rules = [
        {"by": "label"},
        {"by": "property", "prop": "<p/name>"},
        {"by": "property", "prop": "<p/num>"},
        {"by": "property", "prop": "<p/num>", "natural": True},
        {"by": "property", "prop": "<p/ref>"},
    ]
    base = {"filters": [{"p": "<p/name>"}], "size": 3, "use_cache": False}
    for r in rules:  # 5 distinct sigs > _ORDER_IDX_MAX=4 -> eviction
        for _ in range(2):  # second sighting builds the index
            eng.query(dict(base, order=[dict(r)]))
    stats = eng.driver_residency()["cache_stats"]
    assert stats.get("order_index_evictions", 0) >= 1, stats
    before = stats.get("order_index_recollects_after_eviction", 0)
    # rule rotation comes back around: the re-build after eviction is
    # counted as a recollect miss
    for _ in range(2):
        eng.query(dict(base, order=[dict(rules[0])]))
    stats2 = eng.driver_residency()["cache_stats"]
    assert stats2.get("order_index_recollects_after_eviction", 0) >= before + 1, stats2


def test_order_eviction_warms_store_sidecar(spark, tmp_path_factory, monkeypatch):
    """r15 (VERDICT item 7): on a STORE-backed unmutated engine, an
    LRU-evicted order index is persisted as a dorder sidecar at
    eviction time, so a rule mix rotating past _ORDER_IDX_MAX serves
    misses from an mmap sidecar load instead of re-paying the corpus
    order collect — the recollect counter stays 0 across the whole
    rotation. Results stay identical to a fresh distributed engine."""
    import bikidata_spark.plans.query as q
    from bikidata_spark import Engine, read_graph, write_graph

    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    path = str(tmp_path_factory.mktemp("dorderwarm") / "store")
    write_graph(_mk_graph(spark), path)
    eng = Engine(read_graph(spark, path), local_tier_bytes=1, term_cache_bytes=0)
    assert eng._local_tier() is None
    rules = [
        {"by": "label"},
        {"by": "property", "prop": "<p/name>"},
        {"by": "property", "prop": "<p/num>"},
        {"by": "property", "prop": "<p/num>", "natural": True},
        {"by": "property", "prop": "<p/ref>"},
    ]
    base = {"filters": [{"p": "<p/name>"}], "size": 3, "use_cache": False}
    control = Engine(read_graph(spark, path), local_tier_rows=0)
    for _ in range(2):  # two full rotations of 5 rules > _ORDER_IDX_MAX=4
        for r in rules:
            for _ in range(2):  # second sighting builds the index
                got = eng.query(dict(base, order=[dict(r)]))
                assert got == control.query(dict(base, order=[dict(r)]))
    stats = eng.driver_residency()["cache_stats"]
    assert stats.get("order_index_evictions", 0) >= 1, stats
    assert stats.get("order_warm_persists", 0) >= 1, stats
    assert stats.get("order_sidecar_loads", 0) >= 1, stats
    # the headline claim: no corpus order re-collect across the rotation
    assert stats.get("order_index_recollects_after_eviction", 0) == 0, stats
    # and round 3's misses never rebuild the frame at all: poison the
    # builder (class-level, so capture the expected pages first) and
    # rotate once more — every rule must serve from sidecar/cache
    want = [control.query(dict(base, order=[dict(r)])) for r in rules]
    orig = q.Engine._order_keys_cached

    def boom(self, rule):
        raise AssertionError("order index rebuilt instead of sidecar-loaded")

    q.Engine._order_keys_cached = boom
    try:
        for r, w in zip(rules, want):
            assert eng.query(dict(base, order=[dict(r)])) == w
    finally:
        q.Engine._order_keys_cached = orig


def test_total_count_folds_into_page_job(spark, monkeypatch):
    """r15 (VERDICT item 4): when a caches-off request's distributed
    page job is certain to run and a resident count already shapes the
    plan, the member total rides the page collect as an Observation
    metric instead of a separate count job (+ its AQE stage job) —
    fewer jobs per steady request, response total computed fresh by
    the request's own scan, results identical to a fold-free engine."""
    import bikidata_spark.plans.query as q
    from bikidata_spark import Engine

    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    # defeat the fast page so the distributed page path actually runs
    monkeypatch.setattr(q, "_FAST_PAGE_ROWS", 10)
    monkeypatch.setattr(q, "_FAST_PAGE_DICT_ROWS", 10)
    eng = Engine(_mk_graph(spark), local_tier_bytes=1, term_cache_bytes=0)
    assert eng._local_tier() is None
    opts = {"filters": [{"p": "<p/ref>"}], "size": 5, "use_cache": False}
    sc = spark.sparkContext

    def jobs_for(tag):
        sc.setJobGroup(tag, tag)
        r = eng.query(dict(opts))
        n = len(sc.statusTracker().getJobIdsForGroup(tag))
        sc.setJobGroup(None, None)
        return r, n

    r1, n1 = jobs_for("fold-1")  # first sighting: separate count job
    r2, _ = jobs_for("fold-2")   # second-sighting projection builds
    r3, n3 = jobs_for("fold-3")  # steady: count folded into the page
    assert r1 == r2 == r3
    assert r3["total"] == 400
    assert n3 < n1, (n1, n3)
    # the fold is live (not a memo hit): a fold-free control engine
    # returns the identical response
    control = Engine(eng.graph, local_tier_rows=0)
    assert r3 == control.query(dict(opts))

    # the fold must also observe correctly when the broadcast gate
    # rejects (small=False) and the page runs under AQE — the metric
    # node sits below adaptive query stages there
    monkeypatch.setattr(q, "_HOP_BROADCAST_ROWS", 10)
    aqe_opts = dict(opts, order=[{"by": "label", "dir": "desc"}], start=3)
    want = control.query(dict(aqe_opts))
    for _ in range(3):
        assert eng.query(dict(aqe_opts)) == want
    assert want["total"] == 400


def test_order_warm_stale_stamp_rejected(spark, tmp_path_factory, monkeypatch):
    """r15: an engine that keeps serving across an EXTERNAL store
    rewrite must not leave (or serve) order sidecars describing the
    old content. The dorder meta embeds the store manifest's
    (mtime_ns, size) stamp; a reader over the rewritten store rejects
    a mismatched stamp and rebuilds — correct pages, never the stale
    ranks."""
    import json
    import time

    from bikidata_spark import Engine, from_string_quads, read_graph, write_graph

    import shutil

    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    path = str(tmp_path_factory.mktemp("dorderstale") / "store")
    write_graph(_mk_graph(spark), path)
    eng = Engine(read_graph(spark, path), local_tier_bytes=1, term_cache_bytes=0)
    assert eng._local_tier() is None

    # warm sidecars for the OLD content: rotate 5 rules past the LRU
    rules = [
        {"by": "label"},
        {"by": "property", "prop": "<p/name>"},
        {"by": "property", "prop": "<p/num>"},
        {"by": "property", "prop": "<p/num>", "natural": True},
        {"by": "property", "prop": "<p/ref>"},
    ]
    base = {"filters": [{"p": "<p/name>"}], "size": 3, "use_cache": False}
    for r in rules:
        for _ in range(2):
            eng.query(dict(base, order=[dict(r)]))
    assert eng.driver_residency()["cache_stats"].get("order_warm_persists", 0) >= 1
    tdir = os.path.join(path, "_tier")
    with open(os.path.join(tdir, "dorder_meta.json")) as f:
        assert json.load(f).get("store_stamp") is not None
    backup = path + "_tier_backup"
    shutil.copytree(tdir, backup)

    # REWRITE the store (write_graph drops _tier — writer-owned
    # coherence), then put the old-content sidecar back: this is
    # exactly what a straggler engine's eviction-warm landing AFTER
    # the rewrite would leave behind
    time.sleep(0.01)  # mtime_ns tick
    quads2 = spark.createDataFrame(
        [(f"<c/{i}>", "<p/name>", f'"zz {399 - i}"', "")
         for i in range(400)]
        + [(f"<c/{i}>", "<p/num>", f'"{399 - i}"', "") for i in range(400)],
        "s string, p string, o string, g string",
    )
    write_graph(from_string_quads(quads2), path)
    assert not os.path.isdir(tdir)
    shutil.copytree(backup, tdir)

    # a reader over the REWRITTEN store rejects the stale sidecar
    # (stamp mismatch) and serves the new content correctly
    eng2 = Engine(read_graph(spark, path), local_tier_bytes=1, term_cache_bytes=0)
    assert eng2._local_tier() is None
    control = Engine(read_graph(spark, path), local_tier_rows=0)
    opts = dict(base, order=[{"by": "property", "prop": "<p/name>", "dir": "asc"}])
    for _ in range(2):
        assert eng2.query(dict(opts)) == control.query(dict(opts))
    assert eng2.driver_residency()["cache_stats"].get("order_sidecar_loads", 0) == 0


def test_fast_probe_skip_on_memoized_total(spark, monkeypatch):
    """r14: a steady-state repeat of an over-cap filter skips the
    guaranteed-rejected bounded fast-page probe — the memoized
    (generation, filters) total proves rejection (probe rows >=
    distinct members > cap) — dropping the probe's collect jobs from
    every repeat; results stay bit-identical to the distributed path."""
    import bikidata_spark.plans.query as q
    from bikidata_spark import Engine

    monkeypatch.setattr(q, "_FAST_PAGE_ROWS", 10)
    eng = Engine(_mk_graph(spark), local_tier_bytes=1, term_cache_bytes=0)
    assert eng._local_tier() is None
    opts = {"filters": [{"p": "<p/ref>"}], "size": 5, "use_cache": False}
    sc = spark.sparkContext

    def jobs_for(tag):
        sc.setJobGroup(tag, tag)
        r = eng.query(dict(opts))
        n = len(sc.statusTracker().getJobIdsForGroup(tag))
        sc.setJobGroup(None, None)
        return r, n

    r1, n1 = jobs_for("fps-1")
    # the first sighting has no memo: it pays the probe (and memoizes
    # the distributed count it falls back to)
    assert eng._cache_stats.get("fast_probe_skips", 0) == 0
    r2, _ = jobs_for("fps-2")
    r3, n3 = jobs_for("fps-3")
    assert r1 == r2 == r3
    skips = eng._cache_stats.get("fast_probe_skips", 0)
    assert skips >= 2, skips  # reps 2 and 3 both skipped the probe
    assert n3 < n1, (n1, n3)
    control = Engine(eng.graph, local_tier_rows=0)
    assert r1 == control.query(dict(opts))


def test_filter_total_memo(spark, monkeypatch):
    """r14: repeats of a filter spec skip the distinct-member count job
    (total memoized per (generation, filters) — the same keying the
    subject/member-set caches already rely on); a mutation bumps the
    generation and the total reflects the new member. r15 (VERDICT
    item 6): the memo READ honors use_cache — a caches-off request
    recomputes its total every time (the bench's declared "every timed
    query does real work" policy), while cache-allowed repeats serve
    the memo."""
    import bikidata_spark.plans.query as q
    from bikidata_spark import Engine

    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(1 << 30))
    # push the 400-member set past the fast-page collect so the
    # distributed count path (the one the memo covers) actually runs
    monkeypatch.setattr(q, "_FAST_PAGE_ROWS", 10)
    eng = Engine(_mk_graph(spark), local_tier_bytes=1, term_cache_bytes=0)
    assert eng._local_tier() is None
    opts = {"filters": [{"p": "<p/ref>"}], "size": 5, "use_cache": True}
    sc = spark.sparkContext

    def jobs_for(tag, o):
        sc.setJobGroup(tag, tag)
        r = eng.query(dict(o))
        n = len(sc.statusTracker().getJobIdsForGroup(tag))
        sc.setJobGroup(None, None)
        return r, n

    r1, n1 = jobs_for("ftm-1", opts)
    # rep 2 pays the one-time second-sighting projection builds; rep 3
    # is the steady state the memo targets
    r2, _ = jobs_for("ftm-2", opts)
    r3, n3 = jobs_for("ftm-3", opts)
    assert r1 == r2 == r3
    assert n3 < n1, (n1, n3)  # the count job is gone on the repeat
    assert eng._filter_totals, "total not memoized"

    # caches-off requests never SERVE the memoized total (r15 policy):
    # poison the memo — a use_cache=True repeat serves the poisoned
    # value (that is what the cache mode means), a use_cache=False
    # repeat computes the real total fresh (count job or the page-job
    # Observation fold) and repairs the memo on its way out
    gen = eng._graph_generation
    key = next(k for k in list(eng._filter_totals) if k[0] == gen)
    with eng._cache_lock:
        eng._filter_totals[key] = 999_999
    assert eng.query(dict(opts))["total"] == 999_999  # memo served
    nc_opts = {"filters": [{"p": "<p/ref>"}], "size": 5, "use_cache": False}
    rn1, _ = jobs_for("ftm-nc1", nc_opts)
    assert rn1 == r1  # fresh computation, poison ignored
    with eng._cache_lock:
        assert eng._filter_totals[key] == r1["total"]  # memo repaired

    r = eng.mutate("insert", [{"s": "<c/newref>", "p": "<p/ref>", "o": "<c/1>"}])
    assert "error" not in r
    r3 = eng.query(dict(opts))
    assert r3["total"] == r1["total"] + 1
    control = Engine(eng.graph, local_tier_rows=0)
    assert r3 == control.query(dict(opts))
