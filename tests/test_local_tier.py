"""Differential tests: the driver-resident point-query tier
(plans/local_tier.py) must return BYTE-IDENTICAL responses to the
distributed query() path over the full option space it claims to
mirror — filters (plain/multi-object/graph/id/sample/fts/hops),
set-operator precedence, paging, sort-api ordering, facets, hydration
projection, and paths chains.

The tier engages automatically for cap-sized graphs, so the reference
parity suite and every existing query()-driven test also run through
it; this file pins the tier AGAINST the distributed path directly (two
engines over the same graph, one with the tier disabled) plus the
tier's cap/bail/invalidation machinery.
"""

from __future__ import annotations

import random

import pytest


def _mk_quads():
    """A graph with the pathologies the tier must mirror: multilingual
    labels (@de/@en/@fr/untagged), missing labels, numeric prefixes
    (natural sort), datatyped literals, several named graphs, text for
    fts, a broader-hierarchy for paths, and a via-property for
    object_label ordering."""
    rng = random.Random(421)
    label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    quads = []
    cats = [f"<cat/{i}>" for i in range(6)]
    for i, c in enumerate(cats):
        quads.append((c, label, f'"Category {i}"@en', ""))
        if i > 0:
            quads.append((c, "<p/broader>", cats[(i - 1) // 2], ""))
    words = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]
    for i in range(300):
        e = f"<e/{i}>"
        g = "" if i % 3 == 0 else f"<g/{i % 3}>"
        quads.append((e, "<p/type>", f"<t/{i % 4}>", g))
        quads.append((e, "<p/cat>", cats[i % 6], g))
        if i % 7 != 0:  # some entities have no label at all
            lang = ["", "@de", "@en", "@fr"][i % 4]
            pfx = f"{i * 3 % 50} " if i % 5 == 0 else ""
            quads.append((e, label, f'"{pfx}Entity {i:03d}"{lang}', g))
        if i % 2 == 0:
            txt = " ".join(rng.sample(words, 3))
            quads.append((e, "<p/desc>", f'"{txt} item {i}"', g))
        if i % 11 == 0:
            quads.append((e, "<p/num>", f'"{i}"^^<http://www.w3.org/2001/XMLSchema#integer>', g))
        quads.append((e, "<p/peer>", f"<e/{(i + 13) % 300}>", g))
    return quads


@pytest.fixture(scope="module")
def pair(spark):
    """(tier-backed engine, distributed-only engine) over ONE graph."""
    from bikidata_spark import Engine, from_string_quads

    quads = spark.createDataFrame(
        _mk_quads(), "s string, p string, o string, g string"
    )
    graph = from_string_quads(quads).cache()
    graph.triples.count()
    tiered = Engine(graph)
    plain = Engine(graph, local_tier_rows=0)
    assert tiered._local_tier() is not None
    assert plain._local_tier() is None
    return tiered, plain


BATTERY = [
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}]},
    {"filters": [{"p": "<p/type>", "o": "<t/1> <t/2>"}]},  # multi-object
    {"filters": [{"p": "<p/type>", "o": "<t/1>", "g": "<g/1>"}]},
    {"filters": [{"p": "<p/type>", "o": "<t/1>", "g": "<g/1> <g/2>"}]},
    {"filters": [{"p": "<p/cat>"}]},  # property presence, no object
    {"filters": [{"p": "", "o": "<cat/2>"}]},  # object-only
    {"filters": [{"p": "id", "o": "<e/5> <e/6> <e/7>"}]},
    {"filters": [{"p": "id", "o": "sample 5"}]},
    {"filters": [{"p": "id", "o": "random 3"}]},
    {"filters": [{"p": "<p/peer> 2", "o": "<e/20>"}]},  # 2-hop walk
    {"filters": [{"p": "fts", "o": "alpha beta"}]},
    {"filters": [{"p": "fts 1", "o": "gamma"}]},
    {"filters": [{"p": "fts <p/desc>", "o": "omega"}]},
    {"filters": [{"p": "fts", "o": "nosuchtoken"}]},
    {  # group/except precedence: A or (B and C), minus D
        "filters": [
            {"p": "<p/type>", "o": "<t/0>"},
            {"p": "<p/type>", "o": "<t/1>", "op": "should"},
            {"p": "<p/cat>", "o": "<cat/1>", "op": "must"},
            {"p": "<p/cat>", "o": "<cat/3>", "op": "not"},
        ]
    },
    {
        "filters": [
            {"p": "fts", "o": "alpha"},
            {"p": "<p/type>", "o": "<t/0>", "op": "must"},
        ]
    },
    {"filters": [{"p": "<p/type>", "o": "<t/9>"}]},  # empty result
    {"filters": [{"p": "<nosuch>", "o": "<t/1>"}]},  # absent property
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}], "size": 7, "start": 3},
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}], "size": 0,
     "aggregates": ["<p/cat>", "properties", "graphs"]},
    {"aggregates": ["properties", "graphs"]},  # no filters at all
    {"filters": [{"p": "<p/cat>", "o": "<cat/1>"}],
     "aggregates": ["<p/type>", "<nosuch>"]},
    {"filters": [{"p": "<p/type>", "o": "<t/2>"}],
     "only_properties": ["<p/cat>", "<p/type>"]},
    {"filters": [{"p": "<p/type>", "o": "<t/2>"}],
     "exclude_properties": ["<p/peer>", "<p/desc>"]},
    {"filters": [{"p": "<p/cat>", "o": "<cat/2>"}], "paths": ["<p/broader>"]},
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}], "size": 10,
     "order": {"by": "label"}},
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}], "size": 10,
     "order": {"by": "label", "dir": "desc"}},
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}], "size": 400,
     "order": {"by": "label", "nulls": "first"}},
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}], "size": 400,
     "order": {"by": "label", "natural": True, "lang": ["en", "de"]}},
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}], "size": 20,
     "order": {"by": "label", "mode": "raw", "clean": {"strip_punct": True,
                                                       "collapse_space": True}}},
    {"filters": [{"p": "<p/type>", "o": "<t/3>"}], "size": 15,
     "order": {"by": "property", "prop": "<p/num>"}},
    {"filters": [{"p": "<p/type>", "o": "<t/0>"}], "size": 15,
     "order": {"by": "object_label", "via": "<p/cat>"}},
    {"filters": [{"p": "fts", "o": "alpha"}], "size": 25},  # score order
    {"filters": [{"p": "fts", "o": "beta gamma"}], "size": 25, "start": 5},
]


# Page hydration over a tier that a mutation script patched (see
# ``mutated_pair``): overlay terms not yet folded into the dictionary,
# tombstoned base and tail rows, repeated objects on one subject and
# subjects with rows in both the sorted base region and the unsorted
# tail, crossed with the property projections.
HYDRATION = [
    {"filters": [{"p": "<p/type>", "o": "<t/2>"}], "size": 100},
    {"filters": [{"p": "<p/new>"}], "size": 10},
    {"filters": [{"p": "id", "o": "<e/3> <e/6> <e/10> <e/18> <e/new>"}]},
    {"filters": [{"p": "<p/type>", "o": "<t/2>"}], "size": 50,
     "only_properties": ["<p/new>", "<p/type>"]},
    {"filters": [{"p": "<p/type>", "o": "<t/2>"}], "size": 50,
     "only_properties": ["<nosuch>"]},
    {"filters": [{"p": "<p/type>", "o": "<t/2>"}], "size": 50,
     "exclude_properties": ["<p/new>", "<p/peer>", "<nosuch>"]},
    {"filters": [{"p": "<p/type>", "o": "<t/2>"}], "size": 20, "start": 2,
     "order": {"by": "label"}},
    {"filters": [{"p": "fts", "o": "alpha"}], "size": 25},
    {"filters": [{"p": "<p/cat>", "o": "<cat/5>"}], "paths": ["<p/broader>"],
     "size": 5},
    # a page across the last base subjects and three overlay subjects
    # that share one dictionary insertion point: the distributed-only
    # engine's capped fast page orders them by value (its tiebreak)
    {"filters": [{"p": "<p/type>", "o": "<t/1>"}], "size": 5, "start": 73},
]

HYDRATION_SCRIPT = [
    ("insert", [
        # overlay p/o terms on a base subject (rows in base AND tail),
        # the same object again in a second graph
        {"s": "<e/3>", "p": "<p/new>", "o": '"fresh value"'},
        {"s": "<e/3>", "p": "<p/new>", "o": '"fresh value"', "g": "<g/1>"},
        # a base row's object repeated in the tail under another graph
        {"s": "<e/6>", "p": "<p/type>", "o": "<t/2>", "g": "<g/2>"},
        # a new subject in a new graph, and a new paths ancestor
        {"s": "<e/new>", "p": "<p/type>", "o": "<t/2>", "g": "<g/new>"},
        {"s": "<e/new>", "p": "<p/new>", "o": '"fresh value"'},
        {"s": "<cat/5>", "p": "<p/broader>", "o": "<cat/new>"},
        {"s": "<e/18>", "p": "<p/new>", "o": '"gone"'},
        # new subjects between the same two base values, inserted out
        # of value order
        {"s": "<e/new2>", "p": "<p/type>", "o": "<t/1>"},
        {"s": "<e/new>", "p": "<p/type>", "o": "<t/1>"},
        {"s": "<e/new1>", "p": "<p/type>", "o": "<t/1>"},
    ]),
    # tombstones: a base row, a whole base property, a tail row
    ("delete", [{"s": "<e/10>", "p": "<p/peer>", "o": "<e/23>", "g": "<g/1>"}]),
    ("delete", [{"s": "<e/30>", "p": "<p/type>"}]),
    ("delete", [{"s": "<e/18>", "p": "<p/new>", "o": '"gone"'}]),
]


@pytest.fixture(scope="module")
def mutated_pair(spark):
    """(tier-backed engine, distributed-only engine) after the same
    mutation script; the tier is patched in place, not rebuilt."""
    from bikidata_spark import Engine, from_string_quads

    engines = []
    for tier in (True, False):
        quads = spark.createDataFrame(
            _mk_quads(), "s string, p string, o string, g string"
        )
        graph = from_string_quads(quads).cache()
        graph.triples.count()
        eng = Engine(graph) if tier else Engine(graph, local_tier_rows=0)
        eng.query({"filters": [{"p": "<p/type>", "o": "<t/0>"}], "size": 1})
        for action, data in HYDRATION_SCRIPT:
            res = eng.mutate(action, [dict(d) for d in data])
            assert "error" not in res, res
        engines.append(eng)
    t = engines[0]._local_tier()
    assert t is not None and engines[1]._local_tier() is None
    assert t.terms.extra  # overlay terms still unfolded
    assert t._sorted_n < t.nrows  # an unsorted overlay tail
    assert t._live is not None and t._n_dead >= 3  # tombstones
    # the distributed-only engine's dictionary cache carries the same
    # inserts unfolded (its capped fast page orders by it)
    assert engines[1]._term_dict().extra
    return tuple(engines)


CASES = [("pair", o) for o in BATTERY] + [("mutated_pair", o) for o in HYDRATION]
CASE_IDS = [f"b{i}" for i in range(len(BATTERY))] + [
    f"h{i}" for i in range(len(HYDRATION))
]


def _rows_unordered(resp: dict) -> dict:
    """The response with each entity's property and graph lists
    sorted: after a mutation the distributed engine returns an
    entity's rows in partition order, which a delete's shuffle leaves
    undefined."""
    return {**resp, "results": {
        s: {k: sorted(v) if isinstance(v, list) else v for k, v in e.items()}
        for s, e in resp["results"].items()
    }}


def _scalar_hydration(tier, page: list, opts: dict) -> dict:
    """The page's results the naive way: each page subject in page
    order, its live rows in physical order, one dictionary lookup per
    hash — the order the tier's batched hydration must keep."""
    import numpy as np

    def val(h):
        v, found = tier.terms.values_of(np.array([h], dtype=np.int64))
        return v[0] if found[0] else None

    only = {tier.v2h.get(p) for p in opts.get("only_properties") or []}
    excl = {tier.v2h.get(p) for p in opts.get("exclude_properties") or []}
    live = np.ones(tier.nrows, bool) if tier._live is None else tier._live
    out: dict = {}
    for sv in page:
        for i in np.flatnonzero((tier.s == tier.v2h.get(sv)) & live).tolist():
            p = int(tier.p[i])
            if (p not in only) if only else (p in excl):
                continue
            p_val, o_val, g_val = val(p), val(int(tier.o[i])), val(int(tier.g[i]))
            if p_val is None or o_val is None:
                continue
            ent = out.setdefault(sv, {"id": sv, "graph": []})
            objs = ent.setdefault(p_val, [])
            if o_val not in objs:
                objs.append(o_val)
            if g_val and g_val not in ent["graph"]:
                ent["graph"].append(g_val)
    return out


def _in_order(results: dict) -> list:
    """Results as nested lists, so comparing them also compares the
    page order and each entity's key order (paths chains left out)."""
    return [(s, [kv for kv in e.items() if kv[0] != "_paths"]) for s, e in results.items()]


@pytest.mark.parametrize("engines,opts", CASES, ids=CASE_IDS)
def test_tier_matches_distributed(request, engines, opts):
    tiered, plain = request.getfixturevalue(engines)
    served_before = tiered._local_tier().queries_served
    ours = tiered.query(dict(opts))
    theirs = plain.query({**opts, "use_cache": False})
    assert tiered._local_tier().queries_served == served_before + 1
    # dict equality ignores key order: also pin the page order of the
    # subjects, and each entity's key order where the distributed
    # engine defines it (an unmutated, cached graph)
    assert list(ours["results"]) == list(theirs["results"])
    if engines == "pair":
        assert ours == theirs
        assert _in_order(ours["results"]) == _in_order(theirs["results"])
    else:
        assert _rows_unordered(ours) == _rows_unordered(theirs)
        expect = _scalar_hydration(tiered._local_tier(), list(ours["results"]), opts)
        assert _in_order(ours["results"]) == _in_order(expect)


def test_fuzzed_filter_chains(pair):
    """Seeded random boolean chains over the filter algebra: the
    group/except precedence parse must agree between the tier and the
    tagged-aggregation distributed plan."""
    tiered, plain = pair
    rng = random.Random(77)
    pool = [
        {"p": "<p/type>", "o": "<t/0>"},
        {"p": "<p/type>", "o": "<t/1> <t/3>"},
        {"p": "<p/cat>", "o": "<cat/1>"},
        {"p": "<p/cat>", "o": "<cat/2>", "g": "<g/1>"},
        {"p": "", "o": "<cat/4>"},
        {"p": "fts", "o": "delta"},
        {"p": "<p/peer>", "o": "<e/40>"},
    ]
    for _ in range(25):
        k = rng.randint(1, 4)
        filters = []
        for j in range(k):
            f = dict(rng.choice(pool))
            if j > 0:
                f["op"] = rng.choice(["should", "must", "not"])
            filters.append(f)
        opts = {"filters": filters, "size": 30}
        ours = tiered.query(dict(opts))
        theirs = plain.query({**opts, "use_cache": False})
        assert ours == theirs, f"mismatch for {filters}"


def test_tier_serves_with_zero_spark_jobs(pair):
    tiered, _ = pair
    spark = tiered.graph.spark
    tiered.query({"filters": [{"p": "<p/type>", "o": "<t/2>"}]})  # warm
    sc = spark.sparkContext
    sc.setJobGroup("tier-zero-jobs", "tier probe")
    try:
        tiered.query(
            {
                "filters": [{"p": "<p/type>", "o": "<t/1>"}],
                "aggregates": ["<p/cat>"],
                "order": {"by": "label"},
                "size": 10,
            }
        )
        jobs = sc.statusTracker().getJobIdsForGroup("tier-zero-jobs")
    finally:
        sc.setJobGroup(None, None)
    assert list(jobs) == []


def test_tier_bails_to_distributed_for_regex_and_semantic(pair):
    tiered, plain = pair
    opts = {"filters": [{"p": "regex", "o": ".*Entity 00.*"}], "size": 5}
    ours = tiered.query(dict(opts))
    theirs = plain.query({**opts, "use_cache": False})
    assert ours == theirs
    assert ours["total"] > 0


def test_cap_gates_the_tier(spark):
    from bikidata_spark import Engine, from_string_quads

    quads = spark.createDataFrame(
        [(f"<e/{i}>", "<p>", f'"v{i}"', "") for i in range(50)],
        "s string, p string, o string, g string",
    )
    g = from_string_quads(quads).cache()
    eng = Engine(g, local_tier_rows=10)  # 50 quads > cap
    assert eng._local_tier() is None
    assert eng.cache_stats()["local_tier"]["state"] == "over_cap"
    back = eng.query({"filters": [{"p": "<p>", "o": '"v7"'}]})
    assert back["total"] == 1


def test_generation_invalidation(spark):
    """replace_graph must drop the mirror: post-mutation queries see
    the new graph."""
    from bikidata_spark import Engine, from_string_quads

    def mk(n):
        quads = spark.createDataFrame(
            [(f"<e/{i}>", "<p>", '"v"', "") for i in range(n)],
            "s string, p string, o string, g string",
        )
        return from_string_quads(quads).cache()

    eng = Engine(mk(5))
    assert eng.query({"filters": [{"p": "<p>", "o": '"v"'}]})["total"] == 5
    assert eng.cache_stats()["local_tier"]["state"] == "active"
    eng.replace_graph(mk(9))
    assert eng.cache_stats()["local_tier"]["state"] == "unbuilt"
    assert eng.query({"filters": [{"p": "<p>", "o": '"v"'}]})["total"] == 9


def test_sf_corpus_differential(spark, engine):
    """The same battery's core shapes over the sf0.001 TPC-H
    triplization (realistic IRIs/literals, the corpus every other test
    queries)."""
    from bikidata_spark import Engine

    assert engine._local_tier() is not None  # sf0.001 fits the cap
    plain = Engine(engine.graph, embeddings=engine.embeddings, local_tier_rows=0)
    shapes = [
        {"filters": [{"p": "<p/region>", "o": "<e/region/1>"}], "size": 12,
         "aggregates": ["<p/region>"]},
        {"filters": [{"p": "fts", "o": "customer"}], "size": 10},
        {"filters": [{"p": "<p/nation> 1", "o": "<e/nation/7>"}], "size": 8},
        {"filters": [{"p": "id", "o": "sample 4"}]},
        {"filters": [{"p": "<p/mktsegment>", "o": '"BUILDING"'}], "size": 9,
         "order": {"by": "label", "natural": True}},
    ]
    for opts in shapes:
        ours = engine.query(dict(opts))
        theirs = plain.query({**opts, "use_cache": False})
        assert ours == theirs, f"mismatch for {opts}"


@pytest.fixture(scope="module")
def sem_pair(spark, tmp_path_factory):
    """(tiered, plain) engines with embeddings + an IVF store — the
    semantic filter's two scan sources."""
    from pyspark.sql import functions as F

    from bikidata_spark import Engine, from_string_quads
    from bikidata_spark.operators.similarity import write_ivf_store

    quads = spark.createDataFrame(
        [(f"<e/{i}>", "<p/label>", f'"doc {i}"', "" if i % 2 else "<g/even>")
         for i in range(24)],
        "s string, p string, o string, g string",
    )
    g = from_string_quads(quads).cache()
    rows = []
    for i in range(24):
        base = [0.0] * 6
        base[0] = 1.0
        base[1 + i % 4] = 0.7 + 0.013 * (i % 5)
        rows.append((i, base))
    ids = spark.createDataFrame(rows, "vid int, raw array<double>")
    emb = ids.select(
        F.xxhash64(
            F.concat(F.lit("<e/"), F.col("vid").cast("string"), F.lit(">"))
        ).alias("s"),
        F.col("raw").alias("vec"),
    )
    cents = ids.filter(F.col("vid") < 4).select(
        F.col("vid").cast("long").alias("cid"), F.col("raw").alias("cv")
    )
    path = str(tmp_path_factory.mktemp("tier_sem") / "ivf")
    write_ivf_store(emb, path, "s", "vec", centroids=cents)
    tiered = Engine(g, embeddings=emb)
    plain = Engine(g, embeddings=emb, local_tier_rows=0)
    return tiered, plain, path, rows


SEM_SHAPES = [
    lambda rows: {"filters": [{"p": "semantic", "vector": rows[0][1]}], "size": 30},
    lambda rows: {"filters": [{"p": "semantic", "vector": rows[5][1],
                               "g": "<g/even>"}], "size": 30},
    lambda rows: {"filters": [{"p": "semantic", "o": "some query text"}], "size": 10},
    lambda rows: {"filters": [
        {"p": "semantic", "vector": rows[2][1]},
        {"p": "<p/label>", "o": '"doc 2"', "op": "not"},
    ], "size": 30, "aggregates": ["properties"]},
]


@pytest.mark.parametrize("mode", ["brute", "ivf1", "ivf2"])
def test_semantic_tier_matches_distributed(sem_pair, mode):
    tiered, plain, path, rows = sem_pair
    if mode == "brute":
        tiered._ivf = plain._ivf = None
    else:
        nprobe = 1 if mode == "ivf1" else 2
        tiered.load_ivf(path, nprobe=nprobe)
        plain.load_ivf(path, nprobe=nprobe)
    for i, shape in enumerate(SEM_SHAPES):
        opts = shape(rows)
        ours = tiered.query(dict(opts))
        theirs = plain.query({**opts, "use_cache": False})
        assert ours == theirs, f"{mode} mismatch for {opts}"
        if i == 0:  # the unrestricted vector query always matches
            assert ours["total"] > 0
    if mode == "brute":
        # the tier mirrors the serving-deployment telemetry: brute
        # scans without an IVF store are counted on both paths
        assert tiered.cache_stats()["semantic_fallback_scans"] >= len(SEM_SHAPES)


def test_order_rule_fuzz_hostile_labels(spark):
    """Adversarial differential fuzz of the order-key mirror: labels
    with unicode whitespace (Java \\s is ASCII-only), case-mapping
    edge codepoints (İ/ß/Turkish i), 20+-digit numeric prefixes
    (try_cast overflow → null), embedded quotes, control characters,
    and every clean-flag combination, against random rules."""
    import random

    from bikidata_spark import Engine, from_string_quads

    label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    hostile = [
        "  leading spaces", "trailing\t tab\t", " nbsp figure",
        "İstanbul", "ßharp", "STRASSE", "strasse", "123 numeric", "0123 pad",
        "99999999999999999999 overflow", "9223372036854775807 max",
        '"inner quotes"', "mixed   SPACE\truns", "~punct!lead", "\x0bvtab",
        "Ωmega", "émigré", "é combining", "", " ", "ümlaut",
    ]
    quads = []
    rng = random.Random(99)
    for i in range(120):
        e = f"<e/{i}>"
        quads.append((e, "<p/type>", "<t/x>", ""))
        n_labels = rng.randint(0, 2)
        for _ in range(n_labels):
            txt = rng.choice(hostile)
            lang = rng.choice(["", "@en", "@de", "@tr", "@x-klingon"])
            quads.append((e, label, f'"{txt}"{lang}', ""))
    g = from_string_quads(
        spark.createDataFrame(quads, "s string, p string, o string, g string")
    ).cache()
    tiered = Engine(g)
    plain = Engine(g, local_tier_rows=0)
    for trial in range(30):
        rule = {"by": "label"}
        if rng.random() < 0.5:
            rule["lang"] = rng.sample(["en", "de", "tr", "fr"], rng.randint(1, 3))
        if rng.random() < 0.5:
            rule["mode"] = rng.choice(["lex", "raw"])
        if rng.random() < 0.6:
            rule["clean"] = {
                k: rng.random() < 0.5
                for k in ("trim", "lower", "remove_quotes", "collapse_space", "strip_punct")
            }
        if rng.random() < 0.4:
            rule["natural"] = True
        rule["dir"] = rng.choice(["asc", "desc"])
        rule["nulls"] = rng.choice(["first", "last"])
        opts = {"filters": [{"p": "<p/type>", "o": "<t/x>"}], "order": rule,
                "size": 120}
        ours = tiered.query(dict(opts))
        theirs = plain.query({**opts, "use_cache": False})
        assert ours == theirs, f"trial {trial}: mismatch for rule {rule}"


def test_sp_matches_distributed(pair):
    """Engine.sp (dict API) serves from the tier; values compare
    order-insensitively (the distributed collect returns partition
    order)."""
    tiered, plain = pair
    batch = [f"<e/{i}>" for i in range(12)] + ["<nosuch/iri>"]
    for p in (None, "<p/cat>", "<nosuch>"):
        ours = tiered.sp(batch, p)
        theirs = plain.sp(batch, p)
        assert {k: sorted(v) for k, v in ours.items()} == {
            k: sorted(v) for k, v in theirs.items()
        }, f"sp mismatch for p={p}"


def test_spo_matches_distributed(pair):
    """Engine.spo serves from the tier as a LocalRelation; rows must
    equal the distributed three-join + sort page exactly (order
    included — both are total (s, p, o) orders)."""
    tiered, plain = pair
    patterns = [
        ("<e/5>", None, None, None, 1000, 0),
        (None, "<p/type>", "<t/1>", None, 1000, 0),
        (None, "<p/type>", "<t/1>", "<g/1>", 1000, 0),
        (None, "<p/cat>", None, None, 20, 5),  # paged mid-stream
        (None, None, None, None, 30, 0),  # unfiltered, small page
        ("<nosuch>", None, None, None, 10, 0),  # empty
        ("", "<p/type>", "<t/2>", "", 1000, 0),  # "" wildcards like None
    ]
    for s, p, o, g, size, start in patterns:
        ours = [tuple(r) for r in tiered.spo(s, p, o, g, size=size, start=start).collect()]
        theirs = [tuple(r) for r in plain.spo(s, p, o, g, size=size, start=start).collect()]
        assert ours == theirs, f"spo mismatch for {(s, p, o, g, size, start)}"


def test_spo_bails_for_oversized_patterns(pair):
    """Patterns beyond the driver-sort cap stay distributed (the tier
    returns None and the plan keeps its corpus joins)."""
    tiered, _ = pair
    t = tiered._local_tier()
    assert t.spo_rows(None, None, None, None, 10, 0, max_rows=5) is None


def test_properties_and_count_by_property_match_distributed(pair):
    """Engine.properties / count_by_property serve from the tier as
    LocalRelations; row sets must equal the distributed count_distinct
    aggregations exactly."""
    tiered, plain = pair
    a = sorted(tuple(r) for r in tiered.properties().collect())
    b = sorted(tuple(r) for r in plain.properties().collect())
    assert a == b and a
    for prop in ("<p/type>", "<p/cat>", "<p/num>", "<nosuch>"):
        a = sorted(tuple(r) for r in tiered.count_by_property(prop).collect())
        b = sorted(tuple(r) for r in plain.count_by_property(prop).collect())
        assert a == b, prop


def test_driver_order_index_differential(spark, monkeypatch):
    """The driver-resident order-key index (_order_driver_index +
    _order_page_driver) must page identically to the distributed
    orderBy across the full rule space — the same hostile-label corpus
    and random rules as the tier mirror fuzz, plus the battery's
    object_label/property rules — and to the tier itself. Forced on via
    the module toggle (auto only engages over the tier cap)."""
    import random

    import bikidata_spark.plans.query as Q
    from bikidata_spark import Engine, from_string_quads

    label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    hostile = [
        "  leading spaces", "trailing\t tab\t", "İstanbul", "ßharp",
        "99999999999999999999 overflow", "9223372036854775807 max",
        '"inner quotes"', "mixed   SPACE\truns", "~punct!lead", "",
        "123 numeric", "0123 pad", "Ωmega", "émigré", " ", "ümlaut",
    ]
    quads = []
    rng = random.Random(4242)
    for i in range(150):
        e = f"<e/{i}>"
        quads.append((e, "<p/type>", "<t/x>", ""))
        quads.append((e, "<p/cat>", f"<cat/{i % 5}>", ""))
        if i % 11 == 0:
            quads.append((e, "<p/num>", f'"{i * 7 % 100} n"', ""))
        for _ in range(rng.randint(0, 2)):
            txt = rng.choice(hostile)
            lang = rng.choice(["", "@en", "@de", "@tr"])
            quads.append((e, label, f'"{txt}"{lang}', ""))
    for c in range(5):
        quads.append((f"<cat/{c}>", label, f'"Category {4 - c}"@en', ""))
    g = from_string_quads(
        spark.createDataFrame(quads, "s string, p string, o string, g string")
    ).cache()
    fast = Engine(g, local_tier_rows=0)
    plain = Engine(g, local_tier_rows=0)
    tiered = Engine(g)

    def compare(opts, tag):
        opts = dict(opts, use_cache=False)
        monkeypatch.setattr(Q, "_DRIVER_ORDER", "1")
        a = fast.query(dict(opts))
        monkeypatch.setattr(Q, "_DRIVER_ORDER", "0")
        b = plain.query(dict(opts))
        c = tiered.query(dict(opts))
        assert a == b, f"{tag}: fast vs distributed for {opts}"
        assert a == c, f"{tag}: fast vs tier for {opts}"

    base = {"filters": [{"p": "<p/type>", "o": "<t/x>"}], "size": 150}
    for trial in range(25):
        rule = {"by": "label"}
        if rng.random() < 0.5:
            rule["lang"] = rng.sample(["en", "de", "tr", "fr"], rng.randint(1, 3))
        if rng.random() < 0.5:
            rule["mode"] = rng.choice(["lex", "raw"])
        if rng.random() < 0.6:
            rule["clean"] = {
                k: rng.random() < 0.5
                for k in ("trim", "lower", "remove_quotes", "collapse_space",
                          "strip_punct")
            }
        if rng.random() < 0.4:
            rule["natural"] = True
        rule["dir"] = rng.choice(["asc", "desc"])
        rule["nulls"] = rng.choice(["first", "last"])
        opts = {**base, "order": rule}
        if rng.random() < 0.4:
            opts["size"], opts["start"] = 10, rng.randint(0, 30)
        compare(opts, f"trial{trial}")
        compare(opts, f"trial{trial}-repeat")  # second sighting: index built
    assert fast._order_idx_cache  # the forced build actually ran
    # battery rules the fuzz doesn't reach
    for rule in (
        {"by": "property", "prop": "<p/num>", "natural": True},
        {"by": "object_label", "via": "<p/cat>", "dir": "desc"},
    ):
        opts = {**base, "order": rule}
        compare(opts, "battery")
        compare(opts, "battery-repeat")


def test_driver_order_index_byte_priced(spark, monkeypatch):
    """r12: the order index is priced in BYTES against the single
    driver-residency budget (BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES) —
    long multibyte labels far under the 16M row cap must reject the
    index BEFORE the label blob is collected (over_cap marker, no
    ledger entry, identical distributed results); a budget that fits
    admits it and registers its measured bytes, and driver_residency()
    exposes the one number that bounds total residency."""
    import bikidata_spark.plans.query as Q
    from bikidata_spark import Engine, from_string_quads

    label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    big = "ü" * 4000  # 8 KB of UTF-8 per label — 40 rows ≈ 320 KB
    quads = []
    for i in range(40):
        e = f"<e/{i}>"
        quads.append((e, "<p/type>", "<t/x>", ""))
        quads.append((e, label, f'"{big}{i:04d}"', ""))
    g = from_string_quads(
        spark.createDataFrame(quads, "s string, p string, o string, g string")
    ).cache()
    opts = {
        "filters": [{"p": "<p/type>", "o": "<t/x>"}],
        "size": 40,
        "order": {"by": "label"},
        "use_cache": False,
    }
    monkeypatch.setattr(Q, "_DRIVER_ORDER", "1")
    monkeypatch.setenv("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", "100000")
    eng = Engine(g, local_tier_rows=0)
    a = eng.query(dict(opts))
    assert "over_cap" in eng._order_idx_cache.values()
    assert not any(
        k.startswith("order_index:") for k in eng._residency_ledger
    )
    monkeypatch.setattr(Q, "_DRIVER_ORDER", "0")
    plain = Engine(g, local_tier_rows=0)
    assert a == plain.query(dict(opts)), "distributed fallback diverged"
    # a budget that fits admits the index and the ledger prices it
    monkeypatch.setenv(
        "BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES", str(64 * 1024**2)
    )
    monkeypatch.setattr(Q, "_DRIVER_ORDER", "1")
    eng2 = Engine(g, local_tier_rows=0)
    b = eng2.query(dict(opts))
    assert b == a
    res = eng2.driver_residency()
    assert any(k.startswith("order_index:") for k in res["structures"])
    assert 0 < res["total_bytes"] <= res["budget_bytes"]
    assert res["budget_bytes"] == 64 * 1024**2


def test_fts_mirror_rows_budget_headroom(spark, monkeypatch):
    """The FTS mirror's postings-row cap spends the byte-budget
    headroom the admitted tier left (priced 64 B/posting), floored at
    the default; explicit env/constructor caps win unchanged — the r11
    fix for sf3-in-tier fts bailing to 4 Spark jobs at the fixed 8M cap."""
    from bikidata_spark import Engine, from_string_quads
    from bikidata_spark.plans import query as qmod

    quads = spark.createDataFrame(
        [(f"<e/{i}>", "<p>", f'"v{i}"', "") for i in range(10)],
        "s string, p string, o string, g string",
    )
    g = from_string_quads(quads).cache()

    class _FakeTier:
        approx_bytes = 3 * 1024**3

    monkeypatch.delenv("BIKIDATA_SPARK_LOCAL_TIER_FTS_ROWS", raising=False)
    eng = Engine(g, local_tier_bytes=6 * 1024**3)
    # 3 GiB headroom / 64 B = ~50.3M rows, above the 8M floor
    assert eng._fts_mirror_rows(_FakeTier()) == (3 * 1024**3) // 64
    # tier consumed (nearly) the whole budget: floor at the default
    class _BigTier:
        approx_bytes = 6 * 1024**3 - 1

    assert eng._fts_mirror_rows(_BigTier()) == qmod._LOCAL_TIER_FTS_ROWS
    # constructor override wins
    eng2 = Engine(g, local_tier_bytes=6 * 1024**3, local_tier_fts_rows=123)
    assert eng2._fts_mirror_rows(_FakeTier()) == 123
    # rows-cap-only engines (local_tier_bytes=0) keep the field value
    eng3 = Engine(g, local_tier_rows=100, local_tier_bytes=0)
    assert eng3._fts_mirror_rows(_FakeTier()) == qmod._LOCAL_TIER_FTS_ROWS
    # env override wins over derivation
    monkeypatch.setenv("BIKIDATA_SPARK_LOCAL_TIER_FTS_ROWS", "77")
    assert eng._fts_mirror_rows(_FakeTier()) == eng.local_tier_fts_rows


def test_global_order_vec_matches_python(spark):
    """r11 vectorized _global_order: for every hostile-label rule the
    Arrow/lexsort path must return EXACTLY what the Python twin
    (the semantics oracle) returns — and it must actually engage."""
    import random

    from bikidata_spark import Engine, from_string_quads

    label = "<http://www.w3.org/2000/01/rdf-schema#label>"
    hostile = [
        "  leading spaces", "trailing\t tab\t", " nbsp figure",
        "İstanbul", "ßharp", "STRASSE", "strasse", "123 numeric", "0123 pad",
        "99999999999999999999 overflow", "9223372036854775807 max",
        '"inner quotes"', "mixed   SPACE\truns", "~punct!lead", "\x0bvtab",
        "Ωmega", "émigré", "é combining", "", " ", "ümlaut",
        # r12: strings that sort BETWEEN pc.utf8_lower and str.lower()
        # divergent forms — 'İstanbul'.lower() is 'i̇stanbul'
        # (> 'ix') while utf8_lower gives 'istanbul' (< 'ix');
        # final-sigma 'ΑΣ'.lower() is 'ας' vs utf8_lower 'ασ'
        "ix", "iz", "ΑΣ", "ασ", "ας", "ΑΤΛΑΣ", "ατ",
    ]
    quads = []
    rng = random.Random(7)
    for i in range(150):
        e = f"<e/{i}>"
        quads.append((e, "<p/type>", "<t/x>", ""))
        for _ in range(rng.randint(0, 3)):
            txt = rng.choice(hostile)
            lang = rng.choice(["", "@en", "@de", "@tr", "@x-klingon"])
            quads.append((e, label, f'"{txt}"{lang}', ""))
    g = from_string_quads(
        spark.createDataFrame(quads, "s string, p string, o string, g string")
    ).cache()
    eng = Engine(g)
    eng.query({"filters": [{"p": "<p/type>", "o": "<t/x>"}], "size": 1})
    tier = eng._local_tier()
    assert tier is not None
    engaged = 0
    for trial in range(40):
        rule = {"by": "label"}
        if rng.random() < 0.5:
            rule["lang"] = rng.sample(["en", "de", "tr", "fr"], rng.randint(1, 3))
        if rng.random() < 0.5:
            rule["mode"] = rng.choice(["lex", "raw"])
        if rng.random() < 0.6:
            rule["clean"] = {
                k: rng.random() < 0.5
                for k in ("trim", "lower", "remove_quotes", "collapse_space", "strip_punct")
            }
        if rng.random() < 0.5:
            rule["natural"] = True
        rule["dir"] = rng.choice(["asc", "desc"])
        rule["nulls"] = rng.choice(["first", "last"])
        direction = rule["dir"]
        nulls = rule["nulls"]
        natural = bool(rule.get("natural", False))
        vec = tier._global_order_vec(rule, direction, nulls, natural)
        # the python twin, bypassing the vec hook and the cache
        tier._global_orders.clear()

        import bikidata_spark.plans.local_tier as lt

        orig = lt.LocalTier._global_order_vec
        lt.LocalTier._global_order_vec = lambda self, *a, **k: None
        try:
            py = tier._global_order(rule)
        finally:
            lt.LocalTier._global_order_vec = orig
        assert vec is not None, f"trial {trial}: vec did not engage for {rule}"
        engaged += 1
        for a, b, name in zip(vec, py, ("g_subj", "g_vals", "subj_sorted", "perm")):
            assert a.tolist() == b.tolist(), (
                f"trial {trial}: {name} diverged for rule {rule}"
            )
    assert engaged == 40
