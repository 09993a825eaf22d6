"""Tests for the training-data pipeline operators (dedup, similarity,
text analysis, events)."""

from __future__ import annotations

from pyspark.sql import functions as F

from bikidata_spark.functions.text import fingerprint, lang_id, quality_score, token_count
from bikidata_spark.operators import dedup as dd
from bikidata_spark.operators import events as ev
from bikidata_spark.operators import similarity as sim


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different")], "doc_id long, text string"
    )
    rows = {r["keep_id"]: r["n_dups"] for r in dd.exact_dedup(df, "doc_id", "text").collect()}
    assert rows == {1: 2, 3: 1}


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    s = {r["s"] for r in dd.shingles(df, "doc_id", "text", 3).collect()}
    assert s == {"a b c", "b c d"}
    # shorter than k → no shingles
    df2 = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert dd.shingles(df2, "doc_id", "text", 3).count() == 0


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "completely unrelated words here friend")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dd.minhash_lsh_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_minhash_banding_prunes_candidates(spark):
    """(b×r) banding: r=2 must generate strictly fewer candidate pairs
    than r=1 on a corpus of low-jaccard pairs that share a single
    common shingle (the web-corpus shape that floods the verify join),
    while keeping genuinely similar pairs as candidates."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, base), (1, base + " tail")]  # true near-dups
    # many documents sharing ONE 3-shingle with doc 0 but otherwise
    # disjoint: any single minhash can collide, all r=2 bands rarely do
    for i in range(2, 40):
        rows.append((i, f"alpha beta gamma x{i} y{i} z{i} w{i} v{i} u{i} t{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dd.shingles(df, "doc_id", "text", 3)
    n_r1 = dd.minhash_band_candidates(sh, 16, 1).count()
    n_r2 = dd.minhash_band_candidates(sh, 16, 2).count()
    assert n_r2 < n_r1
    r2_pairs = {
        (r["id_a"], r["id_b"]) for r in dd.minhash_band_candidates(sh, 16, 2).collect()
    }
    assert (0, 1) in r2_pairs
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dd.minhash_band_candidates(sh, 16, 3)


def test_simhash_identical_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"), (3, "x y z w q")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in dd.simhash_pairs(df, "doc_id", "text").collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs


def test_ngram_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h i"), (3, "z z z z z z")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in dd.ngram_jaccard_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs


def test_pair_operators_fill_shingles_before_branching(spark):
    """Both pair operators branch over one persisted shingle frame. It
    must be filled before the pairs plan runs: AQE submits the branches'
    shuffle-map stages together, and over an unfilled cache all but one
    of their tasks hold a core waiting for the first to compute the
    block (3× the executor run time on the perfbench documents)."""

    def filled() -> set:
        return {
            r.id()
            for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if 0 < r.numCachedPartitions() == r.numPartitions()
        }

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(0, base), (1, base + " tail")]
    rows += [(i, f"alpha beta gamma x{i} y{i} z{i} w{i}") for i in range(2, 24)]
    for fn in (dd.minhash_lsh_pairs, dd.ngram_jaccard_pairs):
        # text unique to this call, so no earlier cache can serve it
        docs = spark.createDataFrame(
            [(i, f"{t} {fn.__name__}") for i, t in rows], "doc_id long, text string"
        )
        before = filled()
        pairs = fn(docs, "doc_id", "text")
        assert filled() - before, f"{fn.__name__}: shingles not filled before the plan runs"
        assert (0, 1) in {(r["id_a"], r["id_b"]) for r in pairs.collect()}


def test_cosine_topk_exact(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 2)
    out = sim.cosine_topk(embeddings, q, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4, 5]
        assert all(r["neighbor"] != qid for r in rows)


def test_lsh_ann_recall(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    exact = sim.cosine_topk(embeddings, q, k=10).collect()
    approx = sim.lsh_ann_topk(embeddings, q, k=10, planes=4).collect()
    exact_set = {(r["qid"], r["neighbor"]) for r in exact}
    approx_set = {(r["qid"], r["neighbor"]) for r in approx}
    # bucketed search returns a subset ranked identically; demand overlap
    assert len(approx_set) > 0
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall > 0.0  # random vectors: same-bucket ≠ top-k; just sanity


def test_embedding_neardup_symmetric_free(spark, embeddings):
    pairs = sim.embedding_neardup_pairs(embeddings.limit(100)).collect()
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog!"), (2, "xy")], "doc_id long, text string"
    )
    tc = {r["doc_id"]: r["n_tokens"] for r in token_count(df, "doc_id", "text").collect()}
    assert tc == {1: 5, 2: 1}
    q = {r["doc_id"]: r for r in quality_score(df, "doc_id", "text").collect()}
    assert q[1]["quality_ok"] is True and q[2]["quality_ok"] is False
    assert q[1]["stop_ratio"] > 0.3


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and it is warm"),
            (2, "der hund und die katze das ist gut"),
            (3, "zzz qqq www"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(df, "doc_id", "text").collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in fingerprint(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2] != fps[3]


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [
            (1, 100, "2024-01-01 00:00:00"),
            (2, 100, "2024-01-01 00:10:00"),
            (3, 100, "2024-01-01 01:00:00"),  # > 30 min gap → new session
            (4, 200, "2024-01-01 00:00:00"),
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(r["user_id"], r["session_id"]): r["n_events"] for r in ev.sessionize(df).collect()}
    assert out == {(100, 1): 2, (100, 2): 1, (200, 1): 1}


def test_topk_users_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(i, "click", u) for i, u in enumerate([1, 2, 3, 1, 2, 4])],
        "event_id long, event_type string, user_id long",
    )
    rows = ev.topk_users(df, k=2).collect()
    assert [(r["user_id"], r["rank"]) for r in sorted(rows, key=lambda r: r["rank"])] == [
        (1, 1),
        (2, 2),
    ]


def test_pii_scrub(spark):
    from bikidata_spark.functions.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "mail me at bob@example.com or call +1 555 123 4567 ok"), (2, "clean")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_scrub(df, "doc_id", "text").collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert "<EMAIL>" in out[1]["clean_text"] and "<PHONE>" in out[1]["clean_text"]
    assert "bob@" not in out[1]["clean_text"]
    assert out[2]["clean_text"] == "clean" and out[2]["n_emails"] == 0


def test_vocabulary(spark):
    from bikidata_spark.functions.text import vocabulary

    df = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry")], "doc_id long, text string"
    )
    v = {r["token"]: r["n"] for r in vocabulary(df, "text", 2).collect()}
    assert v == {"apple": 2, "banana": 2}


def test_ivf_ann_recall_vs_exact(spark, embeddings):
    from pyspark.sql import functions as F

    from bikidata_spark.operators import similarity as sim

    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = {
        (r["qid"], r["neighbor"])
        for r in sim.cosine_topk(embeddings, queries).collect()
    }
    ivf = {
        (r["qid"], r["neighbor"])
        for r in sim.ivf_ann_topk(embeddings, queries).collect()
    }
    assert len(ivf) == len(exact) == 50
    # approximate, but probing 2/16 cells should still recover a fair share
    assert len(ivf & exact) / len(exact) >= 0.3
    # deterministic across runs
    again = {
        (r["qid"], r["neighbor"])
        for r in sim.ivf_ann_topk(embeddings, queries).collect()
    }
    assert ivf == again


def test_ann_recall_floor_50k(spark):
    """Quantified ANN quality at realistic scale (closes r4 #6): on 50k
    synthetic clustered vectors, IVF(nprobe=2, 2 Lloyd iters) must hold
    recall@10 >= 0.9 against the brute-force baseline and LSH(4 planes)
    >= 0.75. Measured on this exact seed: IVF 1.00, LSH 0.88 (recorded
    in docs/PLANS.md §ANN recall)."""
    import numpy as np

    from bikidata_spark.operators import similarity as sim

    rng = np.random.default_rng(42)
    n, d, c, nq = 50_000, 16, 40, 20
    centers = rng.normal(size=(c, d))
    pts = centers[rng.integers(0, c, n)] + 0.15 * rng.normal(size=(n, d))
    vectors = spark.createDataFrame(
        [(int(i), pts[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(32).cache()
    qi = rng.choice(n, nq, replace=False)
    queries = spark.createDataFrame(
        [
            (int(1_000_000 + j), (pts[i] + 0.05 * rng.normal(size=d)).tolist())
            for j, i in enumerate(qi)
        ],
        "vec_id long, embedding array<double>",
    )

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["qid"], set()).add(r["neighbor"])
        return out

    exact = topk_sets(sim.cosine_topk(vectors, queries, k=10))
    ivf = topk_sets(
        sim.ivf_ann_topk(
            vectors, queries, k=10, centroid_step=1250, nprobe=2, refine_iters=2, quantize=6
        )
    )
    lsh = topk_sets(sim.lsh_ann_topk(vectors, queries, k=10, planes=4))
    vectors.unpersist()

    def recall(approx):
        hit = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        return hit / sum(len(exact[q]) for q in exact)

    r_ivf, r_lsh = recall(ivf), recall(lsh)
    assert r_ivf >= 0.9, f"IVF recall@10 {r_ivf:.3f} below floor"
    assert r_lsh >= 0.75, f"LSH recall@10 {r_lsh:.3f} below floor"


def test_clean_corpus_composition(spark, docs):
    from bikidata_spark.operators.pipeline import clean_corpus

    out = clean_corpus(docs, "doc_id", "text")
    rows = {r["doc_id"]: r["n_tokens"] for r in out.collect()}
    assert 0 < len(rows) <= docs.count()
    # every survivor passes quality and is its dup-class representative
    from bikidata_spark.functions.text import quality_score
    from bikidata_spark.operators.dedup import exact_dedup

    ok = {r["doc_id"] for r in quality_score(docs, "doc_id", "text").filter("quality_ok").collect()}
    keep = {r["keep_id"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert set(rows) == ok & keep


def test_graph_store_scan_pushdown(spark, tmp_path):
    from pyspark.sql import functions as F

    from bikidata_spark import from_string_quads, read_graph, write_graph

    quads = spark.createDataFrame(
        [("<e/1>", "<p/a>", '"x"', ""), ("<e/2>", "<p/b>", '"y"', "")],
        "s string, p string, o string, g string",
    )
    write_graph(from_string_quads(quads), str(tmp_path / "g"))
    g = read_graph(spark, str(tmp_path / "g"))
    q = g.triples.filter(F.col("p") == F.xxhash64(F.lit("<p/a>"))).select("s")
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the constant-folded hash must reach the parquet scan, and only the
    # two needed columns may be read
    assert "PushedFilters: [IsNotNull(p), EqualTo(p," in plan, plan
    assert "ReadSchema: struct<s:bigint,p:bigint>" in plan, plan


def test_graph_store_terms_bucket_pruning(spark, tmp_path):
    """r6: the persisted terms dictionary is hash-bucketed; a bounded
    term probe from the cold store partition-prunes to its hashes'
    bucket directories and still resolves every value. An Engine over
    the store answers queries end-to-end, and so does one over a store
    of an earlier version whose terms are not bucketed."""
    from pyspark.sql import functions as F

    from bikidata_spark import Engine, from_string_quads, read_graph, write_graph
    from bikidata_spark.graph import TERM_BUCKETS, TERMS_BUCKETED_SCHEMA, TERMS_SCHEMA

    quads = spark.createDataFrame(
        [(f"<e/{i}>", "<p/a>", f'"v{i}"', "") for i in range(50)],
        "s string, p string, o string, g string",
    )
    graph = from_string_quads(quads)
    write_graph(graph, str(tmp_path / "g"))
    # a store of an earlier version: terms written without partitionBy
    legacy = str(tmp_path / "legacy")
    graph.triples.write.parquet(f"{legacy}/triples")
    graph.terms.write.parquet(f"{legacy}/terms")
    assert read_graph(spark, legacy).terms.schema == TERMS_SCHEMA
    assert read_graph(spark, str(tmp_path / "g")).terms.schema == TERMS_BUCKETED_SCHEMA
    for path in (legacy, str(tmp_path / "g")):
        # both layouts open with the writer's schemas, as inference
        # would read them
        g = read_graph(spark, path)
        for got, inferred in ((g.triples, "triples"), (g.terms, "terms")):
            assert got.schema == spark.read.parquet(f"{path}/{inferred}").schema
        # engine query end-to-end from the store
        eng = Engine(g)
        out = eng.query({"filters": [{"p": "<p/a>", "o": '"v7"'}], "size": 5})
        assert out["total"] == 1 and "<e/7>" in out["results"]
    # the probe plan carries PartitionFilters on bucket
    some = [r["hash"] for r in g.terms.limit(3).collect()]
    buckets = sorted({h % TERM_BUCKETS for h in some})
    probe = g.terms.filter(
        F.col("bucket").isin(buckets) & F.col("hash").isin(some)
    ).select("hash", "value")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*bucket", plan), plan
    # _term_values resolves through the pruned path
    vals = eng._term_values(iter(some))
    assert set(vals) == set(some)


def test_asof_join_semantics(spark):
    from bikidata_spark.operators.events import asof_join

    l = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "user_id long, ts long, tag string"
    )
    r = spark.createDataFrame(
        [(1, 8, 100), (1, 10, 200), (1, 10, 201), (1, 15, 300), (2, 9, 400)],
        "user_id long, ts long, rid long",
    )
    got = {
        (x["user_id"], x["ts"]): x["rid_asof"]
        for x in asof_join(l, r, on="ts", by="user_id", right_cols=["rid"]).collect()
    }
    # inclusive <=; equal-ts right dups resolve to the max id; no prior -> null
    assert got == {(1, 10): 201, (1, 20): 300, (2, 5): None}


def test_range_join_bucketing(spark):
    from bikidata_spark.operators.events import range_join

    pts = spark.createDataFrame([(1, 100), (2, 150), (3, 250), (4, 400)], "pid long, pt long")
    ivs = spark.createDataFrame(
        [(10, 90, 160), (11, 150, 200), (12, 240, 260)], "iid long, lo long, hi long"
    )
    got = sorted(
        (r["pid"], r["iid"]) for r in range_join(pts, ivs, bucket_width=50).collect()
    )
    # lower inclusive, upper exclusive; point 400 matches nothing
    assert got == [(1, 10), (2, 10), (2, 11), (3, 12)]
    # result is bucket-width independent
    for w in (7, 1000):
        assert got == sorted(
            (r["pid"], r["iid"]) for r in range_join(pts, ivs, bucket_width=w).collect()
        )


def test_hash_split_deterministic(spark, docs):
    from bikidata_spark.functions.text import hash_split

    a = {(r["doc_id"], r["split"]) for r in hash_split(docs, "doc_id").collect()}
    b = {(r["doc_id"], r["split"]) for r in hash_split(docs, "doc_id").collect()}
    assert a == b and len(a) == docs.count()
    frac = sum(1 for _, s in a if s == "train") / len(a)
    assert 0.85 < frac < 0.95  # ~900 permille
    # a different salt re-deals the split
    c = {(r["doc_id"], r["split"]) for r in hash_split(docs, "doc_id", salt="other").collect()}
    assert c != a


def test_repetition_score(spark):
    from bikidata_spark.functions.text import repetition_score

    df = spark.createDataFrame(
        [
            (1, "a b a b a b a b"),  # one 2-gram dominates
            (2, "each of the twelve tokens appearing here is fully distinct honest"),
            (3, "x\ny\nx\n\n z "),  # duplicate line 'x' of 3 non-empty... 4 lines: x,y,x,z
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_score(df, "doc_id", "text").collect()}
    # doc 1: 8 tokens, top 2-gram "a b" occurs 4 of 7 grams -> 2*4/8 = 1.0
    assert rows[1]["top_2gram_frac"] == 1.0 and not rows[1]["repetition_ok"]
    # doc 2: all distinct -> low fractions, passes
    assert rows[2]["dup_5gram_frac"] == 0.0 and rows[2]["repetition_ok"]
    # doc 3: lines x,y,x,z -> 1 duplicate of 4 non-empty lines
    assert abs(rows[3]["dup_line_frac"] - 0.25) < 1e-12
    # doc with fewer tokens than gram width still yields a row
    tiny = spark.createDataFrame([(9, "ab")], "doc_id long, text string")
    r = repetition_score(tiny, "doc_id", "text").collect()[0]
    assert r["top_2gram_frac"] == 0.0 and r["dup_5gram_frac"] == 0.0


def test_decontaminate(spark):
    from bikidata_spark.operators.pipeline import decontaminate

    train = spark.createDataFrame(
        [
            (1, "the secret benchmark answer is forty two exactly"),
            (2, "nothing in common with the eval set at all"),
        ],
        "doc_id long, text string",
    )
    ev_df = spark.createDataFrame(
        [(100, "we know the secret benchmark answer is hidden")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in decontaminate(train, ev_df, "doc_id", "text", 3).collect()}
    assert rows[1]["contaminated"] and rows[1]["n_eval_grams"] >= 2
    assert not rows[2]["contaminated"] and rows[2]["n_eval_grams"] == 0


def test_ivf_kmeans_refinement(spark, embeddings):
    from pyspark.sql import functions as F

    from bikidata_spark.operators import similarity as sim

    queries = embeddings.filter(F.col("vec_id") < 5)
    exact = {
        (r["qid"], r["neighbor"])
        for r in sim.cosine_topk(embeddings, queries).collect()
    }
    ref = {
        (r["qid"], r["neighbor"])
        for r in sim.ivf_ann_topk(embeddings, queries, refine_iters=2).collect()
    }
    # full result shape and a sane recall after Lloyd iterations
    assert len(ref) == 50
    assert len(ref & exact) / len(exact) >= 0.3
    # refined centroids keep the vector dimension and shrink-or-keep k
    v = embeddings.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").cast("array<double>").alias("nv"),
    )
    seed = v.filter(F.col("nid") % 31 == 0).select(
        F.col("nid").alias("cid"), F.col("nv").alias("cv")
    )
    cents = sim.kmeans_refine(v, seed, iters=1)
    n_seed = seed.count()
    assert 0 < cents.count() <= n_seed
    assert len(cents.first()["cv"]) == len(v.first()["nv"])


def test_chunk_documents(spark):
    from bikidata_spark.functions.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x"), (3, "")], "doc_id long, text string"
    )
    rows = {
        (r["doc_id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(df, "doc_id", "text", chunk_tokens=2).collect()
    }
    assert rows == {
        (1, 0): ("a b", 2),
        (1, 1): ("c d", 2),
        (1, 2): ("e", 1),  # last chunk short
        (2, 0): ("x", 1),
    }  # empty doc 3 yields no chunks


def test_sample_mixture_and_cap(spark):
    from bikidata_spark.operators.pipeline import cap_per_source, sample_mixture

    df = spark.createDataFrame(
        [(i, "keep" if i % 2 == 0 else "drop") for i in range(100)],
        "doc_id long, source string",
    ).withColumn("text", F.lit("t"))
    kept = sample_mixture(df, "doc_id", "source", {"keep": 1000}).collect()
    assert {r["source"] for r in kept} == {"keep"} and len(kept) == 50
    # half-rate is deterministic and roughly half
    half = sample_mixture(df, "doc_id", "source", {"keep": 500}).count()
    assert 10 < half < 40
    assert half == sample_mixture(df, "doc_id", "source", {"keep": 500}).count()

    capped = cap_per_source(df, "doc_id", "source", 3).collect()
    by_src = {}
    for r in capped:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # lowest ids win, 3 per source
    assert sorted(by_src["keep"]) == [0, 2, 4] and sorted(by_src["drop"]) == [1, 3, 5]


def test_funnel_batch(spark):
    rows = [
        # user 1 completes in order
        (1, 100, "2024-01-01 00:00:00", "view"),
        (2, 100, "2024-01-01 00:05:00", "click"),
        (3, 100, "2024-01-01 00:10:00", "purchase"),
        # user 2: purchase BEFORE click -> incomplete
        (4, 200, "2024-01-01 00:00:00", "view"),
        (5, 200, "2024-01-01 00:01:00", "purchase"),
        (6, 200, "2024-01-01 00:02:00", "click"),
        # user 3: never views
        (7, 300, "2024-01-01 00:00:00", "click"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["user_id"]: (str(r["t1"]), str(r["t3"])) for r in ev.funnel(df).collect()}
    assert set(out) == {100}
    assert out[100] == ("2024-01-01 00:00:00", "2024-01-01 00:10:00")


def test_connected_components_chain(spark):
    # chain 1-2-3 plus island 8-9: transitivity matters (1,3 never pair directly)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a long, id_b long"
    )
    cc = {r["id"]: r["component"] for r in dd.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}
    clusters = {
        r["component"]: (r["keep_id"], r["n_members"])
        for r in dd.dedup_clusters(pairs).collect()
    }
    assert clusters == {1: (1, 3), 8: (8, 2)}


def test_connected_components_long_chain_converges(spark):
    # a 10-node path needs multiple propagation rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    cc = {r["id"]: r["component"] for r in dd.connected_components(pairs).collect()}
    assert set(cc.values()) == {0} and len(cc) == 11


def test_prepare_corpus_composition(spark, docs):
    from bikidata_spark.operators.pipeline import prepare_corpus

    train = docs.filter(F.col("doc_id") % 7 != 0)
    ev_df = docs.filter(F.col("doc_id") % 7 == 0)
    out = prepare_corpus(train, ev_df, "doc_id", "text", decontam_n=8, chunk_tokens=16)
    rows = out.collect()
    assert rows and set(out.columns) == {"doc_id", "chunk_id", "chunk_text", "n_tokens", "split"}
    # every chunk belongs to a train-side doc and carries a split label
    assert all(r["doc_id"] % 7 != 0 and r["split"] in ("train", "val") for r in rows)
    # chunks respect the width
    assert all(0 < r["n_tokens"] <= 16 for r in rows)
    # deterministic end to end
    again = prepare_corpus(train, ev_df, "doc_id", "text", decontam_n=8, chunk_tokens=16).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_embedding_neardup_lsh_subset(spark, embeddings):
    exact = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_neardup_pairs(embeddings.limit(200), planes=None).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in sim.embedding_neardup_pairs(embeddings.limit(200), planes=4).collect()
    }
    # bucketed pairs are a subset of the exact pairs (same threshold,
    # only the candidate space shrinks)
    assert bucketed <= exact


def test_ngram_jaccard_max_df(spark):
    # "the same boilerplate" shingle is shared by everyone; real overlap
    # only between 1 and 2
    df = spark.createDataFrame(
        [
            (1, "common header text alpha beta gamma delta"),
            (2, "common header text alpha beta gamma epsilon"),
            (3, "common header text totally different body here"),
            (4, "common header text another unrelated doc body"),
        ],
        "doc_id long, text string",
    )
    full = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(df, "doc_id", "text", n=3).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dd.ngram_jaccard_pairs(df, "doc_id", "text", n=3, max_df=2).collect()
    }
    # capped is a subset (scores only shrink), and the true near-pair survives
    assert capped <= full and (1, 2) in capped


def test_connected_components_pointer_jumping(spark):
    # a 50-node path has diameter 50: pure min-propagation needs ~50
    # rounds; pointer jumping must converge within 10
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "id_a long, id_b long"
    )
    cc = {
        r["id"]: r["component"]
        for r in dd.connected_components(pairs, max_iter=10).collect()
    }
    assert set(cc.values()) == {0} and len(cc) == 51


def test_cap_per_source_bucketed_skew_free(spark):
    """Sub-quota capping: never exceeds the cap per source, selection is
    deterministic, and the window keys on (source, bucket) so a giant
    source fans out over `buckets` window partitions instead of one."""
    from bikidata_spark.operators.pipeline import cap_per_source, cap_per_source_bucketed

    rows = [(i, "big" if i < 400 else "small") for i in range(420)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = cap_per_source_bucketed(df, "doc_id", "source", cap=10, buckets=4)
    per_source = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per_source["big"] == 10  # every bucket full => exactly cap
    assert per_source["small"] <= 10
    # deterministic selection
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in cap_per_source_bucketed(df, "doc_id", "source", 10, 4).collect())
    assert a == b
    # buckets=1 degenerates to the plain per-source cap's selection
    plain = sorted(r["doc_id"] for r in cap_per_source(df, "doc_id", "source", 10).collect())
    one = sorted(r["doc_id"] for r in cap_per_source_bucketed(df, "doc_id", "source", 10, 1).collect())
    assert one == plain
    # the executed plan windows over (source, bucket), not source alone
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan.split("Window")[1][:200]


def test_ivf_store_pruned_matches_inmemory(spark, embeddings, tmp_path):
    """Persisted IVF store: identical results to the in-memory operator
    AND the vector scan partition-prunes to the probed cells. The store
    opens with the writer's schemas: 0 Spark jobs."""
    q = embeddings.filter(F.col("vec_id") < 5)
    sim.write_ivf_store(embeddings, str(tmp_path / "ivf"), refine_iters=2, quantize=6)
    sc = spark.sparkContext
    sc.setJobGroup("ivf-open", "probe")
    try:
        vectors, cents = sim.read_ivf_store(spark, str(tmp_path / "ivf"))
        jobs = sc.statusTracker().getJobIdsForGroup("ivf-open")
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs) == 0, f"read_ivf_store scheduled Spark jobs: {jobs}"
    assert vectors.schema == sim.IVF_VECTORS_SCHEMA
    assert cents.schema == sim.IVF_CENTROIDS_SCHEMA
    stored = sim.ivf_store_topk(vectors, cents, q)
    inmem = sim.ivf_ann_topk(embeddings, q, refine_iters=2, quantize=6)
    a = sorted((r["qid"], r["neighbor"], r["rank"]) for r in stored.collect())
    b = sorted((r["qid"], r["neighbor"], r["rank"]) for r in inmem.collect())
    assert a == b and len(a) == 50
    import re

    plan = stored._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*cell", plan)
    assert m, plan[:2000]


def test_ivf_store_probe_localization_equal_and_engaged(
    spark, embeddings, tmp_path, monkeypatch
):
    """r14/r15: ivf_store_topk resolves the (qid, qv, cell) probe rows
    on the driver (bounded query collect + tiny centroid collect +
    the pinned probe_cells_fold mirror; LocalRelation broadcast side,
    distinct cells driver-side) when |q|*nprobe fits the cap; cap 0
    forces the pre-r14 fully-distributed probe. Both paths must
    return identical rows, and the localized plan must actually
    engage (no HOF centroid fold in the executed scored plan's
    broadcast side)."""
    q = embeddings.filter(F.col("vec_id") < 5)
    sim.write_ivf_store(embeddings, str(tmp_path / "ivf"), refine_iters=2, quantize=6)
    vectors, cents = sim.read_ivf_store(spark, str(tmp_path / "ivf"))
    monkeypatch.setenv("BIKIDATA_SPARK_PROBE_LOCAL_ROWS", "0")
    dist = sim.ivf_store_topk(vectors, cents, q)
    dist_rows = sorted(map(tuple, dist.collect()))
    dist_plan = dist._jdf.queryExecution().executedPlan().toString()
    # the probes build side runs in-plan: one-row centroid-array
    # crossJoin under the scored join's broadcast
    assert "BroadcastNestedLoopJoin" in dist_plan
    monkeypatch.delenv("BIKIDATA_SPARK_PROBE_LOCAL_ROWS")
    loc = sim.ivf_store_topk(vectors, cents, q)
    loc_rows = sorted(map(tuple, loc.collect()))
    loc_plan = loc._jdf.queryExecution().executedPlan().toString()
    assert loc_rows == dist_rows and len(loc_rows) == 50
    # the localized scored plan broadcasts the driver-resolved rows (a
    # local ExistingRDD scan); the centroid-array crossJoin + per-query
    # fold subtree is gone (the only remaining aggregate HOF is
    # cosine_sim's own scoring fold, present in both plans)
    assert ("Scan ExistingRDD" in loc_plan or "LocalTableScan" in loc_plan)
    assert "BroadcastNestedLoopJoin" not in loc_plan
    # over-cap batches fall back to the distributed probe untruncated:
    # qcap = 9 // nprobe(2) = 4 < |q| = 5
    monkeypatch.setenv("BIKIDATA_SPARK_PROBE_LOCAL_ROWS", "9")
    over = sorted(map(tuple, sim.ivf_store_topk(vectors, cents, q).collect()))
    monkeypatch.delenv("BIKIDATA_SPARK_PROBE_LOCAL_ROWS")
    assert over == dist_rows


def test_connected_components_star_equals_label(spark):
    """Large/small-star CC agrees with label propagation on chains,
    cliques, isolated pairs, and a heavy hub (the skew case it exists
    for)."""
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 10)]          # chain 0..10
    edges += [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]  # clique
    edges += [(200, 201), (300, 301)]                   # isolated pairs
    edges += [(400, 400 + i) for i in range(1, 60)]     # heavy hub
    edges += [(rng.randint(500, 540), rng.randint(500, 540)) for _ in range(40)]
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    a = {(r["id"], r["component"]) for r in dd.connected_components(df).collect()}
    b = {(r["id"], r["component"]) for r in dd.connected_components_star(df).collect()}
    assert a == b
    # chain collapses to 0, hub to 400
    comp = dict(b)
    assert comp[10] == 0 and comp[459] == 400
    # dedup_clusters agrees through both algorithms
    ca = sorted(tuple(r) for r in dd.dedup_clusters(df).collect())
    cb = sorted(tuple(r) for r in dd.dedup_clusters(df, algorithm="star").collect())
    assert ca == cb


def test_event_frame_dtype_normalization(spark):
    """Every encoding the upstream events.parquet has shipped — nanos-
    as-long, TIMESTAMP_NTZ, and plain TIMESTAMP — must produce identical
    operator output (session tz is UTC, so NTZ→TZ is an exact relabel)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from bikidata_spark.operators.events import funnel, hourly_agg, sessionize, to_event_frame

    base_us = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z
    rows = [
        (1, base_us, 7, "view", 1.0, "{}"),
        (2, base_us + 60_000_000, 7, "click", 2.0, "{}"),
        (3, base_us + 120_000_000, 7, "purchase", 3.0, "{}"),
        (4, base_us + 7_200_000_000, 7, "view", 4.0, "{}"),
    ]
    schema_long = "event_id long, ts long, user_id long, event_type string, value double, props string"
    as_nanos = spark.createDataFrame([(e, t * 1000, u, et, v, p) for e, t, u, et, v, p in rows], schema_long)
    naive = [
        (e, dt.datetime.utcfromtimestamp(t / 1e6), u, et, v, p) for e, t, u, et, v, p in rows
    ]
    as_ntz = spark.createDataFrame(
        naive, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    )
    as_tz = spark.createDataFrame(
        naive, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    variants = {"nanos_long": as_nanos, "ntz": as_ntz, "tz": as_tz}

    for name, df in variants.items():
        assert dict(to_event_frame(df).dtypes)["ts"] == "timestamp", name

    def snap(op):
        outs = {}
        for name, df in variants.items():
            out = op(df)
            # unix_micros on the result proves the column is TZ-typed
            ts_cols = [c for c, t in out.dtypes if t == "timestamp"]
            for c in ts_cols:
                out = out.withColumn(c, F.unix_micros(c))
            outs[name] = sorted(map(tuple, out.collect()))
        assert outs["nanos_long"] == outs["ntz"] == outs["tz"], op.__name__
        return outs["tz"]

    assert len(snap(hourly_agg)) == 4  # 3 types in hour 1 + view in hour 3
    assert snap(funnel) == [(7, base_us, base_us + 60_000_000, base_us + 120_000_000)]
    sess = snap(sessionize)
    assert [r[2] for r in sess] == [3, 1]  # 2h gap splits the sessions


def test_skewed_key_resilience(spark):
    """Skew probe (documented factor: hot key carries 1000x the median).
    At 100 TB one hot user/token/parent is the norm, so the heavy
    operators must keep their scale-safe shapes under skew:

    - funnel/groupBy: partial (map-side) aggregation must appear in the
      executed plan — the hot key then ships one row per upstream
      partition through the shuffle, not its raw row count;
    - joins on a skewed key: AQE's skew-join must engage (skewed
      partition split into subpartitions) once a partition crosses the
      skew thresholds;
    - sessionize: a hot user serializes within its own window partition
      by definition, but output must stay correct and other users'
      work must still spread across partitions.
    """
    import datetime as dt

    from pyspark.sql import functions as F

    from bikidata_spark.operators.events import funnel, sessionize

    HOT, N_HOT, N_COLD_USERS, N_COLD = 1, 20_000, 200, 20
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    stages = ("view", "click", "purchase")
    for u in range(2, 2 + N_COLD_USERS):
        for i in range(N_COLD):
            rows.append((eid, base + dt.timedelta(seconds=10 * i), u, stages[i % 3]))
            eid += 1
    for i in range(N_HOT):
        rows.append((eid, base + dt.timedelta(seconds=i), HOT, stages[i % 3]))
        eid += 1
    events = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    ).withColumn("value", F.lit(0.0)).withColumn("props", F.lit("{}"))

    # --- funnel: hot key must combine map-side before the shuffle -----
    fun = funnel(events)
    plan = fun._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan, plan[:2000]
    got = {r["user_id"] for r in fun.collect()}
    assert HOT in got and len(got) == 1 + N_COLD_USERS  # every user completes

    # --- sessionize: correct under the hot user -----------------------
    sess = sessionize(events, gap_minutes=30)
    agg = {r["user_id"]: r["n"] for r in sess.groupBy("user_id").agg(F.sum("n_events").alias("n")).collect()}
    assert agg[HOT] == N_HOT and all(agg[u] == N_COLD for u in range(2, 2 + N_COLD_USERS))

    # --- AQE skew-join engages on a hot join key ----------------------
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        # Shape constraints for the split to be legal: (a) only ONE side
        # skewed — a self-join is skewed on both sides of the same
        # partition and cannot be split; (b) no keyed agg downstream —
        # a groupBy on the join key would require the join's hash
        # partitioning and veto the split; (c) enough post-compression
        # bytes — identical longs lz4 away to nothing, so carry an
        # incompressible sha2 payload.
        # the dim side must reach the join as a bare shuffle: a
        # distinct()/aggregate between shuffle and join breaks the
        # SMJ(Sort(Shuffle), Sort(Shuffle)) pattern the skew rule matches
        left = events.select(
            "user_id", "event_id", F.sha2(F.col("event_id").cast("string"), 256).alias("pay")
        )
        right = spark.createDataFrame(
            [(u, "u") for u in [HOT] + list(range(2, 2 + N_COLD_USERS))],
            "user_id long, tag string",
        )
        # count() through the same DataFrame object so the inspected
        # queryExecution is the one AQE actually finalized
        # the agg must CONSUME the payload or Catalyst prunes it out of
        # the shuffle and the partition compresses under the threshold
        j = left.join(right, "user_id").agg(
            F.count(F.lit(1)).alias("cnt"), F.max("pay").alias("mx")
        )
        expected = N_HOT + N_COLD_USERS * N_COLD
        assert j.collect()[0]["cnt"] == expected
        jplan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in jplan or "skewed" in jplan.lower(), jplan[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_ivf_append_keeps_pruning_and_results(spark, tmp_path):
    """Appending to an IVF store must leave the serving plan intact:
    the probed top-k still partition-prunes on `cell` (PartitionFilters
    in the executed scan) and the appended vectors are reachable via
    their assigned cells; compaction folds files without changing
    results."""
    import glob
    import re

    path = str(tmp_path / "ivf_app")
    base = spark.createDataFrame(
        [(i, [1.0 if i % 2 else 0.0, 0.0 if i % 2 else 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    sim.write_ivf_store(base, path, centroid_step=7)

    # an appended vector aligned with the axis-0 cluster
    extra = spark.createDataFrame([(100, [1.0, 0.01])], "vec_id long, embedding array<double>")
    assert sim.append_ivf_store(extra, path) == 1

    q = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    topk = sim.ivf_store_topk(*sim.read_ivf_store(spark, path), q, k=21, nprobe=1)
    rows = topk.collect()
    assert 100 in {r["neighbor"] for r in rows}  # appended vector served
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan[:1500]

    before = {(r["neighbor"], r["rank"]) for r in rows}
    n_files = len(glob.glob(f"{path}/vectors/cell=*/*.parquet"))
    sim.compact_ivf_store(spark, path)
    assert len(glob.glob(f"{path}/vectors/cell=*/*.parquet")) < n_files
    after = {
        (r["neighbor"], r["rank"])
        for r in sim.ivf_store_topk(*sim.read_ivf_store(spark, path), q, k=21, nprobe=1).collect()
    }
    assert after == before


def test_ivf_compact_crash_recovery(spark, tmp_path):
    """compact_ivf_store's swap must never strand the store: simulate
    both crash windows (live dir parked aside but compacted dir not yet
    slid in; compacted dir in but parked dir not yet deleted) and assert
    the next open recovers a readable, correct store."""
    import os
    import shutil

    path = str(tmp_path / "ivf_crash")
    base = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    sim.write_ivf_store(base, path, centroid_step=5)
    expect = {tuple(r) for r in spark.read.parquet(f"{path}/vectors").select("nid").collect()}

    # window 1: crash after parking the live dir, before the slide-in
    os.rename(f"{path}/vectors", f"{path}/_old_vectors")
    vectors, _ = sim.read_ivf_store(spark, path)
    assert {tuple(r) for r in vectors.select("nid").collect()} == expect
    assert not os.path.exists(f"{path}/_old_vectors")

    # window 2: crash after the slide-in, before cleanup — leftover
    # parked dir and work dir must be cleared, live data untouched
    shutil.copytree(f"{path}/vectors", f"{path}/_old_vectors")
    os.makedirs(f"{path}/_compacting/vectors", exist_ok=True)
    vectors, _ = sim.read_ivf_store(spark, path)
    assert {tuple(r) for r in vectors.select("nid").collect()} == expect
    assert not os.path.exists(f"{path}/_old_vectors")
    assert not os.path.exists(f"{path}/_compacting")

    # and a straight compact on the recovered store still works
    out = sim.compact_ivf_store(spark, path)
    assert out["vectors"] == 12


def test_url_stats(spark):
    from bikidata_spark.functions.text import url_stats

    df = spark.createDataFrame(
        [
            (1, "read https://A.com/x and https://a.com/y plus http://b.org end"),
            (2, "no links at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in url_stats(df, "doc_id", "text").collect()}
    # 3 urls but only 2 distinct lowercased domains (A.com == a.com)
    assert out[1]["n_urls"] == 3 and out[1]["n_domains"] == 2
    assert out[1]["clean_text"] == "read <URL> and <URL> plus <URL> end"
    assert abs(out[1]["url_density"] - round(3 / 7, 6)) < 1e-9
    assert out[2]["n_urls"] == 0 and out[2]["clean_text"] == "no links at all"


def test_sessionize_long_gap_no_int32_overflow(spark):
    """gap_minutes >= 36 makes the microsecond threshold exceed int32;
    a Spark-side int multiply would wrap negative and split EVERY pair
    of events into separate sessions. Two events 50 minutes apart under
    a 60-minute gap must share one session."""
    from bikidata_spark.operators import events as ev

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7, "view", 0.0, "{}"),
            (2, "2024-01-01 00:50:00", 7, "view", 0.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = ev.sessionize(df, gap_minutes=60).collect()
    assert len(out) == 1 and out[0]["n_events"] == 2


def test_seed_step_self_caps_cells():
    """r13 (r12 verdict item 4): past 4096² vectors the cell schedule
    self-caps — cells = N/step never exceeds 4096, so the O(N·cells)
    assignment fold and the cell-partitioned store write stay ~linear
    at 10^8+ vectors without the caller pinning centroid_step."""
    from bikidata_spark.operators.similarity import _MAX_CELLS, _seed_step

    class _N:
        def __init__(self, n):
            self.n = n

        def count(self):
            return self.n

    import math

    for n in (1_000, 200_000, 16_000_000):
        assert _seed_step(_N(n)) == max(31, math.floor(math.sqrt(n)))
    for n in (17_000_000, 100_000_000, 1_000_000_000):
        step = _seed_step(_N(n))
        assert -(-n // step) <= _MAX_CELLS, (n, step)
        # and the cap engages exactly when sqrt would exceed it
        assert step == -(-n // _MAX_CELLS)


def test_auto_nprobe_recall_target(spark):
    """r13 (r12 verdict item 3): nprobe='auto' derives nprobe from the
    published soft-clustered operating curve. Monotone in the target,
    clamped to the cell count, and the plumbed call beats the
    nprobe=2 default's recall on a soft-clustered corpus."""
    import numpy as np

    from bikidata_spark.operators import similarity as sim

    assert sim.auto_nprobe(141, 0.275) <= 3  # the measured default point
    a, b, c = (
        sim.auto_nprobe(141, 0.3),
        sim.auto_nprobe(141, 0.6),
        sim.auto_nprobe(141, 0.9),
    )
    assert a <= b <= c <= 141
    assert sim.auto_nprobe(10, 0.999) == 10  # clamps at probing all

    rng = np.random.default_rng(7)
    n, d, nq = 4_000, 8, 10
    # soft-clustered: wide cluster noise, the curve's worst case
    centers = rng.normal(size=(12, d))
    pts = centers[rng.integers(0, 12, n)] + 0.8 * rng.normal(size=(n, d))
    vectors = spark.createDataFrame(
        [(int(i), pts[i].tolist()) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).cache()
    queries = spark.createDataFrame(
        [(int(1_000_000 + j), pts[rng.integers(0, n)].tolist()) for j in range(nq)],
        "vec_id long, embedding array<double>",
    )

    def topk_sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["qid"], set()).add(r["neighbor"])
        return out

    exact = topk_sets(sim.cosine_topk(vectors, queries, k=10))

    def recall(approx):
        hit = sum(len(approx.get(q, set()) & exact[q]) for q in exact)
        return hit / sum(len(exact[q]) for q in exact)

    r_default = recall(topk_sets(sim.ivf_ann_topk(vectors, queries, k=10, nprobe=2)))
    r_auto = recall(
        topk_sets(
            sim.ivf_ann_topk(vectors, queries, k=10, nprobe="auto", recall_target=0.9)
        )
    )
    assert r_auto >= r_default, (r_auto, r_default)
    assert r_auto >= 0.8, r_auto  # ~75% of cells probed at recall_target=0.9
    vectors.unpersist()


def test_ivf_store_topk_auto_nprobe(spark, embeddings, tmp_path):
    """nprobe='auto' plumbs through the persisted-store search path."""
    from bikidata_spark.operators import similarity as sim

    store = str(tmp_path / "ivfauto")
    sim.write_ivf_store(embeddings, store)
    vectors, cents = sim.read_ivf_store(spark, store)
    queries = embeddings.limit(3)
    got = sim.ivf_store_topk(
        vectors, cents, queries, nprobe="auto", recall_target=0.9, k=5
    )
    rows = got.collect()
    assert rows and all(r["rank"] <= 5 for r in rows)


def test_ivf_cell_schedule_self_cap_boundary():
    """r14: the cell schedule self-caps at _MAX_CELLS exactly past
    n = _MAX_CELLS² (16,777,216). cells = ceil(n/step): sqrt growth
    below the boundary, ≤ _MAX_CELLS at and past it — so assignment
    and store-write stay ~linear at 100 TB vector counts."""
    import math

    from bikidata_spark.operators.similarity import _MAX_CELLS, _cell_step

    def cells(n):
        return -(-n // _cell_step(n))

    b = _MAX_CELLS * _MAX_CELLS  # 16,777,216
    for n in (b - 1, b, b + 1):
        assert _cell_step(n) == max(math.floor(math.sqrt(n)), -(-n // _MAX_CELLS))
        assert cells(n) <= _MAX_CELLS
    # the ceil(n/4096) term takes over AT the boundary (it already
    # equals 4096 one vector before, where floor(sqrt) is still 4095)
    assert _cell_step(b - 1) == 4096  # ceil((b-1)/4096), not sqrt's 4095
    assert _cell_step(b) == 4096
    assert _cell_step(b + 1) == 4097  # cap engaged: step grows, cells don't
    # far past: cells pinned at the cap, step grows linearly
    for n in (20_000_000, 100_000_000, 10**12):
        assert cells(n) == _MAX_CELLS or cells(n) == _MAX_CELLS - 0  # exact cap
        assert _cell_step(n) == -(-n // _MAX_CELLS)
    # tiny corpora: the 31 floor holds
    assert _cell_step(10) == 31


def test_assign_cells_matmul_matches_fold(spark, monkeypatch):
    """r14: the Arrow-matmul assignment path (engaged at >=256 cells,
    where the interpreted HOF fold becomes the store-build bottleneck)
    assigns every vector to the same cell as the fold on non-degenerate
    data — same argmax, same lowest-cid tie order."""
    import bikidata_spark.operators.similarity as S

    vecs = spark.createDataFrame(
        [(i, [float(((i * 31 + d * 7) % 19) - 9) for d in range(6)]) for i in range(500)],
        "vec_id long, embedding array<double>",
    )
    v = S._as_double(
        vecs.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("nv")), "nv"
    )
    cents = S._as_double(
        vecs.filter(F.col("vec_id") % 29 == 0).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
        ),
        "cv",
    )
    fold = {r["nid"]: r["cell"] for r in S._assign_cells(v, cents).collect()}
    monkeypatch.setattr(S, "_ASSIGN_MATMUL_MIN_CELLS", 1)
    mm = {r["nid"]: r["cell"] for r in S._assign_cells(v, cents).collect()}
    assert mm == fold
    # zero vector: matmul path clamps to sim 0 everywhere -> argmax
    # picks the first (lowest-cid) centroid deterministically
    vz = S._as_double(
        spark.createDataFrame([(99, [0.0] * 6)], "nid long, nv array<double>"), "nv"
    )
    z = S._assign_cells(vz, cents).collect()
    assert z[0]["cell"] == min(fold_cid for fold_cid in
                               {r["cid"] for r in cents.collect()})


def test_write_ivf_store_matmul_path_roundtrip(spark, monkeypatch, tmp_path):
    """r14: a store written through the matmul assignment serves
    ivf_store_topk identically to one written through the fold on the
    same vectors/centroids (same cells -> same pruning -> same rows)."""
    import bikidata_spark.operators.similarity as S

    vecs = spark.createDataFrame(
        [(i, [float(((i * 13 + d * 5) % 23) - 11) for d in range(8)]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    q = vecs.filter(F.col("vec_id") < 3)

    S.write_ivf_store(vecs, str(tmp_path / "fold"), "vec_id", "embedding")
    monkeypatch.setattr(S, "_ASSIGN_MATMUL_MIN_CELLS", 1)
    S.write_ivf_store(vecs, str(tmp_path / "mm"), "vec_id", "embedding")

    def rows(p):
        return sorted(
            (r["qid"], r["neighbor"], r["rank"])
            for r in S.ivf_store_topk(
                *S.read_ivf_store(spark, str(p)), q, k=5, nprobe=2
            ).collect()
        )

    assert rows(tmp_path / "fold") == rows(tmp_path / "mm")
    a = spark.read.parquet(str(tmp_path / "fold" / "vectors"))
    b = spark.read.parquet(str(tmp_path / "mm" / "vectors"))
    cells_a = {(r["nid"], r["cell"]) for r in a.collect()}
    cells_b = {(r["nid"], r["cell"]) for r in b.collect()}
    assert cells_a == cells_b


def test_ivf_ann_topk_gate_needs_no_extra_corpus_pass(spark, monkeypatch):
    """r14: the fold-vs-matmul assignment gate is sized from the same
    single corpus count that sizes the cell schedule — counting the
    seed FRAME would be a second full corpus pass per call (measured
    +3 Spark jobs / ~2x wall on q_ann_ivf at sf0.1). Pin: every
    _assign_cells invocation inside ivf_ann_topk (plain and refined)
    receives an explicit n_cells."""
    import bikidata_spark.operators.similarity as S

    seen = []
    orig = S._assign_cells

    def spy(v, cents, n_cells=None):
        seen.append(n_cells)
        return orig(v, cents, n_cells=n_cells)

    monkeypatch.setattr(S, "_assign_cells", spy)
    vecs = spark.createDataFrame(
        [(i, [float(((i * 7 + d * 3) % 19) - 9) for d in range(6)]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    q = vecs.filter(F.col("vec_id") < 2)
    S.ivf_ann_topk(vecs, q, k=3).count()
    S.ivf_ann_topk(vecs, q, k=3, refine_iters=2).count()
    assert seen and all(n is not None for n in seen), seen
    # dense ids: the schedule-derived estimate is the exact seed count
    step = S._cell_step(200)
    assert seen[0] == -(-200 // step)
