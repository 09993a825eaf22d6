"""A/B a subset of bench.py sections between two checkouts.

r10 verdict item: attribute q_boolean_filter +34% / q_property_hop
+21% / q_build_index +14% to host state vs the r10 commits. r12
extends it to ARBITRARY bench sections (r11 verdict item 2: the
pipeline sections q_text_analysis / q_events_sessionize /
q_dedup_exact / q_ann_topk / q_dedup_minhash drifted +16-36% between
r10 and r11 with no code change touching them — the discipline is
A/B, not elimination arguments).

Runs THE SAME sections as bench.py (same opts, same warmup protocol,
median of reps) against whichever repo root is given, in a fresh
process, and prints one JSON line. Drive it alternately against HEAD
and a worktree of the old commit on a quiet host:

    git worktree add /tmp/ab_r10 <r10-commit>
    for i in 1 2 3; do
      python tools/bench_ab.py /tmp/ab_r10 q_dedup_exact q_ann_topk >> /tmp/ab.jsonl
      python tools/bench_ab.py /root/repo  q_dedup_exact q_ann_topk >> /tmp/ab.jsonl
    done

Interleaving controls for host drift; each invocation is a fresh JVM.
With no section arguments the original three RDF sections run
(q_build_index, q_boolean_filter, q_property_hop).

``--perfbench`` mode A/Bs the repo benchmark (perfbench/run.py)
instead: it alternates ``perfbench/run.py --workload W --seed S``
between a parent and a change checkout, one pair per seed, swapping
which side runs first on every pair, then prints each end-to-end
metric's per-side median and quartiles and how many pairs the change
won (ties count for neither side). A gain holds when the change wins
at least nine tenths of the pairs and the medians differ by more than
the parent's interquartile spread. Every run lasts BENCHMARK.json's
``run_seconds`` on both sides; ``--jsonl`` appends every run's result
line:

    python tools/bench_ab.py --perfbench PARENT CHANGE \
        --workload serve_tier --seeds 101-110 --jsonl ab.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RDF_SECTIONS = ("q_build_index", "q_boolean_filter", "q_property_hop")
PIPE_SECTIONS = (
    "q_dedup_minhash",
    "q_dedup_exact",
    "q_ann_topk",
    "q_ann_ivf",
    "q_text_analysis",
    "q_events_sessionize",
)
# r15 additions, for re-pinning the five r14 bench deltas the VERDICT
# flagged (interleaved r13-worktree vs HEAD): the IVF store pair, the
# N-Triples ingest pair, and serving-shaped workloads (mutation cycle
# + a 24-query mixed thread-pool run on the default session — the
# bench's FAIR-restart protocol is not reproduced here; what matters
# for an A/B is that both arms run the identical shape).
STORE_SECTIONS = ("q_ann_store_write", "q_ann_store_topk")
NT_SECTIONS = ("q_nt_ingest", "q_nt_ingest_bz2")
SERVE_SECTIONS = ("q_serving_mutations", "q_serving_mixed")


def _seeds(spec: str) -> list[int]:
    """'101-110' or '101,105,107' -> seeds."""
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def _perfbench_run(root: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run in ``root``; its last stdout line (the result)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, q2, q3


def summarize(runs: list[dict], better: dict[str, str]) -> dict:
    """Per metric: each side's median and quartiles, the pair wins of
    the change (pairs matched by seed; ties count for neither), and
    whether the gain rule holds."""
    sides = {"parent": {}, "change": {}}
    for r in runs:
        sides[r["side"]][r["seed"]] = r
    seeds = sorted(set(sides["parent"]) & set(sides["change"]))
    out: dict = {"pairs": len(seeds), "failed": {
        side: sum(sides[side][s]["failed"] for s in seeds) for side in sides}, "metrics": {}}
    if not seeds:
        return out
    for name in sides["parent"][seeds[0]]["metrics"]:
        sign = -1.0 if better.get(name, "lower") == "lower" else 1.0
        vals = {side: [sides[side][s]["metrics"][name]["value"] for s in seeds]
                for side in sides}
        wins = sum(sign * (c - p) > 0 for p, c in zip(vals["parent"], vals["change"]))
        losses = sum(sign * (c - p) < 0 for p, c in zip(vals["parent"], vals["change"]))
        (pq1, pm, pq3), (cq1, cm, cq3) = (_quartiles(vals[side]) for side in sides)
        out["metrics"][name] = {
            "unit": sides["parent"][seeds[0]]["metrics"][name]["unit"],
            "parent": {"median": pm, "q1": pq1, "q3": pq3},
            "change": {"median": cm, "q1": cq1, "q3": cq3},
            "delta": (cm - pm) / pm if pm else 0.0,
            "wins": wins, "losses": losses,
            "gain": wins >= 0.9 * len(seeds) and sign * (cm - pm) > pq3 - pq1,
            "pairs": [[s, p, c] for s, p, c in zip(seeds, vals["parent"], vals["change"])],
        }
    return out


def _print_summary(workload: str, summ: dict) -> None:
    print(f"{workload}: {summ['pairs']} pairs, failed parent/change "
          f"{summ['failed']['parent']}/{summ['failed']['change']}")
    for name, m in summ["metrics"].items():
        p, c = m["parent"], m["change"]
        print(f"  {name} [{m['unit']}]: parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]"
              f"  change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]"
              f"  {m['delta']:+.1%}  wins {m['wins']}/{summ['pairs']}"
              f"  parent IQR {p['q3'] - p['q1']:.4g}  gain={m['gain']}")
    print(json.dumps({"workload": workload, **summ}))


def perfbench_main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(prog="bench_ab.py --perfbench")
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", default="serve_tier")
    ap.add_argument("--seeds", default="101-110")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--jsonl", help="append every run's result line here")
    a = ap.parse_args(argv)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = json.load(open(os.path.join(here, "BENCHMARK.json")))
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    roots = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    runs = []
    for i, seed in enumerate(_seeds(a.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = _perfbench_run(roots[side], a.workload, seed, bench["run_seconds"], a.trace)
            rec = {"workload": a.workload, "side": side, "seed": seed,
                   "first": side == order[0], "trace": a.trace, **res}
            runs.append(rec)
            if a.jsonl:
                with open(a.jsonl, "a") as f:
                    f.write(json.dumps(rec) + "\n")
            print(f"seed {seed} {side}: " + ", ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr)
    _print_summary(a.workload, summarize(runs, better))


def main() -> None:
    if sys.argv[1:2] == ["--perfbench"]:
        perfbench_main(sys.argv[2:])
        return
    args = [a for a in sys.argv[1:]]
    root = os.path.abspath(args[0]) if args else os.path.abspath(".")
    sections = args[1:] or list(RDF_SECTIONS)
    known = RDF_SECTIONS + PIPE_SECTIONS + STORE_SECTIONS + NT_SECTIONS + SERVE_SECTIONS
    unknown = [s for s in sections if s not in known]
    if unknown:
        raise SystemExit(f"unknown sections: {unknown}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    sys.path.insert(0, root)

    from pyspark.sql import functions as F

    from bikidata_spark import Engine, from_string_quads
    from bikidata_spark.session import get_spark
    from bikidata_spark.sources.rdfize import string_quads

    spark = get_spark("bikidata-bench-ab")
    # bench.py's warmup protocol: touch footers, run one tiny end-to-end
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").schema
        except Exception:
            pass
    warm_dir = "/root/testdata/sf0.001"
    wg = from_string_quads(string_quads(spark, warm_dir)).cache()
    wg.triples.count()
    Engine(wg).page({"filters": [{"p": "<p/type>", "o": "<c/customer>"}], "size": 5})
    wg.unpersist()

    times: dict[str, float] = {}
    rep_times: dict[str, list[float]] = {}

    def timed(name, fn):
        fn()  # untimed warmup, same as bench.py
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        rep_times[name] = [round(x, 3) for x in runs]
        times[name] = round(statistics.median(runs), 3)

    graph = None

    def build():
        nonlocal graph
        if graph is not None:
            graph.unpersist()
        graph = from_string_quads(string_quads(spark, sf_dir)).cache()
        graph.triples.count()
        graph.terms.count()

    if any(s in RDF_SECTIONS for s in sections):
        if "q_build_index" in sections:
            timed("q_build_index", build)
        else:
            build()
        eng = Engine(graph)
        if "q_boolean_filter" in sections:
            timed(
                "q_boolean_filter",
                lambda: eng.subjects_values(
                    {
                        "use_cache": False,
                        "filters": [
                            {"p": "<p/mktsegment>", "o": '"BUILDING"'},
                            {"op": "must", "p": "<p/nation>", "o": "<e/nation/5>"},
                            {"op": "not", "p": "<p/acctbal>", "o": '"0.00"'},
                        ],
                    }
                ).count(),
            )
        if "q_property_hop" in sections:
            timed(
                "q_property_hop",
                lambda: eng.subjects_values(
                    {
                        "filters": [{"p": "<p/nation> 1", "o": "<e/nation/5>"}],
                        "use_cache": False,
                    }
                ).count(),
            )

    if any(s in PIPE_SECTIONS for s in sections):
        import __spark_entry__ as entrymod
        from bikidata_spark.functions.text import lang_id, quality_score
        from bikidata_spark.operators import dedup as dd
        from bikidata_spark.operators import events as ev
        from bikidata_spark.operators import similarity as sim

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        events = entrymod.load_events(spark, sf_dir)
        pipe_fns = {
            "q_dedup_minhash": lambda: dd.minhash_lsh_pairs(
                docs, "doc_id", "text"
            ).count(),
            "q_dedup_exact": lambda: dd.exact_dedup(docs, "doc_id", "text").count(),
            "q_ann_topk": lambda: sim.cosine_topk(
                embs, embs.filter(F.col("vec_id") < 5)
            ).count(),
            "q_ann_ivf": lambda: sim.ivf_ann_topk(
                embs, embs.filter(F.col("vec_id") < 5)
            ).count(),
            "q_text_analysis": lambda: lang_id(docs, "doc_id", "text")
            .join(quality_score(docs, "doc_id", "text"), "doc_id")
            .count(),
            "q_events_sessionize": lambda: ev.sessionize(events).count(),
        }
        for name in PIPE_SECTIONS:
            if name in sections:
                timed(name, pipe_fns[name])

    if any(s in STORE_SECTIONS for s in sections):
        import shutil
        import tempfile

        from bikidata_spark.operators import similarity as sim

        embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        astore = tempfile.mkdtemp(prefix="ab_ivf_")
        try:
            write = lambda: sim.write_ivf_store(embs, f"{astore}/ivf", refine_iters=2)
            if "q_ann_store_write" in sections:
                timed("q_ann_store_write", write)
            else:
                write()
            if "q_ann_store_topk" in sections:
                timed(
                    "q_ann_store_topk",
                    lambda: sim.ivf_store_topk(
                        *sim.read_ivf_store(spark, f"{astore}/ivf"),
                        embs.filter(F.col("vec_id") < 5),
                    ).count(),
                )
        finally:
            shutil.rmtree(astore, ignore_errors=True)

    if any(s in NT_SECTIONS for s in sections):
        import shutil
        import tempfile

        from bikidata_spark.sources.ntriples import read_nt

        quads = string_quads(spark, sf_dir)
        ntdir = tempfile.mkdtemp(prefix="ab_nt_")
        try:
            lines = quads.select(
                F.concat(F.concat_ws(" ", "s", "p", "o"), F.lit(" .")).alias("value")
            )

            def ingest(src):
                parsed = read_nt(spark, src).persist()
                g = from_string_quads(parsed)
                g.triples.count()
                g.terms.count()
                parsed.unpersist()

            if "q_nt_ingest" in sections:
                lines.write.option("compression", "gzip").mode("overwrite").text(
                    f"{ntdir}/dump.nt"
                )
                timed("q_nt_ingest", lambda: ingest(f"{ntdir}/dump.nt"))
            if "q_nt_ingest_bz2" in sections:
                lines.coalesce(1).write.option("compression", "bzip2").mode(
                    "overwrite"
                ).text(f"{ntdir}/dump_bz2.nt")
                timed("q_nt_ingest_bz2", lambda: ingest(f"{ntdir}/dump_bz2.nt"))
        finally:
            shutil.rmtree(ntdir, ignore_errors=True)

    if any(s in SERVE_SECTIONS for s in sections):
        import asyncio

        from bikidata_spark import Engine as _Eng
        from bikidata_spark.serving import Serving

        if graph is None:
            build()
        seng = _Eng(graph)
        seng.fts  # untimed index build, like bench.py
        seng.query({"filters": [{"p": "fts", "o": "customer"}], "size": 1})

        if "q_serving_mutations" in sections:

            def mut_cycle():
                for i in range(8):
                    r1 = seng.mutate(
                        "insert",
                        [{"s": f"<ab/m{i}>", "p": "<ab/p>", "o": f'"ab value {i}"'}],
                    )
                    r2 = seng.query(
                        {"filters": [{"p": "<ab/p>", "o": f'"ab value {i}"'}],
                         "size": 2, "use_cache": False}
                    )
                    r3 = seng.mutate("delete", [{"s": f"<ab/m{i}>", "p": "<ab/p>"}])
                    assert "error" not in r1 and "error" not in r3 and r2["total"] == 1

            timed("q_serving_mutations", mut_cycle)

        if "q_serving_mixed" in sections:
            segs = ['"BUILDING"', '"AUTOMOBILE"', '"MACHINERY"', '"HOUSEHOLD"', '"FURNITURE"']
            opts_list = []
            for i in range(24):
                kind = i % 3  # fts / facet / paths (no semantic store here)
                if kind == 0:
                    opts_list.append({"filters": [{"p": "fts", "o": "customer"}], "size": 10, "start": i, "use_cache": False})
                elif kind == 1:
                    opts_list.append({"size": 0, "filters": [{"p": "<p/mktsegment>", "o": segs[i % 5]}], "aggregates": ["<p/nation>"], "use_cache": False})
                else:
                    opts_list.append({"filters": [{"p": "id", "o": f"<e/customer/{i + 1}>"}], "paths": ["<p/parent>"], "size": 1, "use_cache": False})

            def mixed():
                srv = Serving(seng, num_workers=8)

                async def run_all():
                    await asyncio.gather(*(srv.query_async(o, timeout=600) for o in opts_list))

                asyncio.run(run_all())
                srv.close()

            timed("q_serving_mixed", mixed)

    print(
        json.dumps(
            {"root": root, "sf_dir": sf_dir, "times": times, "reps": rep_times}
        )
    )


if __name__ == "__main__":
    main()
