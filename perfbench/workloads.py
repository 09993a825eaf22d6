"""The two workloads. Each takes a :class:`Ctx`, prepares its inputs
untimed, times its set-up and its operations, checks every answer, and
fills ``ctx.e2e`` (end-to-end metrics) and ``ctx.layer`` (per-layer
metrics, most of them from the traced mode).

Both workloads share one corpus, generated from ``CORPUS_SEED``;
``--seed`` draws what varies between runs: the serving workload's query
universe and operation sequences, and the batch workload's dump line
order and pipeline input row order. The corpus and what the program
builds from it (N-Triples lines, the store and IVF store for serving,
the expected signature of a load) are made by :func:`prepare`, in a
process of its own before the measured one starts, under a cache key
that covers the program's and the benchmark's sources, and copied into
each run.
"""

from __future__ import annotations

import gc
import gzip
import hashlib
import json
import math
import os
import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import numpy as np

import gen
import loadgen
from spans import Tracer

CORPUS_SEED = 20261016
# corpus size as a share of the sf0.1 row counts (~111 k quads)
SCALE = 0.1
# set-ups per run; setup_s is their median. The first set-up of a run
# is JIT-cold; batch's (~1 s, and still warming for several more) needs
# more repetitions than serve_tier's (~3.5 s) for a steady median.
SETUP_REPS = {"batch": 7, "serve_tier": 3}
# insert/delete pairs of benchmark-owned quads per serve_tier run
WRITE_PAIRS = 5
# Zipf exponent of the load phases' draws within a kind. An assumption:
# no trace of real bikidata traffic exists to fit it to.
ZIPF_S = 1.1
# Fixed records for serve_tier's open loop, never recomputed per run:
# about half the closed-loop rate measured when the benchmark was
# defined (4 cores: 763/s), and the latency limit on its p95.
OPEN_RATE_PER_S = 380
P95_LIMIT_MS = 50
# blocks of one read per kind that the traced run replays against the
# tier (~3 ms a read, twice: untraced and traced) and sends to the
# over-cap engine (~0.5 s a read); they keep a traced run within its
# time limit
REPLAY_BLOCKS = 30
OVERCAP_BLOCKS = 2


def cache_dir(root: Path, scale: float) -> Path:
    """Where :func:`prepare` keeps the inputs: keyed by the corpus and by
    every source file of the program and the benchmark, so a change to
    either never serves inputs an older version wrote."""
    h = hashlib.sha256(f"{CORPUS_SEED} {scale}".encode())
    files = [p for p in (root / "bikidata_spark").rglob("*")
             if p.is_file() and "__pycache__" not in p.parts]
    files += list((root / "perfbench").glob("*.py"))
    for p in sorted(files):
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    return root / ".perfbench_work" / "cache" / h.hexdigest()[:16]


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return float(v[max(0, min(len(v) - 1, int(np.ceil(q / 100 * len(v))) - 1))])


def _proc_kb(field: str) -> int:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def _cpu_ticks(pid) -> int:
    """User plus system CPU time of every thread of a process, in ticks."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _steal_s() -> float:
    """CPU time stolen from this guest by the hypervisor, all CPUs, in s."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Ctx:
    def __init__(self, spark, work: Path, cache: Path, seed: int, seconds: float,
                 trace: bool, corrupt: bool = False):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.corrupt = corrupt
        self.tracer = Tracer(spark.sparkContext, enabled=trace)
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setup_s: list[float] = []  # CPU time of each set-up
        self.setup_wall_s: list[float] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {}

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)
        return ok

    def cpu_s(self) -> float:
        """CPU time spent so far by the driver Python and its JVM, which
        runs every Spark task here (``local[n]``)."""
        ticks = _cpu_ticks("self") + _cpu_ticks(self.jvm_pid)
        return ticks / os.sysconf("SC_CLK_TCK")

    @contextmanager
    def setup_rep(self):
        """Time one set-up, in CPU and in wall time."""
        c0, t0 = self.cpu_s(), time.perf_counter()
        yield
        self.setup_wall_s.append(time.perf_counter() - t0)
        self.setup_s.append(self.cpu_s() - c0)

    def tables(self) -> dict:
        return gen.read_tables(self.cache / "tables")

    def window_start(self) -> None:
        """Start the measured window, after the harness has made its
        inputs: reset the driver's peak resident set to its current size
        (once the harness's own garbage is collected) and note the host's
        stolen CPU time."""
        gc.collect()
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        self._rss_base_kb = _proc_kb("VmRSS")
        self._steal0 = (_steal_s(), time.perf_counter())

    def window_end(self) -> None:
        """End the window: how far the driver's resident set peaked above
        its size at the start, and the share of the host's CPU time the
        hypervisor gave to other guests meanwhile (which slows every
        timing, and which the program cannot cause)."""
        self.e2e["driver_mem_growth_mb"] = (_proc_kb("VmHWM") - self._rss_base_kb) / 1024
        steal0, t0 = self._steal0
        cpus = os.cpu_count() or 1
        self.layer["host.steal_share"] = (_steal_s() - steal0) / (cpus * (time.perf_counter() - t0))

    def record_spans(self) -> None:
        """Per-layer metrics from the traced spans: per span name, the
        median duration and the per-call Spark work."""
        by: dict[str, list[dict]] = {}
        for s in self.tracer.spans:
            by.setdefault(s["name"], []).append(s)
        for name, spans in by.items():
            med = statistics.median(s["dur_s"] for s in spans)
            if name.startswith(("plans.query.", "plans.local_tier.")) and not name.endswith(
                    ("build", "load_ivf", "first_query")):
                self.layer[f"{name}_ms"] = med * 1000
            else:
                self.layer[f"{name}_s"] = med
            for f in ("jobs", "stages", "shuffle_bytes", "executor_run_ms", "executor_cpu_ms"):
                self.layer[f"{name}.{f}"] = sum(s[f] for s in spans) / len(spans)
            self.layer[f"{name}.peak_mem_bytes"] = max(s["peak_mem_bytes"] for s in spans)
        selfs, d = self.tracer.self_times(), {}
        for s in self.tracer.spans:
            d[s["name"]] = d.get(s["name"], 0.0) + selfs[s["id"]]
        self.detail["self_s"] = d
        self.tracer.dump(self.work.parent / f"spans-{self.work.name}.jsonl")


def dir_bytes(path: Path) -> tuple[int, int]:
    size = files = 0
    for root, _, names in os.walk(path):
        for nm in names:
            size += os.path.getsize(os.path.join(root, nm))
            files += nm.endswith(".parquet")
    return size, files


def quads_sig(triples) -> tuple[int, int]:
    """Row count and order-insensitive fold of a triples frame."""
    from pyspark.sql import functions as F

    row = triples.select(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64("s", "p", "o")).alias("h")
    ).first()
    return int(row["n"]), int(row["h"])


# ------------------------------------------------------------- prepare
def prepare(spark, cache: Path, scale: float) -> None:
    """Build every input both workloads read into ``cache``: the
    generated tables; their quads (``sources.rdfize.string_quads``) as
    N-Triples lines with the (count, fold) signature a load of them must
    have; and for serving, the store, the customer embeddings keyed by
    term id and their IVF store, written by the program's own writers."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bikidata_spark import from_string_quads, write_graph
    from bikidata_spark.functions.xxh import term_id
    from bikidata_spark.operators.similarity import write_ivf_store
    from bikidata_spark.sources.rdfize import string_quads

    tmp = cache.parent / f".{cache.name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tables = gen.make_tables(CORPUS_SEED, scale)
    gen.write_tables(tables, tmp / "tables")

    quads = string_quads(spark, str(tmp / "tables"))
    lines = quads.select(F.concat(F.concat_ws(" ", "s", "p", "o"), F.lit(" .")).alias("v"))
    (tmp / "nt").mkdir()
    with open(tmp / "nt" / "quads.nt", "w") as f:
        for r in lines.toLocalIterator():
            f.write(r["v"] + "\n")
    sig = quads_sig(from_string_quads(quads.withColumn("g", F.lit(""))).triples)
    (tmp / "nt" / "sig.json").write_text(json.dumps(sig))

    srv = tmp / "serving"
    write_graph(from_string_quads(quads), str(srv / "store"))
    n = min(tables["embeddings"].num_rows, tables["customer"].num_rows)
    vecs = [[float(x) for x in v]
            for v in tables["embeddings"].column("embedding").to_pylist()[:n]]
    pq.write_table(pa.table({
        "s": [term_id(f"<e/customer/{i}>") for i in range(n)],
        "vec": pa.array(vecs, type=pa.list_(pa.float64())),
    }), srv / "emb.parquet")
    cents = spark.createDataFrame([(i, vecs[i]) for i in range(0, n, 20)],
                                  "cid long, cv array<double>")
    write_ivf_store(spark.read.parquet(str(srv / "emb.parquet")), str(srv / "ivf"),
                    "s", "vec", centroids=cents)
    try:
        os.replace(tmp, cache)
    except OSError:  # another run finished the same cache first
        shutil.rmtree(tmp, ignore_errors=True)


# ----------------------------------------------------------------- batch
def _dump(ctx: Ctx) -> tuple[Path, tuple[int, int]]:
    """The corpus's N-Triples lines in a seeded order, in 4 gzip parts,
    and the (count, fold) signature the loaded store must have."""
    src = ctx.cache / "nt"
    lines = (src / "quads.nt").read_text().splitlines()
    order = np.random.default_rng(ctx.seed).permutation(len(lines))
    dump = ctx.work / "dump.nt"
    dump.mkdir()
    for k, part in enumerate(np.array_split(order, 4)):
        with gzip.open(dump / f"part-{k:05d}.nt.gz", "wt") as f:
            f.write("\n".join(lines[i] for i in part) + "\n")
    return dump, tuple(json.loads((src / "sig.json").read_text()))


def batch(ctx: Ctx) -> None:
    """One batch job as a fresh process runs it: load a multi-part .nt.gz
    dump into a store, then one pass of the corpus pipeline operators over
    the documents, embeddings and events (rows in a seeded order). The
    engine's cold start over a store is the first set-up of the serving
    workloads (``bench.cold_start_s``)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bikidata_spark import from_string_quads, read_graph, write_graph
    from bikidata_spark.functions.text import lang_id, quality_score
    from bikidata_spark.operators import dedup, events, similarity
    from bikidata_spark.sources.ntriples import read_nt

    spark = ctx.spark
    tables = ctx.tables()
    dump, sig = _dump(ctx)
    rng = np.random.default_rng(ctx.seed)
    inputs = ctx.work / "inputs"
    inputs.mkdir()
    names = ("documents", "embeddings", "events")
    for name in names:
        t = tables[name]
        pq.write_table(t.take(rng.permutation(t.num_rows)), inputs / f"{name}.parquet")
    texts = tables["documents"].column("text").to_pylist()
    want_exact = gen.exact_dup_groups(texts)
    if ctx.corrupt:
        sig = (sig[0] + 1, sig[1])
        want_exact = want_exact | {(-1, 2)}
    want_near = gen.near_dup_pairs(texts)
    want_sessions = gen.session_count(tables)
    emb_np = np.array(tables["embeddings"].column("embedding").to_pylist(), dtype=np.float64)
    want_rows = [tables[name].num_rows for name in names]
    n_records = sig[0] + sum(want_rows)
    del tables

    # the program has no set-up of its own before a pass: set-up is
    # opening the pipeline's inputs and counting their rows
    ctx.window_start()
    for _ in range(SETUP_REPS["batch"]):
        with ctx.setup_rep():
            docs, embs, evs = (spark.read.parquet(str(inputs / f"{n}.parquet")) for n in names)
            rows = [docs.count(), embs.count(), evs.count()]
        ctx.check(rows == want_rows, f"inputs: {rows} rows, not {want_rows}")
    queries = embs.filter(F.col("vec_id") < 5)
    parts: dict[str, list[float]] = {"ingest_s": [], "pipeline_s": []}

    def one_pass(i: int, tr: Tracer) -> tuple[float, float]:
        store, ivf = str(ctx.work / f"store{i}"), str(ctx.work / f"ivf{i}")
        tr.request_id = f"pass-{i}"
        with tr.span("batch.pass"):
            c0, t0 = ctx.cpu_s(), time.perf_counter()
            with tr.span("sources.ntriples.read_nt"):
                parsed = read_nt(spark, str(dump))
            with tr.span("graph.from_string_quads"):
                graph = from_string_quads(parsed)
            with tr.span("graph.write_graph"):
                write_graph(graph, store)
            t1 = time.perf_counter()
            with tr.span("operators.dedup.exact_dedup"):
                exact = dedup.exact_dedup(docs, "doc_id", "text").filter("n_dups > 1").collect()
            with tr.span("operators.dedup.minhash_lsh_pairs"):
                mh = dedup.minhash_lsh_pairs(docs, "doc_id", "text").collect()
            with tr.span("operators.dedup.ngram_jaccard_pairs"):
                ng = dedup.ngram_jaccard_pairs(docs, "doc_id", "text").collect()
            with tr.span("operators.similarity.write_ivf_store"):
                similarity.write_ivf_store(embs, ivf, refine_iters=2)
            with tr.span("operators.similarity.ivf_store_topk"):
                top = similarity.ivf_store_topk(
                    *similarity.read_ivf_store(spark, ivf), queries).collect()
            with tr.span("operators.events.sessionize"):
                n_sess = events.sessionize(evs).count()
            with tr.span("functions.text.lang_quality"):
                n_lang = (
                    lang_id(docs, "doc_id", "text")
                    .join(quality_score(docs, "doc_id", "text"), "doc_id").count()
                )
            t2, c2 = time.perf_counter(), ctx.cpu_s()
        if i == 0:
            ctx.window_end()
        for k, v in zip(parts, (t1 - t0, t2 - t1)):
            parts[k].append(v)
        ctx.check(quads_sig(read_graph(spark, store).triples) == sig, f"pass {i}: store parity")
        ctx.check({(r["keep_id"], r["n_dups"]) for r in exact} == want_exact,
                  f"pass {i}: exact_dedup groups differ")
        ng_pairs = {(r["id_a"], r["id_b"]) for r in ng}
        ctx.check(want_near <= ng_pairs, f"pass {i}: ngram pairs miss planted near-dups")
        ctx.check(all(gen.shingle_jaccard(texts[a], texts[b], 4) >= 3 / 20 for a, b in ng_pairs),
                  f"pass {i}: ngram pair under threshold")
        ctx.check(all(gen.shingle_jaccard(texts[r["id_a"]], texts[r["id_b"]], 3) >= 1 / 5
                      for r in mh), f"pass {i}: minhash pair under threshold")
        ctx.check(_topk_ok(top, emb_np), f"pass {i}: ivf top-k not ranked by cosine")
        ctx.check(n_sess == want_sessions, f"pass {i}: sessions {n_sess} != {want_sessions}")
        ctx.check(n_lang == len(texts), f"pass {i}: lang/quality rows {n_lang}")
        size, files = dir_bytes(Path(store))
        ctx.layer.update({
            "graph.store_bytes": float(size), "graph.store_files": float(files),
            "graph.store_bytes_per_quad": size / sig[0],
            "operators.dedup.ngram_pairs": float(len(ng_pairs)),
            "operators.dedup.minhash_pairs": float(len(mh)),
        })
        spark.catalog.clearCache()
        shutil.rmtree(store, ignore_errors=True)
        shutil.rmtree(ivf, ignore_errors=True)
        return t2 - t0, c2 - c0

    # untraced runs time one cold pass, as a fresh batch process pays it;
    # traced runs add a warm pass untraced and the same pass traced, whose
    # ratio is the tracing overhead
    lat, cpu = one_pass(0, Tracer())
    if ctx.trace:
        plain = one_pass(1, Tracer())[0]
        ctx.layer["trace.overhead_ratio"] = one_pass(2, ctx.tracer)[0] / plain
    ctx.e2e["cpu_ms"] = cpu * 1000
    ctx.layer["bench.latency_ms"] = lat * 1000
    ctx.layer["batch.records_per_s"] = n_records / lat
    cold = {k: v[0] for k, v in parts.items()}
    ctx.layer.update({f"bench.{k}": v for k, v in cold.items()})
    ctx.detail.update(quads=sig[0], records=n_records, **cold,
                      store_bytes_per_quad=ctx.layer["graph.store_bytes_per_quad"])


def _topk_ok(rows, emb: np.ndarray) -> bool:
    """Every query's neighbours are ranked 1..n by non-increasing cosine."""
    norm = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    by: dict[int, list] = {}
    for r in rows:
        by.setdefault(r["qid"], []).append((r["rank"], r["neighbor"]))
    if not by:
        return False
    for q, nb in by.items():
        nb.sort()
        if [r for r, _ in nb] != list(range(1, len(nb) + 1)):
            return False
        sims = [float(norm[q] @ norm[n]) for _, n in nb]
        if any(b > a + 1e-6 for a, b in zip(sims, sims[1:])):
            return False
    return True


# --------------------------------------------------------------- serving
def _serving_inputs(ctx: Ctx) -> dict:
    """A private copy of the prepared store, embeddings and IVF store,
    so no run serves a store another run touched."""
    shutil.copytree(ctx.cache / "serving", ctx.work / "serving")
    return {k: str(ctx.work / "serving" / v)
            for k, v in (("store", "store"), ("emb", "emb.parquet"), ("ivf", "ivf"))}


def _open_engine(ctx: Ctx, paths: dict, tier: bool, tracer: Tracer):
    """The program's set-up: store read, engine, IVF load, FTS build and
    the first answered query (which builds the tier when it is on)."""
    from bikidata_spark import Engine, read_graph

    with tracer.span("graph.read_graph"):
        graph = read_graph(ctx.spark, paths["store"])
    eng = Engine(graph, embeddings=ctx.spark.read.parquet(paths["emb"]),
                 **({} if tier else {"local_tier_rows": 0}))
    with tracer.span("plans.query.load_ivf"):
        eng.load_ivf(paths["ivf"], nprobe=2)
    with tracer.span("operators.fts.build"):
        eng.fts
    with tracer.span("plans.local_tier.build" if tier else "plans.query.first_query"):
        eng.query({"filters": [{"p": "<p/type>", "o": "<c/region>"}], "size": 1})
    return eng


def _answer(eng, opts: dict) -> dict:
    """A response as Serving returns it: JSON round trip, no timings."""
    return loadgen.strip_timing(json.loads(json.dumps(eng.query(dict(opts)), default=str)))


def _warm(eng, universe: dict) -> None:
    """Untimed: build the lazily built per-kind structures (semantic
    mirror, paths maps, order indexes, which an over-cap engine builds
    on a rule's second sighting) before timing. Kinds warm side by side,
    one thread per core."""
    from concurrent.futures import ThreadPoolExecutor

    batches = [[reqs[0]] for kind, reqs in universe.items() if kind != "order"]
    for d in ("asc", "desc"):
        batches.append([o for o in universe["order"] if o["order"][0]["dir"] == d][:2])

    def run(batch):
        for o in batch:
            eng.query(dict(o))

    with ThreadPoolExecutor(os.cpu_count() or 1) as pool:
        for f in [pool.submit(run, b) for b in batches]:
            f.result()


def serve_tier(ctx: Ctx) -> None:
    """Reads and writes through ``Serving`` to a tier-resident engine;
    traced runs add the load phases and the over-cap engine."""
    from bikidata_spark import Serving

    marks = [time.perf_counter()]
    paths = _serving_inputs(ctx)
    cached = gen.query_universe(ctx.tables(), ctx.seed)
    universe = {k: [dict(o, use_cache=False) for o in v] for k, v in cached.items()}
    marks.append(time.perf_counter())

    ctx.window_start()
    for _ in range(1 if ctx.trace else SETUP_REPS["serve_tier"]):
        eng = None
        gc.collect()
        ctx.spark.catalog.clearCache()
        with ctx.setup_rep():
            eng = _open_engine(ctx, paths, True, ctx.tracer)
    # the first set-up is the process's first: a fresh engine over the
    # store up to its first answered query, JIT-cold
    ctx.layer["bench.cold_start_s"] = ctx.setup_wall_s[0]
    marks.append(time.perf_counter())
    _warm(eng, universe)
    marks.append(time.perf_counter())

    # expected answers, untimed: a serial pass of the engine before any
    # load; the over-cap engine of the traced run must give the same
    # (the tier-vs-distributed differential)
    expected = {(k, j): _answer(eng, o) for k, reqs in universe.items()
                for j, o in enumerate(reqs)}
    if ctx.corrupt:
        expected = {k: {**v, "total": -1} for k, v in expected.items()}
    ctx.detail["tier_state"] = eng.cache_stats()["local_tier"]["state"]
    marks.append(time.perf_counter())

    def check(key, resp):
        return resp == expected[key]

    # reads in whole blocks, so every run sees the same kind mix, sent
    # one at a time (see README for why the end-to-end figures do not
    # come from the open loop); then the writes, one at a time. With the
    # result cache off a skew would only change which requests a seed
    # weights most, so these draws are uniform; the load phases skew.
    k = len(gen.READ_KINDS)
    ops = gen.serving_sequence(universe, ctx.seed + 2, k * 2000, None)
    writes_seq = gen.write_sequence(WRITE_PAIRS)
    srv = Serving(eng)
    try:
        c0 = ctx.cpu_s()
        rd = loadgen.read_loop(srv, ops, check, ctx.seconds, k)
        ctx.e2e["cpu_ms"] = (ctx.cpu_s() - c0) * 1000 / len(rd.records)
        marks.append(time.perf_counter())
        wr = loadgen.write_loop(srv, writes_seq)
        marks.append(time.perf_counter())
        ctx.window_end()
        if ctx.trace:
            _load(ctx, srv, cached, check)
    finally:
        srv.close()
    marks.append(time.perf_counter())
    ctx.detail["phases_s"] = dict(zip(
        ("prep", "setup", "warm", "expected", "reads", "writes", "load"),
        np.diff(marks).tolist()))

    reads, writes = rd.records, wr.records
    for r in reads + writes:
        ctx.check(r["ok"], f"{r['kind']} {r.get('key', r.get('action'))}: "
                           f"{r.get('error', 'wrong answer')}")
    left = eng.query({"filters": [{"p": gen.WRITE_P}], "size": 1, "use_cache": False})["total"]
    ctx.check(left == 0, f"{left} benchmark-owned quads remain")

    read_lat = [r["lat_ms"] for r in reads]
    write_lat = [w["lat_ms"] for w in writes] or [0.0]
    by_kind = {k: statistics.median([r["lat_ms"] for r in reads if r["kind"] == k])
               for k in gen.READ_KINDS if any(r["kind"] == k for r in reads)}
    # every kind weighs the same, however fast: a 2x change on any one
    # kind moves the figure by 2^(1/7)
    ctx.layer["bench.latency_ms"] = math.exp(statistics.fmean(math.log(v) for v in by_kind.values()))
    sc = eng.cache_stats()
    ctx.layer.update({
        "serving.read_p95_ms": pct(read_lat, 95),
        "serving.read_p99_ms": pct(read_lat, 99),
        "serving.serial_qps": len(reads) / rd.elapsed_s,
        "serving.write_p50_ms": statistics.median(write_lat),
        "serving.write_p95_ms": pct(write_lat, 95),
        "plans.query.subject_cache_hit_ratio": (
            sc["hits"] / (sc["hits"] + sc["misses"]) if sc["hits"] + sc["misses"] else 0.0),
        "plans.local_tier.resident_bytes": float(
            eng.driver_residency()["structures"].get("tier", 0)),
    })
    ctx.detail["read_ms_by_pct"] = {q: pct(read_lat, q) for q in (50, 75, 90, 95, 99)}
    ctx.detail["read_p50_ms_by_kind"] = by_kind
    ctx.detail.update(reads=len(reads), writes=len(writes))
    if ctx.trace:
        _replay(ctx, eng, ops[: k * REPLAY_BLOCKS] + writes_seq)
        _overcap(ctx, paths, universe, check)


def _load(ctx: Ctx, srv, universe: dict, check) -> None:
    """Traced runs only, untraced calls: an open loop at the workload's
    fixed rate (``OPEN_RATE_PER_S``), then a closed loop of one client per core,
    each for ``--seconds``. Per-layer figures: open-loop latency from due
    time, generator lateness and backlog, closed-loop throughput, queueing
    and service time inside Serving, result-cache hits."""
    rate = OPEN_RATE_PER_S
    n = int(rate * ctx.seconds * 2) + 10
    opened = gen.serving_sequence(universe, ctx.seed + 3, n, ZIPF_S)
    due = gen.arrivals(ctx.seed + 4, rate, n)
    closed = gen.serving_sequence(universe, ctx.seed + 5, 20000, ZIPF_S)
    before = srv.status()
    ol = loadgen.open_loop(srv, opened, due, check, ctx.seconds)
    cl = loadgen.closed_loop(srv, closed, check, os.cpu_count() or 1, ctx.seconds)
    after = srv.status()
    for r in ol.records + cl.records:
        ctx.check(r["ok"], f"load {r['kind']} {r['key']}: {r.get('error', 'wrong answer')}")
    lat = [r["lat_ms"] for r in ol.records]
    # a result-cache hit returns the timings of the read that filled it
    fresh = [r for r in ol.records if r.get("received", 0) >= r["submit"]]
    wait = [(r["received"] - r["submit"]) * 1000 for r in fresh] or [0.0]
    service = [(r["processed"] - r["received"]) * 1000 for r in fresh] or [0.0]
    rc0, rc1 = before["result_cache"], after["result_cache"]
    lookups = rc1["hits"] + rc1["misses"] - rc0["hits"] - rc0["misses"]
    ctx.layer.update({
        "serving.open_read_p50_ms": statistics.median(lat),
        "serving.open_read_p95_ms": pct(lat, 95),
        "serving.closed_qps": len(cl.records) / cl.elapsed_s,
        "serving.queue_wait_ms_p50": statistics.median(wait),
        "serving.queue_wait_ms_p95": pct(wait, 95),
        "serving.service_ms_p50": statistics.median(service),
        "serving.service_ms_p95": pct(service, 95),
        "serving.result_cache_lookups": float(lookups),
        "serving.result_cache_hit_ratio": (rc1["hits"] - rc0["hits"]) / lookups if lookups else 0.0,
        "loadgen.late_ms_p95": pct([r["late_ms"] for r in ol.records], 95),
        "loadgen.backlog_max": float(max(r["backlog"] for r in ol.records)),
    })
    ctx.detail["load"] = {
        "open_rate_per_s": rate, "open_reads": len(lat), "closed_reads": len(cl.records),
        "clients": os.cpu_count() or 1, "p95_limit_ms": P95_LIMIT_MS,
        "open_p95_within_limit": pct(lat, 95) <= P95_LIMIT_MS,
    }


def _replay(ctx: Ctx, eng, ops: list[dict]) -> None:
    """Serial replay of the reads and writes against the engine, first
    untraced, then with one span per request; the wall-time ratio of
    the two is the tracing overhead."""
    def run(tracer: Tracer) -> float:
        t0 = time.perf_counter()
        for n, op in enumerate(ops):
            tracer.request_id = f"req-{n}"
            if op["kind"] == "write":
                i = op["id"]
                with tracer.span("plans.query.mutate"):
                    eng.mutate(op["action"], [{"s": gen.write_s(i), "p": gen.WRITE_P,
                                               "o": gen.write_o(i)}])
                continue
            before = eng.cache_stats()["local_tier"].get("queries_served", 0)
            with tracer.span("plans.query." + op["kind"]) as rec:
                eng.query(dict(op["opts"]))
                if eng.cache_stats()["local_tier"].get("queries_served", 0) > before:
                    rec["name"] = "plans.local_tier." + op["kind"]
        return time.perf_counter() - t0

    plain = run(Tracer())
    traced = run(ctx.tracer)
    ctx.layer["trace.overhead_ratio"] = traced / plain
    ctx.layer["plans.local_tier.jobs"] = float(sum(
        s["jobs"] for s in ctx.tracer.spans if s["name"].startswith("plans.local_tier.")
        and not s["name"].endswith("build")))


def _overcap(ctx: Ctx, paths: dict, universe: dict, check) -> None:
    """Traced runs only: the same reads against an engine built with
    ``local_tier_rows=0``, which takes the routes of a store larger than
    the driver budget (term cache, driver order index, distributed page;
    1-5 Spark jobs per read). Every answer must equal the tier engine's
    (the tier-vs-distributed differential). A serial traced pass gives
    ``plans.query.<kind>``; a closed loop of one client per core through
    ``Serving`` gives its throughput and the admission gate's waits."""
    from bikidata_spark import Serving

    eng = _open_engine(ctx, paths, False, ctx.tracer)
    _warm(eng, universe)
    k = len(gen.READ_KINDS)
    for n, op in enumerate(gen.serving_sequence(universe, ctx.seed + 7, k * OVERCAP_BLOCKS, None)):
        ctx.tracer.request_id = f"overcap-{n}"
        with ctx.tracer.span("plans.query." + op["kind"]):
            resp = eng.query(dict(op["opts"]))
        ok = check(op["key"], loadgen.strip_timing(json.loads(json.dumps(resp, default=str))))
        ctx.check(ok, f"over-cap {op['key']}: differs from the tier's answer")
    srv = Serving(eng)
    try:
        cl = loadgen.closed_loop(srv, gen.serving_sequence(universe, ctx.seed + 8, 1000, None),
                                 check, os.cpu_count() or 1, ctx.seconds)
        waits = srv.status()["dist_admission"]["waits"]
    finally:
        srv.close()
    for r in cl.records:
        ctx.check(r["ok"], f"over-cap load {r['key']}: {r.get('error', 'wrong answer')}")
    ctx.layer.update({
        "serving.overcap_closed_qps": len(cl.records) / cl.elapsed_s,
        "serving.dist_admission_waits": float(waits),
    })


WORKLOADS = {
    "batch": batch,
    "serve_tier": serve_tier,
}
