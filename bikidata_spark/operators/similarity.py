"""Similarity search over embedding columns.

Brute-force cosine top-k as the exact baseline, a random-hyperplane
LSH-bucketed variant as the scale path, and cosine near-dup pairs.
Cosine math is computed with built-in higher-order functions
(``zip_with`` + ``aggregate`` — JVM, no Python) using the same formula
DuckDB's ``list_cosine_similarity`` uses (dot / sqrt(nx*ny)) so oracle
comparisons are bit-stable.

Scale notes: brute force is O(Q·N·d) — fine for small Q (re-rank, eval);
the LSH path buckets vectors by hyperplane sign pattern so each query
only scans its bucket (recall < 1, tunable by number of planes/probes).
At 1000 executors the bucketed table is written partitioned by bucket,
making a probe a partition-pruned scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from ..graph import conform
from ..session import ensure_parallelism

# The IVF store schemas, owned by the writer like graph.TRIPLES_SCHEMA:
# write_ivf_store casts to them and read_ivf_store opens the files with
# them, so a store open infers nothing (no Spark job). Ids are longs;
# ``cell`` (the vectors partition column) is the assigned centroid's
# ``cid``, so it is a long too.
IVF_VECTORS_SCHEMA = StructType(
    [
        StructField("nid", LongType()),
        StructField("nv", ArrayType(DoubleType())),
        StructField("cell", LongType()),
    ]
)
IVF_CENTROIDS_SCHEMA = StructType(
    [StructField("cid", LongType()), StructField("cv", ArrayType(DoubleType()))]
)


def read_centroids(spark, path: str) -> DataFrame:
    """The centroid table of the IVF store at ``path``."""
    return spark.read.schema(IVF_CENTROIDS_SCHEMA).parquet(f"{path}/centroids")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm2(a):
    return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)


def cosine_sim(a, b):
    """dot/sqrt(nx*ny) — DuckDB list_cosine_similarity's formula."""
    return _dot(a, b) / F.sqrt(_norm2(a) * _norm2(b))


def _as_double(df: DataFrame, vec_col: str) -> DataFrame:
    return df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))


_MAX_CELLS = 4096


def _probe_local_rows() -> int:
    """Row cap for localizing a store-query's probe rows on the driver
    (``ivf_store_topk``): |queries|·nprobe rows of (qid, qv, cell).
    Past the cap the probe stays fully distributed (the pre-r14 plan).
    65536 rows ≈ a few MB at typical dims — driver-trivial, far past
    any interactive query batch."""
    import os

    return max(0, int(os.environ.get("BIKIDATA_SPARK_PROBE_LOCAL_ROWS", "65536")))


def _seed_step(v: DataFrame) -> int:
    """Adaptive centroid seed step: ``max(31, floor(sqrt(N)),
    ceil(N/4096))``, giving ~sqrt(N) cells capped at 4096. A FIXED
    step makes the cell count grow linearly with the corpus, which
    turns the O(N·cells) assignment fold quadratic at scale (measured:
    10× data → 100× fold work at step=31); an UNCAPPED sqrt keeps the
    fold — and the store write that partitions by cell — growing
    O(N·sqrt(N)) (measured ×37 per 100× vectors at sf10, r12). Past
    16.7M vectors (4096²) the cell schedule self-caps, so assignment
    and write stay ~linear without the caller reading BENCH_NOTES;
    probe pruning still reads ≤ nprobe/4096 of the corpus. Every term
    is exact-integer over an exact count, reproducible bit-for-bit in
    any engine (`GREATEST(31, CAST(floor(sqrt(count(*))) AS BIGINT),
    (count(*) + 4095) // 4096)` in the DuckDB oracles)."""
    return _cell_step(v.count())


def _cell_step(n: int) -> int:
    """The pure schedule formula behind ``_seed_step`` (split out so
    the 16.7M-vector self-cap boundary is unit-testable without a
    16.7M-row DataFrame): ``max(31, floor(sqrt(n)), ceil(n/4096))``.
    Cells ≈ ceil(n/step): sqrt-growth until n = _MAX_CELLS², exactly
    self-capping to ≤ _MAX_CELLS cells past it."""
    import math

    return max(31, math.floor(math.sqrt(n)), -(-n // _MAX_CELLS))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k neighbors per query: (qid, neighbor, rank). Broadcast
    the query set (small side), rank with a per-query window; ties break
    on neighbor id for determinism. Self-matches excluded.

    EVAL-ONLY baseline: O(Q·N·d) brute force — fine for recall
    measurement and small re-rank sets, never for corpus-scale search.
    Use :func:`lsh_ann_topk` or :func:`ivf_ann_topk` (partition-pruned
    bucket layouts) as the production defaults."""
    from pyspark.sql import Window

    v = _as_double(ensure_parallelism(vectors).select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")), "nv")
    q = _as_double(queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")), "qv")
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", F.col("nid").alias("neighbor"), cosine_sim(F.col("nv"), F.col("qv")).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor", F.col("rank").cast("int").alias("rank"))
    )


def hyperplanes(planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from
    md5(plane:dim_index) — no stored model, reproducible anywhere
    (including inside an oracle SQL string)."""
    import hashlib

    out = []
    for j in range(planes):
        w = []
        for d in range(dim):
            h = int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[:8], 16)
            w.append(h / float(2**31) - 1.0)
        out.append(w)
    return out


def hyperplane_bucket(vec_col, planes: int, dim: int):
    """LSH bucket id: sign pattern against the deterministic
    hyperplanes (embedded as constant arrays — Catalyst folds them)."""
    bucket = F.lit(0)
    for j, plane in enumerate(hyperplanes(planes, dim)):
        w = F.array(*[F.lit(x) for x in plane])
        bucket = bucket + F.when(_dot(vec_col, w) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def lsh_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = 4,
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signs, brute-force within
    the query's bucket. (qid, neighbor, rank). Recall < 1 by design."""
    from pyspark.sql import Window

    dim = len(vectors.select(vec_col).first()[0])
    v = _as_double(ensure_parallelism(vectors).select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")), "nv")
    q = _as_double(queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")), "qv")
    vb = v.withColumn("bucket", hyperplane_bucket(F.col("nv"), planes, dim))
    qb = q.withColumn("bucket", hyperplane_bucket(F.col("qv"), planes, dim))
    scored = (
        vb.join(F.broadcast(qb), "bucket")
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", F.col("nid").alias("neighbor"), cosine_sim(F.col("nv"), F.col("qv")).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor", F.col("rank").cast("int").alias("rank"))
    )


def _localized(cents: DataFrame) -> tuple[DataFrame, int]:
    """Collect a persisted centroid frame to the driver, unpersist the
    cached copy, and return it as a literal local DataFrame plus its
    EXACT row count (free at localization time — downstream strategy
    gates must not pay another count job for it) — for consumers (lazy
    top-k plans) that have no post-action hook at which to unpersist.
    Centroid sets are k rows by construction."""
    rows = cents.collect()
    try:
        cents.unpersist()
    except Exception:
        pass
    return cents.sparkSession.createDataFrame(rows, cents.schema), len(rows)


def _cent_arr(cents: DataFrame) -> DataFrame:
    """Centroids folded into ONE row holding an array<struct<cid,cv>>
    sorted by cid — the broadcastable form of the centroid set. Joining
    this single row to the corpus is a BroadcastNestedLoopJoin of one
    row: the corpus never shuffles for an assignment."""
    return cents.agg(
        F.array_sort(F.collect_list(F.struct(F.col("cid"), F.col("cv")))).alias("cents")
    )


def _nearest_cid(vec_col, cents_col):
    """cid of the nearest centroid (max cosine, ties → lowest cid): a
    map-side fold over the broadcast centroid array. The array is sorted
    by cid and the fold keeps the incumbent on equal sim, so the
    tie-break matches ORDER BY sim DESC, cid ASC exactly — but with no
    N·k row expansion and no Exchange (the window-over-crossJoin shape
    this replaces shuffled the whole expansion per round)."""
    scored = F.transform(
        cents_col, lambda c: F.struct(cosine_sim(vec_col, c["cv"]).alias("sim"), c["cid"].alias("cid"))
    )
    init = F.struct(
        F.lit(-2.0).cast("double").alias("sim"), F.lit(None).cast("long").alias("cid")
    )
    return F.aggregate(scored, init, lambda acc, s: F.when(s["sim"] > acc["sim"], s).otherwise(acc))[
        "cid"
    ]


def _nearest_cells(vec_col, cents_col, nprobe: int):
    """Array of the ``nprobe`` nearest centroid ids (sim desc, cid asc),
    again purely map-side: score, sort by (-sim, cid), slice."""
    scored = F.transform(
        cents_col,
        lambda c: F.struct((-cosine_sim(vec_col, c["cv"])).alias("negsim"), c["cid"].alias("cid")),
    )
    top = F.slice(F.array_sort(scored), 1, nprobe)
    return F.transform(top, lambda s: s["cid"])


# below this many centroids the interpreted HOF fold is cheap enough
# and stays the bit-exact mirror of the DuckDB oracle SQL; at/above it
# (the self-capped high-cell regime) assignment switches to one numpy
# matmul per Arrow batch — same argmax/tie semantics, ~2 orders of
# magnitude less per-row work at 4096 cells
_ASSIGN_MATMUL_MIN_CELLS = 256


def _assign_cells(v: DataFrame, cents: DataFrame, n_cells: int | None = None) -> DataFrame:
    """(nid, nv) → (nid, nv, cell): nearest-centroid assignment, the
    single semantics every IVF surface shares (max cosine, ties → the
    LOWEST cid — ``_nearest_cid``'s fold order). Two physical paths:

    - **HOF fold** (< ``_ASSIGN_MATMUL_MIN_CELLS`` cells): one-row
      broadcast centroid array + map-side ``F.aggregate`` — the
      bit-exact mirror of the DuckDB oracle SQL, O(cells) interpreted
      expression work per row. All sf0.01 oracles run here.
    - **Arrow matmul** (≥ the gate): the centroid matrix (≤ 4096×d
      doubles) is collected driver-side, L2-normalized once, shipped
      via a Spark broadcast, and each Arrow batch computes
      ``V_norm @ C_norm.T`` + ``argmax`` — BLAS instead of an
      interpreted fold. ``np.argmax`` returns the FIRST maximum and
      the matrix rows are cid-sorted, so ties break to the lowest cid
      exactly like the fold. Scores differ only in float summation
      order (both IEEE double) — an exact near-tie can assign a
      different (equally-near) cell, which is why the oracle-scale
      path keeps the fold. Zero-norm vectors/centroids are clamped to
      norm 1 (sim 0) instead of inheriting the fold's NaN-comparison
      edge semantics.

    At the self-capped 4096 cells this is the difference between the
    17.1M-vector 8-d store build finishing in 176 s vs NOT finishing
    in 47 minutes of 29-core fold grinding (aborted; BENCH_NOTES
    §Round-14, ivf_cap_engage A/B — ≥16× and in practice far more)."""
    if n_cells is None:
        n_cells = cents.count()
    if n_cells < _ASSIGN_MATMUL_MIN_CELLS:
        carr = _cent_arr(cents)
        return v.crossJoin(F.broadcast(carr)).select(
            "nid", "nv", _nearest_cid(F.col("nv"), F.col("cents")).alias("cell")
        )
    import numpy as np
    import pandas as pd

    rows = sorted(
        ((int(r["cid"]), np.asarray(r["cv"], dtype=np.float64)) for r in cents.collect()),
        key=lambda t: t[0],
    )
    cids = np.array([t[0] for t in rows], dtype=np.int64)
    C = np.vstack([t[1] for t in rows])
    cn = np.linalg.norm(C, axis=1, keepdims=True)
    cn[cn == 0.0] = 1.0
    CnT = np.ascontiguousarray((C / cn).T)
    sc = v.sparkSession.sparkContext
    bc = sc.broadcast((cids, CnT))

    def _nearest_batch(nv):
        b_cids, b_CnT = bc.value
        V = np.vstack(nv.to_numpy())
        vn = np.linalg.norm(V, axis=1, keepdims=True)
        vn[vn == 0.0] = 1.0
        idx = ((V / vn) @ b_CnT).argmax(axis=1)
        return pd.Series(b_cids[idx])

    # annotate with the REAL types (pandas is a function-local import,
    # so string hints would not resolve for pandas_udf's inference)
    _nearest_batch.__annotations__ = {"nv": pd.Series, "return": pd.Series}
    _nearest = F.pandas_udf(_nearest_batch, "long")

    return v.select("nid", "nv", _nearest(F.col("nv")).alias("cell"))


def kmeans_refine(
    v: DataFrame,
    cents: DataFrame,
    iters: int = 2,
    quantize: int | None = None,
    n_cells: int | None = None,
) -> DataFrame:
    """Lloyd refinement of an IVF centroid set. ``v`` is (nid, nv),
    ``cents`` is (cid, cv); returns refined (cid, cv). ``n_cells`` is
    the caller's (estimated) size of the INITIAL centroid set — it only
    picks the first iteration's assignment strategy (fold vs matmul);
    later iterations reuse their materialization count for free.

    Each iteration is (a) a shuffle-free assign — the centroid set rides
    along as one broadcast array row and every vector folds to its
    argmax cell map-side (``_nearest_cid``) — and (b) a per-dimension
    mean via posexplode + one groupBy keyed (cid, pos): k·d groups
    regardless of corpus size, fully map-side combinable. The only
    Exchange per iteration is that k·d-group mean — the Lloyd update
    itself. Cells that end an iteration empty drop out (k shrinks), the
    standard Lloyd behavior. With ``quantize=None`` means are
    floating-point reductions — deterministic per plan but not
    bit-identical across partitionings. ``quantize=s`` makes every
    iteration externally reproducible: components are summed as
    DECIMAL(28,12) (exact, partition-order-independent), divided as
    DOUBLE, and rounded to ``s`` places — a formula any SQL engine
    replays bit-for-bit, which is what upgrades the k-means query from
    rows-only to a hash-matched DuckDB oracle."""
    if quantize is None:
        mean = F.avg("x").alias("m")
    else:
        mean = F.round(
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double") / F.count("*"), quantize
        ).alias("m")
    # each iteration's centroid set is MATERIALIZED (persist + count):
    # without it, iteration i's plan nests every earlier iteration's
    # crossJoin+agg and the downstream consumer re-executes the whole
    # chain per action — plan depth and work both grow with iters. The
    # persisted set is k rows (tiny); lineage is kept, so executor loss
    # just recomputes instead of failing.
    prev = None
    for _ in range(iters):
        assign = _assign_cells(v, cents, n_cells=n_cells).select(
            F.col("cell").alias("cid"), "nv"
        )
        cents = (
            assign.select("cid", F.posexplode("nv").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(mean)
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cid", F.transform("pm", lambda s: s["m"]).alias("cv"))
        ).persist()
        # the materialization count doubles as the next iteration's
        # strategy-gate input — no dedicated count job anywhere
        n_cells = cents.count()
        if prev is not None:
            prev.unpersist()
        prev = cents
    return cents


def auto_nprobe(n_cells: int, recall_target: float = 0.9) -> int:
    """nprobe for a recall@10 target, inverted from the measured r12
    sf1 soft-clustered operating curve (docs/BENCH_NOTES.md §IVF
    cells × nprobe): recall grew ~0.145 per doubling of the probed
    fraction from 0.175 at 0.7% probed (141 cells, nprobe=1), so
    below the curve's last measured point (recall 0.625)
    p(target) = 0.007 · 2^((target − 0.175) / 0.145); past it —
    where there is NO measured support — p interpolates linearly to
    (recall 1.0, p 1.0), i.e. toward probing every cell (= brute
    force within the layout). On genuinely soft-clustered data a 0.9
    target therefore probes ~75% of cells: IVF cannot do better there,
    and pretending otherwise silently under-delivers. An ESTIMATE
    calibrated on the measured worst case; well-separated corpora
    (the r5 clustered gate) reach ≥0.90 at the plain nprobe=2 default
    — recall-sensitive callers on known-clustered data should keep an
    explicit nprobe instead. Clamped to [2, n_cells]."""
    import math

    t = min(max(float(recall_target), 0.0), 1.0)
    _T_KNEE = 0.625  # last measured point of the r12 curve
    p_knee = 0.007 * 2.0 ** ((_T_KNEE - 0.175) / 0.145)
    if t <= _T_KNEE:
        p = 0.007 * 2.0 ** ((t - 0.175) / 0.145)
    else:
        p = p_knee + (t - _T_KNEE) / (1.0 - _T_KNEE) * (1.0 - p_knee)
    return max(2, min(int(n_cells), math.ceil(p * n_cells)))


def _resolve_nprobe(nprobe, n_cells: int, recall_target: float) -> int:
    if nprobe == "auto":
        return auto_nprobe(n_cells, recall_target)
    return int(nprobe)


def ivf_ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    centroid_step: int | None = None,
    nprobe: int | str = 2,
    refine_iters: int = 0,
    quantize: int | None = None,
    recall_target: float = 0.9,
) -> DataFrame:
    """IVF-Flat approximate top-k: (qid, neighbor, rank).

    Inverted-file search: every vector is assigned to its nearest
    centroid ("cell"); a query probes only its ``nprobe`` nearest
    cells and brute-forces within them. Centroids start as the
    deterministic seed set ``id % centroid_step == 0`` (reproducible
    anywhere, including in an oracle SQL string); the default step is
    the adaptive ``_seed_step`` (~sqrt(N) cells capped at 4096, so the
    assignment fold stays subquadratic and the store write ~linear);
    ``refine_iters > 0`` runs that many Lloyd iterations over them
    (``kmeans_refine``) for data-adaptive cells at the cost of
    bit-exact external reproducibility. Ties in the argmin break on
    centroid id.

    Expected recall — read before trusting the default: recall@10
    depends on how clustered the corpus is. Measured (r12 sweep,
    docs/BENCH_NOTES.md): **0.275 at the nprobe=2 default** on the
    soft-clustered sf1 embeddings (√N=141 cells), where recall tracks
    the probed fraction; ≥0.90 on well-separated clustered corpora
    (the r5 gate). Recall-sensitive callers pass ``nprobe="auto"``
    with a ``recall_target`` — nprobe is then derived from the
    measured soft-clustered curve (``auto_nprobe``, a calibrated
    estimate, not a guarantee) — or raise ``nprobe`` directly (linear
    cost, the biggest single lever), or add ``refine_iters=2``
    (+8–24 recall points measured).

    Scale path (100 TB): the centroid set rides along as ONE broadcast
    array row, and both the corpus assignment and the query probes are
    map-side folds over it (``_nearest_cid`` / ``_nearest_cells``) — no
    Exchange between the vector scan and its cell id, where the
    previous crossJoin+window shape shuffled the N·k expansion. The
    assigned table is written partitioned by ``cell`` so a query's scan
    prunes to its probed cells — identical layout story to the LSH
    variant, but with data-adaptive cells instead of data-oblivious
    hyperplanes."""
    from pyspark.sql import Window

    v = _as_double(
        ensure_parallelism(vectors).select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
    )
    q = _as_double(queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")), "qv")
    # size the cell schedule AND the assignment-strategy gate from the
    # same single corpus count: counting the seed FRAME instead would
    # be a second full corpus pass per call (the gate only needs an
    # estimate — ceil(n/step) is exact for dense ids and strategy-only
    # for sparse ones, so results cannot change either way)
    est_cells = None
    if centroid_step is None:
        # count the RAW input, not the fanned-out projection: the value
        # is identical (select/repartition preserve cardinality) but the
        # raw count is answered from scan statistics in one job, where
        # counting v re-executes the fan-out Exchange (measured 3 jobs
        # per call at sf0.1, r14)
        n_v = vectors.count()
        centroid_step = _cell_step(n_v)
        est_cells = -(-n_v // centroid_step)
    cents = v.filter(F.pmod(F.col("nid"), F.lit(centroid_step)) == 0).select(
        F.col("nid").alias("cid"), F.col("nv").alias("cv")
    )
    if refine_iters > 0:
        # kmeans_refine returns a PERSISTED frame expecting the caller
        # to unpersist; a lazy top-k has no after-the-action hook, so
        # localize the (tiny, k-row) centroid set to the driver and
        # release the cached copy immediately — no leak per call. The
        # localization's row count is the exact post-refine cell count.
        cents, est_cells = _localized(
            kmeans_refine(v, cents, refine_iters, quantize=quantize, n_cells=est_cells)
        )

    if nprobe == "auto":
        nprobe = _resolve_nprobe(
            nprobe, est_cells if est_cells is not None else cents.count(), recall_target
        )
    else:
        nprobe = int(nprobe)
    carr = _cent_arr(cents)
    assign = _assign_cells(v, cents, n_cells=est_cells)
    probes = (
        q.crossJoin(F.broadcast(carr))
        .select(
            "qid",
            "qv",
            F.explode(_nearest_cells(F.col("qv"), F.col("cents"), nprobe)).alias("cell"),
        )
    )
    # NOTE (r14): localizing the probe rows here, as ivf_store_topk
    # does, measured NO win (interleaved A/B medians 1.93 vs 2.08 s at
    # sf0.1, overlapping reps — BENCH_NOTES §session-5): without a
    # store there is no distinct-collect chain to delete, the assign
    # fold dominates the scored job, and the extra collect round-trip
    # cancels the lighter broadcast. Kept distributed on purpose.
    scored = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", F.col("nid").alias("neighbor"), cosine_sim(F.col("nv"), F.col("qv")).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor", F.col("rank").cast("int").alias("rank"))
    )


def write_ivf_store(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_step: int | None = None,
    refine_iters: int = 0,
    quantize: int | None = 6,
    centroids: DataFrame | None = None,
) -> None:
    """Persist an IVF layout: vectors partitioned by their cell id plus
    the (tiny) centroid table. This is the 100 TB serving shape — a
    query's scan prunes to its ``nprobe`` probed cell directories
    (PartitionFilters), exactly the story the persisted FTS store tells
    for token buckets. Assignment is the shuffle-free broadcast-array
    fold; refined centroids default to quantized means so the layout is
    reproducible bit-for-bit anywhere.

    ``centroids`` (cid, cv) overrides the seed rule — use it when the
    vector ids are hashes (no meaningful ``id % step`` subset) and the
    centroid choice must be reproducible in an external engine, e.g.
    seeding from a pre-hash surrogate key.

    A rebuild SUBSUMES prior streamed appends: the caller's corpus is
    the new truth, and the old ``vectors_stream`` tree holds cell ids
    computed against the OLD centroids — it is cleared up front so the
    unioned read never mixes layouts. Stop live append streams before
    rebuilding."""
    import shutil

    shutil.rmtree(f"{path}/vectors_stream", ignore_errors=True)
    v = _as_double(
        ensure_parallelism(vectors).select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
    )
    # the corpus is scanned once per refine iteration plus once for the
    # final assignment; persist it across those passes (at true corpus
    # scale run the refinement on a sample instead — Lloyd converges on
    # a sketch of the distribution, not the full table)
    if refine_iters > 0:
        v = v.persist()
    est_cells = None
    if centroids is not None:
        cents = _as_double(centroids.select("cid", "cv"), "cv")
    else:
        if centroid_step is None:
            # one corpus count sizes BOTH the cell schedule and the
            # assignment-strategy gate (ceil(n/step) — exact for dense
            # ids, strategy-only for sparse ones). Count the RAW input:
            # identical value, answered from scan statistics, where
            # counting v would execute the fan-out Exchange just to
            # count it (r14; the persisted refine path re-materializes
            # v on its first real pass either way)
            n_v = vectors.count()
            centroid_step = _cell_step(n_v)
            est_cells = -(-n_v // centroid_step)
        cents = v.filter(F.pmod(F.col("nid"), F.lit(centroid_step)) == 0).select(
            F.col("nid").alias("cid"), F.col("nv").alias("cv")
        )
    if refine_iters > 0:
        cents = kmeans_refine(v, cents, refine_iters, quantize=quantize, n_cells=est_cells)
        est_cells = None  # Lloyd can shrink k; re-derive from the tiny store below
    # materialize the (tiny) centroid table FIRST so both the store
    # write and the assignment read one small parquet scan instead of
    # re-deriving the seed filter over the corpus; the write counts it
    obs = Observation("centroids")
    (
        conform(cents, IVF_CENTROIDS_SCHEMA)
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{path}/centroids")
    )
    try:
        cents.unpersist()  # kmeans_refine returns a persisted frame
    except Exception:
        pass
    cents = read_centroids(vectors.sparkSession, path)
    # est_cells is None after a refine (k can shrink) or with caller
    # centroids: the write's own count then sizes the assignment
    if est_cells is None:
        est_cells = int(obs.get["n"])
    assign = _assign_cells(v, cents, n_cells=est_cells)
    (
        conform(assign, IVF_VECTORS_SCHEMA)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/vectors")
    )
    for df in (v, cents):
        try:
            df.unpersist()
        except Exception:
            pass


def append_ivf_store(
    vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Add vectors to an existing IVF store WITHOUT re-clustering: cells
    are assigned against the store's committed centroids (broadcast,
    shuffle-free) and the rows land as new files inside their cell
    directories, so partition pruning keeps working unchanged. This is
    the streaming-ingest shape at corpus scale — re-running k-means per
    micro-batch would be absurd; centroid drift is instead repaid by the
    next full ``write_ivf_store`` rebuild.

    Duplicate ids are the caller's contract (like most ANN builders):
    re-appending an id adds a second copy until a rebuild. Returns the
    number of rows appended."""
    cents = read_centroids(vectors.sparkSession, path)
    v = _as_double(
        ensure_parallelism(vectors).select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")),
        "nv",
    )
    # persist the projected input across the count and the write so both
    # actions see the same rows even when the source plan is
    # nondeterministic (sample/limit/shuffle-dependent), and the scan
    # runs once instead of twice
    v = v.persist()
    try:
        assign = _assign_cells(v, cents)
        n = v.count()
        (
            conform(assign, IVF_VECTORS_SCHEMA)
            .repartition("cell")
            .write.mode("append")
            .partitionBy("cell")
            .parquet(f"{path}/vectors")
        )
    finally:
        v.unpersist()
    return n


def compact_ivf_store(spark, store_dir: str, force: bool = False) -> dict:
    """Fold each cell's accumulated append files into one file per cell
    (the LSM maintenance job ``compact_store``/``compact_fts_store``
    are for the other two layouts): after thousands of
    ``append_ivf_store`` micro-batches a probed cell directory holds
    thousands of small parquet files and the pruned scan pays per-file
    open cost instead of per-row. Exact duplicate rows (same id, vector,
    cell) are dropped; cell assignment is untouched.

    Refuses when a ``_manifest`` directory pins pre-compaction files
    (same guard as the other stores) unless ``force=True``."""
    import os
    import shutil

    from ..streaming.manifest import versions

    if versions(store_dir) and not force:
        raise RuntimeError(
            "IVF store has snapshot manifests pinning pre-compaction "
            "files; compacting would break every committed version. "
            "Vacuum/drop the snapshots first, or pass force=True."
        )
    import glob

    _recover_ivf_store(store_dir)
    vectors = spark.read.schema(IVF_VECTORS_SCHEMA).parquet(f"{store_dir}/vectors")
    stream = _stream_tree(store_dir)
    # snapshot the batch dirs NOW: a live append stream may commit new
    # batches while we compact, and only the dirs we actually folded in
    # may be deleted afterwards — deleting the whole tree would lose
    # concurrently appended rows the checkpoint already marks committed
    stream_batches = sorted(glob.glob(f"{stream}/batch=*")) if stream else []
    if stream_batches:
        vectors = vectors.unionByName(
            spark.read.schema(IVF_VECTORS_SCHEMA)
            .option("basePath", stream)
            .parquet(*stream_batches)
            .select("nid", "nv", "cell")
        )
    vectors = vectors.distinct()
    tmp = f"{store_dir}/_compacting"
    old = f"{store_dir}/_old_vectors"
    shutil.rmtree(tmp, ignore_errors=True)
    (
        vectors.repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{tmp}/vectors")
    )
    n = spark.read.parquet(f"{tmp}/vectors").count()
    # atomic-ish swap: park the live dir aside, slide the compacted one
    # in, THEN delete — a crash at any point leaves either the old or
    # the new data reachable (never neither), and _recover_ivf_store
    # rolls a half-finished swap back on the next open
    os.rename(f"{store_dir}/vectors", old)
    os.rename(f"{tmp}/vectors", f"{store_dir}/vectors")
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    # folded batch dirs are cleared LAST, and only the ones we read — a
    # crash here leaves their rows duplicated in both trees, which the
    # next compaction's distinct() heals (at-least-once + dedup, the
    # same contract as append replay); batches committed during the
    # compaction survive untouched
    for b in stream_batches:
        shutil.rmtree(b, ignore_errors=True)
    return {"vectors": n}


def _recover_ivf_store(store_dir: str) -> None:
    """Heal a store whose last ``compact_ivf_store`` died mid-swap: if
    the live ``vectors`` dir is missing but the parked ``_old_vectors``
    survives, roll back to the pre-compaction data (the compacted copy
    in ``_compacting`` holds the same rows, but the parked dir is the
    one known-fully-written); then clear any leftover work dirs."""
    import os
    import shutil

    vec = f"{store_dir}/vectors"
    old = f"{store_dir}/_old_vectors"
    tmp = f"{store_dir}/_compacting"
    if not os.path.isdir(vec) and os.path.isdir(old):
        os.rename(old, vec)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def _stream_tree(path: str) -> str | None:
    """The streaming-append sibling tree (``vectors_stream/batch=<id>/
    cell=<k>``, written by streaming.similarity.start_ivf_append), or
    None when absent/empty."""
    import glob
    import os

    d = f"{path}/vectors_stream"
    return d if os.path.isdir(d) and glob.glob(f"{d}/batch=*") else None


def read_ivf_store(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(vectors, centroids) of a persisted IVF store; ``vectors``
    carries the ``cell`` partition column for pruned scans. Streamed
    appends (the ``vectors_stream`` tree) are unioned in — ``cell`` is
    a partition column in both trees, so pruning is unaffected. Both
    trees open with the writer's schemas (the stream tree's ``batch``
    partition column comes from its directory names), so the open
    infers nothing from parquet footers."""
    _recover_ivf_store(path)
    vectors = spark.read.schema(IVF_VECTORS_SCHEMA).parquet(f"{path}/vectors")
    st = _stream_tree(path)
    if st:
        vectors = vectors.unionByName(
            spark.read.schema(IVF_VECTORS_SCHEMA).parquet(st).select("nid", "nv", "cell")
        )
    return vectors, read_centroids(spark, path)


def ivf_store_topk(
    vectors: DataFrame,
    cents: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int | str = 2,
    recall_target: float = 0.9,
) -> DataFrame:
    """Top-k against a persisted IVF store: probe cells are resolved
    driver-side from the (tiny, collected) centroid table — the same
    move the FTS store makes with token buckets — so the vector scan
    carries a STATIC ``cell IN (...)`` predicate and partition-prunes
    to the probed directories before any executor reads a byte.

    Expected recall mirrors ``ivf_ann_topk``: **0.275 at the nprobe=2
    default** measured on soft-clustered sf1 embeddings, ≥0.90 on
    well-separated corpora (docs/BENCH_NOTES.md, r12 sweep). Pass
    ``nprobe="auto"`` with a ``recall_target`` to derive nprobe from
    the measured curve (``auto_nprobe`` — calibrated estimate, not a
    guarantee), or raise ``nprobe`` directly."""
    from pyspark.sql import Window

    q = _as_double(queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")), "qv")
    # Probe-cell resolution is DRIVER-SIDE when the query batch is
    # bounded (r15, extending r14's localization): one bounded collect
    # of the QUERY rows (qcap = cap // nprobe, so localized probe rows
    # still respect the cap) plus the tiny centroid table (<= 4096 rows
    # by the schedule's self-cap), then `probe_cells_fold` — the
    # pinned bit-exact driver mirror of the `_nearest_cells` JVM fold
    # (same left-to-right IEEE summation, same NaN-greatest ordering,
    # shared with plans/query._semantic_filter since r14) — picks each
    # query's cells. The distinct probed-cell list and the scored
    # join's broadcast LocalRelation fall out with zero extra Spark
    # jobs, and the over-cap gate no longer pays a wasted cap+1-row
    # collect before falling back (r14 ADVICE): the bounded collect IS
    # the gate, and it carries at most qcap+1 query rows. Collected
    # doubles round-trip exactly through pickle (IEEE bytes), so the
    # scored rows are bit-identical either way. A batch past the cap
    # keeps exactly the pre-r14 fully-distributed plan — collecting an
    # unbounded query table to the driver is the guide-§5 OOM shape.
    cent_rows = None
    if nprobe == "auto":
        cent_rows = cents.select("cid", "cv").collect()
        nprobe = _resolve_nprobe(nprobe, len(cent_rows), recall_target)
    else:
        nprobe = int(nprobe)
    qcap = _probe_local_rows() // max(1, nprobe)
    q_rows = q.limit(qcap + 1).collect() if qcap else []
    if qcap and len(q_rows) <= qcap:
        import numpy as np

        from ..plans.local_tier import probe_cells_fold

        if cent_rows is None:
            cent_rows = cents.select("cid", "cv").collect()
        cids = [int(r["cid"]) for r in cent_rows]
        cent_mat = np.asarray([r["cv"] for r in cent_rows], dtype=np.float64)
        probe_rows = [
            (r["qid"], r["qv"], c)
            for r in q_rows
            for c in probe_cells_fold(
                cids, cent_mat, np.asarray(r["qv"], dtype=np.float64), nprobe
            )
        ]
        cells = sorted({c for (_, _, c) in probe_rows})
        probes = queries.sparkSession.createDataFrame(
            probe_rows, q.schema.add("cell", "long")
        )
    else:
        carr = _cent_arr(cents)
        probes = q.crossJoin(F.broadcast(carr)).select(
            "qid", "qv", F.explode(_nearest_cells(F.col("qv"), F.col("cents"), nprobe)).alias("cell")
        )
        cells = sorted({r["cell"] for r in probes.select("cell").distinct().collect()})
    pruned = vectors.filter(F.col("cell").isin(cells))
    scored = (
        pruned.join(F.broadcast(probes), "cell")
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", F.col("nid").alias("neighbor"), cosine_sim(F.col("nv"), F.col("qv")).alias("sim"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "neighbor", F.col("rank").cast("int").alias("rank"))
    )


def embedding_neardup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_sim: float = 0.3,
    planes: int | None = 4,
) -> DataFrame:
    """Cosine near-dup pairs (id_a < id_b, sim > min_sim).

    The DEFAULT (``planes=4``) is the scale path: both sides bucket by
    the deterministic hyperplane signs (``hyperplane_bucket``) and only
    same-bucket pairs are compared — an equi-join whose cost is
    Σ bucket² instead of N², trading recall (cross-bucket pairs are
    missed by design; high-cosine pairs rarely straddle a hyperplane).

    ``planes=None`` is the EVAL-ONLY exact all-pairs product — the
    O(N²) baseline for measuring that recall on small sets; never run
    it on a corpus. Same determinism either way, so both variants
    oracle-mirror."""
    v = _as_double(ensure_parallelism(vectors).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v")
    if planes:
        dim = len(vectors.select(vec_col).first()[0])
        v = v.withColumn("bucket", hyperplane_bucket(F.col("v"), planes, dim))
        a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket")
        b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "bucket")
        joined = a.join(b, "bucket")
    else:
        a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
        b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
        joined = a.crossJoin(b)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .filter(cosine_sim(F.col("va"), F.col("vb")) > min_sim)
        .select("id_a", "id_b")
    )
