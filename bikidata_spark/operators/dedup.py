"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection, all
as compositions of built-in DataFrame ops (JVM codegen end-to-end; no
Python UDFs). Every similarity decision uses integer cross-multiplied
thresholds (``den*inter >= num*union``) so results are bit-deterministic
and reproducible by the DuckDB oracles.

Scale notes (100 TB):
- candidate generation is always an equi-join on a short key (band
  signature / minhash value / shingle) — never an all-pairs product;
- verification joins are candidate-driven (pairs → their shingles), so
  work is proportional to candidates, not to the corpus square;
- md5 here is the cross-engine-mirrorable stand-in; swapping in
  xxhash64 halves the hash cost when oracle parity is not needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import ensure_parallelism
from .fts import tokens_col


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by content hash: (key, keep_id, n_dups). Survivor is
    the minimum id per md5(text) — one hash-partitioned groupBy."""
    return (
        ensure_parallelism(df)
        .groupBy(F.md5(F.col(text_col)).alias("key"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_dups"))
    )


def shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Distinct k-token shingles per doc: (id, s)."""
    df = ensure_parallelism(df)
    toks = tokens_col(F.col(text_col))
    sh = F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - k + 1),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("id"), F.explode(F.array_distinct(sh)).alias("s")
    )


def _materialized(df: DataFrame) -> DataFrame:
    """``df`` persisted and filled now, before a plan branches over it.
    A lazily persisted frame is no guard: AQE submits the branches'
    shuffle-map stages together, before any of them has filled the
    cache."""
    df = df.persist()
    df.count()
    return df


MINHASH_P = (1 << 31) - 1  # Mersenne prime 2^31-1


def minhash_coeffs(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) universal-hash coefficients, mirrorable in
    any SQL engine (plain integer arithmetic)."""
    return [
        (((i * 2654435761 + 1) % MINHASH_P) or 1, (i * 40503 + 17) % MINHASH_P)
        for i in range(n)
    ]


def _hbase(col):
    """Deterministic 32-bit base hash shared with the oracle: first 8
    hex chars of md5(value). Computed ONCE per shingle; the n minhash
    functions derive from it with (a*h + b) mod p — one md5 instead of
    n md5s per shingle (the hash dominates signature cost at scale)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _huniv(base, a: int, b: int):
    # a < 2^31, base < 2^32 -> a*base < 2^63: no ANSI long overflow
    return (F.lit(a) * base + F.lit(b)) % F.lit(MINHASH_P)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signature — one groupBy with n min()
    aggregates (map-side partial agg; single shuffle on id)."""
    sh = shingles(df, id_col, text_col, k).withColumn("hb", _hbase(F.col("s")))
    aggs = [
        F.min(_huniv(F.col("hb"), a, b)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_band_candidates(
    sh: DataFrame, num_hashes: int, rows_per_band: int
) -> DataFrame:
    """LSH candidate pairs from a (id, s) shingle frame via (b bands ×
    r rows) banding: the n-hash signature splits into b = n/r bands of
    r consecutive minhashes each, and a pair is a candidate iff some
    band matches on ALL r values (equi-join on (band, struct of r)).

    P(candidate) = 1 - (1 - J^r)^b: r=1 fires on ANY single matching
    minhash — maximal recall but the candidate count explodes on
    natural web corpora where low-jaccard pairs share one common
    shingle; r>=2 (default in :func:`minhash_lsh_pairs`) keeps the
    verify join bounded, the standard banding deployed at scale."""
    if num_hashes % rows_per_band:
        raise ValueError(f"num_hashes={num_hashes} not divisible by rows_per_band={rows_per_band}")
    # one md5 base hash per shingle, n cheap (a*h+b) mod p derivations.
    # hb is a projected COLUMN rather than an expression repeated in the
    # n aggregates: codegen's subexpression elimination dedupes the
    # inline form at runtime (measured identical), but the projected
    # form keeps the single-md5 contract visible in the plan and holds
    # on interpreted (non-codegen) paths too
    hbased = sh.select("id", _hbase(F.col("s")).alias("hb"))
    sig = hbased.groupBy("id").agg(
        *[
            F.min(_huniv(F.col("hb"), a, b)).alias(f"h{i}")
            for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
        ]
    )
    band_structs = [
        F.struct(
            *[F.col(f"h{j * rows_per_band + i}").alias(f"s{i}") for i in range(rows_per_band)]
        )
        for j in range(num_hashes // rows_per_band)
    ]
    bands = sig.select("id", F.posexplode(F.array(*band_structs)).alias("band", "sig"))
    a = bands.select(F.col("id").alias("id_a"), "band", "sig")
    b = bands.select(F.col("id").alias("id_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    k: int = 3,
    jaccard_num: int = 1,
    jaccard_den: int = 5,
    rows_per_band: int = 2,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b) via MinHash LSH with (b×r) banding
    (``rows_per_band`` minhashes per band; r=1 is the explicit
    high-recall mode, r>=2 the scale default — see
    :func:`minhash_band_candidates`), verified by exact shingle
    Jaccard >= num/den."""
    sh = _materialized(shingles(df, id_col, text_col, k))
    cands = minhash_band_candidates(sh, num_hashes, rows_per_band)
    # verification: per-doc shingle-hash sets joined to the candidate
    # pairs, intersection via array_intersect — candidate-driven work
    # with NO candidates×postings explosion (the naive inter-join
    # materializes |cands|·|shingles/doc| rows; this carries one ~50-int
    # array per side instead). Shingles are already distinct per doc, so
    # |array_intersect| is the exact overlap; xxhash64 keeps the arrays
    # fixed-width (collision odds ~|shingles|²/2⁶⁵ — negligible, and the
    # hash never crosses the oracle boundary: the oracle computes the
    # same overlap directly on strings).
    sets = sh.groupBy("id").agg(F.collect_set(F.xxhash64("s")).alias("ss"))
    sa = sets.select(F.col("id").alias("id_a"), F.col("ss").alias("sa"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("ss").alias("sb"))
    i = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    na, nb = F.size(F.col("sa")), F.size(F.col("sb"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.lit(jaccard_den) * i >= F.lit(jaccard_num) * (na + nb - i))
        .select("id_a", "id_b")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """(id, sh) — tf-weighted SimHash over tokens. Token base hash is 60
    md5 bits; bit j of the signature is the sign of the tf-weighted sum
    of (2*bit_j(h) - 1). Pure integer math → oracle-mirrorable."""
    df = ensure_parallelism(df)
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens_col(F.col(text_col))).alias("t")
    )
    tf = toks.groupBy("id", "t").agg(F.count("*").alias("tf"))
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
    aggs = [
        F.sum(
            F.col("tf")
            * (F.shiftrightunsigned(h, j).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    sums = tf.groupBy("id").agg(*aggs)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select("id", sig.cast("long").alias("sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming) with hamming(simhash) <=
    max_hamming. Candidates must share at least one of ``chunks``
    (bits/chunks)-bit chunks (pigeonhole: any pair within max_hamming <
    chunks+1 shares one) — equi-join, no all-pairs."""
    sig = simhash(df, id_col, text_col, bits)
    width = bits // chunks
    mask = (1 << width) - 1
    ch = sig.select(
        "id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("sh"), c * width).bitwiseAND(F.lit(mask))
                    for c in range(chunks)
                ]
            )
        ).alias("c", "v"),
    )
    a = ch.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), "c", "v")
    b = ch.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), "c", "v")
    cands = (
        a.join(b, ["c", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cands.filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    jaccard_num: int = 3,
    jaccard_den: int = 20,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs (id_a < id_b) >= num/den. Inverted
    index join on shared n-grams; integer threshold math.

    ``max_df`` is the scale lever: a shingle appearing in more than
    ``max_df`` documents contributes df² rows to the inverted-index
    join (the classic stop-shingle blowup); dropping those postings
    caps the join at |docs|·max_df while barely moving Jaccard for
    true near-dups, whose overlap is dominated by rare shingles. The
    Jaccard denominator still uses FULL per-doc shingle counts, so
    scores are conservative (never inflated) under the cap.

    NEGATIVE RESULT (r15, recorded so later rounds do not retry):
    joining the inverted index on ``xxhash64(shingle)`` longs instead
    of the shingle strings — the guide-§2.3 narrower-key move —
    measured NO wall win at sf10/max_df=50 (interleaved fresh-process
    A/B, string arm 163–266 s vs hash arm 194–200 s on the same host,
    identical 30,428 pairs; docs/baseline/ab_ngram_sf10_r15.jsonl).
    The join is aggregation-bound, not key-width-bound: candidate rows
    flow straight into a map-side-combined count whose shuffle carries
    only (id_a, id_b) pairs either way. Reverted; the string key keeps
    the operator collision-free for the oracle hash."""
    sh = _materialized(shingles(df, id_col, text_col, n))
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    postings = sh
    if max_df is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("s")
        )
        postings = sh.join(rare, "s", "left_semi")
    a = postings.select(F.col("id").alias("id_a"), "s")
    b = postings.select(F.col("id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("i"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(
            F.lit(jaccard_den) * F.col("i")
            >= F.lit(jaccard_num) * (F.col("na") + F.col("nb") - F.col("i"))
        )
        .select("id_a", "id_b")
    )


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair graph
    (id_a, id_b) → (id, component), component = min id reachable.
    Turns near-dup PAIRS into dedup CLUSTERS so one canonical survivor
    can be picked per group (min-id convention, like ``exact_dedup``).

    Label propagation with pointer jumping: each round every node takes
    the min of its own label and its neighbors' labels (one join + one
    map-side-combined groupBy), then follows its label's label — the
    pointer-jumping step halves the remaining label-tree depth, so
    convergence is O(log diameter) rounds instead of O(diameter) (the
    same doubling idea as large-star/small-star). ``localCheckpoint``
    every round cuts the growing lineage — the classic
    iterative-algorithm pattern on Spark (GraphX/GraphFrames does the
    same under the hood, without needing either library)."""
    # the symmetrized edge list joins into EVERY round: persist it once
    # or each iteration re-executes the upstream pair plan (for minhash
    # candidates that is the whole shingle→hash→band pipeline, per round)
    sym = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(pairs.select(F.col("id_b"), F.col("id_a")))
        .persist()
    )
    labels = (
        sym.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for _ in range(max_iter):
        nb = (
            sym.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy("dst")
            .agg(F.min("comp").alias("nbmin"))
            .withColumnRenamed("dst", "id")
        )
        stepped = labels.join(nb, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce("nbmin", "comp")).alias("comp"),
        )
        # pointer jumping: comp := min(comp, comp's own label)
        via = stepped.select(
            F.col("id").alias("comp"), F.col("comp").alias("comp2")
        )
        new = (
            stepped.join(via, "comp", "left")
            .select(
                "id",
                F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    sym.unpersist()  # labels is checkpointed; nothing downstream needs sym
    return labels.select("id", F.col("comp").alias("component"))


def connected_components_star(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., *Connected Components in MapReduce and Beyond*,
    SoCC'14) → (id, component), component = min id reachable.

    Same contract as :func:`connected_components`; different
    convergence shape. Label propagation moves one hop per round along
    every path, so a heavy-skew pair graph (one hub in millions of
    near-dup pairs — the web-corpus shape) keeps re-shuffling the hub's
    whole neighborhood each round. The star operations instead rewire
    edges directly onto each neighborhood's minimum: large-star hangs
    every larger neighbor under min(Γ(u) ∪ {u}), small-star flattens
    the smaller ones, and the alternation provably converges in
    O(log² n) rounds with edge count never growing — the hub collapses
    into a star after its first large-star instead of being re-visited
    every round. Both ops are one map-side-combined groupBy + one join
    per round; localCheckpoint cuts lineage."""
    # materialize the input edge list up front: round 1 references it
    # several times (min-neighbor agg + join on both star ops) and would
    # otherwise re-execute the upstream pair plan for each
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _min_nbr(e: DataFrame) -> DataFrame:
        # m(u) = min(Γ(u) ∪ {u}) over the edge list e
        return e.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = _min_nbr(sym)
        return (
            sym.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # orient edges to point small: (max, min)
        o = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        m = _min_nbr(o)
        out = o.join(m, "u").select(F.col("v").alias("u"), F.col("m").alias("v")).unionAll(
            m.select(F.col("u"), F.col("m").alias("v"))
        )
        return out.filter(F.col("u") != F.col("v")).distinct()

    prev_sig = None
    for _ in range(max_iter):
        edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        sig = edges.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("x"),
        ).collect()[0]
        sig = (sig["n"], sig["x"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged to stars: every non-root points at its component root
    sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    comp = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("component"))
    return comp.select(F.col("u").alias("id"), "component")


def dedup_clusters(pairs: DataFrame, algorithm: str = "label") -> DataFrame:
    """(component, keep_id, n_members) — one row per near-dup cluster,
    the min id as the surviving representative. ``algorithm``:
    ``label`` (min-label propagation + pointer jumping) or ``star``
    (alternating large/small-star — the heavy-skew choice)."""
    cc = (
        connected_components_star(pairs)
        if algorithm == "star"
        else connected_components(pairs)
    )
    return cc.groupBy("component").agg(
        F.min("id").alias("keep_id"), F.count("*").alias("n_members")
    )
