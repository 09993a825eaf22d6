"""Dictionary-encoded RDF quad graph, Spark-native.

Mirrors the reference storage model (reference main.py:188-204: DuckDB
tables ``triples(s,p,o,g ubigint)`` + ``iris``/``literals`` dictionaries,
terms hashed with xxhash64) re-expressed as parquet-backed DataFrames:

- ``triples``: four 64-bit hashes per quad — 32 bytes/row columnar, the
  only thing that shuffles in the middle of a query plan.
- ``terms``: hash → lexical form + ``is_literal`` flag (the reference
  splits iris/literals into two tables; one table with a flag gives the
  same semantics with one fewer join at hydration time).

Hashing uses Spark's built-in ``xxhash64`` (JVM-side, whole-stage
codegen). Internal IDs never cross an API boundary, so bit-compatibility
with the reference's xxh64_hexdigest scheme is not required — only
internal consistency is.

Scale notes (100 TB): write triples sorted by (p, s) so parquet row-group
stats prune property filters; ``terms`` is only joined at ingest and at
page hydration (page-sized semi-joins), never against the full quad set.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Literal lexical forms start with '"' (N-Triples); IRIs with '<',
# blank nodes with '_:'. Same convention as reference main.py:199-204.


def term_hash(col):
    """64-bit dictionary code for a term string (JVM xxhash64)."""
    return F.xxhash64(col)


_VALUES_MAX_ROWS = 2000


def local_relation(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Request-sized driver rows as a LocalRelation via a VALUES clause
    — ONE py4j round-trip. ``createDataFrame`` pickles even tiny data
    through an RDD parallelize (~130 ms per call); on the zero-job
    mutation path those calls were most of the per-request latency.

    ``schema`` is "name type, ..." with types long/int/double/string/
    boolean. String values are backslash-escaped, but callers should
    only route token-safe strings here (the mutation path's strings
    are tokenizer output, [a-z0-9]+); arbitrary user text keeps using
    createDataFrame. Falls back to createDataFrame for empty or
    over-sized row sets (a giant VALUES string is a parser burden).
    """
    fields = [tuple(f.strip().rsplit(None, 1)) for f in schema.split(",")]
    if not rows or len(rows) > _VALUES_MAX_ROWS:
        return spark.createDataFrame(rows, schema)

    def lit(v, typ):
        if v is None:
            return f"CAST(NULL AS {typ.upper()})"
        if typ == "long":
            return f"{int(v)}L"
        if typ == "int":
            return f"INT('{int(v)}')"
        if typ == "double":
            return f"CAST('{float(v)!r}' AS DOUBLE)"
        if typ == "boolean":
            return "TRUE" if v else "FALSE"
        s = str(v).replace("\\", "\\\\").replace("'", "\\'")
        return f"'{s}'"

    body = ",".join(
        "(" + ",".join(lit(v, t) for v, (_, t) in zip(r, fields)) + ")" for r in rows
    )
    names = ",".join(n for n, _ in fields)
    return spark.sql(f"SELECT * FROM VALUES {body} AS t({names})")


@dataclass
class Graph:
    """A dictionary-encoded quad store."""

    triples: DataFrame  # s, p, o, g: long
    terms: DataFrame  # hash: long, value: string, is_literal: boolean
    # optional store-side projection of triples clustered by s (the
    # on-disk twin of Engine._point_probe_triples): same row bag as
    # triples, different physical order, so subject-point probes prune
    # parquet row groups instead of scanning the corpus. Carried only
    # by graphs read from a store written with projections=("s",);
    # derived graphs (mutations, clustered()) drop it unless they
    # preserve the row bag.
    s_projection: DataFrame | None = None
    # store manifest (write_graph's `_meta.json`): n_triples / n_terms /
    # blob_bytes, so tier and term-cache sizing verdicts cost zero Spark
    # jobs (at 100x scale an engine that will never fit the driver tier
    # should not pay even a bounded probe per process). Derived graphs
    # (mutations) drop it — the default None IS the invalidation.
    store_meta: dict | None = None
    # persisted tier artifact (`{store}/_tier`, plans/local_tier.py
    # persist_tier): Engine._local_tier memory-maps it instead of
    # paying the one-time collect. Only attached by read_graph when the
    # artifact is driver-local (mmap needs a local file).
    tier_dir: str | None = None
    # the store's local root (read_graph, local paths only): lets the
    # engine CREATE sidecars next to the store — eviction-time order
    # warming writes `{store_dir}/_tier/dorder_*.arrow` even when no
    # tier artifact existed at read time (tier_dir stays None until an
    # artifact exists — the stale-proofing invariant). Derived graphs
    # (mutations) drop it by construction, like the other sidecars.
    store_dir: str | None = None
    # identity of the store content THIS graph was read from: the
    # manifest file's (mtime_ns, size) at read time. Sidecars written
    # by this engine embed it, and the sidecar loader rejects a stamp
    # that does not match its own graph's — so an engine that keeps
    # serving across an external store rewrite can never leave a
    # sidecar describing the OLD content that a post-rewrite reader
    # would trust. None (legacy store, no manifest) skips the check.
    store_stamp: tuple | None = None

    @property
    def spark(self) -> SparkSession:
        return self.triples.sparkSession

    def literals(self) -> DataFrame:
        return self.terms.filter(F.col("is_literal")).select("hash", "value")

    def iris(self) -> DataFrame:
        return self.terms.filter(~F.col("is_literal")).select("hash", "value")

    def cache(self) -> "Graph":
        self.triples.persist()
        self.terms.persist()
        if self.s_projection is not None:
            # persisting preserves the on-disk s order per partition,
            # so the cached copy batch-prunes like the files row-group
            # prune
            self.s_projection.persist()
        return self

    def clustered(self) -> "Graph":
        """Physically cluster the graph for point-query serving:
        triples range-partitioned and sorted by (p, s), terms by hash —
        the in-memory analogue of write_graph's on-disk file sort (a
        store read back through read_graph inherits that order, so its
        cache prunes already; a graph built in memory from quads does
        not). Once cached, InMemoryTableScan's per-batch min/max stats
        prune every property-point filter (the filter algebra's tagged
        scans, facet prefilters) and every dictionary hash probe to the
        few batches that can match — at sf1 a corpus filter scan drops
        ~0.4 s → ~0.05 s, flat in corpus size instead of linear. One
        range shuffle at build time, amortized over every query; at
        cluster scale the same clustering keys the store layout, so
        the recipe survives 100 TB (sort order per probe axis, skew
        split by the composite range key)."""
        return Graph(
            triples=self.triples.repartitionByRange("p", "s").sortWithinPartitions(
                "p", "s"
            ),
            terms=self.terms.repartitionByRange("hash").sortWithinPartitions("hash"),
            s_projection=self.s_projection,  # same row bag, kept
            store_meta=self.store_meta,  # same content, sizing still valid
            tier_dir=self.tier_dir,
            store_dir=self.store_dir,
            store_stamp=self.store_stamp,
        )

    def unpersist(self) -> None:
        self.triples.unpersist()
        self.terms.unpersist()
        if self.s_projection is not None:
            self.s_projection.unpersist()


def from_string_quads(quads: DataFrame) -> Graph:
    """Build a Graph from a DataFrame of string columns (s, p, o, g).

    Equivalent of the reference's index build (main.py:136-226): hash every
    term, and build the deduplicated term dictionary. One wide scan, two
    shuffles (distinct on terms), no driver round-trips.
    """
    for c in ("s", "p", "o"):
        if c not in quads.columns:
            raise ValueError(f"quads must have column {c!r}")
    if "g" not in quads.columns:
        quads = quads.withColumn("g", F.lit(""))

    triples = quads.select(
        term_hash("s").alias("s"),
        term_hash("p").alias("p"),
        term_hash("o").alias("o"),
        term_hash("g").alias("g"),
    )

    # single pass over the source: explode the four term positions,
    # then one distinct shuffle (vs 4 unionAll re-scans of the source)
    terms = (
        quads.select(F.explode(F.array("s", "p", "o", "g")).alias("value"))
        .distinct()
        .select(
            term_hash("value").alias("hash"),
            "value",
            F.col("value").startswith('"').alias("is_literal"),
        )
    )
    return Graph(triples=triples, terms=terms)


def build_from_iterator(spark: SparkSession, rows, graph: str = "", batch_size: int = 100_000) -> Graph:
    """Build a Graph from a Python iterator of ``(s, p, o)`` or
    ``(s, p, o, g)`` string tuples (reference ``build_from_iterator``,
    main.py:119-133). Driver-side iterators don't scale past memory, so
    rows are staged into DataFrames in ``batch_size`` chunks — for real
    corpora use :func:`bikidata_spark.sources.ntriples.read_nt` on files
    instead."""
    from itertools import islice

    it = iter(rows)
    frames = []
    while True:
        batch = list(islice(it, batch_size))
        if not batch:
            break
        quads = [(r + (graph,) if len(r) == 3 else tuple(r)) for r in map(tuple, batch)]
        frames.append(
            spark.createDataFrame(quads, "s string, p string, o string, g string")
        )
    if not frames:
        empty = spark.createDataFrame([], "s string, p string, o string, g string")
        return from_string_quads(empty)
    from functools import reduce

    return from_string_quads(reduce(lambda a, b: a.unionAll(b), frames))


TERM_BUCKETS = 64

# The store schemas, owned by the writer: write_graph casts its frames
# to exactly these columns and read_graph opens the files with them, so
# a store open infers nothing from parquet footers (no Spark job) and
# the two sides cannot drift. ``triples_by_s`` shares TRIPLES_SCHEMA;
# ``bucket`` is the terms partition column (absent from un-bucketed
# stores of earlier versions, which read_graph detects by listing).
TRIPLES_SCHEMA = StructType([StructField(c, LongType()) for c in ("s", "p", "o", "g")])
TERMS_SCHEMA = StructType(
    [
        StructField("hash", LongType()),
        StructField("value", StringType()),
        StructField("is_literal", BooleanType()),
    ]
)
TERMS_BUCKETED_SCHEMA = StructType(
    TERMS_SCHEMA.fields + [StructField("bucket", IntegerType())]
)


def conform(df: DataFrame, schema: StructType) -> DataFrame:
    """``df`` cast to exactly ``schema``'s columns, in its order: what a
    writer stores, so a reader holding the same schema opens the files
    without inferring one."""
    return df.select(*(F.col(f.name).cast(f.dataType) for f in schema.fields))


def align_terms(base_terms: DataFrame, new_terms: DataFrame) -> DataFrame:
    """Shape a canonical (hash, value, is_literal) new-terms frame to
    ``base_terms``' schema so a positional unionAll is sound. A graph
    read back from a bucketed store (write_graph) carries the derived
    ``bucket`` partition column; new terms get it from the same
    ``pmod(hash, TERM_BUCKETS)`` rule so partition pruning keeps
    covering them. Any other schema drift fails loudly here instead of
    silently writing values into the wrong column."""
    extra = [c for c in base_terms.columns if c not in new_terms.columns]
    for c in extra:
        if c != "bucket":
            raise ValueError(f"unknown terms column {c!r} in base schema")
        new_terms = new_terms.withColumn(
            "bucket", F.pmod(F.col("hash"), F.lit(TERM_BUCKETS))
        )
    return new_terms.select(*base_terms.columns)


def write_graph(
    graph: Graph, path: str, mode: str = "overwrite", projections: tuple = ()
) -> None:
    """Persist a graph as parquet, triples sorted within files by (p, s)
    so Catalyst's parquet filter pushdown prunes row groups on property
    lookups (the dominant access path, reference query.py:212-218).

    The terms dictionary is hash-bucketed into ``TERM_BUCKETS``
    partition directories (``bucket = pmod(hash, 64)``, rows sorted by
    hash within each) — the same layout the FTS store uses for tokens:
    a page hydration's term probe from a COLD store then lists/reads
    only its hashes' bucket directories (PartitionFilters) and prunes
    row groups by the hash min/max inside them, instead of scanning
    the corpus-sized dictionary. Un-bucketed stores from earlier
    versions read back fine (the probe just skips the bucket
    predicate).

    The frames are cast to the writer-owned ``TRIPLES_SCHEMA`` /
    ``TERMS_SCHEMA``, which read_graph opens the files with.

    Also maintains the store MANIFEST (``{path}/_meta.json``:
    n_triples / n_terms / blob_bytes, counted by ``Observation``s on
    the frames as they are written — tier and term-cache sizing
    verdicts then cost zero Spark jobs) and deletes any persisted tier
    artifact (``{path}/_tier``, plans/local_tier.persist_tier) before
    writing — coherence for both sidecars is writer-owned: a store
    rewrite must never leave sizing numbers or a memory-mapped mirror
    describing the OLD content. Appends drop both too (the manifest
    describes the whole store, not the appended slice)."""
    _drop_store_sidecars(graph.spark, path)
    overwrite = mode == "overwrite"
    triples = conform(graph.triples, TRIPLES_SCHEMA)
    terms = conform(graph.terms, TERMS_SCHEMA)
    if overwrite:
        # the manifest is counted on the rows as they are written: no
        # read-back of the files, no second pass over the lineage
        obs_t, obs_d = Observation("triples"), Observation("terms")
        triples = triples.observe(obs_t, F.count(F.lit(1)).alias("n"))
        terms = terms.observe(
            obs_d,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length("value")).alias("b"),
        )
    (
        triples.repartition("p")
        .sortWithinPartitions("p", "s")
        .write.mode(mode)
        .parquet(f"{path}/triples")
    )
    (
        terms.withColumn(
            "bucket", F.pmod(F.col("hash"), F.lit(TERM_BUCKETS)).cast("int")
        )
        .repartition("bucket")
        .sortWithinPartitions("hash")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{path}/terms")
    )
    if "s" in projections:
        # optional second sort order: the SAME quads clustered by
        # subject, so cold-store point probes (page hydration, sp,
        # spo) push an s filter that prunes row groups instead of
        # scanning the corpus — one projection per probe axis, the
        # storage trade every columnar warehouse makes. Doubles the
        # store's triples footprint; opt-in.
        _by_s(graph).write.mode(mode).parquet(f"{path}/triples_by_s")
    if overwrite:
        t, d = _observed(obs_t), _observed(obs_d)
        if t and d:
            _write_store_manifest(
                path,
                {
                    "n_triples": int(t["n"]),
                    "n_terms": int(d["n"]),
                    "blob_bytes": int(d["b"] or 0),
                },
            )


def _observed(obs: Observation) -> dict | None:
    """An Observation's metrics after its frame's action, or None when
    the action recorded none: the optimizer drops the observer from a
    plan it proves empty. The store then goes without a manifest, which
    only costs the sizing verdicts their bounded probes."""
    from py4j.protocol import Py4JJavaError

    try:
        return obs.get
    except Py4JJavaError:
        return None


def _by_s(graph: Graph) -> DataFrame:
    """The ``triples_by_s`` projection as written: the store's triples
    clustered by subject."""
    return (
        conform(graph.triples, TRIPLES_SCHEMA)
        .repartitionByRange("s")
        .sortWithinPartitions("s", "p")
    )


def write_s_projection(graph: Graph, path: str) -> bool:
    """Seed an EXISTING store with the s-clustered projection
    (``{path}/triples_by_s`` — the same layout ``write_graph(...,
    projections=("s",))`` produces) without rewriting the store.

    This is the store-side persistence for the point-probe axis (r14):
    an over-cap engine otherwise builds the s-range-clustered hydration
    frame lazily IN MEMORY, per process, on the second probe — a
    corpus-wide shuffle (~21 s / 7 jobs at sf10) landing inside a
    query. Run once at warm time (CLI ``warm``), every later process
    reads the projection straight off the store with parquet row-group
    pruning and zero build cost (Engine._point_probe_triples prefers
    ``Graph.s_projection`` before any lazy build).

    Coherence is writer-owned, like every sidecar: ``graph`` must be
    the UNMUTATED content of ``path`` (callers pass a graph read from
    the store itself); write_graph deletes the projection before any
    rewrite. The write goes to a tmp dir + rename so a crash never
    leaves a half-written dir that read_graph would attach. Returns
    False (no-op) if the projection already exists."""
    import os
    import shutil

    if "://" in path and not path.startswith("file:"):
        # remote stores: write directly (Hadoop FS rename of a dir is
        # cheap but the tmp+rename dance needs FS-specific handling;
        # the parquet committer's _SUCCESS-guarded write is the
        # standard durability story there)
        sc = graph.spark.sparkContext
        jvm, hconf = sc._jvm, sc._jsc.hadoopConfiguration()
        jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/triples_by_s")
        fs = jpath.getFileSystem(hconf)
        if fs.exists(jpath):
            return False
        _by_s(graph).write.mode("overwrite").parquet(f"{path}/triples_by_s")
        return True
    base = path.split("://", 1)[-1] if "://" in path else path
    final = os.path.join(base, "triples_by_s")
    if os.path.isdir(final):
        return False
    tmp = os.path.join(base, "triples_by_s.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    _by_s(graph).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, final)
    return True


def _drop_store_sidecars(spark: SparkSession, path: str) -> None:
    """Remove `_meta.json`, `_tier/` and a warm-written `triples_by_s/`
    ahead of a store (re)write (a projection seeded by write_s_projection
    describes the OLD triples; write_graph re-creates its own when asked).
    Local paths go through the OS; remote URIs through the Hadoop FS
    (same handle-acquisition guard as read_graph's log-store probe)."""
    import os
    import shutil

    local = path.split("://", 1)[0] if "://" in path else None
    if local is None or local == "file":
        base = path.split("://", 1)[-1] if "://" in path else path
        try:
            os.remove(os.path.join(base, "_meta.json"))
        except OSError:
            pass
        shutil.rmtree(os.path.join(base, "_tier"), ignore_errors=True)
        shutil.rmtree(os.path.join(base, "triples_by_s"), ignore_errors=True)
        return
    try:
        sc = spark.sparkContext
        jvm, hconf = sc._jvm, sc._jsc.hadoopConfiguration()
    except Exception:
        return
    for sub in ("_meta.json", "_tier", "triples_by_s"):
        jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{sub}")
        fs = jpath.getFileSystem(hconf)
        if fs.exists(jpath):
            fs.delete(jpath, True)


def _write_store_manifest(path: str, meta: dict) -> None:
    """Write `_meta.json` atomically (tmp+rename) for local stores;
    remote stores simply skip the manifest (the sizing probes remain
    bounded Spark aggregations there)."""
    import json
    import os

    if "://" in path and not path.startswith("file:"):
        return
    base = path.split("://", 1)[-1] if "://" in path else path
    tmp = os.path.join(base, "._meta.json.tmp")
    try:
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(base, "_meta.json"))
    except OSError:
        pass


def read_store_manifest(path: str) -> dict | None:
    """The store manifest written by write_graph, or None."""
    import json
    import os

    base = path.split("://", 1)[-1] if "://" in path else path
    try:
        with open(os.path.join(base, "_meta.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    return meta if isinstance(meta, dict) and "n_triples" in meta else None


def read_graph(spark: SparkSession, path: str) -> Graph:
    """Open a store directory as a Graph. A LOG-STRUCTURED store (the
    streaming-ingest / journal-replay layout: batch= segment dirs,
    possibly live tombstone logs) routes through read_store so
    sequenced tombstones apply — reading its raw triples parquet would
    resurrect every deleted quad (and double-count re-inserts)."""
    import os

    # Listing goes through the Hadoop FileSystem API so detection works
    # on ANY Spark-readable URI (hdfs://, s3a://, file:/) — an os.*
    # probe only sees the driver's local disk, so a remote
    # log-structured store would silently fall through to the raw
    # parquet read and resurrect every deleted quad.
    #
    # Fall back to the driver-local probe ONLY when the JVM handle is
    # genuinely absent (Spark Connect: no sparkContext/_jvm). A REAL
    # filesystem error (transient s3a/hdfs failure, auth) must
    # propagate: degrading it to the local probe would misdetect a
    # remote log-structured store as plain parquet and silently
    # resurrect every deleted quad.
    try:
        # the guard covers ONLY handle acquisition — a Connect session
        # raises here (no sparkContext / no gateway); every actual
        # filesystem call happens outside it and propagates
        sc = spark.sparkContext
        jvm, hconf = sc._jvm, sc._jsc.hadoopConfiguration()
        jvm_ok = jvm is not None
    except Exception:
        jvm_ok = False

    def _names(sub: str = ""):
        """Entry names under ``{path}/{sub}``, lazily (callers stop at
        the first match); nothing when the directory is absent."""
        target = f"{path}/{sub}" if sub else path
        if jvm_ok:
            jpath = jvm.org.apache.hadoop.fs.Path(target)
            fs = jpath.getFileSystem(hconf)
            if fs.exists(jpath):
                yield from (st.getPath().getName() for st in fs.listStatus(jpath))
            return
        try:
            yield from os.listdir(target)
        except OSError:
            return

    root = set(_names())
    if {"tombstones", "tombstones_spg"} & root or any(
        n.startswith("batch=") for n in _names("triples")
    ):
        from .streaming.mutations import read_store

        return read_store(spark, path)

    # the writer's schemas: opening the store infers nothing from
    # parquet footers, and the partition listing stays on the driver
    # (session.get_spark's parallelPartitionDiscovery threshold), so
    # the open runs no Spark job. Terms from stores of earlier versions
    # carry no bucket= directories and no bucket column.
    bucketed = any(n.startswith("bucket=") for n in _names("terms"))
    terms_schema = TERMS_BUCKETED_SCHEMA if bucketed else TERMS_SCHEMA
    sproj = (
        spark.read.schema(TRIPLES_SCHEMA).parquet(f"{path}/triples_by_s")
        if "triples_by_s" in root
        else None
    )
    # sidecars: the manifest makes tier/term-cache sizing verdicts
    # zero-job; a persisted tier artifact (if driver-local — mmap
    # needs a local file) makes the tier itself a cold-start mmap
    # instead of a collect. Both only ever attached here, so every
    # derived graph (mutations) drops them by construction.
    tier_dir = None
    store_dir = None
    store_stamp = None
    if "://" not in path or path.startswith("file:"):
        store_dir = path.split("://", 1)[-1]
        cand = os.path.join(store_dir, "_tier")
        # a tier artifact (meta.json) OR the driver-order sidecars an
        # over-cap warm leaves behind (dorder_meta.json, r13) — either
        # makes the dir worth attaching; consumers validate per file
        if os.path.isfile(os.path.join(cand, "meta.json")) or os.path.isfile(
            os.path.join(cand, "dorder_meta.json")
        ):
            tier_dir = cand
        try:
            st = os.stat(os.path.join(store_dir, "_meta.json"))
            store_stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            pass
    return Graph(
        triples=spark.read.schema(TRIPLES_SCHEMA).parquet(f"{path}/triples"),
        terms=spark.read.schema(terms_schema).parquet(f"{path}/terms"),
        s_projection=sproj,
        store_meta=read_store_manifest(path),
        tier_dir=tier_dir,
        store_dir=store_dir,
        store_stamp=store_stamp,
    )
