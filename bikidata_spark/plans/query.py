"""The bikidata JSON query API compiled to Spark DataFrame plans.

Reference counterpart: ``query(opts)`` in reference query.py:620-886 —
a JSON dict with ``filters`` (boolean set algebra over subject sets),
``size/start`` paging, ``order`` (label-aware sort API), ``aggregates``
(facets), ``paths`` (recursive ancestor chains) and hydration projection
``only_properties``/``exclude_properties``.

Design (Spark-first, 100 TB-minded):
- every filter compiles to a DataFrame of subject ids (longs); the
  boolean algebra is DataFrame ``union / intersect / subtract`` which
  Catalyst lowers to semi/anti joins — no driver-side sets;
- term → id constants are embedded as ``xxhash64(lit(term))`` expressions
  so Catalyst constant-folds them; Python never hashes;
- scores (fts/semantic) ride in a separate (s, score) frame, combined by
  max, only consulted at page-ordering time (reference query.py:680-729);
- only the final page (≤ ``size`` rows) is ever collected.
"""

from __future__ import annotations

import contextlib
import functools
import logging
import os
import threading
import weakref

import numpy as np

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..graph import Graph, local_relation
from ..operators.fts import FtsIndex, build_fts_index

log = logging.getLogger(__name__)

RDFS_LABEL_IRI = "<http://www.w3.org/2000/01/rdf-schema#label>"
MAX_PATH_DEPTH = 24
# paths(): join levels per localCheckpoint+isEmpty probe — batching
# cuts driver round-trips ~3× while keeping lineage bounded
_CHECK_EVERY = 3
SAMPLE_SEED = 42
# frontier row count under which each parent-hop joins as an explicit
# broadcast (~8-16 B/row → ≤ ~10 MB broadcast); override via env
_HOP_BROADCAST_ROWS = int(os.environ.get("BIKIDATA_SPARK_HOP_BROADCAST_ROWS", "500000"))
# subject-set size under which query() collects the (s, s_value) pairs
# and pages driver-side (see _query_impl): ~16-80 B/row → ≤ ~5 MB at
# the cap. 50k measured better than 20k at sf1, where common segment
# filters land at ~30k subjects and would otherwise pay the bounded
# probe AND the distributed page
_FAST_PAGE_ROWS = int(os.environ.get("BIKIDATA_SPARK_FAST_PAGE_ROWS", "50000"))
# fast-page accept cap when a driver-resident dictionary OR order
# index serves the sort (int64 rank argsort + page-only value decode —
# no per-member Python strings), so the bound is just the bare-hash
# Arrow collect (~8 B/row): 4M rows ≈ 32 MB transient, and the cached
# member set charges the residency ledger (r13: raised from 500k —
# sf10's 1.5M-member ordered page was cap-rejected into the
# distributed path even with the order index resident)
_FAST_PAGE_DICT_ROWS = int(
    os.environ.get("BIKIDATA_SPARK_FAST_PAGE_DICT_ROWS", "4000000")
)
# literal IN-list probes beat a broadcast join only while the list is
# page-sized — building the expression costs ~0.5 ms/element over py4j
_ISIN_PROBE_MAX = 200
# count_by_property memo (r14): rows cached per (generation, prop) when
# the property's value vocabulary fits the cap; larger results cache a
# rejection marker (None) so repeats skip the probe. Bound the driver
# footprint at cap*max ≈ 800k small tuples worst case.
_CBP_MEMO_CAP = int(os.environ.get("BIKIDATA_SPARK_CBP_MEMO_ROWS", "50000"))
_CBP_MEMO_MAX = 16
_CBP_UNSEEN = object()
# Sentinel returned as the "scores" half of filter_subjects() when the
# subject frame carries UN-aggregated (s, score) rows: _subjects_uncached
# folds the per-subject max score (reference s_by_score, query.py:682-684)
# and the membership distinct into its single tagged aggregation, so one
# shuffle computes both — instead of a persist + distinct + separate
# score groupBy per scored filter.
_INLINE_SCORES = object()
# facet value-cardinality cap: a facet on a high-cardinality property
# (labels, external IDs) would otherwise collect EVERY distinct value to
# the driver — at 100x corpus scale that is a driver OOM, not a result
# anyone pages through. Facets return the top N buckets by (count desc,
# val asc) — deterministic, and expressible as TakeOrderedAndProject /
# a bounded per-tag window so the driver only ever receives N rows per
# facet. Callers opt OUT per-request with ``aggregates_limit: 0`` in the
# query opts (full cardinality, the reference's unbounded behavior,
# reference query.py:744-753) or pick their own N.
FACET_MAX_VALUES = int(os.environ.get("BIKIDATA_SPARK_FACET_MAX", "1000"))
# paths(): hierarchies with at most this many edges are collected once
# per generation and walked driver-side (hierarchies are dimension
# tables — regions/categories/taxonomies — so this covers virtually
# all of them); bigger ones take the distributed walk
# driver-local paths walk: parent hierarchies are dimension-shaped
# (taxonomies, org trees — even Wikidata's P279 is single-digit
# millions), so the default budgets ~200 MB of driver dict for a
# zero-job walk; the bounded limit(cap+1) probe keeps an over-cap
# hierarchy on the distributed BFS. r9: 200k → 2M (sf3's 450k-edge
# hierarchy was paying a 19-job BFS per request just past the old cap).
_LOCAL_PATHS_EDGES = int(os.environ.get("BIKIDATA_SPARK_LOCAL_PATHS_EDGES", "2000000"))
_LOCAL_PATHS_SUBJECTS = int(os.environ.get("BIKIDATA_SPARK_LOCAL_PATHS_SUBJECTS", "20000"))
# local walk row budget: multi-parent DAGs multiply path rows per level
# (a diamond ladder doubles them) — past this the local walk bails and
# the distributed walk (which spreads the same blowup over executors)
# takes over
_LOCAL_PATHS_MAX_ROWS = int(os.environ.get("BIKIDATA_SPARK_LOCAL_PATHS_MAX_ROWS", "2000000"))
# driver-memory budget under which query() serves from a driver-
# resident mirror of the store with ZERO Spark jobs per request
# (plans/local_tier.py — the logical conclusion of the capped fast-path
# family: at the measured ~70-120 ms/job scheduler floor, sub-100 ms
# point serving cannot cross the job scheduler at all).
#
# r10: the cap is a BYTE budget, not a row count — the r9 4M-row cap
# was proxying for the term dictionary's Python dict/str footprint,
# which the array-backed TermDict eliminated (~25 B/term + UTF-8 blob
# vs ~200 B/term of PyObject overhead). The default 2 GiB serves sf1
# (11M quads + 5.6M terms ≈ 1.4 GiB) from the tier on any reasonably
# provisioned driver and leaves sf3 (33M quads ≈ 3.5 GiB estimate) on
# the distributed path. Sizing probes are bounded (build_local_tier);
# 0 disables the byte check (row cap only).
_LOCAL_TIER_BYTES = int(
    os.environ.get("BIKIDATA_SPARK_LOCAL_TIER_BYTES", str(2 * 1024**3))
)
# row cap: explicit env wins; otherwise derived from the byte budget
# at the build-time per-quad charge + dictionary headroom (80 B/quad
# ≈ QUAD_TIER_BYTES + a 1-terms-per-4-quads dictionary share), so the
# bounded limit(rows+1).count() probe can reject a petabyte store
# without ever scanning its terms table. ≤0 disables the tier (tests
# pinning distributed plan shapes set this).
_LTR_ENV = os.environ.get("BIKIDATA_SPARK_LOCAL_TIER_ROWS")
_LOCAL_TIER_ROWS = (
    int(_LTR_ENV) if _LTR_ENV is not None else max(_LOCAL_TIER_BYTES // 80, 1)
)
# dictionary-only driver cache budget for over-tier-cap graphs (see
# Engine.term_cache_bytes); 1 GiB covers ~15M terms of TPC-H-shaped
# dictionary — sf3's fits comfortably
_TERM_CACHE_BYTES = int(
    os.environ.get("BIKIDATA_SPARK_TERM_CACHE_BYTES", str(1024**3))
)
# s-clustered point-probe projection (see Engine._point_probe_triples):
# "auto" builds it for over-tier-cap engines on their second probe
# against a stable base; "1" forces, "0" disables.
_POINT_PROBE_FRAME = os.environ.get("BIKIDATA_SPARK_POINT_PROBE_FRAME", "auto")
# IRI-object hop-edges projection (see Engine._hop_edges): same gating
_HOP_EDGES_FRAME = os.environ.get("BIKIDATA_SPARK_HOP_EDGES", "auto")
# driver-resident o-sorted hop index (see Engine._hop_driver_index):
# auto|0|1 + row cap (2 int64 columns -> ~16 B/edge; 32M edges = 512 MB)
_DRIVER_HOP = os.environ.get("BIKIDATA_SPARK_DRIVER_HOP", "auto")
_DRIVER_HOP_MAX_EDGES = int(
    os.environ.get("BIKIDATA_SPARK_DRIVER_HOP_MAX_EDGES", "32000000")
)
# broadcast-hint ceiling for the hop-index build's IRI-term semi-join:
# past this many IRI terms the broadcast table (~56 B/row of JVM
# object overhead) stops fitting comfortably in a default driver heap,
# and Catalyst's own join choice (shuffle) is the safe one-time cost
_DRIVER_HOP_BCAST_TERMS = int(
    os.environ.get("BIKIDATA_SPARK_DRIVER_HOP_BCAST_TERMS", "16000000")
)
# driver-walk bail-outs: frontier rows collected per request, and the
# per-hop output row cap past which the walk falls back to the join
_DRIVER_WALK_FRONTIER_MAX = int(
    os.environ.get("BIKIDATA_SPARK_DRIVER_WALK_FRONTIER_MAX", "1000000")
)
_DRIVER_WALK_ROW_MAX = int(
    os.environ.get("BIKIDATA_SPARK_DRIVER_WALK_ROW_MAX", "8000000")
)
# driver-resident order-key index (see Engine._order_driver_index):
# the persisted full-corpus order-key frame collected once per
# (generation, rule), label strings rank-encoded — ordered pages then
# sort int64 keys driver-side. ~24 B/labeled subject.
_DRIVER_ORDER = os.environ.get("BIKIDATA_SPARK_DRIVER_ORDER", "auto")
_DRIVER_ORDER_MAX_ROWS = int(
    os.environ.get("BIKIDATA_SPARK_DRIVER_ORDER_MAX_ROWS", "16000000")
)
# resident order-index entry pricing: s (int64) + label rank (int64) +
# natural-prefix num/num_null (int64 + bool) per labeled subject
_ORDER_ENTRY_BYTES_PER_ROW = 25
# ONE number bounds TOTAL driver residency (r12): every driver-resident
# structure registers its measured bytes in Engine._residency_ledger
# ("tier", "term_cache", "hop_index", "order_index:<sig>",
# "paths_edges:<prop>"), and the aux indexes charge their priced cost —
# INCLUDING the transient collect (the order index's label blob is
# sized with a count+octet_length aggregation BEFORE toArrow, the
# _term_dict discipline) — against budget − ledger-total before
# admitting. Default budget = tier budget + dictionary budget, exactly
# the envelope the per-structure gates already allowed; the FTS mirror
# spends the tier budget's own headroom and is accounted inside the
# tier entry (its 8M-posting floor adds ≤ ~512 MB of documented
# slack). Env is read per call so serving operators can retune live.
def _residency_budget_env():
    env = os.environ.get("BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES")
    if env is None:
        return None
    try:
        return int(env)
    except ValueError:
        return None

def patch_paths_edges(edges_map, prop_hash, ins_rows, del_idx, s_col, p_col, o_col):
    """Apply one mutation's edge delta to a driver-resident
    {child: [parents]} hierarchy map (the paths() walk input —
    reference query.py:802-822), COPY-ON-WRITE: the input map is never
    mutated, so in-flight readers of the pre-mutation generation keep
    a consistent view; untouched parent lists are shared between the
    copies (one O(#children) dict copy + O(delta) list copies).

    ``ins_rows`` are (s, p, o, g) hash tuples; ``del_idx`` are row
    indexes into the PRE-patch tier columns (``s_col``/``p_col``/
    ``o_col``). Edge multiplicity mirrors quad multiplicity (the map
    is collected straight off the triples filter), so an insert
    appends one occurrence and a delete removes one.

    Returns (patched map, net edge delta)."""
    m2 = edges_map.copy()
    delta = 0
    for s, p, o, _g in ins_rows:
        if p == prop_hash:
            lst = list(m2.get(s, ()))
            lst.append(o)
            m2[s] = lst
            delta += 1
    if del_idx is not None and del_idx.size:
        hit = del_idx[p_col[del_idx] == prop_hash]
        for i in hit.tolist():
            s, o = int(s_col[i]), int(o_col[i])
            lst = m2.get(s)
            if lst is None:
                continue
            lst = list(lst)
            try:
                lst.remove(o)
                delta -= 1
            except ValueError:
                pass  # map predates the edge (defensive; cannot happen
                # for a complete under-cap collect)
            m2[s] = lst
    return m2, delta


# driver-side helper pool for intra-request job concurrency (facets
# overlapping page hydration). Created lazily PER PROCESS: a forked
# serving worker must not inherit the parent's executor threads/locks
# (they do not survive fork), so the pid guard rebuilds it on first use
# in any new process.
_FACET_POOL_STATE: list = [None, None]  # [executor, pid]


def _facet_pool():
    import concurrent.futures

    if _FACET_POOL_STATE[0] is None or _FACET_POOL_STATE[1] != os.getpid():
        _FACET_POOL_STATE[0] = concurrent.futures.ThreadPoolExecutor(
            max_workers=8, thread_name_prefix="bikidata-facet"
        )
        _FACET_POOL_STATE[1] = os.getpid()
    return _FACET_POOL_STATE[0]
# postings-row cap for the tier's driver-side FTS mirror (lazily built
# per FtsIndex; over-cap indexes leave fts filters on the distributed
# term-at-a-time path)
_LOCAL_TIER_FTS_ROWS = int(os.environ.get("BIKIDATA_SPARK_LOCAL_TIER_FTS_ROWS", "8000000"))


# Session-global state that must be keyed by the SESSION, not the
# engine: two Engines sharing one SparkSession would otherwise clobber
# each other — one engine's raw() views replacing the other's between
# its calls, and overlapping _no_aqe scopes saving each other's
# already-toggled conf value and leaving AQE off for good.
_SESSION_LOCK = threading.Lock()
_RAW_VIEW_OWNER: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_AQE_STATE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


@functools.lru_cache(maxsize=8192)
def H(term: str) -> Column:
    """Constant-foldable 64-bit id of a term (reference query.py:224-227).

    Memoized: every Column construction is 2+ py4j round-trips (~1 ms
    each), and a point query references the same handful of property
    IRIs on every request — at the measured serving floor, rebuilding
    them per query was a visible slice of driver-side latency. The
    expression is unbound (no plan/session state), so reuse is safe."""
    return F.xxhash64(F.lit(term))


def _isin_terms(col: Column, terms: list[str]) -> Column:
    return reduce(lambda a, b: a | b, [col == H(t) for t in terms])


def parse_hops_and_prop(p_str: str) -> tuple[int, str | None, str]:
    """Parse 'fts', 'fts 2', 'fts <iri>', 'fts 2 <iri>' and the
    '<iri> N' n-hop forms (reference query.py:90-107)."""
    toks = (p_str or "").split()
    hops, prop = 0, None
    if len(toks) >= 2:
        if toks[1].isdigit():
            hops = int(toks[1])
            if len(toks) >= 3 and toks[2].startswith("<") and toks[2].endswith(">"):
                prop = toks[2]
        elif toks[1].startswith("<") and toks[1].endswith(">"):
            prop = toks[1]
    return hops, prop, toks[0] if toks else ""


def _parse_size_start(opts: dict) -> tuple[int, int]:
    """size=0 is meaningful (aggregates-only query, reference
    examples.ipynb cell 4: ``{"size": 0, ..., "aggregates": [...]}``);
    only unparseable values fall back to the defaults
    (reference query.py:621-628 try/except)."""
    try:
        size = int(opts.get("size", 999))
    except (TypeError, ValueError):
        size = 999
    try:
        start = int(opts.get("start", 0))
    except (TypeError, ValueError):
        start = 0
    return size, start


def _normalize_order_rules(order_rules):
    """dict | [dict] | [[dict]] → flat [dict] (reference query.py:230-242)."""
    if not order_rules:
        return []
    if isinstance(order_rules, dict):
        return [order_rules]
    if isinstance(order_rules, list) and order_rules and isinstance(order_rules[0], list):
        return order_rules[0]
    return order_rules


@dataclass
class Engine:
    """A query engine over one dictionary-encoded graph."""

    graph: Graph
    # optional subject embeddings for `semantic` filters: (s: long, vec: array<float>)
    embeddings: DataFrame | None = None
    # embedding provider for text queries; defaults to a deterministic stub
    embed_fn: object = None
    _fts: FtsIndex | None = field(default=None, repr=False)
    # persisted cell-partitioned IVF layout for `semantic` filters:
    # (vectors_df, centroids_df, nprobe) — see load_ivf()
    _ivf: tuple | None = field(default=None, repr=False)
    # driver-resident (cents_df, cids, cent_mat) twin of the store's tiny
    # static centroid table, collected ONCE at load_ivf: per-query
    # probe-cell resolution is a k×d fold on the driver
    # (local_tier.probe_cells_fold, bit-identical to the _nearest_cells
    # HOF job it replaces), not a Spark job per request — measured half
    # the steady sf0.1 semantic request (r14). The leading cents_df
    # IDENTITY ties the twin to one load_ivf generation: a reader that
    # catches a concurrent re-load mid-request sees the mismatch and
    # falls back to the per-query job (correct either way, never a
    # new-centroids-on-old-store pairing)
    _ivf_probe: tuple | None = field(default=None, repr=False)
    # persisted subject-set cache keyed by the filter spec (the Spark
    # counterpart of the reference's Redis result cache, workers.py:89-107;
    # a persisted DataFrame is shared by every downstream action).
    # Bounded: LRU-evicted past `subject_cache_max` entries and expired
    # past `subject_cache_ttl_s` (the reference's 7-day Redis expiry) —
    # a long-lived serving process must not accumulate persisted blocks
    # for every distinct filter spec it has ever seen.
    _subject_cache: dict = field(default_factory=dict, repr=False)
    subject_cache_max: int = 32
    subject_cache_ttl_s: float = 7 * 24 * 3600.0
    _subject_cache_hits: int = field(default=0, repr=False)
    _subject_cache_misses: int = field(default=0, repr=False)
    # how many `semantic` filters ran WITHOUT an IVF store (full
    # embeddings scan per query — fine for a batch job, a silent
    # scale-killer in a serving deployment; see _semantic_filter)
    _semantic_fallback_scans: int = field(default=0, repr=False)
    # guards the subject cache's pop/re-insert LRU touch and eviction
    # loop plus the stat counters — Serving drives this engine from a
    # thread pool, and an unguarded pop(key) races to a KeyError
    _cache_lock: object = field(default_factory=threading.RLock, repr=False)
    # per-request persisted frames (e.g. the fts walked-score frame)
    # keyed by requesting thread: query() releases ITS OWN entries in a
    # finally, so sustained serving cannot accumulate storage blocks
    # between driver GC cycles. Keyed per-thread because Serving runs
    # many query() calls concurrently on this one Engine — a global
    # release would drop a sibling request's cache mid-flight.
    _transient_caches: dict = field(default_factory=dict, repr=False)
    # (the no-AQE scope's ref-count lives in module-level _AQE_STATE,
    # keyed by SparkSession — see _no_aqe)
    # compiled (subjects, scores) PLANS keyed by (generation, filter
    # spec): skips per-request Column/plan construction, never skips
    # execution — orthogonal to the persisted RESULT cache above
    _plan_cache: dict = field(default_factory=dict, repr=False)
    # persisted full-corpus (s, sort_label[, num_prefix]) frames keyed
    # by (generation, order rule): a sort INDEX — ordered pages join
    # their (small) subject set against it instead of re-deriving
    # labels from triples+terms per request
    _order_key_cache: dict = field(default_factory=dict, repr=False)
    _ORDER_KEY_CACHE_MAX = 8
    # persisted (child, parent) edge frames per paths() property: every
    # walk level probes the dimension-sized hierarchy instead of
    # re-scanning corpus triples
    _paths_edge_cache: dict = field(default_factory=dict, repr=False)
    # driver-collected {child: [parents]} maps for hierarchies under
    # _LOCAL_PATHS_EDGES (None = measured too big, stay distributed)
    _paths_edge_maps: dict = field(default_factory=dict, repr=False)
    # edge counts for the maps above (same keys), so the mutation-path
    # carry (_carry_paths_maps) can enforce the cap in O(delta)
    _paths_edge_map_sizes: dict = field(default_factory=dict, repr=False)
    # bumped by replace_graph: a query thread that computed its subject
    # set against the OLD graph must not repopulate the cache after the
    # swap (the key is only the filter spec, so a stale insert would be
    # served until TTL). _cache_put drops inserts from older generations.
    _graph_generation: int = field(default=0, repr=False)
    # driver-resident point-query tier (plans/local_tier.py): built once
    # per generation for graphs under `local_tier_rows` quads, serves
    # query() with zero Spark jobs. 0 disables (tests pinning
    # distributed plan shapes set this).
    local_tier_rows: int = field(default=_LOCAL_TIER_ROWS)
    # byte budget for the mirror (quads at 64 B + dictionary arrays +
    # UTF-8 blob — see build_local_tier); 0 = row cap only
    local_tier_bytes: int = field(default=_LOCAL_TIER_BYTES)
    local_tier_fts_rows: int = field(default=_LOCAL_TIER_FTS_ROWS)
    # DICTIONARY-ONLY driver cache for over-tier-cap graphs (r10): the
    # band where the quads are too big to mirror but the term
    # dictionary fits is exactly where the distributed point path paid
    # one full terms scan per request for hash->value resolution
    # (_term_values broadcast join — unprunable: xxhash keys are
    # uniform, so any 10k-member probe touches every batch; the
    # OR-of-ranges negative result is pinned in docs/PLANS.md). A
    # dimension-dictionary cache is the classic warehouse answer. Same
    # discipline as the tier: bounded sizing probe (one count +
    # octet_length aggregation, no collect), byte budget, generation
    # keyed, patched forward across mutations (terms only ever grow
    # and insert batches carry their lexical forms — reference
    # query.py:505-507), dropped on external replace_graph. 0 disables.
    term_cache_bytes: int = field(default=_TERM_CACHE_BYTES)
    _term_cache_state: tuple | None = field(default=None, repr=False)
    _term_cache_lock: object = field(default_factory=threading.Lock, repr=False)
    # (generation, LocalTier | None) — None value = measured over-cap
    _local_tier_state: tuple | None = field(default=None, repr=False)
    _local_tier_lock: object = field(default_factory=threading.Lock, repr=False)
    # serializes mutate(): the tier patch reads tier state, swaps the
    # graph, and writes patched state as one logical step; concurrent
    # mutations would interleave those (Serving additionally serializes
    # at its layer, but the engine API must be safe on its own)
    _mutate_lock: object = field(default_factory=threading.Lock, repr=False)
    # CHAINED per-mutation plans are poison: one union/anti-join per
    # mutation makes every distributed action re-analyze an N-deep tree
    # (measured: a regex query that takes 1.4 s on a fresh graph fails
    # to finish in 25 s after 150 chained mutations; a 64-union count
    # costs ~18 s PER ACTION). The tier path therefore keeps the
    # mutation delta in DRIVER buffers and rebuilds a CONSTANT-depth
    # plan per mutation: base → anti-join(all deleted patterns) →
    # union(one LocalRelation of all surviving inserts). The buffers
    # fold into a new base via localCheckpoint past this many entries
    # (the shallow plan checkpoints in ~2 s; amortized sub-ms). The
    # job-paying no-tier fallback truncates by mutation COUNT at the
    # same knob. Cluster deployments that cannot tolerate executor-
    # local checkpoint blocks should route sustained mutation volume
    # through the durable streaming store (streaming/mutations). 0
    # disables folding.
    mutation_fold_rows: int = field(
        default=int(os.environ.get("BIKIDATA_SPARK_MUTATION_FOLD", "4096"))
    )
    # driver-buffered mutation delta: {"base": Graph, "current": Graph,
    # "ins": [(s,p,o,g)], "del4": [(s,p,o,g)], "del3": [(s,p,g)],
    # "terms": [(hash, value, is_literal)]} — valid only while
    # self.graph is st["current"] (an external replace_graph resets)
    _mut_state: dict | None = field(default=None, repr=False)
    # s-clustered point-probe projection for distributed hydration/sp
    # probes: (base Graph, persisted frame). See _point_probe_triples.
    _hyd_state: tuple | None = field(default=None, repr=False)
    _hyd_last_base: object = field(default=None, repr=False)
    # IRI-object hop-edges projection for distributed n-hop walks:
    # (base Graph, persisted frame). See _hop_edges.
    _hop_edge_state: tuple | None = field(default=None, repr=False)
    _hop_edge_last_base: object = field(default=None, repr=False)
    # driver-resident o-sorted edge index: (base Graph, (o_sorted,
    # s_by_o) | None). See _hop_driver_index.
    _hop_idx_state: tuple | None = field(default=None, repr=False)
    _hop_idx_last_base: object = field(default=None, repr=False)
    # base currently being sized/collected by one thread (guarded by
    # _cache_lock): concurrent hop requests fall back to the
    # distributed walk instead of queueing behind the build (r13 —
    # the build used to hold _cache_lock across its Spark collect,
    # blocking every tier point query for its duration at sf10)
    _hop_idx_building: object = field(default=None, repr=False)
    # driver-resident order-key indexes: {(gen, rule-sig): entry} +
    # the second-sighting set. See _order_driver_index.
    _order_idx_cache: dict = field(default_factory=dict, repr=False)
    _order_idx_seen: set = field(default_factory=set, repr=False)
    # driver-resident member-set cache (r13): {(gen, filters-json):
    # sorted-unique int64 member hashes}. An ordered/rank-sorted page
    # over an over-cap engine pays one bounded member collect; the
    # steady-state repeats of the same filter spec should not re-scan
    # a corpus-sized subject set per request (the reference rebuilds
    # its sorted temp table per query — reference query.py:316 — so
    # serving repeats from the resident set is an architectural win,
    # not result-affecting: the cache is generation-keyed and byte-
    # charged to the residency ledger). See _member_set_get/_put.
    _member_sets: dict = field(default_factory=dict, repr=False)
    # (generation, filters-json) -> member count (r14): the distinct-
    # member count job is the one corpus-proportional action a
    # repeated hydrate/facet request still pays in steady serving.
    # Pure function of (graph, filters) — same keying precedent as the
    # member-set cache; ints only, LRU-bounded, no ledger charge.
    _filter_totals: dict = field(default_factory=dict, repr=False)
    # observability counters surfaced by driver_residency() (r14):
    # order-index/member-set evictions, re-collects of a previously
    # evicted order rule (the ~24-43 s miss cost at sf10), sidecar
    # loads. Mutated under _cache_lock; never result-affecting.
    _cache_stats: dict = field(default_factory=dict, repr=False)
    # rule sigs whose resident order index was LRU-evicted this
    # generation — distinguishes a churn re-collect from a first build
    _order_idx_evicted: set = field(default_factory=set, repr=False)
    # serializes read-modify-write of the store dorder sidecar meta
    # (persist_driver_orders and eviction-time warming share it)
    _dorder_file_lock: object = field(default_factory=threading.Lock, repr=False)
    # measured bytes of every driver-resident structure, keyed by name —
    # one ledger, one budget (_residency_budget) bounds the driver's
    # total data residency. Guarded by _cache_lock.
    _residency_ledger: dict = field(default_factory=dict, repr=False)
    _mutations_since_ckpt: int = field(default=0, repr=False)
    # observability (surfaced via cache_stats → Serving.status())
    _mutations_patched: int = field(default=0, repr=False)
    _fts_incremental_updates: int = field(default=0, repr=False)
    _lineage_folds: int = field(default=0, repr=False)
    # dictionary shed (scale-hardening beyond the reference, which never
    # GCs terms — reference query.py:505-507): the FTS index is a pure
    # function of the literal dictionary, so sustained literal churn
    # (insert L, delete L, repeat) grows the dictionary AND the postings
    # without bound even though the dead literals are unobservable
    # through every query surface. The tier delete path counts literals
    # whose LAST quad reference is being deleted; once the dead count
    # passes both floors, _shed_dead_terms GCs the dictionary down to
    # referenced terms and drops derived state for rebuild — postings
    # and terms stay proportional to the LIVE corpus. The counter is a
    # heuristic upper bound (a re-inserted dead literal decrements it;
    # the shed itself recomputes truth distributed), and the shed runs
    # only from the tier-resident mutation path — batch deployments GC
    # via compact_store / a scratch rebuild instead.
    shed_min_literals: int = field(
        default=int(os.environ.get("BIKIDATA_SPARK_SHED_MIN_LITERALS", "256"))
    )
    shed_fraction: float = field(
        default=float(os.environ.get("BIKIDATA_SPARK_SHED_FRACTION", "0.2"))
    )
    _dead_literals: int = field(default=0, repr=False)
    _terms_shed: int = field(default=0, repr=False)
    # the last successful tier patch, for serving_pool to replay into
    # its forked workers: {"ins": [(s,p,o,g)], "del": ndarray,
    # "terms": [(hash, value)], "fts": "keep"|"drop"|("rows", rows,
    # n_docs, avgdl), "new_tier": LocalTier}. The delta is exactly the
    # arguments LocalTier.patched received, so an identically-evolved
    # fork applying them lands on a byte-identical mirror.
    _last_tier_delta: dict | None = field(default=None, repr=False)

    def replace_graph(self, graph: Graph) -> None:
        """Swap in a new (immutable) graph after a mutation; derived
        indexes and cached subject sets are invalidated. Single
        reference assignment — in-flight queries keep reading the old
        graph's DataFrames safely."""
        self.graph = graph
        if self._fts is not None:
            for df in (self._fts.postings, self._fts.token_df, self._fts.doc_len):
                try:
                    df.unpersist()
                except Exception:
                    pass
        self._fts = None
        with self._cache_lock:
            self._graph_generation += 1
            for cached, _, _ in self._subject_cache.values():
                try:
                    cached.unpersist()
                except Exception:
                    pass
            self._subject_cache = {}
            # compiled plans reference the OLD graph's frames
            self._plan_cache = {}
            for df in self._order_key_cache.values():
                try:
                    df.unpersist()
                except Exception:
                    pass
            self._order_key_cache = {}
            self._order_idx_cache = {}
            self._order_idx_seen = set()
            self._order_idx_evicted = set()  # generation-scoped, like the cache
            self._member_sets = {}
            self._filter_totals = {}
            for df in self._paths_edge_cache.values():
                try:
                    df.unpersist()
                except Exception:
                    pass
            self._paths_edge_cache = {}
            self._paths_edge_maps = {}
            self._paths_edge_map_sizes = {}
            self._local_tier_state = None
            self._term_cache_state = None
            # generation-scoped residency drops with its structures;
            # the hop index entry stays — _hop_idx_state is base-keyed
            # and its arrays remain referenced until a rebuild evicts
            # them, so the ledger keeps telling the truth
            self._residency_ledger = {
                k: v
                for k, v in self._residency_ledger.items()
                if k == "hop_index"
            }

    # ---- mutations -------------------------------------------------------
    def mutate(self, action: str, data: list[dict], are_hashes: bool = False) -> dict:
        """Apply an insert/delete (reference ``handle_insert`` /
        ``handle_delete``, query.py:468-617) and keep the resident local
        tier warm across the generation bump.

        Without a resident tier this defers to operators.mutations (the
        distributed lineage path: existence checks are corpus semi-join
        counts, and the next point query pays a full tier re-collect).
        With one, the whole mutation is ZERO Spark jobs: term ids are
        minted driver-side (functions/xxh.py, fuzz-pinned bit-identical
        to the JVM ``xxhash64``), the dup/existence guards are sorted-
        array probes on the mirror, the new graph DataFrames are pure
        lineage (unionAll/anti-join over a LocalRelation — nothing
        executes until a distributed query needs it), and the tier is
        PATCHED (LocalTier.patched, O(n)-merged indexes) instead of
        re-collected. Measured at sf0.1 (1.14M quads): an
        insert → point-query → delete cycle drops from ~7.2 s on the
        r8 serving path (distributed guard jobs + graph swap + the next
        query's full tier re-collect) to well under 0.1 s, all
        driver-side (docs/PLANS.md §Zero-job mutations).
        """
        from ..operators.mutations import delete as _op_delete
        from ..operators.mutations import insert as _op_insert

        with self._mutate_lock:
            st = self._local_tier_state
            tier = (
                st[1]
                if (st is not None and st[0] == self._graph_generation)
                else None
            )
            if tier is None:
                # (generation, None) = this graph was SIZED and measured
                # over the tier cap — remember across the swap below
                was_over_cap = (
                    self._local_tier_state is not None
                    and self._local_tier_state[0] == self._graph_generation
                    and self._local_tier_state[1] is None
                )
                tc = self._term_cache_state
                term_cache = (
                    tc[1]
                    if tc is not None and tc[0] == self._graph_generation
                    else None
                )
                if action == "insert":
                    new_graph, result = _op_insert(self.graph, data)
                else:
                    new_graph, result = _op_delete(self.graph, data, are_hashes=are_hashes)
                if "error" not in result:
                    if action == "delete":
                        # deletes never shrink the term dictionary, so
                        # the FTS index survives (_swap_graph_keep_fts)
                        self._swap_graph_keep_fts(new_graph)
                    else:
                        self.replace_graph(new_graph)
                    if was_over_cap and action == "insert":
                        # an insert cannot bring an over-cap graph under
                        # the cap: carry the sizing verdict so the next
                        # query skips the bounded limit-count probe
                        # (deletes re-probe — they CAN shrink under it)
                        self._local_tier_state = (self._graph_generation, None)
                    if term_cache is not None:
                        # carry the dictionary cache across the bump:
                        # deletes never shrink the dictionary, and an
                        # insert batch carries its lexical forms — the
                        # driver-side hash mirrors the plan's left_anti
                        # exactly (same xxhash64, functions/xxh.py)
                        if action == "insert":
                            from ..functions.xxh import term_id

                            for d in data:
                                for v in (
                                    d["s"], d["p"], d["o"], d.get("g", "") or ""
                                ):
                                    h = term_id(v)
                                    if not term_cache.contains_hash(h):
                                        term_cache.add(h, v, v.startswith('"'))
                        self._term_cache_state = (
                            self._graph_generation, term_cache
                        )
                        self._register_residency(
                            "term_cache", term_cache.nbytes
                        )
                    self._maybe_checkpoint_lineage()
                return result
            if action == "insert":
                result = self._mutate_insert_tier(tier, data)
            else:
                result = self._mutate_delete_tier(tier, data, are_hashes)
            if "error" not in result:
                self._mutations_patched += 1
                self._maybe_checkpoint_lineage()
                if action == "delete":
                    self._maybe_shed_dead_terms()
            return result

    def _mut_buffers(self) -> dict:
        """Get-or-reset the driver-side mutation delta. The buffers are
        valid only while self.graph is the frame THEY produced; any
        external replace_graph starts a fresh base."""
        st = self._mut_state
        if st is None or st.get("current") is not self.graph:
            st = self._mut_state = {
                "base": self.graph,
                "current": self.graph,
                "ins": [],
                "del4": [],
                "del3": [],
                "terms": [],
            }
        return st

    @staticmethod
    def _apply_delete_buffers(st: dict, pats4: list, pats3: list) -> None:
        """Record delete patterns: buffered inserts matching them are
        removed DRIVER-side (they never reached the base), the patterns
        themselves anti-join the base in _mutated_graph."""
        if st["ins"] and (pats4 or pats3):
            p4 = set(pats4)
            p3 = set(pats3)
            st["ins"] = [
                r
                for r in st["ins"]
                if r not in p4 and (r[0], r[1], r[3]) not in p3
            ]
        st["del4"].extend(pats4)
        st["del3"].extend(pats3)

    def _delta_triples(self, t: DataFrame, st: dict) -> DataFrame:
        """Apply the driver-buffered mutation delta to a triples frame:
        anti-join the delete patterns, then union the surviving
        inserts. Deletion patterns only ever target BASE rows (a delete
        hitting a buffered insert removes it from the buffer
        driver-side), and inserts union in AFTER the anti-joins, so an
        insert matching an earlier delete pattern survives — the exact
        step-by-step semantics of the chained plan this replaces.
        Shared by _mutated_graph and the point-probe projection so both
        views of a buffered base stay row-identical."""
        spark = self.graph.spark
        if st["del4"]:
            probe = local_relation(
                spark, sorted(set(st["del4"])), "s long, p long, o long, g long"
            )
            t = t.join(probe, ["s", "p", "o", "g"], "left_anti")
        if st["del3"]:
            probe = local_relation(
                spark, sorted(set(st["del3"])), "s long, p long, g long"
            )
            # USING-join reorders keys to the front — restore canonical
            t = t.join(probe, ["s", "p", "g"], "left_anti").select("s", "p", "o", "g")
        if st["ins"]:
            t = t.unionAll(
                local_relation(spark, st["ins"], "s long, p long, o long, g long")
            )
        return t

    def _point_probe_triples(self) -> DataFrame:
        """Triples frame for subject-point probes (page hydration, the
        sp() batched lookup): an s-range-clustered persisted projection
        of the corpus when this engine serves distributed point queries.

        The corpus cache has no subject locality, so an ``s IN (page)``
        probe decompresses every cached batch — a data-proportional
        scan (~0.4 s at sf1, ~1.5 s at sf3) for a page-sized answer.
        Re-clustering by ``s`` lets InMemoryTableScan's per-batch
        min/max stats prune the probe to the page's batches (~0.1 s at
        sf1, flat in corpus size) — the in-memory twin of write_graph's
        (p, s) file sort, and the Spark analogue of the index the
        reference leans on for hydration point lookups
        (reference query.py:756-787 over DuckDB's physical storage).
        At cluster scale the projection is a second cached copy of the
        corpus clustered on the probe axis — the standard
        one-projection-per-sort-order trade.

        Cost control, in order:
        - auto-gated to engines whose tier sizing probe measured the
          graph OVER the local-tier cap — under-cap graphs hydrate from
          the driver mirror with zero jobs and never reach this path
          (force with BIKIDATA_SPARK_POINT_PROBE_FRAME=1, kill with 0);
        - keyed to the MUTATION BASE, with the driver-buffered delta
          re-applied on top (_delta_triples), so zero-job mutations —
          which bump the generation every cycle — keep the projection;
          rebuilds ride the amortized buffer fold;
        - built on the SECOND consecutive probe against the same base:
          chained no-tier mutations produce a fresh graph object per
          mutation, and building a projection that the next mutation
          invalidates would pay the clustering shuffle per cycle —
          under churn this never builds, under steady serving it builds
          once (the warmup rep, in every serving/bench context).
        """
        mode = _POINT_PROBE_FRAME
        if mode == "0":
            return self.graph.triples
        mst = self._mut_state
        if mst is not None and mst.get("current") is self.graph:
            base, delta = mst["base"], mst
        else:
            base, delta = self.graph, None
        sproj = getattr(base, "s_projection", None)
        if sproj is not None:
            # the store ships an s-clustered projection (write_graph
            # projections=("s",)): use it directly — row-group/batch
            # pruning with zero build cost, so it applies regardless of
            # tier sizing (even a tier-resident engine's regex bails
            # hydrate distributed)
            return self._delta_triples(sproj, delta) if delta else sproj
        if mode != "1":
            st = self._local_tier_state
            if st is None or st[1] is not None:
                # tier disabled/unsized, or resident — don't BUILD one
                return self.graph.triples
        hs = self._hyd_state
        if hs is None or hs[0] is not base:
            if self._hyd_last_base is not base:
                # first sighting of this base: defer the build
                self._hyd_last_base = base
                t = base.triples
                return self._delta_triples(t, delta) if delta else t
            with self._cache_lock:
                hs = self._hyd_state
                if hs is None or hs[0] is not base:
                    if hs is not None:
                        try:
                            hs[1].unpersist()
                        except Exception:
                            pass
                    frame = (
                        base.triples.repartitionByRange("s")
                        .sortWithinPartitions("s")
                        .persist()
                    )
                    hs = self._hyd_state = (base, frame)
        t = hs[1]
        return self._delta_triples(t, delta) if delta else t

    def _hop_edges(self) -> DataFrame:
        """Corpus frame the n-hop walk joins against (``_walk_up``):
        an IRI-OBJECT-ONLY, o-range-clustered persisted projection when
        this engine serves distributed hop queries.

        Every hop probes the corpus on ``o`` with a frontier of SUBJECT
        hashes — and a subject is an IRI/bnode by construction, so a
        literal-object quad can never match (same hash = same
        dictionary term). Filtering the projection to IRI-object rows
        is therefore exact, and it removes the majority of the corpus
        from every hop's stream-side scan (label/value literals
        dominate the quad count in entity-shaped data); projecting the
        o-range cluster also gives InMemoryTableScan per-batch min/max
        on the probed column, which prunes the point-ish probes
        (single-parent frontiers) the way the s projection prunes
        hydration. The one-time build is a corpus × iris semi-join +
        one range shuffle, amortized over every hop request — at
        cluster scale this is the usual one-projection-per-probe-axis
        storage trade (the store's (p,s) file sort covers filters, the
        s projection covers hydration, this covers the o axis).

        Same cost controls as ``_point_probe_triples``: auto-gated to
        over-tier-cap engines (tier-resident graphs hop in the driver
        mirror with zero jobs), keyed to the mutation BASE with the
        buffered delta re-applied on top (inserted literal-object rows
        ride along harmlessly — they cannot match a subject-hash
        frontier), and built on the SECOND consecutive probe against a
        stable base so mutation churn never pays the build.
        BIKIDATA_SPARK_HOP_EDGES=1 forces, 0 disables."""
        mode = _HOP_EDGES_FRAME
        if mode == "0":
            return self.graph.triples
        mst = self._mut_state
        if mst is not None and mst.get("current") is self.graph:
            base, delta = mst["base"], mst
        else:
            base, delta = self.graph, None
        if mode != "1":
            st = self._local_tier_state
            if st is None or st[1] is not None:
                # tier disabled/unsized, or resident — don't build
                return self.graph.triples
        hs = self._hop_edge_state
        if hs is None or hs[0] is not base:
            if self._hop_edge_last_base is not base:
                # first sighting of this base: defer the build
                self._hop_edge_last_base = base
                t = base.triples
                return self._delta_triples(t, delta) if delta else t
            with self._cache_lock:
                hs = self._hop_edge_state
                if hs is None or hs[0] is not base:
                    if hs is not None:
                        try:
                            hs[1].unpersist()
                        except Exception:
                            pass
                    # broadcast the IRI-hash side explicitly: one long
                    # per non-literal term (~36 MB at sf3) — the corpus
                    # is probed in place, never shuffled, which takes
                    # the one-time build from ~16 s to a couple of
                    # seconds at sf3 (the remaining shuffle is the
                    # 33%-sized range repartition of the edges). Hint
                    # gated on the term count (r12): past
                    # _DRIVER_HOP_BCAST_TERMS the broadcast's JVM row
                    # overhead outgrows a default driver heap, and
                    # Catalyst's shuffle join is the safe choice.
                    iri_terms = base.terms.filter(
                        ~F.col("is_literal")
                    ).select(F.col("hash").alias("o"))
                    if iri_terms.count() <= _DRIVER_HOP_BCAST_TERMS:
                        iri_terms = F.broadcast(iri_terms)
                    frame = (
                        base.triples.join(iri_terms, "o", "left_semi")
                        .select("s", "p", "o", "g")
                        .repartitionByRange("o")
                        .sortWithinPartitions("o")
                        .persist()
                    )
                    hs = self._hop_edge_state = (base, frame)
        t = hs[1]
        return self._delta_triples(t, delta) if delta else t

    def _hop_driver_index(self):
        """Driver-resident o-sorted edge index for n-hop walks, or None.

        The same architectural move as the paths hierarchy maps
        (``_paths_edge_maps``) and the point tier, applied to the
        UNPROPERTIED parent walk: the walk only ever touches (s, o)
        pairs whose object is an IRI (see ``_hop_edges``), and that
        column pair is ~16 B/edge — at sf3 (33M quads, over the tier
        budget) the 11M IRI-object edges are ~180 MB, far under what a
        driver holds comfortably. One Arrow collect of the hop-edges
        projection + one argsort, and every subsequent hop is a
        vectorized searchsorted + gather instead of a corpus-wide
        broadcast join: the walk drops from ~0.6 s to single-digit ms
        at sf3, flat in corpus size up to the row cap.

        Gating mirrors the other projections: over-tier-cap engines
        only, second sighting of a stable base (mutation churn never
        pays the build), bail when a buffered delta is pending (the
        index is keyed to the EXACT graph, not patched), and a hard
        edge-row cap (``BIKIDATA_SPARK_DRIVER_HOP_MAX_EDGES``) so a
        100x corpus simply stays on the distributed join."""
        mode = _DRIVER_HOP
        if mode == "0":
            return None
        mst = self._mut_state
        if mst is not None and mst.get("current") is self.graph:
            # buffered delta pending: the resident index would be stale
            return None
        base = self.graph
        if mode != "1":
            st = self._local_tier_state
            if st is None or st[1] is not None:
                return None
        hs = self._hop_idx_state
        if hs is not None and hs[0] is base:
            return hs[1]
        if self._hop_idx_last_base is not base and mode != "1":
            # first sighting of this base: defer the build (mutation
            # churn produces a fresh graph per cycle — never pay the
            # collect for a base the next mutation invalidates)
            self._hop_idx_last_base = base
            return None
        with self._cache_lock:
            hs = self._hop_idx_state
            if hs is not None and hs[0] is base:
                return hs[1]
            if self._hop_idx_building is base:
                # another thread is sizing/collecting this base: take
                # the distributed walk for this request rather than
                # queueing behind a multi-second build
                return None
            self._hop_idx_building = base
        # the Spark work runs OUTSIDE _cache_lock (r13): holding the
        # lock across the sizing count + Arrow collect blocked every
        # tier point query for the build's duration at sf10. Budget
        # admission stays atomic via the same reservation protocol as
        # the order index: priced bytes land in the ledger under the
        # lock BEFORE the collect, replaced by measured after.
        try:
            # direct build — NOT via the persisted _hop_edges frame:
            # the index needs neither the range re-partition nor the
            # executor-side cache, so the one-time cost is just the
            # semi-join (IRI hashes ~8 B/term) + one Arrow collect of
            # the two int64 columns. The broadcast hint is gated on a
            # cheap IRI-term count first (r12): sf10's 36M IRI terms
            # broadcast to ~2 GB of JVM rows and OOM'd an 8 GB driver
            # BEFORE the edge-row cap could reject the build — an
            # over-cap corpus must learn it's over cap at bounded
            # cost, so past the threshold Catalyst picks the join
            # (shuffle at that size — paid once, never fatal).
            iri_terms = base.terms.filter(~F.col("is_literal")).select(
                F.col("hash").alias("o")
            )
            n_iri = iri_terms.count()
            if n_iri <= _DRIVER_HOP_BCAST_TERMS:
                iri_terms = F.broadcast(iri_terms)
            edges = (
                base.triples.join(iri_terms, "o", "left_semi")
                .select("s", "o")
                .persist()
            )
            try:
                n = edges.count()
                with self._cache_lock:
                    if self._hop_idx_building is not base:
                        # a replace_graph + newer build raced past this
                        # one: never clobber the newer base's committed
                        # state/ledger with a stale result
                        return None
                    other = sum(
                        v
                        for k, v in self._residency_ledger.items()
                        if k != "hop_index"
                    )
                    if (
                        n > _DRIVER_HOP_MAX_EDGES
                        or other + n * 16 > self._residency_budget()
                    ):
                        self._hop_idx_state = (base, None)  # sized: too big
                        self._residency_ledger.pop("hop_index", None)
                        return None
                    self._residency_ledger["hop_index"] = n * 16  # reserve
                try:
                    pdf = edges.toPandas()
                    o = pdf["o"].to_numpy().astype(np.int64, copy=False)
                    s = pdf["s"].to_numpy().astype(np.int64, copy=False)
                    order = np.argsort(o, kind="stable")
                    idx = (o[order], s[order])
                except BaseException:
                    with self._cache_lock:
                        self._residency_ledger.pop("hop_index", None)
                    raise
            finally:
                try:
                    edges.unpersist()
                except Exception:
                    pass
            with self._cache_lock:
                if self._hop_idx_building is not base:
                    # stale build (newer base committed meanwhile):
                    # discard rather than clobber — results stay
                    # correct either way since state is base-keyed
                    return idx
                self._hop_idx_state = (base, idx)
                self._residency_ledger["hop_index"] = (
                    idx[0].nbytes + idx[1].nbytes
                )
            return idx
        finally:
            with self._cache_lock:
                if self._hop_idx_building is base:
                    self._hop_idx_building = None

    def _walk_up_driver(self, idx, pdf, hops: int, carry: tuple):
        """Vectorized n-hop walk over the resident edge index. Returns
        the walked rows as numpy columns, or None when a hop's output
        exceeds the row cap (caller falls back to the join walk).
        Multiplicity semantics mirror the distributed loop exactly:
        scored walks keep one row per matching edge per frontier row
        (scores aggregate downstream); plain walks dedup — the
        distributed plan's trailing distinct, applied per hop (same
        final set, bounded intermediate growth)."""
        o_sorted, s_by_o = idx
        f = pdf["s"].to_numpy().astype(np.int64, copy=False)
        carried = [pdf[c].to_numpy() for c in carry]
        for _ in range(hops):
            lo = np.searchsorted(o_sorted, f, side="left")
            hi = np.searchsorted(o_sorted, f, side="right")
            cnt = hi - lo
            total = int(cnt.sum())
            if total > _DRIVER_WALK_ROW_MAX:
                return None
            starts = np.zeros(f.size, dtype=np.int64)
            np.cumsum(cnt[:-1], out=starts[1:])
            pos = np.repeat(lo, cnt) + (
                np.arange(total, dtype=np.int64) - np.repeat(starts, cnt)
            )
            f = s_by_o[pos]
            carried = [np.repeat(c, cnt) for c in carried]
            if not carry:
                f = np.unique(f)
        return f, carried

    def _mutated_graph(self, st: dict) -> Graph:
        """CONSTANT-depth mutated frames from the base + delta buffers:
        base → anti-join(deleted patterns) → union(surviving inserts).
        Triples-side semantics live in _delta_triples (shared with the
        point-probe projection).
        Deletion patterns only ever target BASE rows (a delete hitting
        a buffered insert removes it from the buffer driver-side), and
        inserts union in AFTER the anti-joins, so an insert that
        matches an earlier delete pattern survives — exactly the
        step-by-step semantics of the chained plan it replaces."""
        spark = self.graph.spark
        t = self._delta_triples(st["base"].triples, st)
        terms = st["base"].terms
        if st["terms"]:
            # Arrow ingestion: term values are ARBITRARY text (IRIs,
            # literals), so the token-safe local_relation VALUES path
            # is off-limits — but list-of-tuples createDataFrame pickles
            # through an RDD parallelize (~40 ms per mutation). A
            # pandas frame takes the Arrow batch path: one py4j
            # round-trip, any text, same LogicalRDD plan shape.
            import pandas as pd

            pdf = pd.DataFrame(
                st["terms"], columns=["hash", "value", "is_literal"]
            )
            from ..graph import align_terms

            # a store-read base carries the derived bucket partition
            # column — align_terms derives it for the delta rows
            terms = terms.unionAll(
                align_terms(
                    terms,
                    spark.createDataFrame(
                        pdf, "hash long, value string, is_literal boolean"
                    ),
                )
            )
        return Graph(triples=t, terms=terms)

    def _maybe_checkpoint_lineage(self) -> None:
        """Fold the delta buffers into a new checkpointed base once they
        grow past mutation_fold_rows (tier path), and truncate the
        chained no-tier fallback lineage by mutation count. The swap is
        content-identical — no generation bump, every derived cache
        stays valid; the two checkpoint jobs are the only Spark work on
        the mutation path, amortized to noise."""
        n = self.mutation_fold_rows
        if not n:
            return
        st = self._mut_state
        buffered = (
            st is not None
            and st.get("current") is self.graph
            and (len(st["ins"]) + len(st["del4"]) + len(st["del3"])) >= n
        )
        self._mutations_since_ckpt += 1
        chained = st is None and self._mutations_since_ckpt >= min(n, 16)
        if not (buffered or chained):
            return
        self._mutations_since_ckpt = 0
        self._lineage_folds += 1
        g2 = Graph(
            triples=self.graph.triples.localCheckpoint(eager=True),
            terms=self.graph.terms.localCheckpoint(eager=True),
        )
        self.graph = g2
        self._mut_state = None  # next mutation starts buffers on the new base

    def _retier(self, tier, ins_rows: list, del_rows, new_terms=(), keep_fts=False) -> None:
        """Swap the patched mirror in under the post-bump generation;
        an over-cap result demotes to the distributed path (same cap
        build_local_tier probes). ``keep_fts`` carries the tier's lazy
        FTS mirror over (see _swap_graph_keep_fts for when that's
        sound)."""
        new_tier = tier.patched(ins_rows, del_rows, new_terms)
        if keep_fts:
            new_tier._fts_state = tier._fts_state
        if new_tier.live_rows > self.local_tier_rows or (
            self.local_tier_bytes
            and new_tier.approx_bytes > self.local_tier_bytes
        ):
            new_tier = None
        self._local_tier_state = (self._graph_generation, new_tier)
        self._register_residency(
            "tier", new_tier.approx_bytes if new_tier is not None else None
        )
        self._last_tier_delta = {
            "ins": list(ins_rows),
            "del": del_rows,
            "terms": list(new_terms),
            "fts": "keep" if keep_fts else "drop",
            "new_tier": new_tier,
        }

    def _carry_paths_maps(self, old_maps, old_sizes, tier, ins_rows, del_rows) -> None:
        """Re-key the driver-resident hierarchy maps across a tier
        mutation's generation bump, patched with the mutation's edge
        delta (patch_paths_edges) — otherwise every mutation forces a
        fresh _LOCAL_PATHS_EDGES-bounded collect on the next paths
        request (reference query.py:802-822 is the consumer). An
        over-cap (None) verdict carries across inserts (the hierarchy
        only grew) and drops on deletes so shrinkage re-probes; a
        patched map that outgrows the cap demotes to None. Call AFTER
        the swap (+_retier) with the PRE-patch tier: del_rows index
        its arrays."""
        if not old_maps:
            return
        from ..functions.xxh import term_id

        gen = self._graph_generation
        deleting = del_rows is not None and del_rows.size > 0
        with self._cache_lock:
            for (_g0, prop), m in old_maps.items():
                if m is None:
                    if not deleting:
                        self._paths_edge_maps[(gen, prop)] = None
                    continue
                size = old_sizes.get((_g0, prop))
                if size is None:
                    size = sum(len(v) for v in m.values())
                m2, d = patch_paths_edges(
                    m, term_id(prop), ins_rows, del_rows, tier.s, tier.p, tier.o
                )
                if size + d > _LOCAL_PATHS_EDGES:
                    self._paths_edge_maps[(gen, prop)] = None
                    self._residency_ledger.pop("paths_edges:" + prop, None)
                else:
                    self._paths_edge_maps[(gen, prop)] = m2
                    self._paths_edge_map_sizes[(gen, prop)] = size + d
                    self._residency_ledger["paths_edges:" + prop] = (
                        (size + d) * 96
                    )

    def _swap_graph_keep_fts(self, graph: Graph) -> None:
        """replace_graph, preserving the built FTS index.

        The FTS index is a pure function of the literal TERM DICTIONARY
        (build_fts_index over graph.literals() — operators/fts.py:453),
        and the dictionary only ever GROWS (the reference never
        garbage-collects terms, query.py:505-507). So a DELETE never
        invalidates it, and an insert only does when it mints a NEW
        literal term; for every other mutation, dropping the index
        forced the next fts query to pay a full rebuild (~1-2 s at
        sf0.1) for nothing. Callers must have checked the new-literal
        condition."""
        saved, self._fts = self._fts, None
        try:
            self.replace_graph(graph)
        finally:
            self._fts = saved

    def _mutate_insert_tier(self, tier, data: list[dict]) -> dict:
        from ..functions.xxh import term_id
        from ..operators.mutations import _validate_insert

        err = _validate_insert(data)
        if err:
            return {"error": err}
        rows = [
            (
                term_id(d["s"]),
                term_id(d["p"]),
                term_id(d["o"]),
                term_id(d.get("g", "") or ""),
            )
            for d in data
        ]
        # dup guard: count of BATCH quads already stored (the distributed
        # path semi-joins the hashed batch against triples and counts)
        if any(tier.pattern_rows(*q).size for q in rows):
            return {"error": "Triple already exists, skipping insert"}
        # terms absent from the dictionary — membership by HASH, like the
        # distributed left_anti on terms.hash (operators/mutations.py)
        new_terms: dict[str, int] = {}
        for d in data:
            for v in (d["s"], d["p"], d["o"], d.get("g", "") or ""):
                h = term_id(v)
                if h not in tier.h2v:
                    new_terms[v] = h
        if self._dead_literals:
            # a re-inserted DEAD literal (in the dictionary, zero quad
            # references pre-insert) is live again — keep the shed
            # estimate tight so churn that round-trips the same values
            # doesn't trigger a pointless GC
            # (brand-new literals are not yet in tier.is_lit here — the
            # dict updates happen after the buffer apply below)
            lits = sorted({h for (_, _, h, _) in rows if h in tier.is_lit})
            revived = set()
            if lits:
                cnts = tier.o_ref_counts(np.array(lits, dtype=np.int64))
                revived = {h for h, c in zip(lits, cnts.tolist()) if not c}
            self._dead_literals = max(0, self._dead_literals - len(revived))
        old_maps, old_sizes = self._paths_edge_maps, self._paths_edge_map_sizes
        st = self._mut_buffers()
        st["ins"].extend(rows)
        st["terms"].extend(
            (h, v, v.startswith('"')) for v, h in new_terms.items()
        )
        new_lits = [(h, v) for v, h in new_terms.items() if v.startswith('"')]
        g2 = self._mutated_graph(st)
        st["current"] = g2
        fts_upd = None
        if not new_lits:
            # no new literal terms: the FTS corpus is unchanged —
            # preserve the built index outright
            self._swap_graph_keep_fts(g2)
        else:
            # new literal docs: extend the built index incrementally
            # (one request-sized job) instead of dropping it; falls
            # back to drop-and-rebuild past the union-depth cap or
            # when no index was built yet
            if self._fts is not None:
                fts_upd = self._fts.with_new_literals(new_lits)
            if fts_upd is not None:
                self._fts_incremental_updates += 1
                saved, self._fts = fts_upd, None
                try:
                    # _fts=None skips replace_graph's unpersist — the
                    # updated index's union lineage REUSES the old
                    # postings cache, which must stay alive
                    self.replace_graph(g2)
                finally:
                    self._fts = saved
            else:
                self.replace_graph(g2)
        # dict adds are append-only and precede the state swap, so the
        # patched tier never sees a missing term (old-tier readers are
        # unaffected: no old row references a new hash)
        for v, h in new_terms.items():
            tier.h2v[h] = v
            tier.v2h[v] = h
            if v.startswith('"'):
                tier.is_lit.add(h)
        self._retier(
            tier,
            rows,
            np.empty(0, dtype=np.int64),
            [(h, v) for v, h in new_terms.items()],
            keep_fts=not new_lits,
        )
        self._carry_paths_maps(
            old_maps, old_sizes, tier, rows, np.empty(0, dtype=np.int64)
        )
        if fts_upd is not None:
            st = self._local_tier_state
            if st is not None and st[1] is not None:
                lf = tier.carry_fts_mirror(fts_upd)
                if lf is not None:
                    st[1]._fts_state = (fts_upd, lf)
            if self._last_tier_delta is not None:
                # forked serving workers patch their own mirror from the
                # same increment rows (serving_pool mutation broadcast)
                self._last_tier_delta["fts"] = (
                    "rows",
                    [dict(token=r["token"], lit=r["lit"], tf=r["tf"], dl=r["dl"])
                     for r in (fts_upd._last_increment or [])],
                    fts_upd.n_docs,
                    float(fts_upd.avgdl),
                )
        return {"triples_inserted": len(data), "terms_inserted": len(new_terms)}

    def _mutate_delete_tier(self, tier, data: list[dict], are_hashes: bool) -> dict:
        from ..functions.xxh import term_id
        from ..operators.mutations import _hash_to_long

        spark = self.graph.spark
        if are_hashes:
            # hash-addressed (reference query.py:476-520): no existence
            # check, empty/missing g addresses the default graph
            empty_g = term_id("")

            def g_of(d):
                g = d.get("g")
                return empty_g if g in (None, "") else _hash_to_long(g)

            try:
                with_o = [
                    (_hash_to_long(d["s"]), _hash_to_long(d["p"]), _hash_to_long(d["o"]), g_of(d))
                    for d in data
                    if d.get("o") not in (None, "")
                ]
                no_o = [
                    (_hash_to_long(d["s"]), _hash_to_long(d["p"]), None, g_of(d))
                    for d in data
                    if d.get("o") in (None, "")
                ]
            except ValueError as e:
                return {"error": str(e)}
            del_rows = [tier.pattern_rows(s, p, o, g) for s, p, o, g in with_o + no_o]
            old_maps, old_sizes = self._paths_edge_maps, self._paths_edge_map_sizes
            st = self._mut_buffers()
            self._apply_delete_buffers(
                st,
                [(s, p, o, g) for s, p, o, g in with_o],
                [(s, p, g) for s, p, _, g in no_o],
            )
            g2 = self._mutated_graph(st)
            st["current"] = g2
            self._swap_graph_keep_fts(g2)
            dr = (
                np.unique(np.concatenate(del_rows))
                if del_rows
                else np.empty(0, np.int64)
            )
            self._dead_literals += self._count_dead_literals(tier, dr)
            self._retier(tier, [], dr, keep_fts=True)
            self._carry_paths_maps(old_maps, old_sizes, tier, [], dr)
            return {"triples_deleted": len(data)}

        with_o = [d for d in data if d.get("o")]
        no_o = [d for d in data if not d.get("o")]
        del_sets: list = []
        pats4: list = []
        pats3: list = []
        if with_o:
            quads = [
                (term_id(d["s"]), term_id(d["p"]), term_id(d["o"]), term_id(d.get("g", "") or ""))
                for d in with_o
            ]
            matched = [tier.pattern_rows(*q) for q in quads]
            # the distributed guard counts STORED rows hit by any quad
            # (semi-join from triples), then compares against the batch
            n_match = int(np.unique(np.concatenate(matched)).size) if matched else 0
            if n_match < len(with_o):
                return {"error": "Triple does not exist, skipping delete"}
            pats4 = quads
            del_sets.extend(matched)
        if no_o:
            pats = [
                (term_id(d["s"]), term_id(d["p"]), None, term_id(d.get("g", "") or ""))
                for d in no_o
            ]
            matched = [tier.pattern_rows(*q) for q in pats]
            # the distributed guard probes the triples frame AFTER the
            # with_o anti-join — rows the with_o phase removed don't
            # witness a no_o pattern's existence
            already = (
                np.unique(np.concatenate(del_sets)) if del_sets else np.empty(0, np.int64)
            )
            surviving = sum(
                int(np.setdiff1d(m, already, assume_unique=False).size) for m in matched
            )
            if surviving == 0:
                return {"error": "Triple does not exist, skipping delete"}
            pats3 = [(s, p, g) for s, p, _, g in pats]
            del_sets.extend(matched)
        old_maps, old_sizes = self._paths_edge_maps, self._paths_edge_map_sizes
        st = self._mut_buffers()
        self._apply_delete_buffers(st, pats4, pats3)
        g2 = self._mutated_graph(st)
        st["current"] = g2
        self._swap_graph_keep_fts(g2)
        dr = (
            np.unique(np.concatenate(del_sets)) if del_sets else np.empty(0, np.int64)
        )
        self._dead_literals += self._count_dead_literals(tier, dr)
        self._retier(tier, [], dr, keep_fts=True)
        self._carry_paths_maps(old_maps, old_sizes, tier, [], dr)
        return {"triples_deleted": len(data)}

    @staticmethod
    def _count_dead_literals(tier, del_rows: "np.ndarray") -> int:
        """How many literal dictionary entries lose their LAST quad
        reference when ``del_rows`` (row indexes into the pre-patch
        ``tier``) are removed. Sorted-array probes only — O(k log n)
        for k deleted rows, no Spark jobs. A literal is dead when every
        one of its object-position occurrences is in the deleted set
        (literals cannot appear as predicates/graphs; subject position
        is probed defensively since handle_insert accepts any string)."""
        if del_rows.size == 0:
            return 0
        cand, cnt_del = np.unique(tier.o[del_rows], return_counts=True)
        lit = np.fromiter(
            (int(h) in tier.is_lit for h in cand), dtype=bool, count=cand.size
        )
        cand, cnt_del = cand[lit], cnt_del[lit]
        if cand.size == 0:
            return 0
        total = tier.o_ref_counts(cand)  # live counts, overlay-aware
        dead = cand[total == cnt_del]
        if dead.size:
            dead = dead[tier.s_ref_counts(dead) == 0]
        return int(dead.size)

    def _maybe_shed_dead_terms(self) -> None:
        """Shed when the dead-literal estimate passes both floors: an
        absolute minimum (tiny dictionaries never pay a shed) and a
        fraction of the literal dictionary (so the cost amortizes over
        at least ``shed_fraction`` worth of churn)."""
        st = self._local_tier_state
        tier = st[1] if st is not None else None
        if tier is None or self._dead_literals < self.shed_min_literals:
            return
        if self._dead_literals < self.shed_fraction * max(len(tier.is_lit), 1):
            return
        self._shed_dead_terms()

    def _shed_dead_terms(self) -> None:
        """GC dictionary terms referenced by no quad position and swap
        the cleaned graph in. Unreferenced terms are unobservable
        through the whole query surface (hydration, sp/spo, facets and
        order keys all resolve hashes FOUND IN QUADS), so this is
        semantics-preserving; what changes is scale: the terms table,
        the next FTS build (postings/df/avgdl follow the live corpus,
        which is also what the DuckDB oracles compute from ``quads``)
        and the tier mirror all shrink back to live size instead of
        accumulating every literal ever churned through serving.

        One distributed semi-join against the four hashed quad columns
        — the same shape compact_store's term dedup takes — then a
        localCheckpoint so the cleaned dictionary is a flat scan, not a
        join replayed under every downstream plan. The swap drops the
        resident tier and FTS for lazy rebuild: the shed mutation pays
        jobs (the only mutation that does), amortized over the
        ``shed_fraction`` of churn that triggered it."""
        t = self.graph.triples
        refs = (
            t.select(F.col("s").alias("hash"))
            .unionAll(t.select(F.col("p").alias("hash")))
            .unionAll(t.select(F.col("o").alias("hash")))
            .unionAll(t.select(F.col("g").alias("hash")))
            .distinct()
        )
        terms2 = self.graph.terms.join(refs, "hash", "left_semi").localCheckpoint(
            eager=True
        )
        triples2 = t.localCheckpoint(eager=True)  # flatten mutation lineage too
        self.replace_graph(Graph(triples=triples2, terms=terms2))
        self._mut_state = None  # buffers referenced the pre-shed graph
        self._dead_literals = 0
        self._terms_shed += 1
        # rebuild the mirror NOW: the shed runs from the tier-resident
        # mutation path (serving), and leaving the tier down would drop
        # every following mutation to the distributed path — no dead
        # tracking, no zero-job cycles — until some query rebuilds it
        self._local_tier()

    # ---- indexes -------------------------------------------------------
    @property
    def fts(self) -> FtsIndex:
        if self._fts is None:
            from ..operators.fts import fts_settings_from_env

            s = fts_settings_from_env()  # values pre-coerced to str/int
            self._fts = build_fts_index(
                self.graph.literals(),
                stem=s.get("stemmer") == "porter",
                strip_accents=bool(s.get("strip_accents", 1)),
            )
        return self._fts

    def load_fts(self, path: str) -> None:
        """Use a persisted, token-bucketed FTS store (see
        ``operators.fts.write_fts_index``) instead of building in-memory:
        queries then partition-prune to their terms' buckets."""
        from ..operators.fts import read_fts_index

        self._fts = read_fts_index(self.graph.spark, path)

    def load_ivf(self, path: str, nprobe: int = 2) -> None:
        """Serve ``semantic`` filters from a persisted cell-partitioned
        IVF store (``operators.similarity.write_ivf_store`` over the
        (s, vec) embeddings) instead of brute-scanning the embeddings
        table per query: probe cells are resolved from the tiny centroid
        table, the vector scan partition-prunes to those ``nprobe`` cell
        directories (static ``cell IN (...)``), and the exact
        ``distance < 0.5`` filter runs within the probed cells only.
        Approximate by design (recall < 1 for matches outside the probed
        cells), like every IVF index; raise ``nprobe`` for recall."""
        from ..operators.similarity import read_ivf_store

        if nprobe < 1:
            raise ValueError("nprobe must be >= 1")
        vectors, cents = read_ivf_store(self.graph.spark, path)
        # collect the tiny static centroid table once (k ≤ 4096 rows by
        # the cell-schedule cap) so per-query probe resolution is a
        # driver-side fold instead of a Spark job per request; on any
        # surprise (hand-built store with an odd schema) fall back to
        # the per-query job path. The twin is keyed by the cents frame's
        # identity and published BEFORE _ivf, so a concurrent reader can
        # never pair this load's centroids with another load's store —
        # a torn read fails the identity check and takes the job path
        try:
            import numpy as np

            crows = sorted(
                (int(r["cid"]), [float(x) for x in r["cv"]]) for r in cents.collect()
            )
            if not crows:
                raise ValueError("empty centroid table")
            self._ivf_probe = (
                cents,
                [cid for cid, _ in crows],
                np.array([cv for _, cv in crows], dtype=np.float64),
            )
        except Exception:
            self._ivf_probe = None
        self._ivf = (vectors, cents, int(nprobe))

    # ---- single-filter compilation ------------------------------------
    def _walk_up(self, base: DataFrame, hops: int, carry: tuple = ()) -> DataFrame:
        """n-hop parents chain: new subject appears as the object of a
        parent triple (reference query.py:110-119). Iterative self-joins.
        ``carry`` columns ride along to the ancestor rows (the reference
        selects ``T{parents}.s, score`` — query.py:204 — so BM25 scores
        survive the walk); with carry the result is NOT deduplicated
        (callers aggregate).

        Scale: the frontier is materialized and counted up front; while
        it fits a broadcast (the common case — it is a filter result),
        each hop is planned as a broadcast-hash join from the START, so
        the corpus-sized quad table is probed in place and never
        shuffled. (AQE alone cannot deliver this: it re-plans a
        sort-merge join only after BOTH sides' shuffles have
        materialized — too late for the big side.) The count is
        re-checked at the every-3-hop checkpoints; a walk that explodes
        past the threshold falls back to shuffle joins with AQE's
        skew-join splitting handling hub objects."""
        if hops < 1:
            return base if carry else base.distinct()
        # persist + count, not localCheckpoint + count: the count
        # materializes the cache in the SAME job (one scheduler
        # round-trip, half the serving latency of the eager checkpoint
        # that then counted separately); lineage at the walk's base is
        # one filter deep, so checkpoint-style truncation buys nothing
        # here (the every-3-hops checkpoints below still bound it)
        out = base.persist()
        self._register_transient(out)
        n = out.count()
        # DRIVER WALK: with the o-sorted edge index resident the whole
        # chain is searchsorted + gather — the frontier collect reads
        # the cache the count just materialized, and the result ships
        # back as one Arrow batch. Explosion or an over-cap frontier
        # falls through to the join loop below, same `out`.
        if n <= _DRIVER_WALK_FRONTIER_MAX:
            idx = self._hop_driver_index()
            if idx is not None:
                import pandas as pd

                pdf = out.select("s", *carry).toPandas()
                walked = self._walk_up_driver(idx, pdf, hops, carry)
                if walked is not None:
                    f, carried = walked
                    res = pd.DataFrame(
                        {"s": f, **{c: v for c, v in zip(carry, carried)}}
                    )
                    # explicit schema: an empty walk result must not
                    # trip pandas schema inference
                    schema = "s long" + "".join(f", {c} double" for c in carry)
                    frame = self.graph.spark.createDataFrame(res, schema)
                    if not carry:
                        # the member set is ALREADY driver-resident and
                        # distinct: ride it along so the fast page can
                        # skip the frame round-trip entirely
                        frame._driver_rows = f
                    return frame
        small = n <= _HOP_BROADCAST_ROWS
        edges = self._hop_edges()
        for i in range(hops):
            parents = edges.select(
                F.col("s").alias("_ps"), F.col("o").alias("_po")
            )
            probe = F.broadcast(out) if small else out
            out = parents.join(probe, probe["s"] == F.col("_po")).select(
                F.col("_ps").alias("s"), *[F.col(c) for c in carry]
            )
            # a count can go stale by up to 3 join levels; that is fine
            # while the frontier is far below the broadcast ceiling, but
            # within an order of magnitude of it a single hub fan-out
            # could force a multi-hundred-MB broadcast before the next
            # scheduled re-check — so near the ceiling, re-check every
            # level (one extra count job, only when it matters)
            near_ceiling = small and n > _HOP_BROADCAST_ROWS // 10
            if (near_ceiling or (i + 1) % 3 == 0) and i + 1 < hops:
                out = out.localCheckpoint(eager=True)
                n = out.count()
                small = n <= _HOP_BROADCAST_ROWS
        return out if carry else out.distinct()

    def _g_cond(self, g: str) -> Column | None:
        if not g:
            return None
        return _isin_terms(F.col("g"), g.split(" "))

    def _plain_cond(self, q: dict) -> Column | None:
        """Row predicate for a mergeable plain filter — ``p`` is an IRI
        and there is no hop walk — or None when the filter needs its own
        frame (fts/regex/semantic/id/object-only/hops). Must stay
        exactly equivalent to filter_subjects' plain branch: p equality
        on the head token, optional multi-object o match, optional graph
        restriction."""
        p = str(q.get("p", "")).strip(" ")
        o = str(q.get("o", "")).strip(" ")
        g = str(q.get("g", "")).strip(" ")
        hops, _p_prop, p_head = parse_hops_and_prop(p)
        if not p.startswith("<") or hops != 0:
            return None
        cond = F.col("p") == H(p_head)
        if o:
            terms = o.split(" ") if (o.startswith("<") and " " in o) else [o]
            cond = cond & _isin_terms(F.col("o"), terms)
        gc = self._g_cond(g)
        if gc is not None:
            cond = cond & gc
        return cond

    def filter_subjects(self, q: dict) -> tuple[DataFrame | None, DataFrame | None]:
        """Compile one filter to (subjects, scores|None). Mirrors
        reference q_to_sql (query.py:122-218)."""
        t = self.graph.triples
        p = str(q.get("p", "")).strip(" ")
        o = str(q.get("o", "")).strip(" ")
        g = str(q.get("g", "")).strip(" ")
        hops, p_prop, p_head = parse_hops_and_prop(p)
        gc = self._g_cond(g)

        def with_g(df):
            return df.filter(gc) if gc is not None else df

        if p == "" and (o.startswith("<") or o.startswith("_:")):
            # subjects that point at this object
            base = with_g(t.filter(F.col("o") == H(o))).select("s")
            return base.distinct(), None

        if p == "id":
            if o.startswith(("random", "sample")):
                # consistent seeded sample (reference query.py:154-163
                # reservoir): the n smallest md5-derived keys over the
                # subject IRI form a uniform sample that is deterministic
                # under any partitioning/retry, mirrorable in SQL, and
                # plans as TakeOrderedAndProject — a single pass with a
                # per-partition n-heap, NOT a global sort.
                parts = o.split(" ")
                n = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 1
                subj = with_g(t).select("s").distinct()
                vals = subj.join(
                    self.graph.terms.select(F.col("hash").alias("s"), "value"), "s"
                )
                key = F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"sample:{SAMPLE_SEED}:"), F.col("value"))), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                return (
                    vals.orderBy(key.asc(), F.col("value").asc()).limit(n).select("s"),
                    None,
                )
            terms = o.split(" ") if " " in o and o.startswith("<") else [o]
            base = with_g(t.filter(_isin_terms(F.col("s"), terms))).select("s")
            return base.distinct(), None

        if p_head == "semantic":
            return self._semantic_filter(q, o, gc)

        if p_head == "regex":
            # reference uses SQL `similar to` = anchored full-match regex
            lits = self.graph.literals().filter(
                F.col("value").rlike(f"^(?:{o})$")
            ).select(F.col("hash").alias("_lit"))
            base = t.join(lits, t.o == F.col("_lit")).drop("_lit")
            if p_prop:
                base = base.filter(F.col("p") == H(p_prop))
            base = with_g(base).select("s")
            return self._walk_up(base, hops), None

        if p_head == "fts":
            # (lit, score) BM25 matches. The broadcast into the corpus
            # join is essential: a served match is request-sized, and
            # without the hint the statically-planned point path (AQE
            # off) would sort-merge the whole triples table against it
            # — the single largest cost in the r6 fts request. The
            # broadcast-safety gate is now JOB-FREE for the common
            # case: a conjunctive match is bounded by its rarest
            # term's df, and the index keeps the df Zipf head driver-
            # side (FtsIndex.match_upper_bound — one bounded probe per
            # index lifetime, not a persist + count per query). Only a
            # query built purely from heavy head tokens falls back to
            # the measured count; past THAT gate the join stays a
            # shuffle join with AQE's skew handling governing the
            # at-scale plan.
            # term-at-a-time point path: term_dfs gives EXACT per-term
            # df driver-side (heavy head + LRU'd pruned probes — zero
            # jobs for repeated serving terms), so (a) BM25 idf is a
            # literal and the match plan loses its token_df broadcast
            # join, and (b) min(df) bounds the conjunctive match with
            # certainty. A probe-small match (≤ _ISIN_PROBE_MAX) is
            # COLLECTED — one job — and re-enters the corpus scan as a
            # SQL-string IN + literal score map (single py4j call, no
            # nested broadcast futures for downstream actions to race
            # on). Larger matches broadcast when min(df) clears the
            # gate; only a query built purely from heavy tokens still
            # pays a measured count.
            dfs = self.fts.term_dfs(o)
            bound = min(dfs.values()) if dfs else 0
            scored = self.fts.match(o, conjunctive=True, dfs=dfs)
            if bound <= _ISIN_PROBE_MAX:
                # keep the probe frame inspectable: its plan carries the
                # bucket partition-pruning that no longer appears in the
                # returned (driver-re-emitted) subject plan — the
                # cluster plan audit reads it from here
                probes = getattr(self, "_fts_probe_frames", None)
                if probes is None:
                    probes = self._fts_probe_frames = []
                probes.append(scored)
                del probes[:-4]
                rows = scored.collect()
                if not rows:
                    empty = self.graph.spark.createDataFrame(
                        [], "s long, score double"
                    )
                    return empty, _INLINE_SCORES
                in_list = ",".join(str(int(r["lit"])) for r in rows)
                map_args = ",".join(
                    f"{int(r['lit'])}L,{float(r['score'])!r}D" for r in rows
                )
                base = t.filter(F.expr(f"o IN ({in_list})"))
                if p_prop:
                    base = base.filter(F.col("p") == H(p_prop))
                base = with_g(base).select(
                    "s", F.expr(f"element_at(map({map_args}),o)").alias("score")
                )
                walked = self._walk_up(base, hops, carry=("score",))
                return walked, _INLINE_SCORES
            scored = scored.persist()
            self._register_transient(scored)
            if bound <= _HOP_BROADCAST_ROWS:
                probe = F.broadcast(scored)
            else:
                n_scored = scored.count()
                probe = (
                    F.broadcast(scored)
                    if n_scored <= _HOP_BROADCAST_ROWS
                    else scored
                )
            base = t.join(probe, t.o == scored.lit)
            if p_prop:
                base = base.filter(F.col("p") == H(p_prop))
            base = with_g(base)
            # scores ride the walk to the ancestor (reference query.py:204
            # selects T{parents}.s, score). The walked rows return
            # UN-aggregated under the _INLINE_SCORES contract:
            # _subjects_uncached folds the per-subject max score
            # (reference s_by_score, query.py:682-684) and the subject
            # distinct into its single tagged aggregation — ONE shuffle
            # computes membership and ranking, where the r6 shape paid
            # a walked persist + a distinct + a separate score groupBy.
            walked = self._walk_up(base.select("s", "score"), hops, carry=("score",))
            return walked, _INLINE_SCORES

        if p.startswith("<"):
            cond = F.col("p") == H(p_head)
            if o:
                terms = o.split(" ") if (o.startswith("<") and " " in o) else [o]
                cond = cond & _isin_terms(F.col("o"), terms)
            base = with_g(t.filter(cond)).select("s")
            return self._walk_up(base, hops), None

        return None, None

    def _semantic_filter(self, q, o, gc):
        """Vector search: subjects whose embedding is within cosine
        distance 0.5 of the query (reference query.py:166-170).
        Broadcast the single query vector; JVM-side zip_with/aggregate.

        With an IVF store loaded (``load_ivf``) the scan is partition-
        pruned to the query's ``nprobe`` probed cells — at corpus scale
        an interactive filter must not full-scan the embeddings table.
        The no-store path keeps the exact brute scan (the reference's
        own shape over ``literals_semantic``)."""
        if self.embeddings is None and self._ivf is None:
            raise ValueError("semantic filter requires an embeddings table or IVF store")
        qvec = q.get("vector")
        if qvec is None:
            from ..functions.embed import fake_embedding

            fn = self.embed_fn or fake_embedding
            src = self.embeddings if self.embeddings is not None else self._ivf[0]
            vcol = "vec" if self.embeddings is not None else "nv"
            dim = len(src.select(vcol).first()[vcol])
            qvec = fn(o, dim)
        spark = self.graph.spark
        qdf = spark.createDataFrame([([float(x) for x in qvec],)], "qvec array<double>")
        if self._ivf is not None:
            vectors, cents, nprobe = self._ivf
            # probe cells resolved driver-side from the tiny centroid
            # table: the vector scan below then carries a STATIC
            # `cell IN (...)` predicate — pure partition pruning, no
            # join needed to decide which directories to read. With the
            # load_ivf-collected centroid twin this is a k×d fold ON
            # THE DRIVER (probe_cells_fold — the bit-exact mirror of
            # the _nearest_cells HOF expression, shared with the tier's
            # _LocalSemantic): zero Spark jobs to pick the cells, which
            # was half the steady request at sf0.1 (r14)
            probe_twin = self._ivf_probe
            if probe_twin is not None and probe_twin[0] is cents:
                import numpy as np

                from .local_tier import probe_cells_fold

                _, cids, cent_mat = probe_twin
                cells = probe_cells_fold(
                    cids,
                    cent_mat,
                    np.array([float(x) for x in qvec], dtype=np.float64),
                    nprobe,
                )
            else:
                from ..operators.similarity import _cent_arr, _nearest_cells

                carr = _cent_arr(cents)
                cells = sorted(
                    r["cell"]
                    for r in qdf.crossJoin(F.broadcast(carr))
                    .select(
                        F.explode(
                            _nearest_cells(F.col("qvec"), F.col("cents"), nprobe)
                        ).alias("cell")
                    )
                    .collect()
                )
            emb = (
                vectors.filter(F.col("cell").isin(cells))
                .select(F.col("nid").alias("s"), F.col("nv").alias("vec"))
                .crossJoin(F.broadcast(qdf))
            )
        else:
            # the exact brute path is the reference's own shape, but in a
            # serving deployment it full-scans the embeddings table per
            # query — count and warn so it can't happen silently
            with self._cache_lock:
                self._semantic_fallback_scans += 1
            log.warning(
                "semantic filter running without an IVF store: full "
                "embeddings scan per query (call Engine.load_ivf() to "
                "partition-prune; fallback count=%d)",
                self._semantic_fallback_scans,
            )
            emb = self.embeddings.crossJoin(F.broadcast(qdf))
        dot = F.aggregate(
            F.zip_with("vec", "qvec", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        norm = lambda c: F.sqrt(
            F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        sim = dot / (norm(F.col("vec")) * norm(F.col("qvec")))
        scored = (
            emb.withColumn("distance", F.lit(1.0) - sim)
            .filter(F.col("distance") < 0.5)
            # an exact match (distance 0) outranks everything; the
            # conditional keeps ANSI mode from raising DIVIDE_BY_ZERO
            # (when() short-circuits, so the division never sees 0)
            .select(
                "s",
                F.when(F.col("distance") <= 0.0, F.lit(float("inf")))
                .otherwise(F.lit(1.0) / F.col("distance"))
                .alias("score"),
            )
        )
        t = self.graph.triples
        if gc is not None:
            scored = scored.join(t.filter(gc).select("s").distinct(), "s", "left_semi")
        # NOT checkpointed (unlike the fts walk): the subject and score
        # lineages each re-run the vector scan, but it is cell-pruned to
        # nprobe directories — and keeping the lineage intact keeps the
        # PartitionFilters pruning visible in served plans, which the
        # cluster-shape tests and audits pin
        return scored.select("s").distinct(), scored.select("s", "score")

    # ---- filter algebra ------------------------------------------------
    def subjects(self, opts: dict) -> tuple[DataFrame | None, DataFrame | None]:
        """Combine filters with UNION/INTERSECT/EXCEPT in listed order,
        EXCEPT clauses last (reference query.py:629-669). Returns
        (s_results, s_by_score|None).

        With ``opts['use_cache']`` (default True, as in the reference
        async worker) the combined subject set is persisted and reused
        across calls with the same filter spec."""
        import json

        use_cache = opts.get("use_cache", True)
        try:
            key = json.dumps(opts.get("filters", []), sort_keys=True)
        except (TypeError, ValueError):
            # non-JSON filter values (e.g. a numpy vector): no safe
            # cache key exists — lossy fallbacks like default=str can
            # COLLIDE between different vectors, so skip both caches
            key = None
        if use_cache and key is None:
            use_cache = False
        if use_cache:
            hit = self._cache_get(key)
            with self._cache_lock:
                if hit is not None:
                    self._subject_cache_hits += 1
                else:
                    self._subject_cache_misses += 1
            if hit is not None:
                return hit
        gen = self._graph_generation
        # plan cache (independent of the RESULT cache): compiling a
        # filter spec costs ~100+ ms of driver-side Column construction
        # over py4j; re-executing an already-compiled plan returns fresh
        # results, so this is safe even with use_cache off. Scored plans
        # (fts/semantic) are excluded — they persist per-request frames
        # whose lifecycle belongs to the registering request.
        result = self._plan_cache_get(gen, key) if key is not None else None
        if result is None:
            result = self._subjects_uncached(opts)
            if (
                key is not None
                and result[1] is None
                and result[0] is not None
                and not self._hop_plan_volatile(opts)
            ):
                self._plan_cache_put(gen, key, result)
        if use_cache and result[0] is not None:
            result = (result[0].persist(), result[1])
            self._cache_put(key, result, gen)
        return result

    _PLAN_CACHE_MAX = 128

    def _hop_plan_volatile(self, opts: dict) -> bool:
        """True when this spec's compiled subjects plan should NOT be
        cached YET: the spec walks hops, the driver edge index is
        gated on (over-cap engine), but the index is not resident —
        the plan just compiled is the corpus-join walk, and caching it
        would pin every future repeat of this spec to the slow path
        even after the index builds. Once the index IS resident, the
        compiled plan embeds the driver-walked LocalRelation — correct
        for the whole generation (the plan cache is generation-keyed,
        and every mutation path bumps the generation), so it caches
        like any other plan."""
        if _DRIVER_HOP == "0":
            return False
        if _DRIVER_HOP != "1":
            st = self._local_tier_state
            if st is None or st[1] is not None:
                return False
        hs = self._hop_idx_state
        if hs is not None and hs[0] is self.graph:
            # sized: either resident (the compiled plan is the
            # driver-walked LocalRelation) or measured too big (the
            # join plan is final) — both cache fine
            return False
        return any(
            parse_hops_and_prop(q.get("p", ""))[0] > 0
            for q in opts.get("filters", [])
        )

    def _plan_cache_get(self, gen: int, key: str):
        with self._cache_lock:
            ent = self._plan_cache.get((gen, key))
            if ent is None:
                return None
            # LRU touch
            self._plan_cache.pop((gen, key), None)
            self._plan_cache[(gen, key)] = ent
            return ent

    def _plan_cache_put(self, gen: int, key: str, plan) -> None:
        with self._cache_lock:
            if gen != self._graph_generation:
                return
            self._plan_cache[(gen, key)] = plan
            while len(self._plan_cache) > self._PLAN_CACHE_MAX:
                self._plan_cache.pop(next(iter(self._plan_cache)))

    def _cache_get(self, key: str):
        import time

        with self._cache_lock:
            ent = self._subject_cache.get(key)
            if ent is None:
                return None
            subj, scores, expires = ent
            if expires < time.time():
                self._subject_cache.pop(key, None)
                try:
                    subj.unpersist()
                except Exception:
                    pass
                return None
            # LRU touch: re-insert to the dict's tail (insertion order
            # IS the recency order here)
            self._subject_cache.pop(key, None)
            self._subject_cache[key] = ent
            return subj, scores

    def _cache_put(self, key: str, result, gen: int | None = None) -> None:
        import time

        with self._cache_lock:
            if gen is not None and gen != self._graph_generation:
                # computed against a graph that has since been swapped
                # out — caching it would serve pre-mutation results
                try:
                    result[0].unpersist()
                except Exception:
                    pass
                return
            prev = self._subject_cache.pop(key, None)
            if prev is not None:
                # two threads raced the same miss: drop the loser's
                # persisted copy instead of leaking it in storage
                try:
                    prev[0].unpersist()
                except Exception:
                    pass
            while len(self._subject_cache) >= max(1, self.subject_cache_max):
                lru_key = next(iter(self._subject_cache))
                evicted, _, _ = self._subject_cache.pop(lru_key)
                try:
                    evicted.unpersist()
                except Exception:
                    pass
            self._subject_cache[key] = (
                result[0],
                result[1],
                time.time() + self.subject_cache_ttl_s,
            )

    @contextlib.contextmanager
    def _no_aqe(self):
        """Disable adaptive query execution for the enclosed point-query
        actions. AQE materializes each shuffle stage as its own job —
        2-4 scheduler round-trips where a statically planned action is
        one — and buys nothing here: the shuffled side is a filtered
        subject set (tiny by the serving contract) and every corpus
        join is already an explicit, count-gated broadcast. Large
        subject sets never enter this scope (callers gate on the known
        count), so AQE's skew/late-broadcast powers still govern every
        at-scale plan. Ref-counted PER SESSION (module state, not per
        engine): overlapping scopes from two Engines sharing one
        SparkSession must not save each other's already-toggled value
        and restore AQE to 'false' for good. A concurrent batch job
        planned inside the window merely loses AQE for that plan
        (performance, never correctness)."""
        spark = self.graph.spark
        conf = spark.conf
        with _SESSION_LOCK:
            st = _AQE_STATE.get(spark)
            if st is None:
                try:
                    saved = conf.get("spark.sql.adaptive.enabled")
                except Exception:
                    saved = "true"
                st = [0, saved]
                _AQE_STATE[spark] = st
                conf.set("spark.sql.adaptive.enabled", "false")
            st[0] += 1
        try:
            yield
        finally:
            with _SESSION_LOCK:
                st[0] -= 1
                if st[0] == 0:
                    conf.set("spark.sql.adaptive.enabled", st[1])
                    _AQE_STATE.pop(spark, None)

    _TRANSIENT_MAX_PER_THREAD = 32

    def _register_transient(self, df: DataFrame) -> None:
        """Track a per-request persisted frame. Bounded per thread:
        query() releases its own entries in a finally, but callers that
        use page()/subjects() directly never reach that finally — past
        the cap the OLDEST frames unpersist (they are persist()s, so a
        late reader merely recomputes), keeping sustained direct use
        from accumulating storage blocks without bound."""
        evicted: list = []
        with self._cache_lock:
            lst = self._transient_caches.setdefault(threading.get_ident(), [])
            lst.append(df)
            if len(lst) > self._TRANSIENT_MAX_PER_THREAD:
                n = len(lst) - self._TRANSIENT_MAX_PER_THREAD
                evicted = lst[:n]
                del lst[:n]
        for old in evicted:
            try:
                old.unpersist()
            except Exception:
                pass

    def _release_transients(self) -> None:
        """Unpersist every per-request frame the CURRENT thread
        registered. Safe even if a derived frame is read later: these
        are persist()s, not checkpoints — lineage survives, the read
        just recomputes."""
        with self._cache_lock:
            dfs = self._transient_caches.pop(threading.get_ident(), [])
        for df in dfs:
            try:
                df.unpersist()
            except Exception:
                pass

    def cache_stats(self) -> dict:
        """Driver-local snapshot of the persisted subject-set cache —
        no Spark job is triggered."""
        with self._cache_lock:
            return {
                "entries": len(self._subject_cache),
                "max": self.subject_cache_max,
                "ttl_s": self.subject_cache_ttl_s,
                "hits": self._subject_cache_hits,
                "misses": self._subject_cache_misses,
                "semantic_fallback_scans": self._semantic_fallback_scans,
                "dead_literals": self._dead_literals,
                "terms_shed": self._terms_shed,
                "local_tier": self._local_tier_stats(),
            }

    def _local_tier_stats(self) -> dict:
        st = self._local_tier_state
        if st is None or st[0] != self._graph_generation:
            return {"state": "unbuilt"}
        if st[1] is None:
            return {"state": "over_cap"}
        return {
            "state": "active",
            "quads": st[1].live_rows,
            "overlay_pending": (st[1].nrows - st[1]._sorted_n) + st[1]._n_dead,
            "queries_served": st[1].queries_served,
            # zero-job mutation telemetry (Engine.mutate)
            "mutations_patched": self._mutations_patched,
            "fts_incremental_updates": self._fts_incremental_updates,
            "lineage_folds": self._lineage_folds,
            "buffered_delta_rows": (
                len(self._mut_state["ins"])
                + len(self._mut_state["del4"])
                + len(self._mut_state["del3"])
                if self._mut_state is not None
                and self._mut_state.get("current") is self.graph
                else 0
            ),
        }

    def _subjects_uncached(self, opts: dict) -> tuple[DataFrame | None, DataFrame | None]:
        """Combine filter subject sets with SQL set-operator PRECEDENCE,
        not left-to-right folding: the reference concatenates
        ``UNION``/``INTERSECT`` SQL (query.py:629-669) and DuckDB binds
        INTERSECT tighter, so ``[A, or B, and C]`` means A ∪ (B ∩ C).
        We parse the chain the same way — a maximal run of consecutive
        ``must`` filters intersects into the preceding term, and the
        resulting groups union. ``not`` filters are still forced last
        (reference query.py:631-633, 668).

        The set algebra evaluates as ONE aggregation, not a chain of
        INTERSECT/EXCEPT operators: every filter's subject frame is
        tagged with its filter index, the tagged frames union (map-side,
        free), one groupBy(s) collects each subject's tag set, and the
        group/except structure becomes a row-local boolean over that
        array. A k-filter query therefore costs ONE shuffle instead of
        k (each Intersect/Except plans its own join + distinct) — at
        cluster scale that is k-1 fewer corpus-wide exchanges, and at
        serving scale it is the difference between ~2 and ~2k scheduler
        round-trips per request (the r5-measured latency floor).

        Plain property/object filters fold further: every ``p`` filter
        with an IRI property and no hop walk is a row predicate on the
        SAME triples table, so all of them evaluate in a single tagged
        scan (one pass emitting each row's matching filter indexes via
        array_compact+explode) instead of one scan per filter."""
        groups: list[list[int]] = []
        excepts: list[int] = []
        tagged: list[DataFrame] = []
        inline_tagged: list[tuple[int, DataFrame]] = []
        driver_rows: list = []  # driver-walked member arrays (see _walk_up)
        plain_conds: list[tuple[int, Column]] = []
        score_frames = []
        n_tags = 0
        for q in opts.get("filters", []):
            op = q.get("op", "should")
            cond = self._plain_cond(q)
            if cond is not None:
                tag = n_tags
                plain_conds.append((tag, cond))
            else:
                subj, scores = self.filter_subjects(q)
                if subj is None:
                    continue
                tag = n_tags
                if scores is _INLINE_SCORES:
                    # un-aggregated (s, score) rows: fold into the tagged
                    # aggregation below instead of a per-filter groupBy
                    inline_tagged.append((tag, subj))
                else:
                    if scores is not None:
                        score_frames.append(scores)
                    dr = getattr(subj, "_driver_rows", None)
                    if dr is not None:
                        driver_rows.append(dr)
                    tagged.append(subj.select("s").withColumn("_ftag", F.lit(tag)))
            n_tags += 1
            if not groups:
                groups.append([tag])
            elif op in ("must", "and"):
                groups[-1].append(tag)
            elif op == "not":
                excepts.append(tag)
            else:
                groups.append([tag])
        if plain_conds:
            hit_tags = F.array_compact(
                F.array(*[F.when(c, F.lit(tg)) for tg, c in plain_conds])
            )
            tagged.append(
                self.graph.triples.filter(
                    reduce(lambda a, b: a | b, [c for _, c in plain_conds])
                ).select("s", F.explode(hit_tags).alias("_ftag"))
            )
        if not groups:
            return None, None
        inline_sbs = None
        n_frames = len(tagged) + len(inline_tagged)
        single = (
            n_frames == 1
            and len(plain_conds) <= 1
            and not excepts
            and len(groups) == 1
            and len(groups[0]) == 1
        )
        if single and not inline_tagged:
            if driver_rows and not plain_conds:
                # the one filter was a driver-side walk: its rows are
                # already distinct, and the array rides along so the
                # fast page never round-trips the member frame
                combined = tagged[0].select("s")
                combined._driver_rows = driver_rows[0]
            else:
                pre = tagged[0].select("s")
                combined = pre.distinct()
                if plain_conds:
                    # single plain filter: the fast pages can collect
                    # the MAP-ONLY scan and np.unique driver-side —
                    # the distinct's member-set shuffle is the largest
                    # remaining per-request exchange on those paths
                    combined._pre_distinct_frame = pre
        elif single:
            # one scored filter: membership distinct AND per-subject max
            # score in the SAME aggregation — one shuffle total. The agg
            # frame is persisted (request-scoped) so the count lineage
            # and the later score join both read it instead of each
            # re-executing the match + walk.
            agg = (
                inline_tagged[0][1]
                .groupBy("s")
                .agg(F.max("score").alias("score"))
                .persist()
            )
            self._register_transient(agg)
            combined = agg.select("s")
            inline_sbs = agg.select("s", "score")
            # the member set WITH its scores in one frame: the fast
            # page joins terms against this once instead of
            # broadcasting members and scores separately (two futures,
            # two joins) — see _query_impl
            combined._inline_scored_frame = agg.select("s", "score")
        else:
            if inline_tagged:
                # normalize every frame to (s, _ftag, _score): unscored
                # frames carry null, which max() ignores, so membership
                # and ranking still cost the one tagged shuffle
                null_score = F.lit(None).cast("double")
                tagged = [
                    fr.select("s", "_ftag", null_score.alias("_score"))
                    for fr in tagged
                ]
                for tg, fr in inline_tagged:
                    tagged.append(
                        fr.select(
                            "s",
                            F.lit(tg).alias("_ftag"),
                            F.col("score").cast("double").alias("_score"),
                        )
                    )
            allt = reduce(lambda a, b: a.unionAll(b), tagged)
            if inline_tagged:
                agg = allt.groupBy("s").agg(
                    F.collect_set("_ftag").alias("_tags"),
                    F.max("_score").alias("_maxscore"),
                )
            else:
                agg = allt.groupBy("s").agg(F.collect_set("_ftag").alias("_tags"))
            cond = reduce(
                lambda a, b: a | b,
                [
                    reduce(
                        lambda a, b: a & b,
                        [F.array_contains(F.col("_tags"), t) for t in g],
                    )
                    for g in groups
                ],
            )
            for e in excepts:
                cond = cond & ~F.array_contains(F.col("_tags"), e)
            if inline_tagged:
                agg = agg.filter(cond).persist()
                self._register_transient(agg)
                combined = agg.select("s")
                inline_sbs = agg.filter(F.col("_maxscore").isNotNull()).select(
                    "s", F.col("_maxscore").alias("score")
                )
                combined._inline_scored_frame = agg.select(
                    "s", F.col("_maxscore").alias("score")
                )
            else:
                combined = agg.filter(cond).select("s")
        s_by_score = None
        if score_frames or inline_sbs is not None:
            frames = list(score_frames)
            if inline_sbs is not None:
                frames.append(inline_sbs)
            if len(frames) == 1 and inline_sbs is not None:
                # already per-subject max from the tagged aggregation.
                # The inline frame is by construction a SUBSET of the
                # returned member set (same persisted agg, filtered to
                # scored rows) — flag that so the fast page may cap +
                # broadcast it with the member-side cap proof (see
                # _query_impl): a join that survives the fast-page cap
                # never truncated this frame either.
                s_by_score = inline_sbs
                s_by_score._subset_of_members = True
            else:
                all_scores = reduce(lambda a, b: a.union(b), frames)
                s_by_score = all_scores.groupBy("s").agg(
                    F.max("score").alias("score")
                )
        return combined, s_by_score

    def subjects_values(self, opts: dict) -> DataFrame:
        """Filtered subject set as lexical forms — column ``s``."""
        s_results, _ = self.subjects(opts)
        if s_results is None:
            return self.graph.spark.createDataFrame([], "s string")
        return self._subject_values(s_results).select(F.col("s_value").alias("s"))

    # ---- ordering / paging --------------------------------------------
    def _probe_side(self, s_results: DataFrame, known_rows: int | None) -> DataFrame:
        """Return the filtered-subject frame marked for broadcast when
        its cardinality is KNOWN (query() already counted it for
        ``total``) and page-scale small. A broadcast side turns every
        corpus join downstream (terms values, label keys, facet
        semi-join) into a map-only BroadcastHashJoin — no corpus
        shuffle, and none of the extra per-stage scheduler round-trips
        AQE's late SMJ→BHJ conversion would still pay. Never forces a
        broadcast on an unknown or large count: those fall through to
        AQE, which is the correct adaptive path at cluster scale."""
        if known_rows is not None and known_rows <= _HOP_BROADCAST_ROWS:
            return F.broadcast(s_results)
        return s_results

    def _subject_values(
        self, s_results: DataFrame, known_rows: int | None = None
    ) -> DataFrame:
        terms = self.graph.terms.select("hash", F.col("value").alias("s_value"))
        probe = self._probe_side(s_results, known_rows)
        return probe.join(terms, probe.s == terms.hash).select("s", "s_value")

    def _order_key_frame(
        self,
        s_results: DataFrame | None,
        rule: dict,
        known_rows: int | None = None,
    ) -> DataFrame:
        """(s, sort_label, num_prefix) per the sort-api rule
        (reference query.py:316-465). With ``s_results=None`` the frame
        covers EVERY labeled subject — the shape _order_keys_cached
        persists once per (graph generation, rule) so repeated ordered
        pages stop re-deriving labels from the corpus per request."""
        by = (rule.get("by") or "label").lower()
        langs = rule.get("lang") or ["de", "en"]
        mode = (rule.get("mode") or "lex").lower()
        clean = rule.get("clean") or {"trim": True, "lower": mode == "lex"}
        natural = bool(rule.get("natural", False))

        t = self.graph.triples
        lits = self.graph.literals().select(F.col("hash").alias("_lh"), F.col("value").alias("_lv"))
        subj = (
            self._probe_side(s_results, known_rows) if s_results is not None else None
        )

        def scoped(df):
            return subj.join(df, "s") if subj is not None else df

        if by == "label":
            prop = RDFS_LABEL_IRI
            lab = scoped(t).filter(F.col("p") == H(prop))
        elif by == "property":
            prop = rule.get("prop")
            if not prop:
                raise ValueError("order.by='property' requires 'prop'")
            lab = scoped(t).filter(F.col("p") == H(prop))
        elif by == "object_label":
            via = rule.get("via")
            if not via:
                raise ValueError("order.by='object_label' requires 'via'")
            objs = (
                scoped(t)
                .filter(F.col("p") == H(via))
                .select("s", F.col("o").alias("_obj"))
            )
            t2 = t.select(F.col("s").alias("_obj"), F.col("p").alias("_p2"), F.col("o").alias("_o2"))
            if known_rows is not None and known_rows <= _HOP_BROADCAST_ROWS:
                objs = F.broadcast(objs)
            lab = (
                objs.join(t2, "_obj")
                .filter(F.col("_p2") == H(RDFS_LABEL_IRI))
                .select("s", F.col("_o2").alias("o"))
            )
        else:
            raise ValueError(f"Unsupported order.by={by!r}")

        # lab is bounded by the subject set's label rows — with a known
        # small count, broadcast it into the corpus-sized literals probe
        # so the whole key frame stays a map-only plan
        if known_rows is not None and known_rows <= _HOP_BROADCAST_ROWS:
            lab = F.broadcast(lab)
        lab = lab.join(lits, lab.o == F.col("_lh")).select("s", F.col("_lv").alias("lbl"))

        # language preference rank (reference query.py:245-258): stored
        # lexical forms look like '"text"@de' / '"text"'.
        rank_expr = None
        whens = []
        r = 1
        for lg in langs:
            whens.append((F.col("lbl").endswith(f'"@{lg}'), r))
            r += 1
        whens.append((~F.col("lbl").rlike('"@[A-Za-z-]+$'), r))
        r += 1
        rank_expr = F.lit(r)
        for cond, val in reversed(whens):
            rank_expr = F.when(cond, F.lit(val)).otherwise(rank_expr)

        raw_text = F.regexp_extract(F.col("lbl"), '^"(.+)"', 1)
        expr = raw_text
        c = clean or {}
        if c.get("remove_quotes", False):
            expr = F.regexp_replace(expr, '^"|"$', "")
        if c.get("collapse_space", False):
            expr = F.regexp_replace(expr, r"\s+", " ")
        if c.get("strip_punct", False):
            expr = F.regexp_replace(expr, "^[^0-9A-Za-z]+", "")
        if c.get("trim", True):
            expr = F.trim(expr)
        if mode == "lex" and c.get("lower", True):
            expr = F.lower(expr)

        ranked = lab.select("s", rank_expr.alias("lang_rank"), expr.alias("sort_label"))
        # best label per subject = min of the (lang_rank, sort_label)
        # struct: identical to a rank-1 row_number window over (rank asc,
        # label asc) — both fields are non-null (regexp_extract yields ""
        # on no match) — but plans as a hash aggregate with map-side
        # partial combine instead of shuffling + sorting every label row
        pref = (
            ranked.groupBy("s")
            .agg(F.min(F.struct("lang_rank", "sort_label")).alias("_pref"))
            .select("s", F.col("_pref.sort_label").alias("sort_label"))
        )
        if natural:
            pref = pref.withColumn(
                "num_prefix",
                F.nullif(F.regexp_extract(F.col("sort_label"), r"^(\d+)", 1), F.lit("")).try_cast(
                    "long"
                ),
            )
        return pref

    def _order_keys_cached(self, rule: dict) -> DataFrame | None:
        """Persisted full-corpus order-key frame for ``rule`` — built
        lazily on first use per graph generation, LRU-bounded, released
        on replace_graph. This is a sort index: the one-time build pays
        the corpus label derivation, and every later ordered page is a
        broadcast probe into it."""
        import json

        # key on ONLY the fields the frame depends on: dir/nulls are
        # applied at page-sort time, so 'label asc' and 'label desc'
        # must share one persisted index, not build two
        sig = {
            k: rule.get(k)
            for k in ("by", "prop", "via", "lang", "mode", "clean", "natural")
            if rule.get(k) is not None
        }
        try:
            key = (self._graph_generation, json.dumps(sig, sort_keys=True))
        except (TypeError, ValueError):
            return None  # uncacheable rule payload — per-query path
        with self._cache_lock:
            df = self._order_key_cache.get(key)
            if df is not None:
                self._order_key_cache.pop(key, None)
                self._order_key_cache[key] = df  # LRU touch
                return df
        try:
            df = self._order_key_frame(None, rule).persist()
            # right-size the cached index to its measured row count:
            # the build's shuffle width (spark.sql.shuffle.partitions)
            # is corpus-sized, but the index is label-count-sized, and
            # every ordered page scans ALL cached partitions — 32
            # near-empty task launches per probe at small SF. coalesce
            # reads the already-persisted blocks (no shuffle, no
            # recompute); at cluster scale the quotient keeps the
            # index as wide as its data needs.
            n = df.count()
            parts = max(1, min(n // 500_000 + 1, 2048))
            if parts < df.rdd.getNumPartitions():
                slim = df.coalesce(parts).persist()
                slim.count()
                df.unpersist()
                df = slim
        except ValueError:
            return None  # malformed rule — let the per-query path raise
        with self._cache_lock:
            if key[0] != self._graph_generation:
                return df  # graph swapped mid-build: usable, not cached
            prev = self._order_key_cache.pop(key, None)
            if prev is not None:
                # two threads raced the build: keep the first, drop ours
                self._order_key_cache[key] = prev
                try:
                    df.unpersist()
                except Exception:
                    pass
                return prev
            while len(self._order_key_cache) >= self._ORDER_KEY_CACHE_MAX:
                evicted = self._order_key_cache.pop(next(iter(self._order_key_cache)))
                try:
                    evicted.unpersist()
                except Exception:
                    pass
            self._order_key_cache[key] = df
            return df

    _ORDER_IDX_MAX = 4

    _MEMBER_SETS_MAX = 8

    def _member_set_get(self, filters_key: str):
        """Resident sorted-unique member hashes for a filter spec, or
        None. Generation-keyed: a mutation bumps the generation and
        replace_graph drops the dict, so a stale set is unreachable."""
        with self._cache_lock:
            k = (self._graph_generation, filters_key)
            arr = self._member_sets.get(k)
            if arr is not None:
                self._member_sets.pop(k, None)
                self._member_sets[k] = arr  # LRU touch
            return arr

    def _member_set_put(self, filters_key: str, arr) -> None:
        """Cache a collected member set, charged to the residency
        ledger under the single driver budget; silently skipped when
        the budget has no room (the next request just re-collects)."""
        with self._cache_lock:
            k = (self._graph_generation, filters_key)
            lk = "member_set:" + filters_key
            if k in self._member_sets:
                return
            other = sum(
                v for key_, v in self._residency_ledger.items() if key_ != lk
            )
            if other + arr.nbytes > self._residency_budget():
                return
            while len(self._member_sets) >= self._MEMBER_SETS_MAX:
                old_k = next(iter(self._member_sets))
                self._member_sets.pop(old_k)
                self._residency_ledger.pop("member_set:" + old_k[1], None)
                self._stat_bump("member_set_evictions")
            self._member_sets[k] = arr
            if arr.nbytes:
                self._residency_ledger[lk] = int(arr.nbytes)

    def _known_filter_total(self, filters_key):
        """Resident distinct-member count for a filter spec, or None.

        Serves the fast-path accept/reject gates without a Spark job:
        the (generation, filters) total memo and the member-set cache
        both hold the exact distinct count, so a steady-state repeat of
        an over-cap filter can skip the bounded probe collect that is
        guaranteed to be rejected — probe rows >= distinct members >
        cap, whichever frame (distinct, pre-distinct scan, or scored)
        the probe would have read. A total at or under the cap never
        skips, so an acceptable set still probes exactly as before."""
        if filters_key is None:
            return None
        with self._cache_lock:
            t = self._filter_totals.get((self._graph_generation, filters_key))
        if t is not None:
            return int(t)
        ms = self._member_set_get(filters_key)
        return int(ms.size) if ms is not None else None

    def _order_driver_index(self, rule: dict):
        """Driver-resident order-key index for ``rule``, or None.

        The distributed ordered page probes the persisted full-corpus
        order-key frame, joins member values, and TakeOrderedAndProject
        — ~3 exchanges per request over member-set-sized data. With the
        over-cap term cache resident the whole sort can run driver-side
        instead: collect the SAME frame once (so every rule semantic —
        language preference, via-walks, clean modes, natural prefixes,
        reference query.py:316-465 — inherits exactly), rank-encode the
        sort labels (equal strings share a rank, so ties still fall to
        the s_value tiebreak like the distributed orderBy), and an
        ordered page becomes searchsorted + np.lexsort over int64 keys.

        Entry: (s_sorted, label_rank_by_s, num_prefix_by_s | None,
        num_null_by_s | None). Gated like the other driver projections:
        over-tier-cap engines, second sighting of a (generation, rule)
        so mutation churn never pays the collect, row cap
        ``BIKIDATA_SPARK_DRIVER_ORDER_MAX_ROWS``, generation-keyed LRU."""
        mode = _DRIVER_ORDER
        if mode == "0":
            return None
        if mode != "1":
            st = self._local_tier_state
            if st is None or st[1] is not None:
                return None
        import json

        sig = {
            k: rule.get(k)
            for k in ("by", "prop", "via", "lang", "mode", "clean", "natural")
            if rule.get(k) is not None
        }
        try:
            key = (self._graph_generation, json.dumps(sig, sort_keys=True))
        except (TypeError, ValueError):
            return None
        with self._cache_lock:
            ent = self._order_idx_cache.get(key)
            if ent is not None:
                self._order_idx_cache.pop(key, None)
                self._order_idx_cache[key] = ent  # LRU touch
                return None if ent == "over_cap" else ent
            first_sighting = key not in self._order_idx_seen and mode != "1"
            if first_sighting:
                self._order_idx_seen.add(key)
        # a store-persisted sidecar (CLI warm / persist_tier on an
        # over-cap engine) loads on ANY sighting — an mmap read, not a
        # collect, so the mutation-churn rationale for deferring does
        # not apply (and tier_dir is only ever attached to unmutated
        # store-read graphs)
        loaded = self._order_sidecar_load(key)
        if loaded is not None:
            return loaded
        if first_sighting:
            return None
        frame = self._order_keys_cached(rule)
        if frame is None:
            return None
        ledger_key = "order_index:" + key[1]
        # byte-price BEFORE collecting (r12): one bounded aggregation
        # over the persisted index (count + label octet_length — the
        # _term_dict sizing discipline) rejects a hostile-length label
        # corpus without the driver ever holding its blob. The charge
        # covers the transient Arrow label column (blob + ~16 B/row of
        # offsets) plus the resident int64 entry, against the single
        # residency budget minus everything already resident.
        srow = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.octet_length("sort_label")).alias("b"),
        ).first()
        n_sized = int(srow["n"])
        lbl_bytes = int(srow["b"] or 0)
        priced = _ORDER_ENTRY_BYTES_PER_ROW * n_sized + lbl_bytes + 16 * n_sized
        # Admission is atomic: the priced bytes are RESERVED in the
        # ledger (provisional entry) under the same lock that checks
        # the budget, so a concurrent hop-/order-index build pricing
        # itself during our collect sees this build's bytes and cannot
        # co-admit past the single budget. The reservation is replaced
        # by measured bytes after the collect, and rolled back on
        # rejection, failure, or a mid-build generation swap.
        with self._cache_lock:
            other = sum(
                v for k, v in self._residency_ledger.items() if k != ledger_key
            )
            if (
                n_sized > _DRIVER_ORDER_MAX_ROWS
                or other + priced > self._residency_budget()
            ):
                self._order_idx_cache[key] = "over_cap"
                self._residency_ledger.pop(ledger_key, None)
                return None
            self._residency_ledger[ledger_key] = priced
        import pyarrow as pa
        import pyarrow.compute as pc

        try:
            tbl = frame.toArrow().combine_chunks()
        except BaseException:
            with self._cache_lock:
                self._residency_ledger.pop(ledger_key, None)
            raise
        n = tbl.num_rows
        if n == 0:
            ent = (
                np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.int64),
                None,
                None,
            )
        else:
            s_arr = tbl.column("s").chunk(0).to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            lbl = tbl.column("sort_label").chunk(0)
            si = pc.sort_indices(lbl)
            si_np = si.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            sv = lbl.take(si)
            # dense ranks: equal labels share a rank, so the member
            # sort ties exactly where the distributed orderBy ties
            if n > 1:
                ne = pc.not_equal(sv.slice(1), sv.slice(0, n - 1)).to_numpy(
                    zero_copy_only=False
                )
            else:
                ne = np.empty(0, dtype=bool)
            ranks_sorted = np.zeros(n, dtype=np.int64)
            np.cumsum(ne, out=ranks_sorted[1:])
            rank = np.empty(n, dtype=np.int64)
            rank[si_np] = ranks_sorted
            perm = np.argsort(s_arr, kind="stable")
            num = num_null = None
            if "num_prefix" in tbl.column_names:
                npx = tbl.column("num_prefix").chunk(0)
                num_null = pc.is_null(npx).to_numpy(zero_copy_only=False)[perm]
                num = (
                    npx.fill_null(0)
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False)[perm]
                )
            ent = (s_arr[perm], rank[perm], num, num_null)
        ent_bytes = sum(a.nbytes for a in ent if a is not None)
        evicted_ents = []
        with self._cache_lock:
            if key[0] != self._graph_generation:
                # graph swapped mid-build: usable, not cached — release
                # the reservation, nothing stays resident
                self._residency_ledger.pop(ledger_key, None)
                return ent
            while len(self._order_idx_cache) >= self._ORDER_IDX_MAX:
                evicted_key = next(iter(self._order_idx_cache))
                ev_ent = self._order_idx_cache.pop(evicted_key)
                self._residency_ledger.pop(
                    "order_index:" + evicted_key[1], None
                )
                self._stat_bump("order_index_evictions")
                self._order_idx_evicted.add(evicted_key[1])
                if ev_ent != "over_cap":
                    evicted_ents.append((evicted_key[1], ev_ent))
            if key[1] in self._order_idx_evicted:
                # a hot-rule mix rotating past _ORDER_IDX_MAX re-pays
                # the corpus collect per miss (~24-43 s at sf10) —
                # surface it so operators size the cap deliberately
                self._stat_bump("order_index_recollects_after_eviction")
                self._order_idx_evicted.discard(key[1])
            self._order_idx_cache[key] = ent
            if ent_bytes:
                self._residency_ledger[ledger_key] = ent_bytes
            else:
                self._residency_ledger.pop(ledger_key, None)
        self._warm_evicted_orders(evicted_ents)
        return ent

    def _order_sidecar_load(self, key):
        """mmap-load a store-persisted driver order index for ``key``
        (written by persist_driver_orders / CLI ``warm``), or None.

        This is lever (a) for the over-cap ordered page: the one-time
        corpus-wide order-key collect (~27 s at sf10) moves into the
        store's warm step, and a cold process's first ordered page
        costs a file map. Validation mirrors the tier order sidecars:
        row count vs meta, the rule sig embedded in the Arrow schema
        metadata (same row count cannot distinguish rules), and the
        searchsorted contract (s strictly ascending). Admission is
        atomic against the residency ledger."""
        tdir = self._dorder_dir()
        if not tdir or self._graph_generation != 0:
            return None
        import json
        import pyarrow as pa

        try:
            with open(os.path.join(tdir, "dorder_meta.json")) as f:
                dmeta = json.load(f)
        except (OSError, ValueError):
            return None
        # store-stamp check (r15): a sidecar stamped for OTHER content
        # (written by an engine that outlived a store rewrite) must not
        # serve — ranks describing the old labels would silently order
        # pages wrong. Either side missing a stamp = legacy store,
        # keep the pre-r15 behavior.
        gstamp = getattr(self.graph, "store_stamp", None)
        mstamp = dmeta.get("store_stamp")
        if gstamp is not None and mstamp is not None and list(gstamp) != mstamp:
            return None
        ent_meta = next(
            (
                m
                for m in dmeta.get("orders", [])
                if m.get("sig") == key[1]
            ),
            None,
        )
        if ent_meta is None:
            return None
        try:
            tbl = (
                pa.ipc.open_file(
                    pa.memory_map(os.path.join(tdir, str(ent_meta["file"])))
                )
                .read_all()
                .combine_chunks()
            )
            md = tbl.schema.metadata or {}
            if md.get(b"dorder_sig", b"").decode("utf-8") != key[1]:
                return None
            if tbl.num_rows != int(ent_meta["n"]):
                return None

            def _i64(name):
                c = tbl.column(name)
                if c.num_chunks == 0:
                    return np.empty(0, dtype=np.int64)
                return c.chunk(0).to_numpy(zero_copy_only=True).astype(
                    np.int64, copy=False
                )

            s_sorted = _i64("s")
            rank = _i64("rank")
            if rank.size != s_sorted.size:
                return None
            if s_sorted.size > 1 and np.any(np.diff(s_sorted) <= 0):
                return None  # must be strictly ascending & unique
            num = num_null = None
            if "num" in tbl.column_names:
                num = _i64("num")
                nn = tbl.column("num_null")
                if nn.num_chunks:
                    num_null = (
                        nn.chunk(0)
                        .to_numpy(zero_copy_only=True)
                        .astype(bool)
                    )
                else:
                    num_null = np.empty(0, dtype=bool)
                if num.size != s_sorted.size or num_null.size != s_sorted.size:
                    return None
        except (OSError, KeyError, ValueError, UnicodeDecodeError, pa.ArrowInvalid):
            return None
        ent = (s_sorted, rank, num, num_null)
        ent_bytes = sum(a.nbytes for a in ent if a is not None)
        ledger_key = "order_index:" + key[1]
        with self._cache_lock:
            cur = self._order_idx_cache.get(key)
            if cur is not None:
                return None if cur == "over_cap" else cur
            other = sum(
                v for k2, v in self._residency_ledger.items() if k2 != ledger_key
            )
            if (
                tbl.num_rows > _DRIVER_ORDER_MAX_ROWS
                or other + ent_bytes > self._residency_budget()
            ):
                # over budget: serve the zero-copy mmap entry UNCACHED
                # (the arrays are file-backed pages, not admitted driver
                # heap) so a full ledger degrades to a per-request file
                # map + validation instead of a distributed sort; it
                # becomes cache-admitted the moment the budget frees
                self._stat_bump("order_sidecar_uncached_serves")
                return ent
            evicted_ents = []
            while len(self._order_idx_cache) >= self._ORDER_IDX_MAX:
                ek = next(iter(self._order_idx_cache))
                ev_ent = self._order_idx_cache.pop(ek)
                self._residency_ledger.pop("order_index:" + ek[1], None)
                self._stat_bump("order_index_evictions")
                self._order_idx_evicted.add(ek[1])
                if ev_ent != "over_cap":
                    evicted_ents.append((ek[1], ev_ent))
            self._order_idx_cache[key] = ent
            self._stat_bump("order_sidecar_loads")
            if ent_bytes:
                self._residency_ledger[ledger_key] = ent_bytes
        self._warm_evicted_orders(evicted_ents)
        return ent

    def persist_driver_orders(self, dir_path: str) -> int:
        """Persist the resident driver order indexes as store-level
        sidecars (``{store}/_tier/dorder_N.arrow`` + dorder_meta.json)
        so a cold engine over this store mmap-loads them
        (_order_sidecar_load) instead of paying the one-time corpus
        collect. Works with NO tier resident — the over-cap engine is
        the point. Same tmp+rename / meta-last discipline as the tier
        artifact; each file embeds its rule sig in the Arrow schema
        metadata. Returns the number persisted (0 on a mutated engine:
        the sidecars must describe exactly the store's content).

        Entries MERGE with any already-persisted sidecar (r15): rule
        sigs warmed earlier — by a previous persist or by eviction-time
        warming (_warm_evicted_orders) — are kept, so warming
        accumulates across the store's lifetime instead of the last
        persist clobbering the set."""
        if self._graph_generation != 0:
            return 0
        with self._cache_lock:
            entries = [
                (k[1], v)
                for k, v in self._order_idx_cache.items()
                if k[0] == 0 and v != "over_cap"
            ][-self._ORDER_IDX_MAX :]
        if not entries:
            return 0
        return self._dorder_persist_merge(dir_path, entries)

    def _dorder_dir(self) -> str | None:
        """Where this engine's store-level dorder sidecars live:
        ``tier_dir`` when an artifact already exists, else
        ``{store_dir}/_tier`` for store-read graphs — eviction-time
        warming can CREATE the sidecar dir on a fresh store, and the
        loader then finds what warming wrote within the same process.
        None for non-store graphs (nothing durable to warm into)."""
        tdir = getattr(self.graph, "tier_dir", None)
        if tdir:
            return tdir
        sdir = getattr(self.graph, "store_dir", None)
        return os.path.join(sdir, "_tier") if sdir else None

    def _warm_evicted_orders(self, items) -> None:
        """Persist just-evicted order-index entries as store dorder
        sidecars (r15, VERDICT item 7): a serving mix rotating more
        sort rules than ``_ORDER_IDX_MAX`` used to re-pay the corpus
        order collect per miss (~24-43 s at sf10); persisting the
        evicted entry turns the next miss into an mmap sidecar load
        (_order_sidecar_load). Only store-backed, unmutated engines
        warm (the sidecar must describe exactly the store's content —
        the same gate the sidecar loader applies); the write is file
        I/O over the already-resident arrays (no Spark job, ~tens of
        ms for the sf10 57 MB/rule entry vs the multi-second collect
        the caller just paid). Failures are swallowed: warming is an
        optimization, never load-bearing."""
        if not items:
            return
        tdir = self._dorder_dir()
        if not tdir or self._graph_generation != 0:
            return
        try:
            n = self._dorder_persist_merge(tdir, items)
        except Exception:
            return
        if n:
            with self._cache_lock:
                self._cache_stats["order_warm_persists"] = (
                    self._cache_stats.get("order_warm_persists", 0) + n
                )

    def _dorder_persist_merge(self, dir_path: str, items) -> int:
        """Merge ``(rule-sig, entry)`` pairs into the dorder sidecar at
        ``dir_path``: read the current meta, append entries whose sig
        is not yet persisted (same-store generation-0 entries for one
        sig are identical, so skipping is safe), tmp+rename each file
        then the meta last. ``_dorder_file_lock`` serializes the
        read-modify-write within this process. The meta embeds the
        graph's store stamp; a pre-existing meta carrying a DIFFERENT
        stamp describes other content (the store was rewritten around
        us) — its entries are discarded, never merged with. Returns
        how many new entries were written."""
        import json
        import pyarrow as pa

        os.makedirs(dir_path, exist_ok=True)
        written = 0
        stamp = getattr(self.graph, "store_stamp", None)
        stamp = list(stamp) if stamp else None
        with self._dorder_file_lock:
            try:
                with open(os.path.join(dir_path, "dorder_meta.json")) as f:
                    meta = json.load(f)
                orders = list(meta.get("orders", []))
                old_stamp = meta.get("store_stamp")
                if stamp is not None and old_stamp is not None and old_stamp != stamp:
                    orders = []  # stale sidecar for other content: replace
            except (OSError, ValueError):
                orders = []
            have = {m.get("sig") for m in orders}
            used = {m.get("file") for m in orders}
            nxt = 0
            for sigj, ent in items:
                if sigj in have:
                    continue
                s_sorted, rank, num, num_null = ent
                cols = {
                    "s": pa.array(s_sorted, pa.int64()),
                    "rank": pa.array(rank, pa.int64()),
                }
                if num is not None:
                    cols["num"] = pa.array(num, pa.int64())
                    cols["num_null"] = pa.array(
                        num_null.astype(np.int8), pa.int8()
                    )
                tbl = pa.table(cols).replace_schema_metadata(
                    {b"dorder_sig": sigj.encode("utf-8")}
                )
                while f"dorder_{nxt}.arrow" in used:
                    nxt += 1
                name = f"dorder_{nxt}.arrow"
                used.add(name)
                tmp = os.path.join(dir_path, f".{name}.tmp")
                with pa.OSFile(tmp, "wb") as f, pa.ipc.new_file(f, tbl.schema) as w:
                    w.write_table(tbl)
                os.replace(tmp, os.path.join(dir_path, name))
                orders.append(
                    {"file": name, "sig": sigj, "n": int(s_sorted.size)}
                )
                have.add(sigj)
                written += 1
            if written:
                out = {"orders": orders}
                if stamp is not None:
                    out["store_stamp"] = stamp
                tmp = os.path.join(dir_path, ".dorder_meta.json.tmp")
                with open(tmp, "w") as f:
                    json.dump(out, f)
                os.replace(tmp, os.path.join(dir_path, "dorder_meta.json"))
        return written

    def _order_page_driver(
        self, oidx, td, hs_all: np.ndarray, rule: dict, size: int, start: int
    ):
        """Ordered page over driver-resident structures: the exact key
        set page()'s orderBy uses — (null_key, [num_null asc, num dir,]
        sort_label dir, s_value asc) — as an np.lexsort over int64
        columns. Returns (page_rows, total) or None to fall back
        (members missing from the dictionary base: overlay terms could
        collide on insertion-point keys, so they take the distributed
        path)."""
        s_sorted, rank_by, num, num_null = oidx
        svk, found = td.order_keys(hs_all)
        if not found.all():
            return None  # dictionary-contract violation: distributed path
        if td.extra and svk.size and not (svk & 1).all():
            return None  # overlay members: even keys can collide
        direction = (rule.get("dir") or "asc").lower()
        nulls = (rule.get("nulls") or "last").lower()
        natural = bool(rule.get("natural", False))
        n = hs_all.size
        if s_sorted.size:
            pos = np.searchsorted(s_sorted, hs_all)
            posc = np.minimum(pos, s_sorted.size - 1)
            has = s_sorted[posc] == hs_all
            pos = posc
        else:
            pos = np.zeros(n, dtype=np.int64)
            has = np.zeros(n, dtype=bool)
        null_k = (~has).astype(np.int64)
        if nulls == "first":
            null_k = -null_k
        lk = np.zeros(n, dtype=np.int64)
        lk[has] = rank_by[pos[has]]
        if direction == "desc":
            lk = -lk
        keys = [svk, lk]
        if natural:
            nk = np.zeros(n, dtype=np.int64)
            nn = np.ones(n, dtype=np.int64)
            if num is not None:
                nn[has] = num_null[pos[has]]
                nk[has] = np.where(num_null[pos[has]], 0, num[pos[has]])
            if direction == "desc":
                nk = -nk
            keys += [nk, nn]
        keys.append(null_k)
        order = np.lexsort(tuple(keys))
        sel = order[start : start + size] if size else order[:0]
        ph = hs_all[sel]
        vals, _vf = td.values_of(ph)
        page = [
            {"s": int(h), "s_value": v}
            for h, v in zip(ph.tolist(), vals.tolist())
        ]
        return page, int(n)

    _NOTD_TIE_REGION_MAX = 131072

    def _order_page_driver_notd(self, oidx, hs_all, rule: dict, size: int, start: int):
        """TermDict-free driver ordered page (r13) — the sf10 shape:
        order index in budget, dictionary over budget. The full
        distributed page was running per request (reference-parity
        1.2x); here the sort runs on the resident index keys alone,
        and the s_value tiebreak — needed only WITHIN key-tie runs
        overlapping the page window — plus the page's value decode
        resolve via ONE bounded ``_term_values`` probe (pushed-IN /
        broadcast join, page-scale). Tie runs past
        ``_NOTD_TIE_REGION_MAX`` (e.g. a page inside a corpus-sized
        null-label group) fall back to the distributed page. Returns
        (page_rows, total) or None."""
        s_sorted, rank_by, num, num_null = oidx
        direction = (rule.get("dir") or "asc").lower()
        nulls = (rule.get("nulls") or "last").lower()
        natural = bool(rule.get("natural", False))
        n = hs_all.size
        if s_sorted.size:
            pos = np.searchsorted(s_sorted, hs_all)
            posc = np.minimum(pos, s_sorted.size - 1)
            has = s_sorted[posc] == hs_all
            pos = posc
        else:
            pos = np.zeros(n, dtype=np.int64)
            has = np.zeros(n, dtype=bool)
        null_k = (~has).astype(np.int64)
        if nulls == "first":
            null_k = -null_k
        lk = np.zeros(n, dtype=np.int64)
        lk[has] = rank_by[pos[has]]
        if direction == "desc":
            lk = -lk
        # least → most significant, exactly _order_page_driver's key
        # stack MINUS the svk tiebreak (resolved below for ties only)
        keys = [lk]
        if natural:
            nk = np.zeros(n, dtype=np.int64)
            nn = np.ones(n, dtype=np.int64)
            if num is not None:
                nn[has] = num_null[pos[has]]
                nk[has] = np.where(num_null[pos[has]], 0, num[pos[has]])
            if direction == "desc":
                nk = -nk
            keys += [nk, nn]
        keys.append(null_k)
        order = np.lexsort(tuple(keys))
        lo, hi = start, min(start + size, n) if size else start
        if lo >= hi:
            return [], int(n)
        # tie runs over the composite key, in sorted order
        sorted_keys = [k[order] for k in keys]
        change = np.zeros(n, dtype=bool)
        if n:
            change[0] = True
        for k in sorted_keys:
            change[1:] |= k[1:] != k[:-1]
        run_id = np.cumsum(change) - 1
        region = (run_id >= run_id[lo]) & (run_id <= run_id[hi - 1])
        rpos = np.nonzero(region)[0]
        if rpos.size > self._NOTD_TIE_REGION_MAX:
            return None  # corpus-sized tie group: distributed page
        rhash = hs_all[order[rpos]]
        vals = self._term_values(rhash.tolist())
        if len(vals) != rhash.size:
            return None  # dictionary-contract violation / hash dup
        rvals = [vals[int(h)] for h in rhash.tolist()]
        if any(v is None for v in rvals):
            return None  # nullable terms.value: degrade to distributed page
        rrun = run_id[rpos]
        reorder = sorted(
            range(rpos.size), key=lambda i: (rrun[i], rvals[i])
        )
        off = lo - int(rpos[0])
        sel = reorder[off : off + (hi - lo)]
        page = [
            {"s": int(rhash[i]), "s_value": rvals[i]} for i in sel
        ]
        return page, int(n)

    def page(
        self,
        opts: dict,
        _subjects: tuple | None = None,
        _known_rows: int | None = None,
        _observe=None,
    ) -> DataFrame:
        """Ordered page of subjects: (pos, s, s_value). Deterministic:
        ties always break on the subject's lexical form (the reference
        breaks ties on the hash, which is engine-arbitrary; the lexical
        form is the portable equivalent). Paging uses sort+offset+limit —
        Spark plans it as TakeOrderedAndProject (no full global sort
        materialization); ``pos`` is then assigned on the ≤size-row page.

        ``_subjects`` lets ``query()`` pass an already-materialized
        (s_results, s_by_score) pair so the filter algebra runs once per
        request instead of once per phase (total / page / aggregates).

        ``_observe`` (r15): an ``Observation`` that rides the page job
        to count the member rows — query() folds the total count into
        the page collect instead of running a separate count job. The
        metrics node sits on the sv branch only (the keys/probe branch
        reuses s_results without it, so rows are never double-counted),
        below the sort, and TakeOrderedAndProject scans every input
        row, so the observed count is exactly |sv| = |s_results| (the
        dictionary-completeness invariant the fast page's total already
        leans on)."""
        size, start = _parse_size_start(opts)
        s_results, s_by_score = (
            _subjects if _subjects is not None else self.subjects(opts)
        )
        if s_results is None:
            return self.graph.spark.createDataFrame([], "pos int, s long, s_value string")
        # ONE canonical member projection feeds every probe branch (r15,
        # guide §2.4): the sv values join and the ordered branch's keys
        # probe previously broadcast two differently-projected copies of
        # the member frame, so Spark built two BroadcastExchanges — two
        # broadcast-build jobs each re-scanning the member set. With an
        # identical child plan, ReuseExchange folds them into one build.
        member_probe = s_results.select("s")
        sv = self._subject_values(member_probe, _known_rows)
        if _observe is not None:
            sv = sv.observe(_observe, F.count(F.lit(1)).alias("n"))
        order_rules = _normalize_order_rules(opts.get("order"))
        if order_rules:
            rule = order_rules[0]
            direction = (rule.get("dir") or "asc").lower()
            nulls = (rule.get("nulls") or "last").lower()
            natural = bool(rule.get("natural", False))
            keys_full = self._order_keys_cached(rule)
            if keys_full is not None:
                # sort-index path: probe the persisted full-corpus key
                # frame with the (broadcast-small) subject set — map-only
                keys = keys_full.join(
                    self._probe_side(member_probe, _known_rows), "s"
                )
            else:
                keys = self._order_key_frame(s_results, rule, _known_rows)
            if _known_rows is not None and _known_rows <= _HOP_BROADCAST_ROWS:
                # keys is bounded by the subject count — broadcast it as
                # the build side of the left join (map-only page plan)
                keys = F.broadcast(keys)
            df = sv.join(keys, "s", "left")
            null_key = F.col("sort_label").isNull().cast("int")
            if nulls == "first":
                null_key = -null_key
            order_cols = [null_key.asc()]
            if natural:
                order_cols += [
                    F.col("num_prefix").isNull().cast("int").asc(),
                    F.col("num_prefix").desc() if direction == "desc" else F.col("num_prefix").asc(),
                ]
            order_cols += [
                F.col("sort_label").desc() if direction == "desc" else F.col("sort_label").asc(),
                F.col("s_value").asc(),
            ]
        elif s_by_score is not None:
            df = sv.join(s_by_score, "s", "left")
            order_cols = [F.col("score").desc_nulls_last(), F.col("s_value").asc()]
        else:
            df = sv
            order_cols = [F.col("s_value").asc()]
        ordered = df.orderBy(*order_cols)
        paged = ordered.offset(start).limit(size) if start else ordered.limit(size)
        # pos WITHOUT a window: the page is coalesced to one partition
        # and re-sorted within it, so monotonically_increasing_id() is
        # exactly the 0-based row index (partition id 0 contributes no
        # high bits) and the order columns' tiebreaks make it
        # deterministic. A window would need an unpartitioned spec here
        # — Spark 4.1's EliminateWindowPartitions folds any literal
        # partition key away, leaving WindowExec to log its "all data
        # to a single partition" warning on every query.
        out = (
            paged.coalesce(1)
            .sortWithinPartitions(*order_cols)
            .withColumn("pos", (F.monotonically_increasing_id() + 1).cast("int"))
        )
        return out.select("pos", "s", "s_value")

    # ---- aggregates ----------------------------------------------------
    def facet(
        self,
        s_results: DataFrame | None,
        agg: str,
        scores: DataFrame | None = None,
        known_rows: int | None = None,
        ordered: bool = True,
        limit: int | None = None,
    ) -> DataFrame:
        """Facet counts over the (filtered or whole-corpus) subject set
        (reference query.py:744-753, 824-832) → (count, val), ordered
        count-desc like the reference (val tiebreak for determinism —
        facet outputs are distinct-value-sized, so the sort is tiny).

        ``limit`` caps the value cardinality at the top-N buckets
        (default :data:`FACET_MAX_VALUES`; pass 0 for the reference's
        unbounded behavior). With ``ordered`` the orderBy+limit compiles
        to TakeOrderedAndProject — each partition keeps N rows, the
        driver merges N, so a facet over a billion-distinct property
        returns without materializing its cardinality anywhere.

        With ``scores`` (the (s, score) frame a scored filter — fts or
        semantic — produced), the facet is WEIGHTED: each subject
        contributes its score to its facet value, so relevance, not raw
        membership, ranks the buckets → (count, weight, val) ordered
        weight-desc. Weights sum per-subject scores rounded to 6dp as
        DECIMAL — exact and partition-order-independent, so the result
        is bit-reproducible (and DuckDB-mirrorable)."""
        limit = FACET_MAX_VALUES if limit is None else (limit or None)
        t = self.graph.triples
        if s_results is not None:
            # known-small subject sets broadcast into the semi-join so
            # the corpus triples side is probed map-only (see
            # _probe_side); ``ordered=False`` additionally skips the
            # global sort — callers that collect anyway (query()) sort
            # the distinct-value-sized result driver-side instead of
            # paying a range-partitioning exchange plus its sampling
            # pass per facet
            t = t.join(
                self._probe_side(s_results.select("s"), known_rows), "s", "left_semi"
            )
        terms = self.graph.terms.select("hash", F.col("value").alias("val"))

        def _g(df: DataFrame) -> DataFrame:
            # the grouped facet counts are bounded by the (known-small)
            # subject set's triples — broadcast them into the terms
            # probe so the value-resolution join is map-only even with
            # AQE disabled for the point-query scope
            if known_rows is not None and known_rows <= _HOP_BROADCAST_ROWS:
                return F.broadcast(df)
            return df
        if scores is not None and agg not in ("properties", "graphs"):
            base = t.filter(F.col("p") == H(str(agg))).join(scores, "s", "left")
            grouped = base.groupBy("o").agg(
                F.count("s").alias("count"),
                F.sum(
                    F.round(F.coalesce(F.col("score"), F.lit(0.0)), 6).cast(
                        "decimal(28,10)"
                    )
                )
                .cast("double")
                .alias("weight"),
            )
            out = _g(grouped).join(terms, grouped.o == terms.hash).select(
                "count", "weight", "val"
            )
            if not ordered:
                return out  # unordered = caller caps/sorts (fused path)
            out = out.orderBy(
                F.col("weight").desc(), F.col("count").desc(), F.col("val").asc()
            )
            return out.limit(limit) if limit else out
        if agg == "properties":
            grouped = t.groupBy("p").agg(F.count("*").alias("count"))
            out = _g(grouped).join(terms, grouped.p == terms.hash).select("count", "val")
        elif agg == "graphs":
            grouped = t.groupBy("g").agg(F.count("*").alias("count"))
            out = _g(grouped).join(terms, grouped.g == terms.hash).select("count", "val")
        else:
            grouped = (
                t.filter(F.col("p") == H(str(agg)))
                .groupBy("o")
                .agg(F.count("s").alias("count"))
            )
            out = _g(grouped).join(terms, grouped.o == terms.hash).select("count", "val")
        if not ordered:
            return out  # unordered = caller caps/sorts (fused path)
        out = out.orderBy(F.col("count").desc(), F.col("val").asc())
        return out.limit(limit) if limit else out

    def _facets_fused(
        self,
        s_results: DataFrame | None,
        aggs: list[str],
        known_rows: int | None = None,
        limit: int | None = None,
        plan_key: str | None = None,
    ) -> dict[str, list[tuple[int, str]]]:
        """Every requested (unweighted) facet in ONE job (reference
        query.py:744-753 loops one SQL statement per aggregate; the r6
        engine likewise collected once per facet). Each triples row is
        tagged with the facet indexes it contributes to — property
        facets match on ``p``, ``properties``/``graphs`` contribute
        unconditionally with ``p``/``g`` as the key — via an
        array-of-structs + array_compact + explode, so one scan of the
        (semi-joined) corpus, one groupBy(tag, key) shuffle, and one
        terms-resolution join serve k facets. At serving scale that is
        k-1 fewer scheduler round-trips per request; at cluster scale
        k-1 fewer corpus scans + exchanges. Results split driver-side
        (facet outputs are distinct-value-sized) and sort like the
        per-facet path: count desc, val asc.

        ``limit`` (default :data:`FACET_MAX_VALUES`, 0 = unbounded) caps
        each facet at its top-N (count desc, val asc) buckets. On the
        broadcast-scoped small path the collect is already bounded by
        the subject set and the cap is applied driver-side; on the
        corpus path a per-tag ``row_number`` window bounds what reaches
        the driver to N+1 rows per facet — the difference between a
        facet on a high-cardinality property returning a page and
        OOMing the driver at scale. The +1 sentinel row is how the
        caller learns the cap BIT (the reference's facets are
        unbounded, so a capped facet must be distinguishable from a
        complete one): returns (facets dict, [names of truncated
        facets])."""
        limit = FACET_MAX_VALUES if limit is None else (limit or None)
        gen = self._graph_generation
        small_scope = known_rows is not None and known_rows <= _HOP_BROADCAST_ROWS
        td_small = self._term_dict() if small_scope else None
        # compiled-plan cache (r10): for a repeated (filter spec, facet
        # set) the subject plan is identity-stable (_plan_cache), so the
        # fused-facet frame built over it is reusable too — the ~0.2 s
        # of per-request py4j Column/plan construction was what kept
        # the facet/page overlap thread from submitting immediately.
        # Execution is never skipped: a cached frame re-collects fresh.
        fkey = f"facets:{plan_key}|{limit}|{small_scope}" if plan_key else None
        if fkey is not None:
            ent = self._plan_cache_get(gen, fkey)
            if (
                ent is not None
                and ent[0] is s_results
                and ent[1] == (td_small is not None)
            ):
                return self._facets_collect(ent[2], aggs, limit, td_small)
        t = self.graph.triples
        prop_aggs = [a for a in aggs if a not in ("properties", "graphs")]
        if len(prop_aggs) == len(aggs) and prop_aggs:
            # every facet keys on a specific property: filter BEFORE the
            # tag-explode so it feeds only contributing rows (the when()
            # branches null out the rest anyway, but this runs the
            # corpus scan through one long-compare instead of an
            # array-of-structs build per row — and reaches the parquet
            # scan as a pushed filter on a cold store)
            t = t.filter(_isin_terms(F.col("p"), prop_aggs))
        if s_results is not None:
            t = t.join(
                self._probe_side(s_results.select("s"), known_rows), "s", "left_semi"
            )
        branches = []
        for i, agg in enumerate(aggs):
            if agg == "properties":
                branches.append(
                    F.struct(F.lit(i).alias("_tag"), F.col("p").alias("_key"))
                )
            elif agg == "graphs":
                branches.append(
                    F.struct(F.lit(i).alias("_tag"), F.col("g").alias("_key"))
                )
            else:
                branches.append(
                    F.when(
                        F.col("p") == H(str(agg)),
                        F.struct(F.lit(i).alias("_tag"), F.col("o").alias("_key")),
                    )
                )
        pairs = t.select(
            F.explode(F.array_compact(F.array(*branches))).alias("_tk")
        ).select(F.col("_tk._tag").alias("_tag"), F.col("_tk._key").alias("_key"))
        grouped = pairs.groupBy("_tag", "_key").agg(F.count("*").alias("count"))
        if td_small is not None:
            # driver-resident dictionary: collect (tag, key-hash, count)
            # — bounded by the subject set on this path — and resolve
            # values driver-side, cutting the terms join (and its scan)
            # out of the request plan entirely
            frame = grouped
        else:
            if small_scope:
                grouped = F.broadcast(grouped)
            terms = self.graph.terms.select("hash", F.col("value").alias("val"))
            out = grouped.join(terms, grouped._key == terms.hash).select(
                "_tag", "count", "val"
            )
            if limit and not small_scope:
                # corpus-scale facet: bound what reaches the driver
                # BEFORE the collect — top-N+1 per tag via a row_number
                # window (the k-facet generalization of
                # TakeOrderedAndProject; +1 is the truncation sentinel).
                # The small/broadcast path skips the extra exchange: its
                # collect is already bounded by the subject set's
                # triples.
                w = Window.partitionBy("_tag").orderBy(
                    F.col("count").desc(), F.col("val").asc()
                )
                out = (
                    out.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") <= limit + 1)
                    .drop("_rn")
                )
            frame = out
        if fkey is not None:
            self._plan_cache_put(
                gen, fkey, (s_results, td_small is not None, frame)
            )
        return self._facets_collect(frame, aggs, limit, td_small)

    def _facets_collect(self, frame, aggs, limit, td):
        """Run a compiled fused-facet frame and shape the response:
        driver-side value resolution when a TermDict is resident
        (frame carries key HASHES), the joined ``val`` column
        otherwise; then the shared (count desc, val asc) sort + cap +
        truncation marker."""
        rows = frame.collect()
        by_tag: dict[int, list] = {i: [] for i in range(len(aggs))}
        if td is not None:
            hs = np.fromiter(
                (r["_key"] for r in rows), dtype=np.int64, count=len(rows)
            )
            vals, found = td.values_of(hs)
            for r, v, f in zip(rows, vals.tolist(), found):
                if f:  # missing hashes drop, like the join
                    by_tag[r["_tag"]].append((r["count"], v))
        else:
            for r in rows:
                by_tag[r["_tag"]].append((r["count"], r["val"]))
        truncated = []
        for i, agg in enumerate(aggs):
            vals_l = by_tag[i]
            vals_l.sort(key=lambda cv: (-cv[0], cv[1]))
            if limit and len(vals_l) > limit:
                truncated.append(str(agg))
                del vals_l[limit:]
        return {agg: by_tag[i] for i, agg in enumerate(aggs)}, truncated

    # ---- paths ---------------------------------------------------------
    def paths(self, subjects: DataFrame, prop: str) -> DataFrame:
        """Ancestor chains via `prop` edges: (s, pos, ancestor) with
        pos=1 the parent (reference query.py:802-822 recursive CTE →
        bounded iterative join; page-sized frontier, so each step is a
        broadcast-sized join against the edge set).

        Cycle semantics match the reference: its CTE grows paths
        bottom-up FROM ROOTS (nodes with no parent), so a subject whose
        ancestor chain never reaches a root — a cycle — gets NO path at
        all. The walk-up formulation detects a cycle as a frontier node
        REVISITING a node already on that subject's chain; those
        subjects' rows are dropped. Merely-deep acyclic chains (longer
        than ``MAX_PATH_DEPTH``) keep walking — the reference CTE is
        unbounded and emits them in full — with a logged warning and a
        hard safety cap of ``8 × MAX_PATH_DEPTH``.

        Driver round-trips are batched: ``_CHECK_EVERY`` join levels
        share one ``localCheckpoint`` + one ``count`` probe, so a
        d-deep walk costs ~2·d/3 driver actions instead of 2·d, while
        lineage stays bounded (each level is rooted at most 2 joins
        past a checkpoint). The count doubles as the emptiness check
        AND the broadcast decision: while the frontier is small (the
        serving contract — page-sized subject sets), every level joins
        as an explicit broadcast so the corpus-sized edge set is probed
        in place, never shuffled (AQE can only downgrade after both
        sides have already shuffled — see _walk_up).

        Dimension-sized hierarchies (r6): when the prop's edge set fits
        ``_LOCAL_PATHS_EDGES`` it is collected ONCE per generation and
        the walk runs driver-side in Python — zero Spark jobs per level
        instead of two per batch (the dominant share of a paths
        request's scheduler round-trips). The Python walk replicates
        the distributed semantics exactly — per-level multiplicity,
        batch-aligned cycle checks, the hard cap — and a differential
        test pins the two paths equal on diamond/cycle/deep graphs.
        Larger hierarchies take the distributed walk unchanged."""
        lmap = self._paths_edges_map(prop)
        if lmap is not None:
            subj = subjects.select("s").limit(_LOCAL_PATHS_SUBJECTS + 1).collect()
            if len(subj) <= _LOCAL_PATHS_SUBJECTS:
                rows = self._paths_local_rows(lmap, [r["s"] for r in subj])
                if rows is not None:  # None: row budget blown — go distributed
                    return self.graph.spark.createDataFrame(
                        rows, "src long, pos int, ancestor long"
                    )
        edges = self._paths_edges(prop)
        start = subjects.select(
            F.col("s").alias("src"), F.col("s").alias("cur")
        ).localCheckpoint(eager=True)
        cur = start
        n = start.count()
        small = n <= _HOP_BROADCAST_ROWS
        rows = []
        cyclic_accum = None
        hard_cap = MAX_PATH_DEPTH * 8
        depth = 0
        warned = False
        while depth < hard_cap:
            batch = []
            # same stale-count guard as _walk_up: a frontier within an
            # order of magnitude of the broadcast ceiling re-checks
            # every level, so a hub fan-out cannot ride a stale "small"
            # verdict into an oversized forced broadcast
            step = 1 if (small and n > _HOP_BROADCAST_ROWS // 10) else _CHECK_EVERY
            for _ in range(min(step, hard_cap - depth)):
                depth += 1
                probe = F.broadcast(cur) if small else cur
                cur = (
                    edges.join(probe, probe["cur"] == edges["child"])
                    .select("src", F.col("parent").alias("cur"))
                )
                batch.append((depth, cur))
            cur = cur.localCheckpoint(eager=True)
            batch[-1] = (batch[-1][0], cur)
            rows.extend(
                df.select("src", F.lit(d).alias("pos"), F.col("cur").alias("ancestor"))
                for d, df in batch
            )
            n = cur.count()
            if n == 0:
                break
            small = n <= _HOP_BROADCAST_ROWS
            if depth >= MAX_PATH_DEPTH:
                # cycle check: a frontier node already on its subject's
                # chain (or the subject itself) can never reach a root —
                # drop that subject, keep walking the genuinely-deep ones
                # rows[-1] IS the current frontier depth — a node is a
                # revisit only if it appeared STRICTLY EARLIER on the
                # chain, so the seen-set stops one level short
                seen = reduce(
                    lambda a, b: a.union(b),
                    [start]
                    + [r.select("src", F.col("ancestor").alias("cur")) for r in rows[:-1]],
                )
                cyclic = (
                    cur.join(seen, ["src", "cur"], "left_semi")
                    .select("src")
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                cyclic_accum = (
                    cyclic if cyclic_accum is None else cyclic_accum.union(cyclic)
                )
                cur = cur.join(cyclic, "src", "left_anti").localCheckpoint(eager=True)
                if cur.isEmpty():
                    break
                if not warned:
                    log.warning(
                        "paths(%s): acyclic ancestor chain deeper than "
                        "MAX_PATH_DEPTH=%d; continuing to the %d-level "
                        "safety cap",
                        prop,
                        MAX_PATH_DEPTH,
                        hard_cap,
                    )
                    warned = True
        if not rows:
            return self.graph.spark.createDataFrame([], "src long, pos int, ancestor long")
        out = reduce(lambda a, b: a.union(b), rows)
        if not cur.isEmpty():
            # still alive at the hard cap: treat like the old bounded
            # behavior — drop those subjects rather than emit a torso
            log.warning(
                "paths(%s): chain still alive at the %d-level safety cap; "
                "dropping its subjects' rows",
                prop,
                hard_cap,
            )
            out = out.join(cur.select("src").distinct(), "src", "left_anti")
        if cyclic_accum is not None:
            out = out.join(cyclic_accum, "src", "left_anti")
        return out

    def _paths_edges(self, prop: str) -> DataFrame:
        """Persisted (child, parent) edge frame for ``prop`` — the
        hierarchy paths() walks. Persisting it turns every join level
        from a corpus-wide triples scan into a probe of the (dimension-
        sized) edge set; generation-keyed and released on replace_graph
        like the other derived caches."""
        key = (self._graph_generation, prop)
        with self._cache_lock:
            df = self._paths_edge_cache.get(key)
            if df is not None:
                return df
        df = (
            self.graph.triples.filter(F.col("p") == H(prop))
            .select(F.col("s").alias("child"), F.col("o").alias("parent"))
            .persist()
        )
        with self._cache_lock:
            prev = self._paths_edge_cache.get(key)
            if prev is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
                return prev
            if key[0] != self._graph_generation:
                return df  # graph swapped mid-build: usable, not cached
            while len(self._paths_edge_cache) >= 8:
                evicted = self._paths_edge_cache.pop(next(iter(self._paths_edge_cache)))
                try:
                    evicted.unpersist()
                except Exception:
                    pass
            self._paths_edge_cache[key] = df
            return df

    def _paths_edges_map(self, prop: str) -> dict | None:
        """Driver-collected {child: [parents]} for ``prop``'s hierarchy
        when it fits ``_LOCAL_PATHS_EDGES``; None (cached) when it does
        not. One bounded probe of the persisted edge frame per
        generation."""
        key = (self._graph_generation, prop)
        with self._cache_lock:
            if key in self._paths_edge_maps:
                return self._paths_edge_maps[key]
        result: dict | None
        st = self._local_tier_state
        if st is not None and st[0] == self._graph_generation and st[1] is not None:
            # tier-resident: the SAME (child=s, parent=o) edge rows for
            # p==hash(prop) come straight off the quad arrays — a cold
            # engine's first paths query then schedules ZERO jobs (r11;
            # was one edge-frame collect)
            t = st[1]
            ph = t.v2h.get(prop)
            n_rows = 0
            if ph is None:
                result = {}
            else:
                mask = t._lv(t.p == ph)
                ch, par = t.s[mask], t.o[mask]
                n_rows = int(ch.size)
                if n_rows > _LOCAL_PATHS_EDGES:
                    # over-cap: short-circuit BEFORE materializing the
                    # Python tuples (a byte-budgeted tier can hold far
                    # more edges than the cap; building millions of
                    # tuples just to discard them is a memory spike)
                    result = None
                else:
                    result = {}
                    for child, parent in zip(ch.tolist(), par.tolist()):
                        result.setdefault(child, []).append(parent)
            with self._cache_lock:
                if key[0] == self._graph_generation:
                    self._paths_edge_maps[key] = result
                    if result is not None:
                        self._paths_edge_map_sizes[key] = n_rows
                        # ledger: ~96 B/edge of dict-of-lists overhead
                        self._residency_ledger["paths_edges:" + prop] = (
                            n_rows * 96
                        )
            return result
        rows = self._paths_edges(prop).limit(_LOCAL_PATHS_EDGES + 1).collect()
        if len(rows) > _LOCAL_PATHS_EDGES:
            result = None
        else:
            result = {}
            for r in rows:
                result.setdefault(r["child"], []).append(r["parent"])
        with self._cache_lock:
            if key[0] == self._graph_generation:
                self._paths_edge_maps[key] = result
                if result is not None:
                    self._paths_edge_map_sizes[key] = len(rows)
                    self._residency_ledger["paths_edges:" + prop] = (
                        len(rows) * 96
                    )
        return result

    def _paths_local_rows(self, edges_map: dict, subject_hashes) -> list | None:
        """Python twin of the distributed walk below — (src, pos,
        ancestor) tuples with identical multiplicity, cycle, and
        hard-cap semantics (batch-aligned cycle checks included). Kept
        step-for-step parallel to the DataFrame loop so the
        differential test can pin them equal. Returns None when the
        accumulated rows blow the _LOCAL_PATHS_MAX_ROWS budget (a
        multi-parent DAG can multiply rows per level); the caller then
        falls back to the distributed walk."""
        from collections import Counter

        mult = Counter(int(s) for s in subject_hashes)
        frontier = {s: [s] for s in mult}
        seen = {s: {s} for s in mult}
        rows: list[tuple] = []
        hard_cap = MAX_PATH_DEPTH * 8
        cyclic: set = set()
        depth = 0
        warned = False
        n = len(subject_hashes)
        while depth < hard_cap and frontier:
            # mirror the distributed batch-size rule exactly, so cycle
            # checks fire at the same depths as the DataFrame walk
            step = (
                1
                if (n <= _HOP_BROADCAST_ROWS and n > _HOP_BROADCAST_ROWS // 10)
                else _CHECK_EVERY
            )
            for _ in range(min(step, hard_cap - depth)):
                depth += 1
                new: dict = {}
                for src, curs in frontier.items():
                    # the outgoing frontier becomes "strictly earlier
                    # on the chain" — merge BEFORE advancing, so the
                    # check below sees levels 1..depth-1 + start,
                    # exactly the distributed rows[:-1] seen-set
                    seen[src].update(curs)
                    nxt = [p for c in curs for p in edges_map.get(c, ())]
                    if nxt:
                        new[src] = nxt
                        rows.extend((src, depth, p) for p in nxt)
                if len(rows) > _LOCAL_PATHS_MAX_ROWS:
                    return None  # DAG blowup: hand off to the distributed walk
                frontier = new
                if not frontier:
                    break
            if not frontier:
                break
            n = sum(len(c) for c in frontier.values())
            if depth >= MAX_PATH_DEPTH:
                cyc = {
                    src
                    for src, curs in frontier.items()
                    if any(c in seen[src] for c in curs)
                }
                if cyc:
                    cyclic |= cyc
                    for src in cyc:
                        frontier.pop(src)
                    if not frontier:
                        break
                if frontier and not warned:
                    log.warning(
                        "paths(local): acyclic ancestor chain deeper than "
                        "MAX_PATH_DEPTH=%d; continuing to the %d-level "
                        "safety cap",
                        MAX_PATH_DEPTH,
                        hard_cap,
                    )
                    warned = True
        drop = set(cyclic)
        if frontier:
            log.warning(
                "paths(local): chain still alive at the %d-level safety "
                "cap; dropping its subjects' rows",
                hard_cap,
            )
            drop |= set(frontier)
        out = []
        for src, pos, anc in rows:
            if src not in drop:
                out.extend([(src, pos, anc)] * mult[src])
        return out

    def paths_values(self, opts: dict, prop: str) -> DataFrame:
        """Ancestor chains for the filtered subject set, as lexical
        forms: (s, pos, ancestor)."""
        s_results, _ = self.subjects(opts)
        if s_results is None:
            return self.graph.spark.createDataFrame([], "s string, pos int, ancestor string")
        prows = self.paths(s_results, prop)
        terms = self.graph.terms
        sv = terms.select(F.col("hash").alias("src"), F.col("value").alias("s"))
        av = terms.select(F.col("hash").alias("ancestor"), F.col("value").alias("ancestor_v"))
        return (
            prows.join(sv, "src")
            .join(av, "ancestor")
            .select("s", F.col("pos").cast("int").alias("pos"), F.col("ancestor_v").alias("ancestor"))
        )

    # ---- full query (reference-shaped result) -------------------------
    def _residency_budget(self) -> int:
        """The single byte budget bounding total driver residency.
        Env ``BIKIDATA_SPARK_DRIVER_RESIDENCY_BYTES`` wins; otherwise
        tier budget + dictionary budget (the envelope the per-structure
        gates already allowed — see _residency_budget_env)."""
        env = _residency_budget_env()
        if env is not None:
            return env
        return max(self.local_tier_bytes, 0) + max(self.term_cache_bytes, 0)

    def _register_residency(self, name: str, nbytes) -> None:
        """Record (or, with falsy ``nbytes``, drop) one driver-resident
        structure's measured bytes. ``_cache_lock`` is an RLock, so
        this is safe to call whether or not the caller already holds
        it — every ledger mutation goes through the lock (locking
        rule: never mutate ``_residency_ledger`` without it)."""
        with self._cache_lock:
            if not nbytes:
                self._residency_ledger.pop(name, None)
            else:
                self._residency_ledger[name] = int(nbytes)

    def _residency_other_bytes(self) -> int:
        with self._cache_lock:
            return sum(self._residency_ledger.values())

    def _stat_bump(self, name: str) -> None:
        # caller holds _cache_lock at every site
        self._cache_stats[name] = self._cache_stats.get(name, 0) + 1

    def driver_residency(self) -> dict:
        """Observability: measured bytes per driver-resident structure,
        their total, the one budget that bounds them, and the cache
        eviction/miss counters (r14) — ``order_index_recollects_after_
        eviction`` > 0 means the serving mix rotates more sort rules
        than ``_ORDER_IDX_MAX`` holds and re-pays the corpus order
        collect per miss (~24-43 s at sf10): raise the cap or warm the
        extra rules into store sidecars."""
        with self._cache_lock:
            ledger = dict(self._residency_ledger)
            stats = dict(self._cache_stats)
        return {
            "structures": ledger,
            "total_bytes": sum(ledger.values()),
            "budget_bytes": self._residency_budget(),
            "cache_stats": stats,
        }

    def _fts_mirror_rows(self, tier) -> int:
        """Effective postings-row cap for the driver FTS mirror.

        An explicit cap (env ``BIKIDATA_SPARK_LOCAL_TIER_FTS_ROWS`` or a
        constructor override) wins unchanged. Otherwise the mirror may
        spend the headroom the admitted tier LEFT in the byte budget —
        priced at 64 B/posting (lit/tf/dl float64s + index arrays +
        token-key overhead), floored at the 8M default so small budgets
        keep the r8 behavior. A graph that fits a 6 GiB budget (sf3:
        quads+dictionary ≈ 3.6 GiB) therefore mirrors its ~20M-row
        postings too instead of bailing fts to the distributed path —
        the one workload the r11 sf3-in-tier probe left at 4 jobs."""
        if (
            self.local_tier_fts_rows != _LOCAL_TIER_FTS_ROWS
            or "BIKIDATA_SPARK_LOCAL_TIER_FTS_ROWS" in os.environ
            or not self.local_tier_bytes
        ):
            return self.local_tier_fts_rows
        headroom = self.local_tier_bytes - tier.approx_bytes
        return max(self.local_tier_fts_rows, headroom // 64)

    def _local_tier(self):
        """The driver-resident mirror for this generation, or None
        (disabled / over-cap). Built under a lock so concurrent serving
        threads pay the one-time collect once."""
        if self.local_tier_rows <= 0:
            return None
        gen = self._graph_generation
        st = self._local_tier_state
        if st is not None and st[0] == gen:
            return st[1]
        with self._local_tier_lock:
            st = self._local_tier_state
            if st is not None and st[0] == gen:
                return st[1]
            from .local_tier import build_local_tier

            tier = self._load_persisted_tier()
            if tier is None:
                tier = build_local_tier(
                    self, self.local_tier_rows, self.local_tier_bytes
                )
            self._local_tier_state = (gen, tier)
            self._register_residency(
                "tier", tier.approx_bytes if tier is not None else None
            )
            return tier

    def _load_persisted_tier(self):
        """Memory-map a persisted tier artifact (`{store}/_tier`,
        plans/local_tier.persist_tier) when the current graph carries
        one — the cold-start path: file-open + pointer casts instead of
        the one-time Spark collect (~8 s at sf1). Mutation-derived
        graphs never carry ``tier_dir``, so a stale mirror cannot be
        loaded over mutated content. The byte/row budget still gates
        admission, priced from the artifact's own sizing record — zero
        Spark jobs either way. Returns None to fall through to
        build_local_tier (no artifact, over budget handled by the
        caller via the same probes, or a corrupt artifact)."""
        tier_dir = getattr(self.graph, "tier_dir", None)
        if not tier_dir:
            return None
        from .local_tier import QUAD_TIER_BYTES, TermDict, load_tier, tier_meta

        meta = tier_meta(tier_dir)
        if meta is None:
            return None
        if int(meta["nrows"]) > self.local_tier_rows:
            return None
        if self.local_tier_bytes:
            est = (
                int(meta["nrows"]) * QUAD_TIER_BYTES
                + int(meta["n_terms"]) * TermDict.PER_TERM_BYTES
                + int(meta["blob_bytes"])
            )
            if est > self.local_tier_bytes:
                return None
        return load_tier(tier_dir)

    def persist_tier(self, store_path: str) -> dict | None:
        """Build (if needed) and persist this engine's tier next to the
        store at ``store_path`` so the next Engine over that store
        cold-starts from a memory-map (CLI ``warm``). Returns the
        artifact's sizing record, or None when the graph is over the
        tier cap (nothing resident to persist)."""
        import os

        base = (
            store_path.split("://", 1)[-1]
            if store_path.startswith("file:")
            else store_path
        )
        tdir = os.path.join(base, "_tier")
        tier = self._local_tier()
        if tier is None:
            # over-cap engine: no tier to persist, but any resident
            # driver order indexes still ride along as store sidecars
            # (r13) — the next cold engine mmap-loads them instead of
            # paying the one-time corpus collect
            self.persist_driver_orders(tdir)
            return None

        from .local_tier import persist_tier as _persist

        meta = _persist(tier, tdir)
        self.persist_driver_orders(tdir)
        return meta

    def query(self, opts: dict) -> dict:
        """Reference-compatible entry point (query.py:620-886): returns
        {results: {iri: {prop: [vals]}}, total, size, start, aggregates}.
        Only page-sized data is collected.

        Graphs under ``local_tier_rows`` quads serve from the
        driver-resident tier (zero Spark jobs per request,
        plans/local_tier.py); the tier returns None for any construct
        it does not mirror (regex/semantic filters, over-cap FTS
        indexes) and the distributed plan below remains the single
        source of truth — every tier response shape is
        differential-tested against it (tests/test_local_tier.py)."""
        tier = self._local_tier()
        if tier is not None:
            back = tier.try_query(self, opts, self._fts_mirror_rows(tier))
            if back is not None:
                return back
        try:
            return self._query_impl(opts)
        finally:
            # drop this request's persisted frames (fts walked scores);
            # everything the response needed is already collected or
            # checkpointed by now
            self._release_transients()

    def query_resident(self, opts: dict) -> dict | None:
        """``query(opts)`` answered by the tier already resident for the
        current generation, or None when answering needs Spark: no tier
        built yet (this never builds one), an over-cap or disabled tier,
        or a request the tier serves only by building a mirror or
        running a job (LocalTier.try_query ``no_spark``). A caller that
        must not block on Spark (Serving's event loop) hands a None to
        :meth:`query`."""
        st = self._local_tier_state
        if (
            self.local_tier_rows <= 0
            or st is None
            or st[0] != self._graph_generation
            or st[1] is None
        ):
            return None
        tier = st[1]
        return tier.try_query(self, opts, self._fts_mirror_rows(tier), no_spark=True)

    def _query_impl(self, opts: dict) -> dict:
        size, start = _parse_size_start(opts)
        s_results, s_by_score = self.subjects(opts)
        if s_results is not None:
            # materialize the filtered subject set ONCE: total, the
            # page sort, and every aggregate reuse the persisted frame
            # instead of re-running the filter algebra per phase. The
            # count() doubles as materialization AND the total — ONE
            # scheduler round-trip where r5 paid two (eager
            # localCheckpoint, then count). The persist is released in
            # query()'s finally unless the subject cache owns it.
            if opts.get("use_cache", True):
                pass  # subjects() persisted it under the cache's ownership
            else:
                s_results = s_results.persist()
                self._register_transient(s_results)
        # s_by_score is NOT checkpointed: it only orders the page, so it
        # stays a lazy subtree of the single page action (its expensive
        # parent — the fts walked frame — is persisted already)

        # POINT-QUERY FAST PATH: for the default (lexical) page order,
        # ONE capped action collects the full (s, s_value) set — total,
        # page sort, and slice then happen driver-side. The cap bounds
        # both the broadcast and the collect; a set past the cap falls
        # back to the distributed path having spent one bounded probe.
        # Python's code-point string order IS Spark's UTF8 binary order
        # (UTF-8 byte order preserves code points), so the driver sort
        # is bit-identical to the orderBy it replaces.
        # total = len(collected rows) leans on the dictionary-
        # completeness invariant: every subject hash in triples has a
        # terms row (from_string_quads derives both from the same
        # quads; write_graph preserves both). A store violating it
        # would undercount total here — but would equally drop those
        # subjects from every page/hydration join on the distributed
        # path, so the invariant is the engine's contract, not this
        # path's.
        sv_rows = None
        fast_page, fast_total = None, None
        _order_rules = _normalize_order_rules(opts.get("order"))
        fast = s_results is not None and size > 0 and not _order_rules
        if _order_rules and s_results is not None and size > 0:
            # FAST ORDERED PAGE (r11): rule-ordered pages ignore scores
            # (page() sorts by the rule, not s_by_score), so with the
            # driver order-key index + term dictionary resident the
            # whole total/order/page phase runs driver-side — collect
            # bare member hashes (or reuse a driver-walked set), lexsort
            # int64 keys, decode only the page. Any gate failing falls
            # through to the distributed page untouched.
            oidx = self._order_driver_index(_order_rules[0])
            if oidx is not None:
                import json as _json

                td = self._term_dict()
                hs_all = getattr(s_results, "_driver_rows", None)
                mkey = None
                if hs_all is None:
                    try:
                        mkey = _json.dumps(
                            opts.get("filters", []), sort_keys=True
                        )
                    except (TypeError, ValueError):
                        mkey = None
                    if mkey is not None:
                        # steady-state repeats of a filter spec reuse
                        # the resident member set — no per-request
                        # corpus-sized subject scan (r13)
                        hs_all = self._member_set_get(mkey)
                _kt = self._known_filter_total(mkey) if hs_all is None else None
                if _kt is not None and _kt > _FAST_PAGE_DICT_ROWS:
                    # r14: a memoized total past the accept cap proves
                    # the bounded probe would be rejected — skip the
                    # collect outright, go straight distributed
                    with self._cache_lock:
                        self._stat_bump("fast_probe_skips")
                elif hs_all is None:
                    osrc = s_results
                    pre = (
                        getattr(s_results, "_pre_distinct_frame", None)
                        if not opts.get("use_cache", True)
                        else None  # cached members read the persisted set
                    )
                    if pre is not None:
                        osrc = pre
                    with self._no_aqe():
                        opdf = osrc.select("s").limit(
                            _FAST_PAGE_DICT_ROWS + 1
                        ).toPandas()
                    if len(opdf) <= _FAST_PAGE_DICT_ROWS:
                        hs_all = opdf["s"].to_numpy().astype(
                            np.int64, copy=False
                        )
                        # always unique+sorted: the cache's canonical
                        # shape (a no-op set change on the already-
                        # distinct non-pre frame; downstream sorts
                        # tie-break on explicit keys, never input order)
                        hs_all = np.unique(hs_all)
                        if mkey is not None:
                            self._member_set_put(mkey, hs_all)
                if hs_all is not None:
                    if td is not None:
                        back = self._order_page_driver(
                            oidx, td, hs_all, _order_rules[0], size, start
                        )
                    else:
                        # dictionary over budget, index in budget (the
                        # sf10 shape): TermDict-free driver page with
                        # one bounded value probe (r13)
                        back = self._order_page_driver_notd(
                            oidx, hs_all, _order_rules[0], size, start
                        )
                    if back is not None:
                        fast_page, fast_total = back
        if fast:
            terms = self.graph.terms.select("hash", F.col("value").alias("s_value"))
            scored_src = getattr(s_results, "_inline_scored_frame", None)
            if s_by_score is not None and scored_src is None:
                # scores from an independent lineage (e.g. several
                # score-bearing filters): the rare shape keeps the
                # joined plan — when the frame is a known subset of the
                # member set, cap + broadcast it with the member-side
                # cap proof (a fast page that is accepted never
                # truncated the subset either); otherwise the left join
                # stays a small sorted-shuffle join.
                capped = F.broadcast(s_results.limit(_FAST_PAGE_ROWS + 1))
                sel = capped.join(terms, capped.s == terms.hash).select(
                    "s", "s_value"
                )
                sbs = s_by_score
                if getattr(sbs, "_subset_of_members", False):
                    sbs = F.broadcast(sbs.limit(_FAST_PAGE_ROWS + 1))
                sel = sel.join(sbs, "s", "left")
                with self._no_aqe():
                    rows = sel.collect()
                if len(rows) <= _FAST_PAGE_ROWS:
                    sv_rows = rows
            else:
                # SPLIT probe: collect the capped member hashes first
                # (pruned filter scan + limit — no dictionary join, so
                # an over-cap REJECT never scans the terms table), then
                # resolve values via _term_values — small sets probe the
                # dictionary as a pushed IN (batch/row-group pruned on a
                # clustered cache or bucketed store), larger accepted
                # sets pay the one broadcast-join scan the old fused
                # plan always paid. The inline-scored frame carries its
                # scores through the same collect.
                src = scored_src if scored_src is not None else s_results
                # RANK-SORTED page (r11): with a driver dictionary and
                # no scores, the lexical sort needs NO member values at
                # all — order_keys maps each hash to an int64 lexical
                # key (the TermDict ranks, the same pinned UTF8-binary
                # equivalence the tier's default page order uses), the
                # sort is one numpy argsort, and only the PAGE's
                # size-many values decode. That lifts the accept cap
                # 10x (the collect is bare hashes), so mid-size member
                # sets — 1-hop walks, broad filters, exactly the r9
                # "over the tier, under DuckDB" band — skip the whole
                # distributed total/order/page phase.
                td = self._term_dict() if scored_src is None else None
                dr = (
                    getattr(s_results, "_driver_rows", None)
                    if td is not None
                    else None
                )
                import json as _json

                try:
                    mkey = _json.dumps(
                        opts.get("filters", []), sort_keys=True
                    )
                except (TypeError, ValueError):
                    mkey = None
                if td is not None and dr is None and mkey is not None:
                    cached_ms = self._member_set_get(mkey)
                    if cached_ms is not None:
                        dr = cached_ms  # resident set: no collect
                pre = None
                if dr is None:
                    cap = (
                        _FAST_PAGE_DICT_ROWS if td is not None else _FAST_PAGE_ROWS
                    )
                    _kt = self._known_filter_total(mkey)
                    if _kt is not None and _kt > cap:
                        # r14: a memoized total past the accept cap
                        # proves the bounded probe would be rejected
                        # (probe rows >= distinct members > cap) — skip
                        # the collect, fall straight to the distributed
                        # page; pdf=None fails both accept tests below
                        pdf = None
                        with self._cache_lock:
                            self._stat_bump("fast_probe_skips")
                    else:
                        if td is not None and not opts.get("use_cache", True):
                            # single plain filter: collect the MAP-ONLY
                            # scan and np.unique driver-side instead of
                            # paying the distinct's member-set shuffle
                            pre = getattr(src, "_pre_distinct_frame", None)
                        with self._no_aqe():
                            # toPandas (Arrow) — Row-object
                            # deserialization of a near-cap candidate
                            # set costs ~0.1 s that an Arrow batch
                            # doesn't
                            pdf = (pre if pre is not None else src).limit(
                                cap + 1
                            ).toPandas()
                else:
                    # driver-walked or cached member set: no collect
                    pdf, cap = None, 0
                if td is not None and (
                    dr is not None or (pdf is not None and len(pdf) <= cap)
                ):
                    if dr is not None:
                        hs_all = dr
                    else:
                        hs_all = pdf["s"].to_numpy().astype(
                            np.int64, copy=False
                        )
                        hs_all = np.unique(hs_all)
                        if mkey is not None:
                            self._member_set_put(mkey, hs_all)
                    keys, kfound = td.order_keys(hs_all)
                    if not kfound.all():
                        # missing from the dictionary = contract
                        # violation; drop like the inner join would
                        hs_all, keys = hs_all[kfound], keys[kfound]
                    fast_total = int(hs_all.size)
                    ord_ = np.argsort(keys, kind="stable")
                    ks = keys[ord_]
                    dup = np.nonzero(ks[1:] == ks[:-1])[0]
                    if dup.size:
                        # equal keys = overlay terms sharing an
                        # insertion point: order those runs by value
                        # (runs are overlay-sized, never corpus-sized)
                        in_run = np.zeros(ks.size, dtype=bool)
                        in_run[dup] = True
                        in_run[dup + 1] = True
                        pos = np.nonzero(in_run)[0]
                        breaks = np.nonzero(np.diff(pos) > 1)[0] + 1
                        for seg in np.split(pos, breaks):
                            a, b = int(seg[0]), int(seg[-1]) + 1
                            run = ord_[a:b]
                            rvals, _ = td.values_of(hs_all[run])
                            ord_[a:b] = run[np.argsort(rvals, kind="stable")]
                    if size:
                        sel = ord_[start : start + size]
                        ph = hs_all[sel]
                        vals, _vf = td.values_of(ph)
                        fast_page = [
                            {"s": int(h), "s_value": v}
                            for h, v in zip(ph.tolist(), vals.tolist())
                        ]
                    else:
                        fast_page = []
                elif pdf is not None and len(pdf) <= _FAST_PAGE_ROWS:
                    ss = pdf["s"].tolist()  # int64 -> Python ints
                    hv = self._term_values(ss)
                    # `in hv` mirrors the old inner join exactly: a
                    # subject missing from the dictionary (contract
                    # violation) drops here like it dropped there
                    if scored_src is not None:
                        import math

                        # Arrow turns a null score into NaN; the sort
                        # and the response contract expect None
                        sv_rows = [
                            {
                                "s": s,
                                "s_value": hv[s],
                                "score": (
                                    None
                                    if c is None
                                    or (isinstance(c, float) and math.isnan(c))
                                    else float(c)
                                ),
                            }
                            for s, c in zip(ss, pdf["score"].tolist())
                            if s in hv
                        ]
                    else:
                        sv_rows = [
                            {"s": s, "s_value": hv[s]} for s in ss if s in hv
                        ]
        page_observation = None  # r15: count folded into the page job
        total_hint = None  # plan-shaping stand-in while the fold is live
        tkey = None
        if fast_total is not None:
            total = fast_total
        elif sv_rows is not None:
            total = len(sv_rows)
        elif s_results is not None:
            # steady-state repeats of a filter spec skip the member
            # count job (r14): the count is a pure function of
            # (generation, filters) — same keying as the member-set
            # cache, whose resident set (if an ordered request already
            # collected it) answers for free too
            import json as _json

            try:
                tkey = (
                    self._graph_generation,
                    _json.dumps(opts.get("filters", []), sort_keys=True),
                )
            except (TypeError, ValueError):
                tkey = None
            total = None
            # r15 (VERDICT item 6): the memo READ honors use_cache —
            # a "caches off" request recomputes its total (the bench's
            # declared policy: every timed query does the real work).
            # The WRITE below stays unconditional: populating the memo
            # never affects this request, only future cache-allowed
            # ones. The fast-probe gates (_known_filter_total) are
            # separate and unchanged — they never serve a memoized
            # VALUE, they only skip a probe job whose rejection the
            # memo proves, then compute everything distributed.
            if tkey is not None and opts.get("use_cache", True):
                with self._cache_lock:
                    total = self._filter_totals.get(tkey)
                if total is None:
                    ms = self._member_set_get(tkey[1])
                    if ms is not None:
                        total = int(ms.size)
            if total is None:
                # r15 (VERDICT item 4): when the distributed page job
                # is certain to run (size > 0, no fast path served) and
                # a resident count already shapes the plan, the member
                # count RIDES the page collect as an Observation metric
                # instead of running its own count job (+ its AQE stage
                # job) — the response total is still computed fresh by
                # this request's own scan (caches-off honesty holds:
                # the memoized value is a broadcast-strategy hint, the
                # served number comes from the page job's metrics). A
                # first sighting (no resident count) keeps the separate
                # count: the hint doubles as the broadcast gate, and
                # guessing it wrong would reshape the plan.
                _hint = (
                    self._known_filter_total(tkey[1])
                    if tkey is not None
                    else None
                )
                if (
                    _hint is not None
                    and size > 0
                    and fast_page is None
                    and sv_rows is None
                ):
                    from pyspark.sql import Observation

                    page_observation = Observation()
                    total_hint = int(_hint)
                else:
                    with self._no_aqe():
                        total = s_results.count()
            if tkey is not None and total is not None:
                with self._cache_lock:
                    self._filter_totals.pop(tkey, None)
                    while len(self._filter_totals) >= 64:
                        self._filter_totals.pop(
                            next(iter(self._filter_totals))
                        )
                    self._filter_totals[tkey] = int(total)
        else:
            total = 0
        aggregates, aggs_truncated = {}, []
        known = total if s_results is not None else None
        if known is None and page_observation is not None:
            known = total_hint  # same integer the count would return
        small = known is not None and known <= _HOP_BROADCAST_ROWS
        # every requested facet in ONE fused job (see _facets_fused);
        # property facets over an unfiltered corpus are skipped like the
        # per-facet path did
        fused_aggs = [
            agg
            for agg in opts.get("aggregates", [])
            if s_results is not None or agg in ("properties", "graphs")
        ]
        facet_future = None
        if fused_aggs:
            import json

            _sc = self.graph.spark.sparkContext
            _sched_pool = _sc.getLocalProperty("spark.scheduler.pool")
            try:
                # filter spec + facet set: the subject plan is identity-
                # stable per spec (_plan_cache), so the compiled fused-
                # facet frame keyed alongside it is reusable
                _fplan_key = json.dumps(
                    [opts.get("filters", []), fused_aggs], sort_keys=True
                )
            except (TypeError, ValueError):
                _fplan_key = None

            def _facet_job():
                # scheduler pool is thread-local: carry the request's
                # FAIR pool into the worker thread (and clear a stale
                # one on a reused thread)
                _sc.setLocalProperty("spark.scheduler.pool", _sched_pool)
                with self._no_aqe() if small else contextlib.nullcontext():
                    return self._facets_fused(
                        s_results,
                        fused_aggs,
                        known_rows=known,
                        limit=opts.get("aggregates_limit"),
                        plan_key=_fplan_key,
                    )

            if s_results is not None and size > 0:
                # page work follows: the facet job and the page/
                # hydration jobs share only the already-materialized
                # subject set, so run them CONCURRENTLY — Spark's
                # scheduler interleaves the two driver round-trip
                # chains and the request pays max() not sum() (the
                # same FAIR-pool concurrency serving already relies
                # on; _no_aqe is session-ref-counted, so the scopes
                # nest safely across threads)
                facet_future = _facet_pool().submit(_facet_job)
            else:
                aggregates, aggs_truncated = _facet_job()

        results: dict = {}
        if s_results is not None and size > 0:
            if fast_page is not None:
                page = fast_page
            elif sv_rows is not None:
                if s_by_score is not None:
                    # score desc (nulls last), s_value tiebreak — the
                    # exact key set page()'s orderBy would use
                    sv_rows.sort(
                        key=lambda r: (
                            r["score"] is None,
                            -(r["score"] or 0.0),
                            r["s_value"],
                        )
                    )
                else:
                    sv_rows.sort(key=lambda r: r["s_value"])
                page = sv_rows[start : start + size] if size else []
            else:
                with self._no_aqe() if small else contextlib.nullcontext():
                    page = self.page(
                        opts,
                        _subjects=(s_results, s_by_score),
                        _known_rows=known,
                        _observe=page_observation,
                    ).collect()
                if page_observation is not None:
                    # the page job counted the members as it scanned
                    # them (Observation metrics block only until the
                    # finished action above reports) — this request's
                    # own fresh number, one job instead of two
                    total = int(page_observation.get["n"])
                    if tkey is not None:
                        with self._cache_lock:
                            self._filter_totals.pop(tkey, None)
                            while len(self._filter_totals) >= 64:
                                self._filter_totals.pop(
                                    next(iter(self._filter_totals))
                                )
                            self._filter_totals[tkey] = total
            page_hashes = [r["s"] for r in page]
            hash_to_val = {r["s"]: r["s_value"] for r in page}
            if page_hashes:
                probe_t = self._point_probe_triples()
                if len(page_hashes) <= _ISIN_PROBE_MAX:
                    t = probe_t.filter(F.col("s").isin(page_hashes))
                else:
                    # large page (size can be 999+): an IN-list costs
                    # ~0.5 ms/element to BUILD over py4j and compiles a
                    # giant literal predicate — ship the hashes as an
                    # Arrow-built broadcast probe instead (one hash join,
                    # still no corpus shuffle)
                    probe = self.graph.spark.createDataFrame(
                        [(h,) for h in page_hashes], "s long"
                    )
                    t = probe_t.join(F.broadcast(probe), "s")
                only_p = opts.get("only_properties") or []
                excl_p = opts.get("exclude_properties") or []
                if only_p:
                    t = t.filter(_isin_terms(F.col("p"), list(only_p)))
                elif excl_p:
                    t = t.filter(~_isin_terms(F.col("p"), list(excl_p)))
                # page-bounded two-scan hydration: collect the page's
                # triples (≤ size × properties rows), then resolve every
                # referenced term hash in ONE probe of the terms table —
                # a generic 3-way join here would shuffle+sort the
                # corpus-sized terms side three times for a page of rows
                hydrated = t.select("s", "p", "o", "g").collect()
                # results follows PAGE order (reference query.py:756-787
                # hydrates `order by W.pos` and its results dict keeps
                # that insertion order): the collect above returns
                # partition order, so stable-sort by page position —
                # page-sized, driver-side, free
                _pos = {h: i for i, h in enumerate(page_hashes)}
                hydrated.sort(key=lambda row: _pos[row["s"]])
                hv = self._term_values(
                    h for row in hydrated for h in (row["p"], row["o"], row["g"])
                )
                for row in hydrated:
                    sv = hash_to_val[row["s"]]
                    p_val = hv.get(row["p"])
                    o_val = hv.get(row["o"])
                    if p_val is None or o_val is None:
                        continue
                    g_val = hv.get(row["g"])
                    ent = results.setdefault(sv, {"id": sv, "graph": []})
                    ent.setdefault(p_val, [])
                    if o_val not in ent[p_val]:
                        ent[p_val].append(o_val)
                    if g_val and g_val not in ent["graph"]:
                        ent["graph"].append(g_val)
                # paths for the page (ancestor chains are page-bounded
                # too: collect, then one terms probe for their labels)
                for pad in opts.get("paths", []):
                    lmap = self._paths_edges_map(str(pad))
                    lrows = (
                        self._paths_local_rows(lmap, page_hashes)
                        if lmap is not None
                        else None
                    )
                    if lrows is not None:
                        # dimension-sized hierarchy: walk driver-side
                        # with zero Spark jobs (see paths())
                        pcol = [
                            {"src": s, "pos": p, "ancestor": a} for s, p, a in lrows
                        ]
                    else:
                        subj_df = self.graph.spark.createDataFrame(
                            [(h,) for h in page_hashes], "s long"
                        )
                        pcol = self.paths(subj_df, str(pad)).collect()
                    av = self._term_values(r["ancestor"] for r in pcol)
                    chains: dict = {}
                    for r in pcol:
                        a_val = av.get(r["ancestor"])
                        if a_val is not None:
                            chains.setdefault(r["src"], []).append((r["pos"], a_val))
                    for h, chain in chains.items():
                        sv = hash_to_val.get(h)
                        if sv is None:
                            continue
                        ordered = [v for _, v in sorted(chain)]
                        results.setdefault(sv, {"id": sv, "graph": []}).setdefault(
                            "_paths", {}
                        )[pad] = ordered

        if facet_future is not None:
            aggregates, aggs_truncated = facet_future.result()
        back = {"results": results, "total": total, "size": size, "start": start}
        if aggregates:
            back["aggregates"] = aggregates
            if aggs_truncated:
                # the cap bit (see FACET_MAX_VALUES): callers can tell a
                # capped facet from a complete one — the reference's
                # facets are unbounded, so a silent cap would be an
                # undetectable divergence
                back["aggregates_truncated"] = aggs_truncated
        return back

    def _term_dict(self):
        """Driver-resident dictionary for hash->value resolution, or
        None. Prefers the tier's TermDict outright (same object, zero
        extra memory); over-tier-cap graphs get a DICTIONARY-ONLY cache
        under ``term_cache_bytes`` — one bounded sizing aggregation
        (count + octet_length, no collect) prices it per generation,
        and the distributed mutate path patches it forward (see
        ``mutate``), so steady-state serving re-probes only on external
        ``replace_graph``. (generation, None) = measured over budget."""
        if self.term_cache_bytes <= 0:
            return None
        gen = self._graph_generation
        st = self._local_tier_state
        if st is not None and st[0] == gen and st[1] is not None:
            return st[1].terms
        tc = self._term_cache_state
        if tc is not None and tc[0] == gen:
            return tc[1]
        with self._term_cache_lock:
            tc = self._term_cache_state
            if tc is not None and tc[0] == gen:
                return tc[1]
            from .local_tier import TermDict

            meta = getattr(self.graph, "store_meta", None) or {}
            if "n_terms" in meta and "blob_bytes" in meta:
                # store manifest (write_graph): the fit/no-fit decision
                # costs zero Spark jobs — at 100x scale a dictionary
                # that will never fit 1 GiB should not pay a full terms
                # scan per generation to find that out
                n_terms, blob_bytes = int(meta["n_terms"]), int(meta["blob_bytes"])
            else:
                row = self.graph.terms.agg(
                    F.count("*").alias("n"),
                    F.sum(F.octet_length("value")).alias("b"),
                ).first()
                n_terms, blob_bytes = int(row["n"]), int(row["b"] or 0)
            td = None
            if n_terms * TermDict.PER_TERM_BYTES + blob_bytes <= self.term_cache_bytes:
                td = TermDict.from_arrow(
                    self.graph.terms.select("hash", "value", "is_literal").toArrow()
                )
            self._term_cache_state = (gen, td)
            self._register_residency(
                "term_cache", td.nbytes if td is not None else None
            )
            return td

    def _term_values(self, hashes) -> dict:
        """Resolve a bounded set of term hashes to lexical forms.

        With a driver-resident dictionary (the tier's TermDict, or the
        over-tier-cap dictionary cache — ``_term_dict``), resolution is
        a vectorized searchsorted + slice decode: ZERO Spark jobs, and
        the accept-side member-value resolution of the fast page stops
        paying a full terms scan per request (the r9 sf1 hydrate gap).

        Otherwise ONE pass over the terms table, scanned in place —
        never shuffled or sorted. Page-sized sets probe as a literal
        IN-list (one map-only job, no broadcast-exchange round-trip);
        larger sets fall back to a broadcast hash join (an IN-list
        costs ~0.5 ms/element to build over py4j, so it loses past a
        couple hundred entries)."""
        hs = list({int(h) for h in hashes if h is not None})
        if not hs:
            return {}
        td = self._term_dict()
        if td is not None:
            vals, found = td.values_of(np.array(hs, dtype=np.int64))
            # missing hashes drop, mirroring the distributed inner join
            return {h: v for h, v, f in zip(hs, vals.tolist(), found) if f}
        terms = self.graph.terms
        if "bucket" in terms.columns:
            # hash-bucketed store layout (write_graph): prune the scan
            # to the probed hashes' bucket directories — the cold-store
            # equivalent of the FTS token-bucket pruning. Python % and
            # Spark pmod agree on negative hashes (both non-negative).
            from ..graph import TERM_BUCKETS

            buckets = sorted({h % TERM_BUCKETS for h in hs})
            if len(buckets) <= _ISIN_PROBE_MAX:
                terms = terms.filter(F.col("bucket").isin(buckets))
        with self._no_aqe():
            if len(hs) <= _ISIN_PROBE_MAX:
                rows = (
                    terms.filter(F.col("hash").isin(hs))
                    .select("hash", "value")
                    .collect()
                )
            else:
                import pandas as pd

                # Arrow batch, not list-of-tuples (which pickles through
                # an RDD parallelize — ~0.3 s of driver time for a
                # 30k-hash page)
                need = self.graph.spark.createDataFrame(
                    pd.DataFrame({"hash": pd.array(hs, dtype="int64")})
                )
                # Arrow out as well: Row-object deserialization of a
                # 30k-entry resolution costs ~0.15 s the batch doesn't
                out = (
                    terms.join(F.broadcast(need), "hash")
                    .select("hash", "value")
                    .toPandas()
                )
                return dict(zip(out["hash"].tolist(), out["value"].tolist()))
        return {r["hash"]: r["value"] for r in rows}

    # ---- small introspection API (reference query.py:13-87) -----------
    def raw(self, sql: str) -> DataFrame:
        """SQL escape hatch (reference ``raw()`` query.py:8-10 hands out
        a DuckDB cursor; here the graph is exposed as temp views
        ``triples``/``terms`` and the query runs through Catalyst).

        Views register once per OWNING GRAPH, tracked per session in
        module state under a global lock: re-registering on every call
        was racy under concurrent serving (two raw() calls straddling a
        replace_graph could interleave the two view registrations
        across different graphs), and tracking per-engine generation
        alone would let a second Engine on the same session leave ITS
        views registered while the first skips re-registration."""
        spark = self.graph.spark
        with _SESSION_LOCK:
            if _RAW_VIEW_OWNER.get(spark) is not self.graph:
                self.graph.triples.createOrReplaceTempView("triples")
                self.graph.terms.createOrReplaceTempView("terms")
                _RAW_VIEW_OWNER[spark] = self.graph
        return spark.sql(sql)

    def total(self) -> int:
        """Distinct-subject count (reference query.py:13-17). The count
        is a corpus-wide shuffle yet a pure function of the graph, so
        it memoizes per generation — serving traffic hits total() on
        every request shape and was paying the full aggregation each
        time (6× the reference's DuckDB count at sf3)."""
        gen = self._graph_generation
        cached = getattr(self, "_total_memo", None)
        if cached is not None and cached[0] == gen:
            return cached[1]
        st = self._local_tier_state
        if st is not None and st[0] == gen and st[1] is not None:
            # the mirror is already resident — count driver-side (the
            # tier is never built FOR this; an unbuilt tier keeps the
            # one-job distributed count below)
            n = st[1].total_subjects()
        else:
            n = self.graph.triples.select("s").distinct().count()
        self._total_memo = (gen, n)
        return n

    def properties(self) -> DataFrame:
        """(val, count) distinct-subject count per property
        (reference query.py:20-27). A resident local tier serves the
        (schema-bounded) result as a LocalRelation — one local-scan
        task instead of a corpus-wide count_distinct shuffle.

        Like ``total()``, the result is a pure function of the graph
        and property-vocabulary-sized (bounded by the schema, not the
        data), so it memoizes per generation (r14): at sf10 the
        corpus-wide count_distinct was the slowest steady-state API
        cell (8.0–8.7 s/call) and serving traffic repeats it verbatim.
        Second call per generation: zero Spark jobs (LocalRelation)."""
        from ..graph import local_relation

        gen = self._graph_generation
        cached = getattr(self, "_properties_memo", None)
        if cached is not None and cached[0] == gen:
            return local_relation(
                self.graph.spark, cached[1], "val string, count long"
            )
        tier = self._local_tier()
        if tier is not None:
            rows = tier.properties_rows()
        else:
            t = self.graph.triples
            g = t.groupBy("p").agg(F.count_distinct("s").alias("count"))
            iris = self.graph.iris().select("hash", F.col("value").alias("val"))
            # the grouped side is property-vocabulary-sized — broadcast
            # it so the corpus-sized iris side is probed in place
            # instead of shuffled+sorted for an SMJ
            rows = [
                (r["val"], r["count"])
                for r in iris.join(F.broadcast(g), g.p == iris.hash)
                .select("val", "count")
                .collect()
            ]
        rows = [tuple(r) for r in rows]
        self._properties_memo = (gen, rows)
        return local_relation(self.graph.spark, rows, "val string, count long")

    def count_by_property(self, prop: str) -> DataFrame:
        """object-value → distinct-subject count for one property
        (reference query.py:30-35). Tier-served as a LocalRelation when
        the mirror is resident (see properties()).

        Over-cap (tier-less) engines memoize per ``(generation, prop)``
        (r14): serving traffic repeats the same low-cardinality
        properties verbatim, and each call was a corpus-wide
        count_distinct shuffle (6.7 s at sf10). The first call collects
        via a bounded ``limit(cap+1)`` probe — the probe IS the result
        when the value vocabulary fits, so repeats serve driver rows at
        zero Spark jobs. A property with more than ``_CBP_MEMO_CAP``
        distinct values caches a rejection marker instead: its repeats
        go straight to the distributed plan with no re-probe (collecting
        millions of rows to memoize them would be the driver-OOM shape
        §5 warns about). A mutation bumps the generation and drops the
        memo, exactly like total()/properties()."""
        tier = self._local_tier()
        if tier is not None:
            return self.graph.spark.createDataFrame(
                tier.count_by_property_rows(prop), "val string, count long"
            )
        gen = self._graph_generation
        memo = getattr(self, "_cbp_memo", None)
        if memo is None or memo[0] != gen:
            memo = (gen, {})
            self._cbp_memo = memo
        cached = memo[1].get(prop, _CBP_UNSEEN)
        if cached is not _CBP_UNSEEN:
            # true-LRU touch (dicts iterate in insertion order, so
            # re-inserting moves this prop to the back of the eviction
            # line) — rejection markers are touched too: a hot over-cap
            # property's marker must not age out and re-pay the probe
            memo[1][prop] = memo[1].pop(prop)
        if cached is not _CBP_UNSEEN and cached is not None:
            # local_relation → LocalRelation: zero Spark jobs on collect
            # (round-trip fidelity for arbitrary literal text verified —
            # backslash/quote escaping covers newlines, NULs, emoji)
            from ..graph import local_relation

            return local_relation(
                self.graph.spark, list(cached), "val string, count long"
            )
        t = self.graph.triples.filter(F.col("p") == H(prop))
        g = t.groupBy("o").agg(F.count_distinct("s").alias("count"))
        terms = self.graph.terms.select("hash", F.col("value").alias("val"))
        joined = g.join(terms, g.o == terms.hash).select("val", "count")
        if cached is None:  # known over-cap: skip the probe, stay distributed
            return joined
        probe = joined.limit(_CBP_MEMO_CAP + 1).collect()
        if len(probe) <= _CBP_MEMO_CAP:
            from ..graph import local_relation

            rows = [(r["val"], r["count"]) for r in probe]
            if len(memo[1]) >= _CBP_MEMO_MAX:
                memo[1].pop(next(iter(memo[1])))
            memo[1][prop] = tuple(rows)
            return local_relation(self.graph.spark, rows, "val string, count long")
        memo[1][prop] = None
        return joined

    def spo(
        self,
        s: str | None = None,
        p: str | None = None,
        o: str | None = None,
        g: str | None = None,
        size: int = 1000,
        start: int = 0,
    ) -> DataFrame:
        """Triple-pattern fetch → (s, p, o) strings
        (reference query.py:60-87). A resident local tier serves the
        page as a LocalRelation (sorted driver-side; the mirror bails
        for over-200k-row patterns, where the distributed sort belongs
        — plans/local_tier.spo_rows), so a served point lookup costs
        one local-scan task instead of three corpus joins + a sort."""
        tier = self._local_tier()
        if tier is not None:
            rows = tier.spo_rows(s, p, o, g, size, start)
            if rows is not None:
                return self.graph.spark.createDataFrame(
                    rows, "s string, p string, o string"
                )
        t = self.graph.triples
        for col, term in (("s", s), ("p", p), ("o", o), ("g", g)):
            if term is not None and term != "":
                t = t.filter(F.col(col) == H(term))
        terms = self.graph.terms
        sv = terms.select(F.col("hash").alias("s"), F.col("value").alias("s_val"))
        pv = terms.select(F.col("hash").alias("p"), F.col("value").alias("p_val"))
        ov = terms.select(F.col("hash").alias("o"), F.col("value").alias("o_val"))
        out = (
            t.join(sv, "s")
            .join(pv, "p")
            .join(ov, "o")
            .select(F.col("s_val").alias("s"), F.col("p_val").alias("p"), F.col("o_val").alias("o"))
            .orderBy("s", "p", "o")
        )
        if start:
            out = out.offset(start)
        return out.limit(size)

    def sp_df(self, s_list: list[str], p: str | None) -> DataFrame:
        """DataFrame form of ``sp``: (s, o) for the given subjects and
        optional predicate."""
        t = self.graph.triples.filter(_isin_terms(F.col("s"), s_list))
        if p:
            t = t.filter(F.col("p") == H(p))
        terms = self.graph.terms
        sv = terms.select(F.col("hash").alias("s"), F.col("value").alias("s_val"))
        ov = terms.select(F.col("hash").alias("o"), F.col("value").alias("o_val"))
        return (
            t.join(sv, "s")
            .join(ov, "o")
            .select(F.col("s_val").alias("s"), F.col("o_val").alias("o"))
        )

    def hydrate_df(self, opts: dict) -> DataFrame:
        """Page hydration as rows: (s, p, o) string triples of the
        page's subjects with only/exclude property projection
        (reference query.py:756-786)."""
        page = self.page(opts).select("s")
        t = self.graph.triples.join(page, "s", "left_semi")
        only_p = opts.get("only_properties") or []
        excl_p = opts.get("exclude_properties") or []
        if only_p:
            t = t.filter(_isin_terms(F.col("p"), list(only_p)))
        elif excl_p:
            t = t.filter(~_isin_terms(F.col("p"), list(excl_p)))
        terms = self.graph.terms
        sv = terms.select(F.col("hash").alias("s"), F.col("value").alias("s_val"))
        pv = terms.select(F.col("hash").alias("p"), F.col("value").alias("p_val"))
        ov = terms.select(F.col("hash").alias("o"), F.col("value").alias("o_val"))
        return (
            t.join(sv, "s")
            .join(pv, "p")
            .join(ov, "o")
            .select(
                F.col("s_val").alias("s"),
                F.col("p_val").alias("p"),
                F.col("o_val").alias("o"),
            )
        )

    def sp(self, s_list: list[str], p: str | None) -> dict:
        """Batched lookup: {subject: [object values]}
        (reference query.py:38-57). Serves from the local tier when the
        mirror is resident (zero jobs; differential-tested in
        tests/test_local_tier.py); the DataFrame form ``sp_df`` keeps
        the distributed plan its oracle and plan audits pin."""
        if not isinstance(s_list, list):
            raise TypeError("s must be a list of strings")
        tier = self._local_tier()
        if tier is not None:
            return tier.sp(s_list, p)
        t = self._point_probe_triples().filter(_isin_terms(F.col("s"), s_list))
        if p:
            t = t.filter(F.col("p") == H(p))
        terms = self.graph.terms
        sv = terms.select(F.col("hash").alias("s"), F.col("value").alias("s_val"))
        ov = terms.select(F.col("hash").alias("o"), F.col("value").alias("o_val"))
        rows = t.join(sv, "s").join(ov, "o").select("s_val", "o_val").collect()
        out: dict = {}
        for r in rows:
            out.setdefault(r["s_val"], []).append(r["o_val"])
        return out
