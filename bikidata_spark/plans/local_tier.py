"""Driver-resident point-query tier: zero Spark jobs per request.

The reference engine is single-node DuckDB, so its point-query latency
at small corpus sizes is bounded by memory bandwidth (tens of ms).
A Spark plan — however well shaped — pays one scheduler round-trip
(~70-120 ms on this host) per job, and the r6-r8 rounds drove the
per-request job count to its floor (5-7). The remaining gap at small
scale is architectural: interactive sub-100 ms serving needs an index
tier that does not cross the job scheduler at all.

This module is that tier, built the same way as the engine's other
capped driver-side fast paths (the fast page, the local paths walk,
the term-at-a-time FTS probes — docs/PLANS.md): for graphs whose quad
count fits a strict cap (``BIKIDATA_SPARK_LOCAL_TIER_ROWS``, default
4M quads ≈ 128 MB of int64 columns), ``Engine.query()`` mirrors the
dictionary-encoded store into driver memory ONCE per graph generation
— the quad table as four numpy int64 columns, the term dictionary as
two Python dicts, and (lazily, per FTS index) the postings as a
token-keyed dict — and serves the reference JSON query API (reference
query.py:620-886) entirely driver-side.

Why this does not mortgage the 100 TB design:

- the sizing probe itself is bounded: ``triples.limit(cap+1).count()``
  — a petabyte store pays one cheap partial scan to discover it is
  over-cap and never collects anything;
- over-cap graphs take the unchanged distributed path, whose plans
  (tagged single-aggregation algebra, broadcast-gated joins, pruned
  stores) are audited separately and carry the at-scale story;
- the mirror is generation-keyed like every other derived cache and
  dropped on ``replace_graph``;
- the tier BAILS (returns ``None`` → distributed path) on any
  construct it cannot mirror bit-for-bit: ``regex`` filters (Java vs
  Python regex dialects) and ``semantic`` filters (IVF probe
  selection); everything it does serve is differential-tested against
  the distributed path over the full option space
  (tests/test_local_tier.py) and rides through the reference-parity
  suite, which drives ``query()`` end-to-end at fixture scale.

Semantics mirrored (with their distributed counterparts):

- filter algebra incl. group/except precedence — plans/query.py
  ``_subjects_uncached``;
- plain p/o/g filters, multi-object, object-only, ``id``, seeded
  ``random|sample N``, n-hop walks — ``filter_subjects``;
- conjunctive BM25 ``fts`` (scores bit-matched: same constants, same
  expression shape, IEEE doubles both sides) — operators/fts.py
  ``FtsIndex.match``;
- default lexical / score-ordered / sort-api ordered paging —
  ``_query_impl`` fast page + ``_order_key_frame`` (Python's
  code-point string order IS Spark's UTF8 binary order);
- facets (``_facets_fused``), hydration with only/exclude projection,
  ``paths`` chains (reusing the engine's driver-local hierarchy walk).
"""

from __future__ import annotations

import hashlib
import math
import re
import threading
from functools import cmp_to_key

import numpy as np

from .query import (
    RDFS_LABEL_IRI,
    SAMPLE_SEED,
    _normalize_order_rules,
    _parse_size_start,
    parse_hops_and_prop,
)

# sentinel: the filter (or the whole query) needs the distributed path
_BAIL = object()

# vector-row cap for the tier's semantic mirror (IVF store or brute
# embeddings table); over-cap sources leave semantic filters on the
# distributed cell-pruned path
_VEC_ROWS = int(
    __import__("os").environ.get("BIKIDATA_SPARK_LOCAL_TIER_VEC_ROWS", "500000")
)

_EMPTY = np.empty(0, dtype=np.int64)

# pending-row bound for the mutation overlay (unsorted insert tail +
# dead-row count): past it, ``patched`` folds — one physical compaction
# plus a fresh stable argsort, amortized to ~0 per mutation
_OVERLAY_FOLD = int(
    __import__("os").environ.get("BIKIDATA_SPARK_TIER_OVERLAY_FOLD", "16384")
)

# Java's \s (used by the order-key clean step's collapse_space) is the
# ASCII class [ \t\n\x0B\f\r]; Python's \s would also eat unicode
# whitespace, silently diverging from the Spark expression it mirrors
_JAVA_WS = "[ \\t\\n\\x0b\\f\\r]+"
_LANG_TAG_RE = re.compile('"@[A-Za-z-]+$')
_RAW_TEXT_RE = re.compile('^"(.+)"')
_NUM_PREFIX_RE = re.compile("^([0-9]+)")
_LONG_MAX = (1 << 63) - 1


def _group_max(keys: np.ndarray, vals: np.ndarray):
    """Per-key max over (keys, vals) → (unique keys, max vals)."""
    if keys.size == 0:
        return _EMPTY, np.empty(0, dtype=np.float64)
    order = np.argsort(keys, kind="stable")
    k, v = keys[order], vals[order]
    boundaries = np.flatnonzero(np.diff(k)) + 1
    starts = np.concatenate(([0], boundaries))
    maxes = np.maximum.reduceat(v, starts)
    return k[starts], maxes


# _fts_state key for a mirror loaded from a persisted tier artifact:
# no distributed FtsIndex exists yet — _local_fts serves the mirror
# while engine._fts is None and adopts (re-keys to) the real index the
# first time one is built over the same unmutated store
ARTIFACT_FTS = object()


class _LocalFts:
    """Driver-side mirror of one FtsIndex: token → (lit, tf, dl) rows.

    r11: ARRAY-BACKED — the postings live as token-grouped parallel
    arrays (sorted fixed-width byte tokens + [start, end) group
    offsets + lit/tf/dl row arrays), with mutation increments in a
    small per-token overlay dict that FOLDS into the base past
    ``OVERLAY_FOLD`` pending rows — the same base+overlay+fold shape
    as :class:`TermDict`. The previous dict-of-arrays form copied the
    WHOLE token map on every mutation patch (O(vocab): 2M+ entries at
    sf3) and built it with a per-token Python loop; both are now
    O(delta) / vectorized, and the base arrays are fork- and
    mmap-friendly (no per-token Python objects).

    Row-retrieval order is pinned: base rows in grouped postings
    order, then overlay rows in arrival order — exactly the append
    order the dict form produced, and ``fold()`` regroups with a
    STABLE sort over that same order, so per-token row arrays are
    identical before and after a fold. (BM25 sums are additionally
    insensitive to within-token order: postings carry one row per
    (lit, token), so each lit's sum has exactly one addend per query
    term, added in term order.)

    Scoring mirrors ``FtsIndex.match`` exactly — same BM25 constants,
    same expression shape and association order, IEEE doubles on both
    sides (reference: DuckDB fts match_bm25, reference query.py:187-210).
    """

    OVERLAY_FOLD = _OVERLAY_FOLD  # same knob as LocalTier/TermDict

    def __init__(
        self,
        toks: np.ndarray,
        starts: np.ndarray,
        ends: np.ndarray,
        lits: np.ndarray,
        tfs: np.ndarray,
        dls: np.ndarray,
        n_docs: int,
        avgdl: float,
        stem: bool,
        strip: bool,
        extra: dict | None = None,
        pending: int = 0,
    ):
        self.toks = toks  # sorted 'S<w>' byte tokens, one per group
        self.starts = starts
        self.ends = ends
        self.lits = lits
        self.tfs = tfs
        self.dls = dls
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.stem = stem
        self.strip = strip
        # token str -> (lits, tfs, dls) increment rows, arrival order
        self.extra: dict = {} if extra is None else extra
        self.pending = pending

    def _rows(self, t: str):
        """(lit, tf, dl) arrays for token ``t``, or None (df = 0)."""
        base = None
        b = t.encode("utf-8")
        if self.toks.size and len(b) <= self.toks.dtype.itemsize:
            i = int(np.searchsorted(self.toks, np.bytes_(b)))
            if i < self.toks.size and self.toks[i] == b:
                a, e = int(self.starts[i]), int(self.ends[i])
                base = (self.lits[a:e], self.tfs[a:e], self.dls[a:e])
        ex = self.extra.get(t)
        if ex is None:
            return base
        if base is None:
            return ex
        return (
            np.concatenate([base[0], ex[0]]),
            np.concatenate([base[1], ex[1]]),
            np.concatenate([base[2], ex[2]]),
        )

    def fold(self) -> "_LocalFts":
        """Merge the overlay into fresh base arrays (one stable sort
        over [base rows, overlay rows] — per-token retrieval order is
        preserved exactly, see class docstring)."""
        if not self.extra:
            return self
        ow = max((len(t.encode("utf-8")) for t in self.extra), default=1)
        w = max(self.toks.dtype.itemsize if self.toks.size else 1, ow, 1)
        counts = (self.ends - self.starts) if self.toks.size else np.empty(0, np.int64)
        btoks = np.repeat(self.toks.astype(f"S{w}", copy=False), counts)
        oparts, l_parts, t_parts, d_parts = [], [], [], []
        for t, (el, et, ed) in self.extra.items():
            oparts.append(np.full(el.size, t.encode("utf-8"), dtype=f"S{w}"))
            l_parts.append(el)
            t_parts.append(et)
            d_parts.append(ed)
        all_toks = np.concatenate([btoks] + oparts)
        all_lits = np.concatenate([self.lits] + l_parts)
        all_tfs = np.concatenate([self.tfs] + t_parts)
        all_dls = np.concatenate([self.dls] + d_parts)
        order = np.argsort(all_toks, kind="stable")
        toks_s = all_toks[order]
        n = toks_s.size
        boundaries = (
            np.flatnonzero(toks_s[1:] != toks_s[:-1]) + 1 if n else np.empty(0, np.int64)
        )
        starts = np.concatenate(([0], boundaries)).astype(np.int64)
        ends = np.concatenate((boundaries, [n])).astype(np.int64)
        return _LocalFts(
            toks_s[starts] if n else np.empty(0, dtype="S1"),
            starts if n else np.empty(0, np.int64),
            ends if n else np.empty(0, np.int64),
            all_lits[order],
            all_tfs[order],
            all_dls[order],
            self.n_docs,
            self.avgdl,
            self.stem,
            self.strip,
        )

    def match(self, text: str):
        """Conjunctive BM25 match → (lits int64 array, scores array)."""
        from ..operators.fts import BM25_B, BM25_K1, tokenize_query

        terms = list(dict.fromkeys(tokenize_query(text, self.stem, self.strip)))
        if not terms:
            return _EMPTY, np.empty(0, dtype=np.float64)
        lit_parts, sc_parts = [], []
        n = float(self.n_docs)
        for t in terms:
            rows = self._rows(t)
            if rows is None:
                # conjunctive: a term with df=0 empties the match
                return _EMPTY, np.empty(0, dtype=np.float64)
            lits, tf, dl = rows
            df = float(lits.size)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tf_part = (tf * (BM25_K1 + 1)) / (
                tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / self.avgdl)
            )
            lit_parts.append(lits)
            sc_parts.append(idf * tf_part)
        all_lits = np.concatenate(lit_parts)
        all_sc = np.concatenate(sc_parts)
        order = np.argsort(all_lits, kind="stable")
        k, v = all_lits[order], all_sc[order]
        boundaries = np.flatnonzero(np.diff(k)) + 1
        starts = np.concatenate(([0], boundaries))
        counts = np.diff(np.concatenate((starts, [k.size])))
        sums = np.add.reduceat(v, starts)
        full = counts == len(terms)
        return k[starts][full], sums[full]


def _fold_dot(M: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot(M[i], q) as the JVM fold computes it: a sequential
    left fold ((0+x0)+x1)+… per row. np.dot's pairwise/SIMD summation
    rounds differently; the dimension loop reproduces the distributed
    ``F.aggregate`` bit-for-bit."""
    acc = np.zeros(M.shape[0], dtype=np.float64)
    for j in range(M.shape[1]):
        acc = acc + M[:, j] * q[j]
    return acc


def _fold_norm2(M: np.ndarray) -> np.ndarray:
    acc = np.zeros(M.shape[0], dtype=np.float64)
    for j in range(M.shape[1]):
        x = M[:, j]
        acc = acc + x * x
    return acc


def _fold_norm2_vec(q: np.ndarray) -> float:
    acc = 0.0
    for x in q.tolist():
        acc = acc + x * x
    return acc


def probe_cells_fold(cids, cent_mat: np.ndarray, q: np.ndarray, nprobe: int) -> list:
    """The ``nprobe`` nearest centroid ids for query vector ``q`` —
    the driver-side mirror of ``operators.similarity._nearest_cells``:
    cosine_sim = dot/sqrt(n2a*n2b) with the JVM fold's left-to-right
    summation (``_fold_dot``/``_fold_norm2`` — bit-identical IEEE
    rounding), sort by (negsim, cid), slice. Spark sorts NaN greater
    than any double and all NaNs equal; Python's sort needs the
    explicit key (NaN-flag first, NaNs collapsed so the tie falls to
    cid, matching the struct comparison). Used by the tier's
    ``_LocalSemantic`` AND by the distributed path's per-query probe
    resolution (plans/query._semantic_filter) so both resolve the
    exact same cells with zero Spark jobs."""
    dots = _fold_dot(cent_mat, q)
    n2c = _fold_norm2(cent_mat)
    n2q = _fold_norm2_vec(q)
    sims = dots / np.sqrt(n2c * n2q)
    scored = [
        (math.isnan(-s), -s if not math.isnan(s) else 0.0, cid)
        for s, cid in zip(sims.tolist(), cids)
    ]
    scored.sort()
    return sorted(cid for _, _, cid in scored[:nprobe])


class _LocalSemantic:
    """Driver-side mirror of the semantic-filter scan sources: either
    the persisted IVF store's (cell, nid, nv) rows grouped by cell, or
    the brute (s, vec) embeddings table (plans/query._semantic_filter;
    reference query.py:166-170)."""

    def __init__(self, kind, dim, s_arr, M, cells=None, cids=None, cent_mat=None, nprobe=None):
        self.kind = kind  # "ivf" | "brute"
        self.dim = dim  # dim used for text->vector embedding
        self.s_arr = s_arr  # brute: all ids; ivf: ids sorted by cell
        self.M = M  # matching vector matrix
        self.cells = cells  # ivf: {cell: (row_lo, row_hi)} into s_arr/M
        self.cids = cids  # ivf: centroid ids (list[int])
        self.cent_mat = cent_mat  # ivf: (k, d) centroid matrix
        self.nprobe = nprobe

    def probe_cells(self, q: np.ndarray) -> list:
        """The nprobe nearest centroid ids — see
        :func:`probe_cells_fold` (shared with the distributed path's
        driver-side probe resolution in plans/query._semantic_filter)."""
        return probe_cells_fold(self.cids, self.cent_mat, q, self.nprobe)

    def scan(self, q: np.ndarray):
        """(ids, distance) for the filter's scan scope — probed cells
        for ivf, everything for brute. The similarity expression
        mirrors plans/query._semantic_filter exactly:
        sim = dot / (sqrt(n2(vec)) * sqrt(n2(qvec)))."""
        if self.kind == "ivf":
            parts = [self.cells[c] for c in self.probe_cells(q) if c in self.cells]
            if not parts:
                return _EMPTY, np.empty(0, dtype=np.float64)
            idx = np.concatenate([np.arange(lo, hi) for lo, hi in parts])
            s_arr, M = self.s_arr[idx], self.M[idx]
        else:
            s_arr, M = self.s_arr, self.M
        if s_arr.size == 0:
            return _EMPTY, np.empty(0, dtype=np.float64)
        dots = _fold_dot(M, q)
        norms = np.sqrt(_fold_norm2(M)) * math.sqrt(_fold_norm2_vec(q))
        with np.errstate(divide="ignore", invalid="ignore"):
            sim = dots / norms
        dist = 1.0 - sim
        keep = dist < 0.5  # NaN-safe: comparisons with NaN are False
        return s_arr[keep], dist[keep]


def _range_indices(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Concatenated [lo_i, hi_i) ranges as one index array."""
    counts = hi - lo
    nz = counts > 0
    lo, counts = lo[nz], counts[nz]
    if lo.size == 0:
        return np.empty(0, dtype=np.int64)
    offs = np.repeat(np.cumsum(counts) - counts, counts)
    return np.arange(counts.sum(), dtype=np.int64) - offs + np.repeat(lo, counts)


class TermDict:
    """Array-backed term dictionary for the tier (r10).

    The r8/r9 tier kept the dictionary as two Python dicts plus an
    object-array twin — ~200 B of PyObject overhead per term, which was
    the real memory wall that kept the tier cap at 4M quads (sf1's
    5.6M-term dictionary alone would have cost multiple GiB). This
    class stores the same mapping in flat arrays:

    - ``th``            sorted int64 term hashes;
    - ``start``/``end`` int64 byte offsets into ``blob`` per hash;
    - ``blob``          one UTF-8 buffer with every value — taken
      ZERO-COPY from the Arrow collect (the Arrow string layout IS
      offsets + data buffer), so building the dictionary never
      materializes per-term Python strings;
    - ``lit``           bool mask (is_literal) parallel to ``th``.

    Lookups by hash are a searchsorted + slice decode; lookups by VALUE
    need no storage at all — the dictionary is hash-addressed
    (hash = XXH64(value, seed 42), functions/xxh.py, bit-identical to
    the JVM ``xxhash64`` the build uses), so ``v2h[value]`` is
    ``term_id(value)`` + a membership probe.

    ``ranks()`` lazily materializes the VALUE-ORDER rank of every term
    (Arrow ``sort_indices`` — C++, no Python strings): UTF-8 byte order
    equals code-point order equals Spark's UTF8 binary order (the
    pinned order-key equivalence), so a default/lexical page sorts
    int64 ranks instead of strings — faster than the old object-array
    argsort AND allocation-free.

    Mutations only ever ADD terms (the reference never garbage-collects
    them, reference query.py:505-507): new terms ride in the
    append-only ``extra`` dict, SHARED across tier generations exactly
    like the old dicts (a reader of an old generation can never look up
    a hash only newer rows reference). ``fold()`` merges the overlay
    into the base arrays — called from the tier's overlay fold so the
    amortization matches the row patch.
    """

    __slots__ = (
        "th", "start", "end", "blob", "lit", "extra", "extra_lit",
        "n_lit_base", "nbytes", "_rank", "_rank_lock", "_arrow", "_ord",
    )

    # estimated fixed per-term array cost (th + start + end + lit +
    # the lazy rank): what the byte-budget gate charges per entry
    PER_TERM_BYTES = 48

    def __init__(self, th, start, end, blob, lit, _arrow=None, _ord=None):
        self.th = th
        self.start = start
        self.end = end
        self.blob = blob
        self.lit = lit
        self.extra: dict = {}
        self.extra_lit: set = set()
        self.n_lit_base = int(lit.sum()) if lit.size else 0
        self.nbytes = len(blob) + th.size * self.PER_TERM_BYTES
        self._rank = None
        self._rank_lock = threading.Lock()
        # the source Arrow string array + the hash-sort permutation
        # (th position -> arrow index): kept for the lazy ranks build;
        # dropped by fold() (the merged blob has no single Arrow twin)
        self._arrow = _arrow
        self._ord = _ord

    @classmethod
    def from_arrow(cls, tbl) -> "TermDict":
        """Build from an Arrow table with (hash, value, is_literal) —
        the shape ``terms_df.toArrow()`` returns. The value buffer is
        adopted zero-copy; only the int64 offset gathers allocate."""
        import pyarrow as pa

        tbl = tbl.combine_chunks()
        n = tbl.num_rows
        if n == 0:
            e = np.empty(0, dtype=np.int64)
            return cls(e, e.copy(), e.copy(), b"", np.empty(0, dtype=bool))
        th_raw = tbl.column("hash").to_numpy(zero_copy_only=False).astype(
            np.int64, copy=False
        )
        lit_raw = tbl.column("is_literal").to_numpy(zero_copy_only=False).astype(
            bool, copy=False
        )
        val = tbl.column("value")
        if hasattr(val, "chunk"):
            val = val.chunk(0) if val.num_chunks else pa.array([], pa.string())
        if not pa.types.is_large_string(val.type):
            val = val.cast(pa.large_string())
        off = np.frombuffer(val.buffers()[1], dtype=np.int64)[
            val.offset : val.offset + len(val) + 1
        ]
        blob = memoryview(val.buffers()[2])
        ord_ = np.argsort(th_raw, kind="stable")
        return cls(
            th_raw[ord_],
            off[:-1][ord_].astype(np.int64, copy=True),
            off[1:][ord_].astype(np.int64, copy=True),
            blob,
            lit_raw[ord_],
            _arrow=val,
            _ord=ord_,
        )

    @classmethod
    def from_mapping(cls, h2v: dict, lit_hashes) -> "TermDict":
        """Build from plain Python mappings (tests, tiny fixtures)."""
        items = sorted(h2v.items())
        th = np.array([h for h, _ in items], dtype=np.int64)
        enc = [v.encode("utf-8") for _, v in items]
        lens = np.array([0] + [len(b) for b in enc], dtype=np.int64)
        off = np.cumsum(lens)
        lit = np.array([h in lit_hashes for h, _ in items], dtype=bool)
        return cls(th, off[:-1].copy(), off[1:].copy(), b"".join(enc), lit)

    # ---- vectorized ------------------------------------------------------

    def base_indices(self, keys: np.ndarray):
        """(positions into th, found mask) — vectorized membership."""
        if self.th.size == 0:
            z = np.zeros(keys.size, dtype=np.int64)
            return z, np.zeros(keys.size, dtype=bool)
        idx = np.searchsorted(self.th, keys)
        idx_c = np.minimum(idx, self.th.size - 1)
        found = (idx < self.th.size) & (self.th[idx_c] == keys)
        return idx_c, found

    def decode(self, idx: np.ndarray) -> np.ndarray:
        """Values (object array of str) at the given th positions."""
        if self._arrow is not None and len(idx) > 1024:
            # bulk path: Arrow take + to_numpy materializes the Python
            # strings in C (~6x the per-slice loop at millions of rows)
            import pyarrow as pa

            return self._arrow.take(pa.array(self._ord[idx])).to_numpy(
                zero_copy_only=False
            )
        out = np.empty(len(idx), dtype=object)
        blob, st, en = self.blob, self.start, self.end
        for k, i in enumerate(idx.tolist()):
            out[k] = bytes(blob[st[i] : en[i]]).decode("utf-8")
        return out

    def values_of(self, keys: np.ndarray):
        """(values object array, found mask) for int64 hash keys —
        the one hash -> value decode. Missing hashes get found=False (the
        distributed terms join drops them); overlay terms resolve
        through the extra dict."""
        idx, found = self.base_indices(keys)
        vals = np.empty(keys.size, dtype=object)
        if found.any():
            vals[found] = self.decode(idx[found])
        if self.extra and not found.all():
            ex = self.extra
            for i in np.flatnonzero(~found).tolist():
                v = ex.get(int(keys[i]))
                if v is not None:
                    vals[i] = v
                    found[i] = True
        return vals, found

    def literal_flags(self, keys: np.ndarray) -> np.ndarray:
        """Bool per key: present AND is_literal (vectorized)."""
        idx, found = self.base_indices(keys)
        flags = np.zeros(keys.size, dtype=bool)
        if found.any():
            flags[found] = self.lit[idx[found]]
        if self.extra_lit and not found.all():
            el = self.extra_lit
            for i in np.flatnonzero(~found).tolist():
                if int(keys[i]) in el:
                    flags[i] = True
        return flags

    def extra_hit(self, keys: np.ndarray, found: np.ndarray) -> bool:
        """True when any not-found key resolves through the overlay —
        the rank fast paths then fall back to value decoding (ranks
        cover only the base arrays between folds)."""
        if not self.extra or found.all():
            return False
        ex = self.extra
        return any(int(h) in ex for h in keys[~found].tolist())

    def ranks(self) -> np.ndarray:
        """int64 value-order rank per th position (lazy, cached).
        Distinct values => a total order; byte order == code-point
        order == Spark UTF8 binary order."""
        r = self._rank
        if r is not None:
            return r
        with self._rank_lock:
            r = self._rank
            if r is not None:
                return r
            n = self.th.size
            if n == 0:
                r = np.empty(0, dtype=np.int64)
            elif self._arrow is not None:
                import pyarrow.compute as pc

                si = pc.sort_indices(self._arrow).to_numpy().astype(np.int64)
                rank_by_arrow = np.empty(n, dtype=np.int64)
                rank_by_arrow[si] = np.arange(n, dtype=np.int64)
                r = rank_by_arrow[self._ord]
            else:
                # post-fold slow path (no Arrow twin): one bytes sort
                blob, st, en = self.blob, self.start, self.end
                vals = [bytes(blob[a:b]) for a, b in zip(st.tolist(), en.tolist())]
                order = sorted(range(n), key=vals.__getitem__)
                r = np.empty(n, dtype=np.int64)
                r[np.array(order, dtype=np.int64)] = np.arange(n, dtype=np.int64)
            self._rank = r
            return r

    def order_keys(self, keys: np.ndarray):
        """Per-hash int64 LEXICAL sort keys + found mask: sorting the
        keys sorts the terms in Spark UTF8 binary value order (the
        ranks equivalence, see ``ranks``). Base terms map to
        ``2*rank+1`` (odd, unique); overlay terms map to ``2*pos``
        where ``pos`` is their insertion point among the base values —
        even keys, so an overlay term lands strictly between its base
        neighbours. Two overlay terms at the same insertion point
        collide (equal even keys); callers order within equal keys by
        the values themselves (bounded by the overlay size, which the
        fold caps)."""
        idx, found = self.base_indices(keys)
        out = np.zeros(keys.size, dtype=np.int64)
        if self.th.size:
            r = self.ranks()
            out[found] = 2 * r[idx[found]] + 1
        if self.extra:
            miss = np.nonzero(~found)[0]
            if miss.size:
                vo = self._value_order()
                blob, st, en = self.blob, self.start, self.end
                n = self.th.size

                def _val(i: int) -> bytes:
                    j = vo[i]
                    return bytes(blob[st[j] : en[j]])

                for k in miss.tolist():
                    v = self.extra.get(int(keys[k]))
                    if v is None:
                        continue
                    found[k] = True
                    eb = v.encode("utf-8")
                    lo, hi = 0, n
                    while lo < hi:
                        mid = (lo + hi) // 2
                        if _val(mid) < eb:
                            lo = mid + 1
                        else:
                            hi = mid
                    out[k] = 2 * lo
        return out, found

    def _value_order(self) -> np.ndarray:
        """th positions in ascending VALUE order (inverse of ranks)."""
        r = self.ranks()
        vo = np.empty(r.size, dtype=np.int64)
        vo[r] = np.arange(r.size, dtype=np.int64)
        return vo

    # ---- scalar ----------------------------------------------------------

    def contains_hash(self, h: int) -> bool:
        if h in self.extra:
            return True
        th = self.th
        if th.size == 0:
            return False
        i = int(np.searchsorted(th, h))
        return i < th.size and int(th[i]) == h

    def hash_of(self, value: str):
        """Hash for one lexical form, or None when absent — the
        dictionary is hash-addressed, so this is a hash + membership
        probe, not a reverse index."""
        from ..functions.xxh import term_id

        h = term_id(value)
        return h if self.contains_hash(h) else None

    def add(self, h: int, value: str, is_literal: bool) -> None:
        """Append-only overlay write (mutation-minted term). Shared
        across generations like the old dicts — safe under the GIL."""
        if h not in self.extra:
            # Charge UTF-8 bytes, not code points — a multibyte literal
            # must count its real blob footprint against the byte budget.
            self.nbytes += len(value.encode("utf-8")) + 80
        self.extra[h] = value
        if is_literal:
            self.extra_lit.add(h)

    def is_literal_hash(self, h: int) -> bool:
        if h in self.extra_lit:
            return True
        th = self.th
        if th.size == 0:
            return False
        i = int(np.searchsorted(th, h))
        return i < th.size and int(th[i]) == h and bool(self.lit[i])

    def literal_count(self) -> int:
        return self.n_lit_base + len(self.extra_lit)

    # ---- fold ------------------------------------------------------------

    def fold(self) -> "TermDict":
        """New TermDict with the extra overlay merged into the base
        arrays (one batched np.insert + one blob append). The receiver
        keeps its overlay untouched — old-generation readers still
        resolve through it. Ranks carry over in O(n + k log n) when
        already built (k binary searches position the new values; one
        vectorized shift renumbers the old ones)."""
        if not self.extra:
            return self
        items = sorted(self.extra.items())
        k = len(items)
        nh = np.array([h for h, _ in items], dtype=np.int64)
        enc = [v.encode("utf-8") for _, v in items]
        base_len = len(self.blob)
        lens = np.array([len(b) for b in enc], dtype=np.int64)
        ends = base_len + np.cumsum(lens)
        starts = ends - lens
        pos = np.searchsorted(self.th, nh)
        th2 = np.insert(self.th, pos, nh)
        st2 = np.insert(self.start, pos, starts)
        en2 = np.insert(self.end, pos, ends)
        lit2 = np.insert(
            self.lit, pos, [h in self.extra_lit for h, _ in items]
        )
        blob2 = bytes(self.blob) + b"".join(enc)
        td = TermDict(th2, st2, en2, blob2, lit2)
        old_rank = self._rank
        if old_rank is not None and self.th.size:
            # value-order positions of the new terms among the old
            val_order = np.empty(self.th.size, dtype=np.int64)
            val_order[old_rank] = np.arange(self.th.size, dtype=np.int64)
            blob, st, en = self.blob, self.start, self.end

            def _old_val(r: int) -> bytes:
                i = val_order[r]
                return bytes(blob[st[i] : en[i]])

            order_new = sorted(range(k), key=enc.__getitem__)
            pos_val = np.empty(k, dtype=np.int64)
            n = self.th.size
            for j, m in enumerate(order_new):
                eb = enc[m]
                lo, hi = 0, n
                while lo < hi:
                    mid = (lo + hi) // 2
                    if _old_val(mid) < eb:
                        lo = mid + 1
                    else:
                        hi = mid
                pos_val[j] = lo
            # old rank r -> r + #{new values placed at or before r}
            shifted = old_rank + np.searchsorted(
                pos_val, old_rank, side="right"
            )
            jidx = np.empty(k, dtype=np.int64)
            jidx[np.array(order_new, dtype=np.int64)] = np.arange(
                k, dtype=np.int64
            )
            new_rank = pos_val[jidx] + jidx  # per hash-order item
            td._rank = np.insert(shifted, pos, new_rank)
        elif old_rank is not None:
            # empty base: the merged ranks are the new terms' own value
            # order, laid out in hash order (= th2 order)
            order_new = sorted(range(k), key=enc.__getitem__)
            jidx = np.empty(k, dtype=np.int64)
            jidx[np.array(order_new, dtype=np.int64)] = np.arange(
                k, dtype=np.int64
            )
            td._rank = jidx
        return td

    # ---- test / debug helpers ---------------------------------------------

    def to_dict(self) -> dict:
        """Full hash -> value dict (base + overlay). Test-sized only."""
        out = dict(
            zip(self.th.tolist(), self.decode(np.arange(self.th.size)).tolist())
        )
        out.update(self.extra)
        return out

    def lit_set(self) -> set:
        return set(self.th[self.lit].tolist()) | set(self.extra_lit)


class _H2V:
    """Mapping view over TermDict for the mutation path: membership
    and term writes (plans/query.Engine.mutate and serving_pool write
    through it); reads decode in bulk with TermDict.values_of."""

    __slots__ = ("_td",)

    def __init__(self, td: TermDict):
        self._td = td

    def __contains__(self, h) -> bool:
        return self._td.contains_hash(int(h))

    def __setitem__(self, h, v) -> None:
        self._td.add(int(h), v, v.startswith('"'))


class _V2H:
    """Reverse view: value -> hash via term_id + membership (the
    dictionary is hash-addressed, so no reverse storage exists)."""

    __slots__ = ("_td",)

    def __init__(self, td: TermDict):
        self._td = td

    def get(self, value, default=None):
        h = self._td.hash_of(value)
        return default if h is None else h

    def __getitem__(self, value):
        h = self._td.hash_of(value)
        if h is None:
            raise KeyError(value)
        return h

    def __contains__(self, value) -> bool:
        return self._td.hash_of(value) is not None

    def __setitem__(self, value, h) -> None:
        # the h2v write (which carries the is_literal bit) is the one
        # that records the term; hash-addressing makes this a no-op
        pass


class _IsLit:
    """Set view over the is_literal bit."""

    __slots__ = ("_td",)

    def __init__(self, td: TermDict):
        self._td = td

    def __contains__(self, h) -> bool:
        return self._td.is_literal_hash(int(h))

    def add(self, h) -> None:
        self._td.extra_lit.add(int(h))

    def __len__(self) -> int:
        return self._td.literal_count()


class LocalTier:
    """One graph generation's driver-resident mirror."""

    def __init__(self, s, p, o, g, terms: TermDict, _indexes=None):
        self.s = s
        self.p = p
        self.o = o
        self.g = g
        # array-backed dictionary (TermDict) + the mapping views the
        # engine-side mutation path writes through (tier.h2v[h] = v)
        self.terms = terms
        self.h2v = _H2V(terms)
        self.v2h = _V2H(terms)
        self.is_lit = _IsLit(terms)
        self.nrows = int(s.size)
        # ---- mutation overlay (r9) --------------------------------------
        # ``patched`` keeps mutations O(delta): deletes flip bits in a
        # copy-on-write ``_live`` mask (None = all rows live) instead of
        # compacting every array, and inserts append IN PLACE into
        # shared capacity buffers (``_buf``) whose tail only the newest
        # generation owns — older generations view shorter prefixes, so
        # in-flight readers are untouched. The sorted indexes cover only
        # the first ``_sorted_n`` rows (the base region); probes scan
        # the small unsorted tail linearly. Past _OVERLAY_FOLD pending
        # rows either way, the patch FOLDS: one physical compaction +
        # fresh argsort, amortized to ~0 per mutation.
        self._live: np.ndarray | None = None  # bool per physical row
        self._n_dead = 0
        self._sorted_n = self.nrows
        self._buf: dict | None = None
        # sorted row indexes over s and o: membership tests against a
        # key set then cost O(k log n + hits) via searchsorted instead
        # of np.isin's per-call O(n log n) re-sort of the whole column
        # (measured 10x off the walk- and facet-heavy tier queries)
        if _indexes is not None:
            # mutation patch (``patched``): indexes merged from the
            # predecessor tier's in O(n) copies, no re-sort
            (self._s_order, self._s_sorted, self._o_order, self._o_sorted) = _indexes
        else:
            self._s_order = np.argsort(s, kind="stable")
            self._s_sorted = s[self._s_order]
            self._o_order = np.argsort(o, kind="stable")
            self._o_sorted = o[self._o_order]
        # full-corpus subject → (sort_label, num_prefix) maps, keyed by
        # the order-rule signature (the tier twin of the engine's
        # persisted _order_keys_cached sort index), built once per rule
        self._order_key_maps: dict = {}
        # full-corpus subject arrays in final page order, keyed by
        # (rule signature, dir, nulls): an ordered page is then a
        # member-mask scan + slice instead of a per-request sort of
        # the member set (the difference between O(page) and
        # O(members log members) per request)
        self._global_orders: dict = {}
        # unloaded order-index sidecars from a persisted tier artifact
        # (r12): {(sig, dir, nulls): (path, n_rows)} — the first ordered
        # page for a persisted rule mmap-reads the precomputed order
        # instead of paying the label-derivation kernels (~2.4-3.3 s at
        # sf1 cold). Entries move into _global_orders on first use.
        self._order_sidecars: dict = {}
        self._order_lock = threading.Lock()
        # lazily-built _LocalFts keyed by the engine's FtsIndex object
        # identity (a load_fts/replace swaps the object); None value =
        # measured too big, stay distributed for fts filters
        self._fts_state: tuple | None = None
        self._fts_lock = threading.Lock()
        # lazily-built _LocalSemantic keyed by the engine's (ivf,
        # embeddings) object identities
        self._sem_state: tuple | None = None
        self._sem_lock = threading.Lock()
        self.queries_served = 0

    @property
    def approx_bytes(self) -> int:
        """Driver-memory estimate for the byte-budget cap: quad columns
        (4 × int64) + the four sorted-index arrays + the dictionary."""
        return self.nrows * 64 + self.terms.nbytes

    @property
    def live_rows(self) -> int:
        """Quad count net of overlay tombstones (= what a re-collect
        of the mutated graph would return)."""
        return self.nrows - self._n_dead

    def _lv(self, mask: np.ndarray) -> np.ndarray:
        """AND out overlay-deleted rows from a full-length row mask."""
        return mask if self._live is None else (mask & self._live)

    def _col_live(self, col: np.ndarray) -> np.ndarray:
        """Column restricted to live rows (the identity pre-overlay)."""
        return col if self._live is None else col[self._live]

    def _rows_of(self, sorted_col, order, flat_col, keys: np.ndarray) -> np.ndarray:
        """Live physical rows (unordered) whose column value ∈ keys:
        sorted-index ranges over the base region + a linear scan of the
        small unsorted overlay tail, overlay-deleted rows off.
        O(k log n + hits + tail) — no corpus-sized mask."""
        if keys.size == 0:
            return _EMPTY
        keys = np.unique(keys)
        lo = np.searchsorted(sorted_col, keys, "left")
        hi = np.searchsorted(sorted_col, keys, "right")
        rows = order[_range_indices(lo, hi)]
        t0 = self._sorted_n
        if t0 < self.nrows:
            tail = np.flatnonzero(np.isin(flat_col[t0:], keys)) + t0
            rows = np.concatenate([rows, tail])
        if self._live is not None:
            rows = rows[self._live[rows]]
        return rows

    def _rows_mask(self, sorted_col, order, flat_col, keys: np.ndarray) -> np.ndarray:
        """Boolean row mask over ``_rows_of``."""
        mask = np.zeros(self.nrows, dtype=bool)
        mask[self._rows_of(sorted_col, order, flat_col, keys)] = True
        return mask

    def _s_rows(self, keys: np.ndarray) -> np.ndarray:
        """Live rows whose subject ∈ keys, in physical (stored) order."""
        return np.sort(self._rows_of(self._s_sorted, self._s_order, self.s, keys))

    def _s_in(self, keys: np.ndarray) -> np.ndarray:
        return self._rows_mask(self._s_sorted, self._s_order, self.s, keys)

    def sp(self, s_list: list[str], p: str | None) -> dict:
        """{subject: [object values]} — mirror of Engine.sp (reference
        query.py:38-57), rows in stored order like the collect it
        replaces."""
        rows = self._s_rows(self._hashes(s_list))
        if p:
            ph = self.v2h.get(p)
            rows = rows[self.p[rows] == ph] if ph is not None else _EMPTY
        n = rows.size
        vals = self._decode_codes(np.concatenate([self.s[rows], self.o[rows]]))
        out: dict = {}
        for s_val, o_val in zip(vals[:n], vals[n:]):
            if s_val is None or o_val is None:
                continue
            out.setdefault(s_val, []).append(o_val)
        return out

    def _decode_codes(self, codes: np.ndarray) -> list:
        """Values (None when absent) for a code array with repeats —
        each distinct hash decoded once, in one batched lookup."""
        uniq, inv = np.unique(codes, return_inverse=True)
        vals, _ = self.terms.values_of(uniq)
        return vals[inv].tolist()

    def total_subjects(self) -> int:
        """Distinct-subject count (Engine.total's contract)."""
        n = getattr(self, "_total_subjects", None)
        if n is None:
            if self._live is None and self._sorted_n == self.nrows:
                ss = self._s_sorted
                n = int((ss[1:] != ss[:-1]).sum()) + 1 if ss.size else 0
            else:  # overlay active: the sorted index under/over-covers
                n = int(np.unique(self._col_live(self.s)).size)
            self._total_subjects = n
        return n

    def _o_in(self, keys: np.ndarray) -> np.ndarray:
        return self._rows_mask(self._o_sorted, self._o_order, self.o, keys)

    # ---- mutation support ----------------------------------------------
    # The mirror answers a mutation's existence probes (insert dup-check,
    # delete guard — reference query.py:477-482, 547-551) driver-side,
    # and Engine.mutate patches it across the generation bump instead of
    # re-collecting the whole graph (plans/query.Engine.mutate).

    def pattern_rows(self, s: int, p: int, o: int | None, g: int | None) -> np.ndarray:
        """Row indexes matching one hashed pattern; ``o``/``g`` None =
        wildcard. Subject-anchored: the sorted-s probe narrows to the
        subject's rows (typically a handful), then p/o/g compare flat."""
        lo = np.searchsorted(self._s_sorted, s, "left")
        hi = np.searchsorted(self._s_sorted, s, "right")
        rows = self._s_order[lo:hi]
        t0 = self._sorted_n
        if t0 < self.nrows:
            tail = t0 + np.flatnonzero(self.s[t0:] == s)
            rows = np.concatenate([rows, tail]) if rows.size else tail
        if self._live is not None and rows.size:
            rows = rows[self._live[rows]]
        if rows.size == 0:
            return rows
        keep = self.p[rows] == p
        if o is not None:
            keep &= self.o[rows] == o
        if g is not None:
            keep &= self.g[rows] == g
        return rows[keep]

    def spo_rows(
        self,
        s: str | None,
        p: str | None,
        o: str | None,
        g: str | None,
        size: int,
        start: int,
        max_rows: int = 200_000,
    ) -> list | None:
        """Mirror of Engine.spo (reference query.py:60-87): (s, p, o)
        value rows of the triple pattern, ordered by (s, p, o), sliced
        [start, start+size). Returns None when the pattern matches more
        than ``max_rows`` rows — a corpus-scale sort belongs on the
        distributed path, not the driver. Python tuple sort on str ==
        Spark's UTF8 binary orderBy (code-point order — the pinned
        order-key equivalence, tests/test_local_tier.py)."""
        from ..functions.xxh import term_id

        mask = None
        for col, term in ((self.s, s), (self.p, p), (self.o, o), (self.g, g)):
            if term is not None and term != "":
                m = col == term_id(term)
                mask = m if mask is None else (mask & m)
        if mask is not None:
            rows = np.flatnonzero(self._lv(mask))
        elif self._live is not None:
            rows = np.flatnonzero(self._live)
        else:
            rows = np.arange(self.nrows)
        if rows.size > max_rows:
            return None
        td = self.terms
        s_h, p_h, o_h = self.s[rows], self.p[rows], self.o[rows]
        si, sf = td.base_indices(s_h)
        pi, pf = td.base_indices(p_h)
        oi, of = td.base_indices(o_h)
        ok = sf & pf & of  # missing dictionary hashes drop, like the joins
        if (
            td.extra_hit(s_h, sf)
            or td.extra_hit(p_h, pf)
            or td.extra_hit(o_h, of)
        ):
            # overlay terms in play (only between mutation and fold):
            # the rank order does not cover them — decode everything
            sv, sf2 = self.terms.values_of(s_h)
            pv, pf2 = self.terms.values_of(p_h)
            ov, of2 = self.terms.values_of(o_h)
            ok = sf2 & pf2 & of2
            out = sorted(zip(sv[ok].tolist(), pv[ok].tolist(), ov[ok].tolist()))
            return out[start : start + size] if start else out[:size]
        # rank sort: int64 lexsort instead of a Python tuple-of-str sort
        # (value ranks are a total order — distinct dictionary values —
        # so the ordering is identical), then decode ONLY the page
        r = td.ranks()
        rs, rp, ro = r[si[ok]], r[pi[ok]], r[oi[ok]]
        order = np.lexsort((ro, rp, rs))[start : start + size]
        kept = np.flatnonzero(ok)[order]
        sv = td.decode(si[kept])
        pv = td.decode(pi[kept])
        ov = td.decode(oi[kept])
        return list(zip(sv.tolist(), pv.tolist(), ov.tolist()))

    def _ref_counts(self, sorted_vals, order, flat_col, keys: np.ndarray) -> np.ndarray:
        """Live occurrence count of each key (SORTED UNIQUE int64) in
        one column: sorted-index ranges minus overlay-dead rows, plus
        the unsorted overlay tail. O(k log n + hits)."""
        if keys.size == 0:
            return np.empty(0, dtype=np.int64)
        lo = np.searchsorted(sorted_vals, keys, "left")
        hi = np.searchsorted(sorted_vals, keys, "right")
        if self._live is None:
            cnt = (hi - lo).astype(np.int64)
        else:
            idx = order[_range_indices(lo, hi)]
            rep = np.repeat(np.arange(keys.size), hi - lo)
            cnt = np.bincount(
                rep[self._live[idx]], minlength=keys.size
            ).astype(np.int64)
        t0 = self._sorted_n
        if t0 < self.nrows:
            tail = flat_col[t0:]
            if self._live is not None:
                tail = tail[self._live[t0:]]
            pos = np.searchsorted(keys, tail)
            pos_c = np.minimum(pos, keys.size - 1)
            hit = (pos < keys.size) & (keys[pos_c] == tail)
            cnt += np.bincount(pos_c[hit], minlength=keys.size)
        return cnt

    def o_ref_counts(self, keys: np.ndarray) -> np.ndarray:
        """Live object-position occurrence counts (keys sorted unique).
        Mutation-path helper: the dead-literal estimate probes these
        instead of running the distributed reference-count join."""
        return self._ref_counts(self._o_sorted, self._o_order, self.o, keys)

    def s_ref_counts(self, keys: np.ndarray) -> np.ndarray:
        """Live subject-position occurrence counts (keys sorted unique)."""
        return self._ref_counts(self._s_sorted, self._s_order, self.s, keys)

    def _has_subjects(self, subs: np.ndarray) -> np.ndarray:
        """Bool per input: does any LIVE row have this subject?"""
        subs_u, inv = np.unique(subs, return_inverse=True)
        out = self.s_ref_counts(subs_u) > 0
        return out[inv]

    def properties_rows(self) -> list:
        """Mirror of Engine.properties (reference query.py:20-27):
        (property value, distinct-subject count) for IRI properties.
        Distinct (p, s) pairs via lexsort + adjacent-dedup, memoized
        per tier (pure function of the quad arrays)."""
        rows = getattr(self, "_properties_rows", None)
        if rows is None:
            p_all, s_all = self._col_live(self.p), self._col_live(self.s)
            order = np.lexsort((s_all, p_all))
            p, s = p_all[order], s_all[order]
            first = np.ones(p.size, dtype=bool)
            first[1:] = (p[1:] != p[:-1]) | (s[1:] != s[:-1])
            up = p[first]
            pvals, counts = np.unique(up, return_counts=True)
            vals, found = self.terms.values_of(pvals)
            rows = [
                (v, int(c))
                for v, c, h, f in zip(vals, counts, pvals.tolist(), found)
                if f and h not in self.is_lit  # iris() join keeps IRIs only
            ]
            self._properties_rows = rows
        return rows

    def count_by_property_rows(self, prop: str) -> list:
        """Mirror of Engine.count_by_property (reference query.py:30-35):
        (object value, distinct-subject count) for one property."""
        from ..functions.xxh import term_id

        mask = self._lv(self.p == term_id(prop))
        o, s = self.o[mask], self.s[mask]
        order = np.lexsort((s, o))
        o, s = o[order], s[order]
        first = np.ones(o.size, dtype=bool)
        first[1:] = (o[1:] != o[:-1]) | (s[1:] != s[:-1])
        uo = o[first]
        ovals, counts = np.unique(uo, return_counts=True)
        vals, found = self.terms.values_of(ovals)
        return [
            (v, int(c)) for v, c, f in zip(vals, counts, found) if f
        ]

    # class attr so tests can shrink it; env override for deployments
    OVERLAY_FOLD = _OVERLAY_FOLD

    def patched(self, ins_rows: list, del_rows: np.ndarray, new_terms=()) -> "LocalTier":
        """New tier with ``del_rows`` (row indexes) removed and
        ``ins_rows`` ((s,p,o,g) hash tuples) appended at the end —
        the same row order the distributed lineage produces (delete is
        an order-preserving anti-join, insert a trailing unionAll).

        O(delta), not O(cap): deletes flip bits in a copy-on-write
        ``_live`` mask (one bool column ≈ nrows/8 bytes — the only
        full-length touch) instead of compacting ten int64 arrays, and
        inserts append IN PLACE into shared capacity buffers whose
        tail only the newest generation owns — older generations view
        shorter prefixes, so in-flight readers are untouched under the
        GIL. The sorted row indexes keep covering only the first
        ``_sorted_n`` rows (the base region); every probe scans the
        small unsorted tail linearly and masks dead rows (_rows_mask /
        pattern_rows / _ref_counts). Past ``OVERLAY_FOLD`` pending
        rows the patch FOLDS — one physical compaction + fresh stable
        argsort — so the amortized per-mutation cost stays O(delta).
        At sf1's 11M rows this takes the measured mutation cycle from
        1.4-1.7 s (r8's O(cap) merge copies) to the delta cost alone.

        The TermDict is SHARED with this tier: mutation only ever
        ADDS terms (the reference never garbage-collects them,
        query.py:505-507), and a reader of the old tier can never look
        up a hash that only new rows reference, so append-only sharing
        is safe under the GIL. ``new_terms`` [(hash, value)] were
        already applied to the shared overlay by the caller
        (tier.h2v[h] = v); their O(#terms) np.insert merge into the
        base arrays is deferred to the fold (TermDict.fold) — until
        then lookups resolve through the overlay dict.
        The lazy FTS mirror is dropped (literal postings may have
        changed); the semantic mirror carries over (embeddings are not
        quad data, keyed by store identity, unchanged by mutations).
        """
        k_ins = len(ins_rows)
        pending = (
            (self.nrows - self._sorted_n)
            + self._n_dead
            + k_ins
            + int(del_rows.size)
        )
        if (
            pending > self.OVERLAY_FOLD
            or len(self.terms.extra) > self.OVERLAY_FOLD
        ):
            return self._fold_patched(ins_rows, del_rows)

        live, n_dead = self._live, self._n_dead
        if del_rows.size:
            live = np.ones(self.nrows, dtype=bool) if live is None else live.copy()
            n_dead += int(live[del_rows].sum())
            live[del_rows] = False
        buf = self._buf
        if k_ins:
            ins = np.array(ins_rows, dtype=np.int64).reshape(-1, 4)
            n0, n1 = self.nrows, self.nrows + k_ins
            if buf is None or buf["end"] != n0 or n1 > buf["cap"]:
                # first overlay insert on this lineage (or a discarded
                # branch / full buffer): seed fresh capacity buffers
                cap = n1 + max(4 * self.OVERLAY_FOLD, n1 // 8)
                buf = {"cap": cap, "end": n0}
                for name, col in (("s", self.s), ("p", self.p), ("o", self.o), ("g", self.g)):
                    b = np.empty(cap, dtype=np.int64)
                    b[:n0] = col
                    buf[name] = b
            for j, name in enumerate(("s", "p", "o", "g")):
                buf[name][n0:n1] = ins[:, j]
            buf["end"] = n1
            s, p, o, g = (buf[n][:n1] for n in ("s", "p", "o", "g"))
            if live is not None:
                lv = np.empty(n1, dtype=bool)
                lv[:n0], lv[n0:] = live, True
                live = lv
        else:
            s, p, o, g = self.s, self.p, self.o, self.g
        t = LocalTier(
            s, p, o, g, self.terms,
            _indexes=(self._s_order, self._s_sorted, self._o_order,
                      self._o_sorted),
        )
        t._live, t._n_dead = live, n_dead
        t._sorted_n = self._sorted_n
        t._buf = buf
        t._sem_state = self._sem_state
        self._carry_order_caches(t, ins_rows, del_rows)
        return t

    def _fold_patched(self, ins_rows, del_rows) -> "LocalTier":
        """Apply the pending overlay + this mutation physically: compact
        live rows (order-preserving, = the distributed anti-join),
        append inserts (= the trailing unionAll), fresh stable argsort
        for both row indexes, the dictionary overlay merged into the
        base arrays (TermDict.fold — one batched np.insert + rank
        carry). Runs once per OVERLAY_FOLD pending."""
        keep = (
            self._live.copy()
            if self._live is not None
            else np.ones(self.nrows, dtype=bool)
        )
        if del_rows.size:
            keep[del_rows] = False
        s, p, o, g = self.s[keep], self.p[keep], self.o[keep], self.g[keep]
        if ins_rows:
            ins = np.array(ins_rows, dtype=np.int64).reshape(-1, 4)
            s = np.concatenate([s, ins[:, 0]])
            p = np.concatenate([p, ins[:, 1]])
            o = np.concatenate([o, ins[:, 2]])
            g = np.concatenate([g, ins[:, 3]])
        s_order = np.argsort(s, kind="stable")
        o_order = np.argsort(o, kind="stable")
        t = LocalTier(
            s, p, o, g, self.terms.fold(),
            _indexes=(s_order, s[s_order], o_order, o[o_order]),
        )
        t._sem_state = self._sem_state
        self._carry_order_caches(t, ins_rows, del_rows)
        return t

    def _carry_order_caches(self, t: "LocalTier", ins_rows: list, del_rows) -> None:
        """Carry order-key maps / global page orders into the patched
        tier when the mutation provably cannot have changed them: the
        subject SET is unchanged (global orders enumerate every
        subject) and no mutated row's property is in the rule's
        footprint (label rows for by=label, the rule's prop, or
        via-edges + target labels for object_label). Rebuilding a
        global order costs ~0.6 s at sf0.1 per rule — for the common
        KG mutation (an edge on an existing subject) that cost was
        pure waste. NOTE: runs after the caller updated the shared
        term dicts, so a rule whose property was only just minted
        resolves to the new hash and is correctly dropped."""
        import json

        if not (
            self._order_key_maps or self._global_orders or self._order_sidecars
        ):
            return
        touched_p: set = set()
        if ins_rows:
            ins = np.array(ins_rows, dtype=np.int64).reshape(-1, 4)
            touched_p.update(np.unique(ins[:, 1]).tolist())
            # a subject new to the corpus must appear in every order
            # (liveness probe on SELF: pre-mutation state, overlay-aware)
            if not bool(self._has_subjects(ins[:, 0]).all()):
                return
        if del_rows.size:
            touched_p.update(np.unique(self.p[del_rows]).tolist())
            # a subject losing its LAST row vanishes from every order
            # (liveness probe on T: post-mutation state, overlay-aware)
            cand = np.unique(self.s[del_rows])
            if not bool(t._has_subjects(cand).all()):
                return
        lab_h = self.v2h.get(RDFS_LABEL_IRI)

        def footprint(sig: str) -> set:
            d = json.loads(sig)
            by = (d.get("by") or "label").lower()
            if by == "label":
                fp = {lab_h}
            elif by == "property":
                fp = {self.v2h.get(d.get("prop"))}
            else:  # object_label: via-edges plus the targets' labels
                fp = {self.v2h.get(d.get("via")), lab_h}
            return {h for h in fp if h is not None}

        for sig, keys in self._order_key_maps.items():
            if touched_p.isdisjoint(footprint(sig)):
                t._order_key_maps[sig] = keys
        for ck, v in self._global_orders.items():
            if touched_p.isdisjoint(footprint(ck[0])):
                t._global_orders[ck] = v
        # unloaded sidecars obey the same validity argument: the
        # subject set is unchanged (probed above) and the rule's
        # footprint untouched, so the on-disk order still holds
        for ck, v in self._order_sidecars.items():
            if touched_p.isdisjoint(footprint(ck[0])):
                t._order_sidecars[ck] = v

    # ---- small helpers -------------------------------------------------

    def _hashes(self, terms) -> np.ndarray:
        """Dictionary codes for the given lexical forms; absent terms
        match nothing (the distributed path hashes them to codes that
        exist in no triple — same semantics)."""
        hs = [self.v2h[t] for t in terms if t in self.v2h]
        return np.array(hs, dtype=np.int64) if hs else _EMPTY

    def _g_mask(self, g: str):
        if not g:
            return None
        hs = self._hashes(g.split(" "))
        return self._lv(np.isin(self.g, hs))

    def _and(self, mask, gmask):
        return mask if gmask is None else (mask & gmask)

    def _walk(self, subjects: np.ndarray, hops: int) -> np.ndarray:
        """n-hop parents walk, deduplicated (plans/query._walk_up)."""
        front = subjects
        for _ in range(hops):
            mask = self._o_in(front)
            front = np.unique(self.s[mask])
        return front

    def _walk_scores(self, s0: np.ndarray, sc0: np.ndarray, hops: int):
        """Score-carrying walk; per-subject max at each level (max is
        associative, so folding early matches the distributed path's
        single final max over all walked rows)."""
        cur_s, cur_sc = s0, sc0
        for _ in range(hops):
            mask = self._o_in(cur_s)
            oo, ss = self.o[mask], self.s[mask]
            if oo.size == 0:
                return _EMPTY, np.empty(0, dtype=np.float64)
            lut = dict(zip(cur_s.tolist(), cur_sc.tolist()))
            sc = np.fromiter((lut[x] for x in oo.tolist()), dtype=np.float64, count=oo.size)
            cur_s, cur_sc = _group_max(ss, sc)
        return cur_s, cur_sc

    # ---- FTS mirror ----------------------------------------------------

    def _local_fts(self, engine, max_rows: int, no_spark: bool):
        """Build (once per FtsIndex) the driver-side postings mirror, or
        None when the index is over-cap / an old normalized store.
        ``no_spark`` (forked worker, event-loop read) serves only a
        mirror already resident for the current index and returns None
        wherever this call would build the index or the mirror."""
        st = self._fts_state
        if st is not None and st[0] is ARTIFACT_FTS and st[1] is not None:
            # mirror loaded from the persisted tier artifact (r11):
            # serve it WITHOUT building the distributed FtsIndex — the
            # cold-start fts query costs zero Spark jobs — as long as
            # the settings the index WOULD be built with match the
            # artifact's. Once a real index exists (built lazily by a
            # distributed fallback, or load_fts), adopt it as the key
            # if its settings agree; on any mismatch fall through to
            # the rebuild, which re-keys the state.
            lf = st[1]
            if lf.lits.size > max_rows:
                lf = None  # cap shrank below the artifact: lazy rebuild
            elif engine._fts is None:
                from ..operators.fts import fts_settings_from_env

                s = fts_settings_from_env()
                if (
                    lf.stem == (s.get("stemmer") == "porter")
                    and lf.strip == bool(s.get("strip_accents", 1))
                ):
                    return lf
            elif (
                not no_spark  # _fts_lock is held across a mirror build
                and engine._fts.stem == lf.stem
                and engine._fts.strip == lf.strip
            ):
                with self._fts_lock:
                    if self._fts_state is st:
                        self._fts_state = (engine._fts, lf)
                return lf
        if no_spark:
            return st[1] if st is not None and st[0] is engine._fts else None
        index = engine.fts  # builds the in-memory index if absent — the
        # distributed path would equally pay this one-time build
        st = self._fts_state
        if st is not None and st[0] is index:
            return st[1]
        with self._fts_lock:
            st = self._fts_state
            if st is not None and st[0] is index:
                return st[1]
            lf = self._build_local_fts(index, max_rows)
            self._fts_state = (index, lf)
            return lf

    @staticmethod
    def _build_local_fts(index, max_rows: int):
        if "dl" not in index.postings.columns:
            # pre-r7 persisted store without norms-in-postings: the dl
            # join shape is the distributed path's business
            return None
        if index.postings.limit(max_rows + 1).count() > max_rows:
            return None
        import pyarrow as pa
        import pyarrow.compute as pc

        tbl = (
            index.postings.select("lit", "token", "tf", "dl")
            .toArrow()
            .combine_chunks()
        )
        n = tbl.num_rows
        if n == 0:
            return _LocalFts(
                np.empty(0, dtype="S1"),
                np.empty(0, np.int64),
                np.empty(0, np.int64),
                np.empty(0, np.int64),
                np.empty(0, np.float64),
                np.empty(0, np.float64),
                index.n_docs,
                float(index.avgdl),
                index.stem,
                index.strip,
            )

        def _np(name, dtype):
            return (
                tbl.column(name)
                .chunk(0)
                .to_numpy(zero_copy_only=False)
                .astype(dtype, copy=False)
            )

        tok = tbl.column("token").chunk(0)
        # (token, original-row) two-key sort = guaranteed-stable token
        # grouping (Arrow does not document single-key stability; the
        # old numpy build was kind="stable" and per-token row order is
        # part of the pinned retrieval contract)
        si = pc.sort_indices(
            pa.table({"token": tok, "idx": pa.array(np.arange(n, dtype=np.int64))}),
            sort_keys=[("token", "ascending"), ("idx", "ascending")],
        )
        tok_s = tok.take(si)
        # Arrow string sort is bytewise over UTF-8 — the same order
        # numpy 'S' comparison (and therefore _rows' searchsorted) uses
        ne = pc.not_equal(tok_s.slice(1), tok_s.slice(0, n - 1)).to_numpy(
            zero_copy_only=False
        )
        starts = np.concatenate(([0], np.flatnonzero(ne) + 1)).astype(np.int64)
        ends = np.concatenate((starts[1:], [n])).astype(np.int64)
        order = si.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
        toks = np.array(
            [t.encode("utf-8") for t in tok_s.take(pa.array(starts)).to_pylist()],
            dtype="S",
        )
        return _LocalFts(
            toks,
            starts,
            ends,
            _np("lit", np.int64)[order],
            _np("tf", np.float64)[order],
            _np("dl", np.float64)[order],
            index.n_docs,
            float(index.avgdl),
            index.stem,
            index.strip,
        )

    def carry_fts_mirror(self, new_index):
        """Patched _LocalFts for an incrementally-updated FtsIndex
        (FtsIndex.with_new_literals): append the batch's collected
        posting rows to a COPY of the resident mirror's token map and
        re-stamp n_docs/avgdl. Per-term arrays carry one row per lit,
        so append order cannot change any BM25 sum. Returns None when
        no mirror is resident (the lazy rebuild path handles it)."""
        st = self._fts_state
        rows = getattr(new_index, "_last_increment", None)
        if st is None or st[1] is None or rows is None:
            return None
        return patch_fts_mirror(
            st[1], rows, new_index.n_docs, float(new_index.avgdl)
        )

    # ---- semantic mirror -----------------------------------------------

    def _local_semantic(self, engine, no_spark: bool = False):
        # identity-keyed (DataFrame __eq__ builds a Column, so no ==)
        st = self._sem_state
        if st is not None and st[0] is engine._ivf and st[1] is engine.embeddings:
            return st[2]
        if no_spark:
            return None  # building collects the vectors
        with self._sem_lock:
            st = self._sem_state
            if (
                st is not None
                and st[0] is engine._ivf
                and st[1] is engine.embeddings
            ):
                return st[2]
            sem = self._build_local_semantic(engine)
            self._sem_state = (engine._ivf, engine.embeddings, sem)
            return sem

    @staticmethod
    def _build_local_semantic(engine):
        ivf, emb = engine._ivf, engine.embeddings
        if ivf is None and emb is None:
            return None
        # text-query embedding dim mirrors _semantic_filter: from the
        # embeddings table when present, else the IVF store
        if emb is not None:
            first = emb.select("vec").first()
            if first is None:
                return None
            dim = len(first["vec"])
        if ivf is not None:
            vectors, cents, nprobe = ivf
            if vectors.limit(_VEC_ROWS + 1).count() > _VEC_ROWS:
                return None
            pdf = vectors.select("cell", "nid", "nv").toPandas()
            order = np.argsort(pdf["cell"].to_numpy(), kind="stable")
            cell_arr = pdf["cell"].to_numpy()[order]
            s_arr = pdf["nid"].to_numpy(dtype=np.int64)[order]
            M = np.array(pdf["nv"].tolist(), dtype=np.float64)[order]
            cells = {}
            if cell_arr.size:
                bounds = np.flatnonzero(cell_arr[1:] != cell_arr[:-1]) + 1
                starts = np.concatenate(([0], bounds))
                ends = np.concatenate((bounds, [cell_arr.size]))
                for a, b in zip(starts, ends):
                    cells[int(cell_arr[a])] = (int(a), int(b))
            crows = sorted(
                (int(r["cid"]), [float(x) for x in r["cv"]]) for r in cents.collect()
            )
            cids = [cid for cid, _ in crows]
            cent_mat = np.array([cv for _, cv in crows], dtype=np.float64)
            if emb is None:
                dim = M.shape[1] if M.size else 0
            return _LocalSemantic(
                "ivf", dim, s_arr, M, cells=cells, cids=cids,
                cent_mat=cent_mat, nprobe=nprobe,
            )
        if emb.limit(_VEC_ROWS + 1).count() > _VEC_ROWS:
            return None
        pdf = emb.select("s", "vec").toPandas()
        s_arr = pdf["s"].to_numpy(dtype=np.int64)
        M = np.array(pdf["vec"].tolist(), dtype=np.float64)
        return _LocalSemantic("brute", dim, s_arr, M)

    def _semantic_members(self, engine, q: dict, o: str, gmask, no_spark: bool):
        """Mirror of plans/query._semantic_filter → (subjects, scores)."""
        if engine._ivf is None and engine.embeddings is None:
            return _BAIL  # the distributed path raises the contract error
        sem = self._local_semantic(engine, no_spark)
        if sem is None:
            return _BAIL
        qvec = q.get("vector")
        if qvec is None:
            from ..functions.embed import fake_embedding

            fn = engine.embed_fn or fake_embedding
            qvec = fn(o, sem.dim)
        qarr = np.array([float(x) for x in qvec], dtype=np.float64)
        if sem.kind == "brute":
            # mirror the distributed path's serving-deployment telemetry
            with engine._cache_lock:
                engine._semantic_fallback_scans += 1
        ids, dist = sem.scan(qarr)
        if gmask is not None:
            gsubs = np.unique(self.s[gmask])
            keep = np.isin(ids, gsubs)
            ids, dist = ids[keep], dist[keep]
        with np.errstate(divide="ignore"):
            score = np.where(dist <= 0.0, np.inf, 1.0 / dist)
        scores: dict = {}
        for s_, v_ in zip(ids.tolist(), score.tolist()):
            prev = scores.get(s_)
            if prev is None or v_ > prev:
                scores[s_] = v_
        return np.unique(ids), scores

    # ---- one filter → (subjects, scores|None) --------------------------

    def _filter_members(self, engine, q: dict, fts_max_rows: int, no_spark: bool):
        """Mirror of plans/query.Engine.filter_subjects for one filter.
        Returns (subjects ndarray, score dict|None), None when the
        engine would skip the filter, or _BAIL for the distributed
        path."""
        p = str(q.get("p", "")).strip(" ")
        o = str(q.get("o", "")).strip(" ")
        gq = str(q.get("g", "")).strip(" ")
        hops, p_prop, p_head = parse_hops_and_prop(p)
        gmask = self._g_mask(gq)

        if p == "" and (o.startswith("<") or o.startswith("_:")):
            oh = self.v2h.get(o)
            if oh is None:
                return _EMPTY, None
            mask = self._and(self._lv(self.o == oh), gmask)
            return np.unique(self.s[mask]), None

        if p == "id":
            if o.startswith(("random", "sample")):
                parts = o.split(" ")
                n = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 1
                subj = np.unique(
                    self._col_live(self.s) if gmask is None else self.s[gmask]
                )
                keyed = []
                for h, v in zip(subj.tolist(), self._decode_codes(subj)):
                    if v is None:
                        continue
                    k = int(
                        hashlib.md5(
                            f"sample:{SAMPLE_SEED}:{v}".encode("utf8")
                        ).hexdigest()[:8],
                        16,
                    )
                    keyed.append((k, v, h))
                keyed.sort(key=lambda t: (t[0], t[1]))
                return np.array(sorted(h for _, _, h in keyed[:n]), dtype=np.int64), None
            terms = o.split(" ") if " " in o and o.startswith("<") else [o]
            hs = self._hashes(terms)
            mask = self._and(self._s_in(hs), gmask)
            return np.unique(self.s[mask]), None

        if p_head == "regex":
            return _BAIL  # Java vs Python regex dialects

        if p_head == "semantic":
            return self._semantic_members(engine, q, o, gmask, no_spark)

        if p_head == "fts":
            lf = self._local_fts(engine, fts_max_rows, no_spark)
            if lf is None:
                return _BAIL
            lits, lscores = lf.match(o)
            mask = self._o_in(lits)
            if p_prop:
                ph = self.v2h.get(p_prop)
                mask = mask & (self.p == ph) if ph is not None else np.zeros(self.nrows, bool)
            mask = self._and(mask, gmask)
            ss, oo = self.s[mask], self.o[mask]
            if ss.size == 0:
                return _EMPTY, {}
            lut = dict(zip(lits.tolist(), lscores.tolist()))
            sc = np.fromiter((lut[x] for x in oo.tolist()), dtype=np.float64, count=oo.size)
            cur_s, cur_sc = _group_max(ss, sc)
            cur_s, cur_sc = self._walk_scores(cur_s, cur_sc, hops)
            return cur_s, dict(zip(cur_s.tolist(), cur_sc.tolist()))

        if p.startswith("<"):
            ph = self.v2h.get(p_head)
            if ph is None:
                return _EMPTY, None
            if o:
                # probe the o-sorted index FIRST (the object narrows to
                # its occurrence rows in O(log n)), then compare p only
                # on those — a full-column p compare costs ~6 ms per
                # 10M quads and dominated the sf1 point battery
                terms = o.split(" ") if (o.startswith("<") and " " in o) else [o]
                rows = np.flatnonzero(
                    self._and(self._o_in(self._hashes(terms)), gmask)
                )
                rows = rows[self.p[rows] == ph]
                subs = np.unique(self.s[rows])
            else:
                mask = self._and(self._lv(self.p == ph), gmask)
                subs = np.unique(self.s[mask])
            return self._walk(subs, hops), None

        return None

    # ---- filter algebra (mirror of _subjects_uncached) -----------------

    def _members(self, engine, opts: dict, fts_max_rows: int, no_spark: bool):
        """→ (members set|None, scores dict|None) or _BAIL."""
        groups: list[list[int]] = []
        excepts: list[int] = []
        sets: dict[int, np.ndarray] = {}  # sorted unique subject arrays
        score_maps: list[dict] = []
        n_tags = 0
        for q in opts.get("filters", []):
            op = q.get("op", "should")
            r = self._filter_members(engine, q, fts_max_rows, no_spark)
            if r is _BAIL:
                return _BAIL
            if r is None:
                continue
            subj, sc = r
            tag = n_tags
            sets[tag] = subj  # np.unique output: sorted, deduplicated
            if sc is not None:
                score_maps.append(sc)
            n_tags += 1
            if not groups:
                groups.append([tag])
            elif op in ("must", "and"):
                groups[-1].append(tag)
            elif op == "not":
                excepts.append(tag)
            else:
                groups.append([tag])
        if not groups:
            return None, None
        # sorted-array set algebra (vectorized; Python sets cost ~0.5 µs
        # per element — visible at 10^5-member filter results)
        members = None
        for grp in groups:
            inter = None
            for tg in grp:
                inter = (
                    sets[tg]
                    if inter is None
                    else np.intersect1d(inter, sets[tg], assume_unique=True)
                )
            members = (
                inter if members is None else np.union1d(members, inter)
            )
        for e in excepts:
            members = np.setdiff1d(members, sets[e], assume_unique=True)
        scores = None
        if score_maps:
            scores = {}
            for m in score_maps:
                for s_, v_ in m.items():
                    prev = scores.get(s_)
                    if prev is None or v_ > prev:
                        scores[s_] = v_
        return members, scores

    # ---- facets (mirror of _facets_fused) ------------------------------

    def _facets(
        self,
        members_arr: np.ndarray | None,
        aggs: list[str],
        limit: int | None = None,
    ) -> dict:
        """``limit`` mirrors the distributed cap (query.FACET_MAX_VALUES
        by default, 0 = unbounded) so tier and distributed responses
        stay byte-identical under the differential tests. Returns
        (facets dict, [truncated facet names]) like _facets_fused —
        the cap bit must travel identically on both paths."""
        from .query import FACET_MAX_VALUES

        limit = FACET_MAX_VALUES if limit is None else (limit or None)
        # the full member row-mask (two searchsorted probes of the
        # corpus-sized s index per request) is needed only by the
        # properties/graphs facets, which scan every live row; property
        # facets filter by p first and membership-test the (much
        # smaller) matched slice against the sorted member array
        memmask = None
        if members_arr is not None and any(
            a in ("properties", "graphs") for a in aggs
        ):
            memmask = self._s_in(members_arr)

        td = self.terms

        def _counts(keys: np.ndarray):
            vals, counts = np.unique(keys, return_counts=True)
            idx, found = td.base_indices(vals)
            if td.extra_hit(vals, found):
                # overlay terms among the buckets: decode-all fallback
                dv, found2 = td.values_of(vals)
                out = [
                    (int(c), v)
                    for c, v, f in zip(counts.tolist(), dv.tolist(), found2)
                    if f
                ]
                out.sort(key=lambda cv: (-cv[0], cv[1]))
                if limit and len(out) > limit:
                    return out[:limit], True
                return out, False
            # (count desc, value asc) == (count desc, rank asc): sort
            # int64 keys, decode only the capped page
            idx_b, counts_b = idx[found], counts[found]
            order = np.lexsort((td.ranks()[idx_b], -counts_b))
            trunc = bool(limit and order.size > limit)
            if trunc:
                order = order[:limit]
            dv = td.decode(idx_b[order])
            return (
                list(zip(counts_b[order].tolist(), dv.tolist())),
                trunc,
            )

        result, truncated = {}, []
        for agg in aggs:
            if agg == "properties":
                keys = self._col_live(self.p) if memmask is None else self.p[memmask]
            elif agg == "graphs":
                keys = self._col_live(self.g) if memmask is None else self.g[memmask]
            else:
                ph = self.v2h.get(str(agg))
                if ph is None:
                    result[agg] = []
                    continue
                mask = self._lv(self.p == ph)
                if members_arr is not None:
                    # membership-test the p-matched slice against the
                    # SORTED member array (try_query passes np.unique
                    # output) instead of masking the whole corpus
                    rows = np.flatnonzero(mask)
                    rs = self.s[rows]
                    if members_arr.size:
                        pos = np.searchsorted(members_arr, rs)
                        pos_c = np.minimum(pos, members_arr.size - 1)
                        hit = (pos < members_arr.size) & (
                            members_arr[pos_c] == rs
                        )
                    else:
                        hit = np.zeros(rs.size, dtype=bool)
                    keys = self.o[rows[hit]]
                else:
                    keys = self.o[mask]
            result[agg], trunc = _counts(keys)
            if trunc:
                truncated.append(str(agg))
        return result, truncated

    # ---- ordered paging (mirror of _order_key_frame + page) ------------

    @staticmethod
    def _order_supported(rule: dict) -> bool:
        by = (rule.get("by") or "label").lower()
        if by == "label":
            return True
        if by == "property":
            return bool(rule.get("prop"))
        if by == "object_label":
            return bool(rule.get("via"))
        return False  # unknown 'by' → distributed path raises ValueError

    def _label_pairs(self, members_arr: np.ndarray | None, rule: dict):
        """(subject, label-literal-hash) pairs for the rule's source
        property — mirror of _order_key_frame's lab frame (label rows
        join the LITERALS dictionary, so IRI-valued 'labels' drop).
        ``members_arr=None`` covers every subject (the full-corpus
        shape the order-key map caches, like _order_keys_cached)."""
        by = (rule.get("by") or "label").lower()
        memmask = self._s_in(members_arr) if members_arr is not None else None
        if by in ("label", "property"):
            prop = RDFS_LABEL_IRI if by == "label" else rule.get("prop")
            ph = self.v2h.get(prop)
            if ph is None:
                return []
            mask = self._lv(self.p == ph)
            if memmask is not None:
                mask &= memmask
            return list(zip(self.s[mask].tolist(), self.o[mask].tolist()))
        # object_label: members --via--> obj --rdfs:label--> literal
        via_h = self.v2h.get(rule.get("via"))
        lab_h = self.v2h.get(RDFS_LABEL_IRI)
        if via_h is None or lab_h is None:
            return []
        vmask = self._lv(self.p == via_h)
        if memmask is not None:
            vmask &= memmask
        s_via, objs = self.s[vmask], self.o[vmask]
        lmask = (self.p == lab_h) & self._s_in(objs)
        obj2labels: dict = {}
        for os_, oo_ in zip(self.s[lmask].tolist(), self.o[lmask].tolist()):
            obj2labels.setdefault(os_, []).append(oo_)
        pairs = []
        for sv, ob in zip(s_via.tolist(), objs.tolist()):
            for lh in obj2labels.get(ob, ()):
                pairs.append((sv, lh))
        return pairs

    def _order_keys_cached(self, rule: dict) -> dict:
        """Full-corpus subject → (sort_label, num_prefix) map for the
        rule, built once per rule signature — the tier twin of the
        engine's persisted ``_order_keys_cached`` sort index (dir/nulls
        are page-sort-time concerns and share one map)."""
        import json

        sig_src = {
            k: rule.get(k)
            for k in ("by", "prop", "via", "lang", "mode", "clean", "natural")
            if rule.get(k) is not None
        }
        try:
            sig = json.dumps(sig_src, sort_keys=True)
        except (TypeError, ValueError):
            return self._order_keys(None, rule)  # uncacheable payload
        keys = self._order_key_maps.get(sig)
        if keys is not None:
            return keys
        with self._order_lock:
            keys = self._order_key_maps.get(sig)
            if keys is None:
                keys = self._order_keys(None, rule)
                while len(self._order_key_maps) >= 8:
                    self._order_key_maps.pop(next(iter(self._order_key_maps)))
                self._order_key_maps[sig] = keys
            return keys

    def _order_keys(self, members_arr: np.ndarray | None, rule: dict) -> dict:
        """subject → (sort_label, num_prefix|None), best label per the
        language-rank rule (mirror of _order_key_frame)."""
        langs = rule.get("lang") or ["de", "en"]
        mode = (rule.get("mode") or "lex").lower()
        clean = rule.get("clean") or {"trim": True, "lower": mode == "lex"}
        natural = bool(rule.get("natural", False))
        c = clean or {}

        # resolve the (distinct) label hashes in one vectorized pass —
        # per-pair scalar gets cost seconds at sf1's millions of labels
        pairs = self._label_pairs(members_arr, rule)
        lut: dict = {}
        if pairs:
            uniq = np.unique(
                np.fromiter((lh for _, lh in pairs), dtype=np.int64, count=len(pairs))
            )
            lits = uniq[self.terms.literal_flags(uniq)]
            vals, vf = self.terms.values_of(lits)
            lut = {
                int(h): v for h, v, f in zip(lits.tolist(), vals.tolist(), vf) if f
            }
        best: dict[int, tuple] = {}
        for s_, lh in pairs:
            lbl = lut.get(lh)
            if lbl is None:
                continue
            rank = len(langs) + 2
            for i, lg in enumerate(langs):
                if lbl.endswith(f'"@{lg}'):
                    rank = i + 1
                    break
            else:
                if not _LANG_TAG_RE.search(lbl):
                    rank = len(langs) + 1
            m = _RAW_TEXT_RE.search(lbl)
            expr = m.group(1) if m else ""
            if c.get("remove_quotes", False):
                expr = re.sub('^"|"$', "", expr)
            if c.get("collapse_space", False):
                expr = re.sub(_JAVA_WS, " ", expr)
            if c.get("strip_punct", False):
                expr = re.sub("^[^0-9A-Za-z]+", "", expr)
            if c.get("trim", True):
                # Spark's trim removes ASCII 0x20 only
                expr = expr.strip(" ")
            if mode == "lex" and c.get("lower", True):
                expr = expr.lower()
            key = (rank, expr)
            prev = best.get(s_)
            if prev is None or key < prev:
                best[s_] = key
        out = {}
        for s_, (_, lbl) in best.items():
            npfx = None
            if natural:
                m = _NUM_PREFIX_RE.match(lbl)
                if m:
                    v = int(m.group(1))
                    npfx = v if v <= _LONG_MAX else None  # try_cast overflow
            out[s_] = (lbl, npfx)
        return out

    def _global_order(self, rule: dict):
        """EVERY dictionary-resolvable subject in final page order for
        (rule, dir, nulls) → (subjects int64 array, values object
        array). Built once and cached; an ordered page then reduces to
        a member-mask scan + slice. The sort mirrors page()'s
        order_cols: null_key, [num-prefix keys], sort_label with
        direction, s_value tiebreak."""
        import json

        direction = (rule.get("dir") or "asc").lower()
        nulls = (rule.get("nulls") or "last").lower()
        natural = bool(rule.get("natural", False))
        sig_src = {
            k: rule.get(k)
            for k in ("by", "prop", "via", "lang", "mode", "clean", "natural")
            if rule.get(k) is not None
        }
        try:
            cache_key = (json.dumps(sig_src, sort_keys=True), direction, nulls)
        except (TypeError, ValueError):
            cache_key = None
        if cache_key is not None:
            hit = self._global_orders.get(cache_key)
            if hit is not None:
                with self._order_lock:
                    # true-LRU touch: persist_tier keeps the last 4
                    # entries, which must be most recently USED, not
                    # most recently built
                    if self._global_orders.get(cache_key) is hit:
                        self._global_orders.pop(cache_key, None)
                        self._global_orders[cache_key] = hit
                return hit
            sc = self._order_sidecars.get(cache_key)
            if sc is not None:
                out = _load_order_sidecar(sc[0], sc[1], cache_key)
                with self._order_lock:
                    self._order_sidecars.pop(cache_key, None)
                if out is not None:
                    with self._order_lock:
                        while len(self._global_orders) >= 8:
                            self._global_orders.pop(
                                next(iter(self._global_orders))
                            )
                        self._global_orders[cache_key] = out
                    return out
        out = None
        try:
            out = self._global_order_vec(rule, direction, nulls, natural)
        except Exception:
            out = None  # any kernel/shape surprise: the Python twin is
            # the semantics oracle and always available
        if out is not None:
            self._vec_order_builds = getattr(self, "_vec_order_builds", 0) + 1
            if cache_key is not None:
                with self._order_lock:
                    while len(self._global_orders) >= 8:
                        self._global_orders.pop(next(iter(self._global_orders)))
                    self._global_orders[cache_key] = out
            return out

        keys = self._order_keys_cached(rule)
        desc = direction == "desc"

        if self._live is None and self._sorted_n == self.nrows:
            subs = np.unique(self._s_sorted)
        else:  # overlay active: dead rows out, unsorted tail in
            subs = np.unique(self._col_live(self.s))
        vals, found = self.terms.values_of(subs)
        subs, svals = subs[found], vals[found]
        rows = []
        for s_, v_ in zip(subs.tolist(), svals.tolist()):
            k = keys.get(s_)
            if k is None:
                nk = -1 if nulls == "first" else 1
                rows.append((nk, True, 0, None, v_, s_))
            else:
                lbl, npfx = k
                rows.append((0, npfx is None, npfx or 0, lbl, v_, s_))

        if not desc:
            # ascending: one tuple-key sort (labels within the
            # null-key=1 group are all None → "" ties → s_value break,
            # identical to the comparator's behavior)
            if natural:
                rows.sort(key=lambda r: (r[0], r[1], r[2], r[3] or "", r[4]))
            else:
                rows.sort(key=lambda r: (r[0], r[3] or "", r[4]))
        else:

            def cmp(a, b):
                if a[0] != b[0]:
                    return -1 if a[0] < b[0] else 1
                if natural:
                    if a[1] != b[1]:
                        return -1 if a[1] < b[1] else 1
                    if not a[1] and a[2] != b[2]:
                        return -1 if a[2] > b[2] else 1
                la, lb = a[3], b[3]
                if la is not None and lb is not None and la != lb:
                    return -1 if la > lb else 1
                if a[4] != b[4]:
                    return -1 if a[4] < b[4] else 1
                return 0

            rows.sort(key=cmp_to_key(cmp))
        g_subj = np.array([r[5] for r in rows], dtype=np.int64)
        g_vals = np.array([r[4] for r in rows], dtype=object)
        # subject → page-rank permutation: a page request then searches
        # only its MEMBERS (small) instead of scanning the corpus-sized
        # order (np.searchsorted over the 10^6-entry order was the
        # dominant per-request cost at sf1)
        perm = np.argsort(g_subj, kind="stable")
        out = (g_subj, g_vals, g_subj[perm], perm)
        if cache_key is not None:
            with self._order_lock:
                while len(self._global_orders) >= 8:
                    self._global_orders.pop(next(iter(self._global_orders)))
                self._global_orders[cache_key] = out
        return out

    def _global_order_vec(self, rule: dict, direction: str, nulls: str, natural: bool):
        """Vectorized twin of the ``_order_keys`` + ``_global_order``
        Python path for base-only tiers and label/property rules.

        The cold first ordered page at sf1 paid ~21 s: a ~2M-iteration
        per-label Python loop (regex extract, language ranking, clean
        flags) plus a 2M-tuple comparator sort. Here the same
        semantics run as Arrow/RE2 string kernels over the
        dictionary's Arrow twin (zero Python strings) and the final
        order is one int64 ``np.lexsort`` — language rank, DENSE
        cleaned-label rank (equal exprs share a rank, so ties fall to
        the s_value tiebreak exactly like the tuple sort), numeric
        prefix (>18-digit prefixes handled per-element like the
        Python ``int``/overflow path), null-key group, s_value via
        ``TermDict.ranks`` (UTF-8 byte order == code-point order ==
        the Python ``<``). Returns the exact ``_global_order`` tuple,
        or None to fall back: object_label rules, dictionary overlay
        (rank collisions possible), tier row overlay, or a post-fold
        dictionary with no Arrow twin (decode fallback covers it).

        Semantics are pinned two ways: the tier-vs-distributed fuzz
        (test_order_rule_fuzz_hostile_labels) now exercises THIS path,
        and test_global_order_vec_matches_python differentials it
        against the Python twin over the hostile corpus."""
        import pyarrow as pa
        import pyarrow.compute as pc

        td = self.terms
        if td.extra:
            return None
        by = (rule.get("by") or "label").lower()
        if by not in ("label", "property"):
            return None
        if not (self._live is None and self._sorted_n == self.nrows):
            return None  # row overlay: python path handles liveness
        langs = rule.get("lang") or ["de", "en"]
        mode = (rule.get("mode") or "lex").lower()
        c = rule.get("clean") or {"trim": True, "lower": mode == "lex"}
        desc = direction == "desc"

        cached = getattr(self, "_vec_subs_cache", None)
        if cached is not None:
            subs, s_rank, svals = cached
        else:
            # rule-independent per-tier work: the subject universe, its
            # value ranks, and the decoded values (the per-rule decode
            # was the largest non-label cost at sf1's 2M subjects)
            subs = np.unique(self._s_sorted)
            sidx, sfound = td.base_indices(subs)
            subs, sidx = subs[sfound], sidx[sfound]
            s_rank = td.ranks()[sidx]
            svals = td.decode(sidx)
            self._vec_subs_cache = (subs, s_rank, svals)

        prop = RDFS_LABEL_IRI if by == "label" else rule.get("prop")
        ph = self.v2h.get(prop)
        if ph is None:
            s_pair = lh_pair = np.empty(0, dtype=np.int64)
        else:
            mask = self.p == ph
            s_pair, lh_pair = self.s[mask], self.o[mask]

        if lh_pair.size:
            uniq_lh, inv = np.unique(lh_pair, return_inverse=True)
        else:
            uniq_lh = inv = np.empty(0, dtype=np.int64)
        lidx, lfound = td.base_indices(uniq_lh)
        lflags = np.zeros(uniq_lh.size, dtype=bool)
        if lfound.any():
            lflags[lfound] = td.lit[lidx[lfound]]

        n_l = int(uniq_lh.size)
        if n_l:
            if td._arrow is not None:
                safe = np.where(lfound, lidx, 0)
                lab_arr = td._arrow.take(pa.array(td._ord[safe]))
            else:
                vals = np.empty(n_l, dtype=object)
                vals[:] = ""
                if lfound.any():
                    vals[lfound] = td.decode(lidx[lfound])
                lab_arr = pa.array(vals.tolist(), type=pa.large_string())
            if lab_arr.null_count:
                return None  # dictionary contract violation
        else:
            lab_arr = pa.array([], type=pa.large_string())

        def _b(arr):
            return arr.to_numpy(zero_copy_only=False).astype(bool, copy=False)

        # language preference rank: first matching lang wins (apply in
        # reverse so earlier langs overwrite), else no-tag, else other
        rank_u = np.full(n_l, len(langs) + 2, dtype=np.int64)
        if n_l:
            rank_u[_b(pc.invert(pc.match_substring_regex(lab_arr, '"@[A-Za-z-]+$')))] = (
                len(langs) + 1
            )
            for i in range(len(langs) - 1, -1, -1):
                rank_u[_b(pc.ends_with(lab_arr, pattern=f'"@{langs[i]}'))] = i + 1

        # cleaned sort expression (same op order as the Python twin)
        expr_u = pc.fill_null(
            pc.struct_field(pc.extract_regex(lab_arr, '^"(?P<e>.+)"'), "e"), ""
        )
        if c.get("remove_quotes", False):
            expr_u = pc.replace_substring_regex(expr_u, '^"|"$', "")
        if c.get("collapse_space", False):
            expr_u = pc.replace_substring_regex(expr_u, _JAVA_WS, " ")
        if c.get("strip_punct", False):
            expr_u = pc.replace_substring_regex(expr_u, "^[^0-9A-Za-z]+", "")
        if c.get("trim", True):
            expr_u = pc.utf8_trim(expr_u, characters=" ")
        if mode == "lex" and c.get("lower", True):
            # pc.utf8_lower diverges from Python/JVM lower() on a few
            # Unicode cases (final sigma: 'ΑΣ'→'ασ' vs 'ας'; dotted
            # capital I: 'İ'→'istanbul' vs 'i̇stanbul').  The distributed
            # twin uses Spark's lower(), which matches str.lower(), so
            # lower the non-ASCII subset via Python to stay bit-equal.
            if n_l:
                ascii_mask = _b(pc.string_is_ascii(expr_u))
                lowered = pc.ascii_lower(expr_u)
                if ascii_mask.all():
                    expr_u = lowered
                else:
                    # only the non-ASCII subset crosses into Python —
                    # the ASCII majority stays zero-copy in Arrow
                    # (a corpus-wide to_pylist here gave back most of
                    # the vectorized build's win on real data)
                    nonascii = ~ascii_mask
                    sub = expr_u.take(pa.array(np.flatnonzero(nonascii)))
                    sub_low = pa.array(
                        [v.lower() for v in sub.to_pylist()],
                        type=pa.large_string(),
                    )
                    expr_u = pc.replace_with_mask(
                        lowered, pa.array(nonascii), sub_low
                    )

        # dense expr rank: equality-preserving, order-preserving
        expr_rank_u = np.empty(0, dtype=np.int64)
        if n_l:
            esi = pc.sort_indices(expr_u)
            esorted = expr_u.take(esi)
            ne = (
                _b(pc.not_equal(esorted.slice(1), esorted.slice(0, n_l - 1)))
                if n_l > 1
                else np.empty(0, dtype=bool)
            )
            er_sorted = np.zeros(n_l, dtype=np.int64)
            np.cumsum(ne, out=er_sorted[1:])
            expr_rank_u = np.empty(n_l, dtype=np.int64)
            expr_rank_u[esi.to_numpy(zero_copy_only=False).astype(np.int64)] = er_sorted

        num_u = np.zeros(n_l, dtype=np.int64)
        num_null_u = np.ones(n_l, dtype=bool)
        if natural and n_l:
            nx = pc.struct_field(pc.extract_regex(expr_u, "^(?P<n>[0-9]+)"), "n")
            valid = _b(nx.is_valid())
            ln = pc.fill_null(pc.utf8_length(nx), 0).to_numpy(
                zero_copy_only=False
            ).astype(np.int64, copy=False)
            shortm = valid & (ln <= 18)
            if shortm.any():
                safe_nx = pc.if_else(pa.array(shortm), nx, "0")
                casted = pc.cast(safe_nx, pa.int64()).to_numpy(zero_copy_only=False)
                num_u[shortm] = casted[shortm]
                num_null_u[shortm] = False
            longm = valid & (ln > 18)
            if longm.any():
                nx_np = nx.to_numpy(zero_copy_only=False)
                for j in np.flatnonzero(longm).tolist():
                    v = int(nx_np[j])
                    if v <= _LONG_MAX:  # try_cast overflow → null
                        num_u[j] = v
                        num_null_u[j] = False

        # best label per subject: min (lang_rank, expr) — expr via its
        # order-preserving dense rank
        keep = lflags[inv] if inv.size else np.empty(0, dtype=bool)
        sp_, pi = s_pair[keep], inv[keep]
        if sp_.size:
            order = np.lexsort((expr_rank_u[pi], rank_u[pi], sp_))
            ss = sp_[order]
            first = np.concatenate(([True], ss[1:] != ss[:-1]))
            best_s = ss[first]
            best_ui = pi[order][first]
        else:
            best_s = np.empty(0, dtype=np.int64)
            best_ui = np.empty(0, dtype=np.int64)

        # assemble the final key set over the subject universe
        if best_s.size:
            pos = np.searchsorted(best_s, subs)
            posc = np.minimum(pos, best_s.size - 1)
            has = best_s[posc] == subs
            bui = best_ui[posc]
        else:
            has = np.zeros(subs.size, dtype=bool)
            bui = np.zeros(subs.size, dtype=np.int64)
        nk = np.where(has, 0, -1 if nulls == "first" else 1).astype(np.int64)
        lblk = np.where(has, expr_rank_u[bui] if n_l else 0, 0).astype(np.int64)
        if desc:
            lblk = -lblk
        if natural:
            numnk = np.where(has, num_null_u[bui] if n_l else True, True).astype(
                np.int64
            )
            numk = np.where(has & (numnk == 0), num_u[bui] if n_l else 0, 0).astype(
                np.int64
            )
            if desc:
                numk = -numk
            order_f = np.lexsort((s_rank, lblk, numk, numnk, nk))
        else:
            order_f = np.lexsort((s_rank, lblk, nk))
        g_subj = subs[order_f]
        g_vals = svals[order_f]
        perm = np.argsort(g_subj, kind="stable")
        return (g_subj, g_vals, g_subj[perm], perm)

    def _ordered_page(self, marr: np.ndarray, rule: dict, size: int, start: int):
        """marr: SORTED member hashes → ordered page [(s, s_value)]:
        rank the members via the cached subject→rank permutation,
        argsort the (member-sized) ranks, slice."""
        g_subj, g_vals, subj_sorted, ranks = self._global_order(rule)
        if g_subj.size == 0 or marr.size == 0:
            return []
        pos = np.searchsorted(subj_sorted, marr)
        pos_c = np.minimum(pos, subj_sorted.size - 1)
        found = subj_sorted[pos_c] == marr
        mranks = ranks[pos_c[found]]
        sel = mranks[np.argsort(mranks)[start : start + size]]
        return list(zip(g_subj[sel].tolist(), g_vals[sel].tolist()))

    # ---- the query() mirror -------------------------------------------

    def _hydrate(self, page_vals: list, opts: dict) -> dict:
        """The page's ``results`` ({subject: {"id", "graph", p: [o]}})
        from its (hash, value) pairs: the page subjects' live rows come
        from the sorted s-index (O(page rows)), one stable argsort puts
        them in page order then physical row order, and every distinct
        p/o/g hash decodes in one batched dictionary lookup. The page is
        a slice of the distinct member set, so each subject hash has
        exactly one page position."""
        page = np.array([h for h, _ in page_vals], dtype=np.int64)
        rows = self._s_rows(page)
        only_p = opts.get("only_properties") or []
        excl_p = opts.get("exclude_properties") or []
        if only_p:
            rows = rows[np.isin(self.p[rows], self._hashes(list(only_p)))]
        elif excl_p:
            hs = self._hashes(list(excl_p))
            if hs.size:
                rows = rows[~np.isin(self.p[rows], hs)]
        uniq, first = np.unique(page, return_index=True)
        pos = first[np.searchsorted(uniq, self.s[rows])]
        order = np.argsort(pos, kind="stable")
        rows, pos = rows[order], pos[order]
        n = rows.size
        vals = self._decode_codes(
            np.concatenate([self.p[rows], self.o[rows], self.g[rows]])
        )
        page_sv = [v for _, v in page_vals]
        results: dict = {}
        for i, p_val, o_val, g_val in zip(
            pos.tolist(), vals[:n], vals[n : 2 * n], vals[2 * n :]
        ):
            if p_val is None or o_val is None:
                continue
            sv = page_sv[i]
            ent = results.get(sv)
            if ent is None:
                ent = results[sv] = {"id": sv, "graph": []}
            objs = ent.setdefault(p_val, [])
            if o_val not in objs:
                objs.append(o_val)
            if g_val and g_val not in ent["graph"]:
                ent["graph"].append(g_val)
        return results

    def try_query(
        self, engine, opts: dict, fts_max_rows: int, no_spark: bool = False
    ) -> dict | None:
        """Serve the full reference query() response driver-side, or
        return None when any part needs the distributed path (mirror of
        plans/query.Engine._query_impl).

        ``no_spark`` also returns None wherever serving would schedule
        Spark work: building the fts or semantic mirror, probing a
        hierarchy map, or walking paths distributed. A forked worker
        (serving_pool) must never touch the py4j gateway it inherited,
        and an event-loop read (Serving.query_async) must not block on
        a Spark job; both hand such a request to a caller that may."""
        size, start = _parse_size_start(opts)
        order_rules = _normalize_order_rules(opts.get("order"))
        if order_rules and not self._order_supported(order_rules[0]):
            return None
        r = self._members(engine, opts, fts_max_rows, no_spark)
        if r is _BAIL:
            return None
        members, scores = r

        if members is not None:
            # mirror of the fast page's terms join: subjects missing
            # from the dictionary drop from values AND from total (the
            # dictionary-completeness invariant makes this moot for any
            # graph the engine itself built). Member VALUES are NOT
            # decoded here — the page sorts int64 value-order ranks
            # (TermDict.ranks) and decodes only the page slice; the
            # decode-everything path survives only for members minted
            # by not-yet-folded mutations (no rank coverage).
            td = self.terms
            bidx, bfound = td.base_indices(members)
            if td.extra_hit(members, bfound):
                vals, found = td.values_of(members)
                marr, mvals, midx = members[found], vals[found], None
            else:
                marr, mvals, midx = members[bfound], None, bidx[bfound]
            total = int(marr.size)
        else:
            marr = mvals = midx = None
            total = 0

        aggregates, aggs_truncated = {}, []
        fused_aggs = [
            agg
            for agg in opts.get("aggregates", [])
            if members is not None or agg in ("properties", "graphs")
        ]
        if fused_aggs:
            aggregates, aggs_truncated = self._facets(
                marr, fused_aggs, limit=opts.get("aggregates_limit")
            )

        results: dict = {}
        if members is not None and size > 0:
            if order_rules:
                page_vals = self._ordered_page(marr, order_rules[0], size, start)
            elif scores is not None:
                # (score desc nulls-last, value asc) — the value
                # tiebreak sorts RANKS (same total order), so only the
                # page decodes
                marr_l = marr.tolist()
                keys = (
                    self.terms.ranks()[midx].tolist()
                    if midx is not None
                    else mvals.tolist()
                )
                order = sorted(
                    range(total),
                    key=lambda i: (
                        scores.get(marr_l[i]) is None,
                        -(scores.get(marr_l[i]) or 0.0),
                        keys[i],
                    ),
                )[start : start + size]
                sel = np.array(order, dtype=np.int64)
                pv = (
                    self.terms.decode(midx[sel])
                    if midx is not None
                    else mvals[sel]
                )
                page_vals = list(zip([marr_l[i] for i in order], pv.tolist()))
            else:
                if midx is not None:
                    order = np.argsort(self.terms.ranks()[midx], kind="stable")[
                        start : start + size
                    ]
                    page_vals = list(
                        zip(
                            marr[order].tolist(),
                            self.terms.decode(midx[order]).tolist(),
                        )
                    )
                else:
                    order = np.argsort(mvals, kind="stable")[start : start + size]
                    page_vals = list(
                        zip(marr[order].tolist(), mvals[order].tolist())
                    )

            page_hashes = [s_ for s_, _ in page_vals]
            hash_to_val = dict(page_vals)
            if page_hashes:
                results = self._hydrate(page_vals, opts)
                # paths chains: reuse the engine's driver-local walk
                # (zero jobs once the hierarchy map is built); larger
                # hierarchies fall back to the distributed walk exactly
                # like _query_impl
                for pad in opts.get("paths", []):
                    if no_spark:
                        # only a map already built for this generation:
                        # a build reads the engine's tier state, which a
                        # forked worker holds as of the fork, or probes
                        # Spark; an over-cap (None) map means the
                        # distributed walk
                        with engine._cache_lock:
                            lmap = engine._paths_edge_maps.get(
                                (engine._graph_generation, str(pad)), _BAIL
                            )
                        if lmap is _BAIL or lmap is None:
                            return None
                    else:
                        lmap = engine._paths_edges_map(str(pad))
                    lrows = (
                        engine._paths_local_rows(lmap, page_hashes)
                        if lmap is not None
                        else None
                    )
                    if lrows is None and no_spark:
                        return None  # DAG blowup → distributed walk
                    if lrows is not None:
                        pcol = [
                            {"src": s_, "pos": p_, "ancestor": a_}
                            for s_, p_, a_ in lrows
                        ]
                    else:
                        from pyspark.sql import functions as F  # noqa: F401

                        subj_df = engine.graph.spark.createDataFrame(
                            [(h,) for h in page_hashes], "s long"
                        )
                        pcol = engine.paths(subj_df, str(pad)).collect()
                    anc = [r_["ancestor"] for r_ in pcol]
                    av = dict(
                        zip(anc, self._decode_codes(np.array(anc, dtype=np.int64)))
                    )
                    chains: dict = {}
                    for r_ in pcol:
                        a_val = av.get(r_["ancestor"])
                        if a_val is not None:
                            chains.setdefault(r_["src"], []).append(
                                (r_["pos"], a_val)
                            )
                    for h_, chain in chains.items():
                        sv = hash_to_val.get(h_)
                        if sv is None:
                            continue
                        ordered = [v for _, v in sorted(chain)]
                        results.setdefault(sv, {"id": sv, "graph": []}).setdefault(
                            "_paths", {}
                        )[pad] = ordered

        self.queries_served += 1
        back = {"results": results, "total": total, "size": size, "start": start}
        if aggregates:
            back["aggregates"] = aggregates
            if aggs_truncated:
                back["aggregates_truncated"] = aggs_truncated
        return back


def patch_fts_mirror(old: "_LocalFts", rows, n_docs: int, avgdl: float) -> "_LocalFts":
    """Patched _LocalFts: append the increment's posting rows
    ({token, lit, tf, dl} dicts) to a COPY of the OVERLAY dict (r11:
    O(delta) — the r9 form copied the whole token map, O(vocab) per
    mutation) and re-stamp n_docs/avgdl; past ``OVERLAY_FOLD`` pending
    rows the overlay folds into fresh base arrays. Retrieval order per
    token is base-then-arrival, so BM25 sums are unchanged. Shared by
    LocalTier.carry_fts_mirror (parent process) and the forked serving
    workers, which receive the same rows over the mutation pipe and
    therefore fold at the same mutation (serving_pool)."""
    extra = dict(old.extra)
    by_tok: dict = {}
    for r in rows:
        by_tok.setdefault(r["token"], []).append(
            (int(r["lit"]), float(r["tf"]), float(r["dl"]))
        )
    pending = old.pending
    for t, lst in by_tok.items():
        lits = np.array([x[0] for x in lst], dtype=np.int64)
        tfs = np.array([x[1] for x in lst], dtype=np.float64)
        dls = np.array([x[2] for x in lst], dtype=np.float64)
        prev = extra.get(t)
        if prev is not None:
            extra[t] = (
                np.concatenate([prev[0], lits]),
                np.concatenate([prev[1], tfs]),
                np.concatenate([prev[2], dls]),
            )
        else:
            extra[t] = (lits, tfs, dls)
        pending += len(lst)
    lf = _LocalFts(
        old.toks,
        old.starts,
        old.ends,
        old.lits,
        old.tfs,
        old.dls,
        n_docs,
        avgdl,
        old.stem,
        old.strip,
        extra=extra,
        pending=pending,
    )
    return lf.fold() if pending > _LocalFts.OVERLAY_FOLD else lf


# what the byte-budget gate charges per quad: four int64 columns plus
# the four sorted-index arrays (LocalTier.approx_bytes uses the same
# constant, so the build-time estimate and the mutation-time demotion
# check agree)
QUAD_TIER_BYTES = 64


def build_local_tier(engine, max_rows: int, max_bytes: int = 0) -> LocalTier | None:
    """Collect the graph into a LocalTier, or None when over-cap.

    Two bounded probes, both cheap on an arbitrarily large store:

    1. ``triples.limit(cap+1).count()`` — a petabyte store pays one
       partial scan to discover it is over the ROW cap and never
       collects anything.
    2. With ``max_bytes`` set, one aggregation over the terms table
       (count + octet_length sum) prices the dictionary BEFORE any
       collect — the r9 cap was row-counted while the real driver
       memory wall was the term dictionary, so the cap is now an
       actual byte budget (quads at QUAD_TIER_BYTES each + terms at
       TermDict.PER_TERM_BYTES + the UTF-8 blob). The terms scan only
       runs once the row probe passed, so it is bounded by ≤ 4×cap
       distinct terms.
    """
    t = engine.graph.triples
    meta = getattr(engine.graph, "store_meta", None) or {}
    if "n_triples" in meta:
        # store manifest (write_graph): the sizing verdict costs zero
        # Spark jobs — at 100x scale an engine that will never fit the
        # tier should not pay even the bounded limit-count per process
        n = int(meta["n_triples"])
    else:
        n = t.limit(max_rows + 1).count()
    if n > max_rows:
        return None
    if max_bytes:
        from pyspark.sql import functions as F

        if "n_terms" in meta and "blob_bytes" in meta:
            n_terms, blob_bytes = int(meta["n_terms"]), int(meta["blob_bytes"])
        else:
            row = engine.graph.terms.agg(
                F.count("*").alias("n"),
                F.sum(F.octet_length("value")).alias("b"),
            ).first()
            n_terms, blob_bytes = int(row["n"]), int(row["b"] or 0)
        est = (
            n * QUAD_TIER_BYTES
            + n_terms * TermDict.PER_TERM_BYTES
            + blob_bytes
        )
        if est > max_bytes:
            return None
    pdf = t.select("s", "p", "o", "g").toPandas()
    td = TermDict.from_arrow(
        engine.graph.terms.select("hash", "value", "is_literal").toArrow()
    )
    return LocalTier(
        pdf["s"].to_numpy(dtype=np.int64),
        pdf["p"].to_numpy(dtype=np.int64),
        pdf["o"].to_numpy(dtype=np.int64),
        pdf["g"].to_numpy(dtype=np.int64),
        td,
    )


# ---- tier cold-start persistence (r11) -------------------------------------
#
# First point query on a freshly-constructed Engine pays the one-time
# tier collect (~8 s at sf1: a full toPandas of the quads + an Arrow
# collect of the dictionary), and a `serve` restart pays it again. The
# tier is pure derived state of the store, so persist it NEXT TO the
# store as Arrow IPC and memory-map it back on Engine construction:
# load is then file-open + pointer casts (zero-copy for every int64
# column and the dictionary blob), not a Spark job. Coherence is
# writer-owned: write_graph deletes `{store}/_tier` before rewriting
# the parquet (graph.py), mutation-derived graphs never carry a
# `tier_dir`, and the artifact records the sizing numbers so the byte
# budget still gates admission — over-budget engines skip the load the
# same way they skip the collect.

TIER_FORMAT = 1


def _terms_large_string(td: TermDict):
    """The dictionary's values as ONE Arrow large_string array in th
    (hash-sorted) order. Fast paths: the retained Arrow collect is
    re-ordered with a C++ take; a post-fold dict (blob-only) gathers
    bytes with one vectorized fancy-index, no per-term Python strings."""
    import pyarrow as pa

    n = int(td.th.size)
    if n == 0:
        return pa.array([], pa.large_string())
    if td._arrow is not None and td._ord is not None:
        return td._arrow.take(pa.array(td._ord, pa.int64()))
    start, end = td.start, td.end
    lens = end - start
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    total = int(off[-1])
    blob_np = np.frombuffer(td.blob, dtype=np.uint8)
    idx = np.repeat(start, lens) + np.arange(total, dtype=np.int64) - np.repeat(
        off[:-1], lens
    )
    data = blob_np[idx]
    return pa.Array.from_buffers(
        pa.large_string(),
        n,
        [None, pa.py_buffer(off.tobytes()), pa.py_buffer(data.tobytes())],
    )


def persist_tier(tier: LocalTier, dir_path: str) -> dict:
    """Write a LocalTier as mmap-able Arrow IPC under ``dir_path``.

    Layout: ``quads.arrow`` (s,p,o,g + the four sorted-index columns,
    all int64), ``terms.arrow`` (hash int64 in dictionary order, value
    large_string, is_literal int8, rank int64 — ranks are computed here
    so a cold engine's first ORDERED page is also job-free), and
    ``meta.json`` (format version + the sizing numbers the byte-budget
    gate prices admission with). Files land via tmp+rename with
    meta.json last, so a reader never sees a partial artifact.

    A tier carrying overlay state (pending mutations) is folded first —
    the artifact is always a compact base with no overlay."""
    import json
    import os
    import pyarrow as pa

    orig_tier = tier  # the caller's live object — pointer fixes below
    fts_st = tier._fts_state
    lf = fts_st[1].fold() if fts_st is not None and fts_st[1] is not None else None
    if (
        tier._live is not None
        or tier._sorted_n != tier.nrows
        or tier.terms.extra
    ):
        tier.terms.ranks()  # build pre-fold: fold() carries ranks O(n+k log n)
        tier = tier._fold_patched([], np.empty(0, dtype=np.int64))
    td = tier.terms
    rank = td.ranks()
    os.makedirs(dir_path, exist_ok=True)

    def _write(name: str, tbl) -> None:
        tmp = os.path.join(dir_path, f".{name}.tmp")
        with pa.OSFile(tmp, "wb") as f, pa.ipc.new_file(f, tbl.schema) as w:
            w.write_table(tbl)
        os.replace(tmp, os.path.join(dir_path, name))

    quads = pa.table(
        {
            "s": pa.array(tier.s, pa.int64()),
            "p": pa.array(tier.p, pa.int64()),
            "o": pa.array(tier.o, pa.int64()),
            "g": pa.array(tier.g, pa.int64()),
            "s_order": pa.array(tier._s_order, pa.int64()),
            "s_sorted": pa.array(tier._s_sorted, pa.int64()),
            "o_order": pa.array(tier._o_order, pa.int64()),
            "o_sorted": pa.array(tier._o_sorted, pa.int64()),
        }
    )
    _write("quads.arrow", quads)
    terms = pa.table(
        {
            "hash": pa.array(td.th, pa.int64()),
            "value": _terms_large_string(td),
            # int8, not bool: Arrow bools are bit-packed, which would
            # force an unpack-allocation on load; int8 views as numpy
            # bool zero-copy
            "is_literal": pa.array(td.lit.astype(np.int8), pa.int8()),
            "rank": pa.array(rank, pa.int64()),
        }
    )
    _write("terms.arrow", terms)
    meta = {
        "format": TIER_FORMAT,
        "nrows": int(tier.nrows),
        "n_terms": int(td.th.size),
        "blob_bytes": int(len(td.blob)),
        "approx_bytes": int(tier.approx_bytes),
    }
    if lf is not None:
        # FTS mirror (r11, optional): token-grouped postings as two
        # mmap-able tables — fts_tokens.arrow (FixedSizeBinary tokens,
        # zero-copy to the numpy 'S<w>' view _rows() searchsorts, plus
        # [start,end) group offsets) and fts_postings.arrow (grouped
        # lit/tf/dl rows). A cold engine's FIRST fts query then runs
        # with zero Spark jobs too, without even building the
        # distributed FtsIndex.
        w = int(lf.toks.dtype.itemsize) if lf.toks.size else 1
        _write(
            "fts_tokens.arrow",
            pa.table(
                {
                    "token": pa.FixedSizeBinaryArray.from_buffers(
                        pa.binary(w),
                        int(lf.toks.size),
                        [None, pa.py_buffer(np.ascontiguousarray(lf.toks).data)],
                    ),
                    "start": pa.array(lf.starts, pa.int64()),
                    "end": pa.array(lf.ends, pa.int64()),
                }
            ),
        )
        _write(
            "fts_postings.arrow",
            pa.table(
                {
                    "lit": pa.array(lf.lits, pa.int64()),
                    "tf": pa.array(lf.tfs, pa.float64()),
                    "dl": pa.array(lf.dls, pa.float64()),
                }
            ),
        )
        meta["fts"] = {
            "n_docs": int(lf.n_docs),
            "avgdl": float(lf.avgdl),
            "stem": bool(lf.stem),
            "strip": bool(lf.strip),
            "token_width": w,
            "n_tokens": int(lf.toks.size),
            "n_rows": int(lf.lits.size),
        }
    else:
        # no mirror resident this time: drop any stale fts sidecars so
        # the artifact never pairs old postings with new meta
        for fn in ("fts_tokens.arrow", "fts_postings.arrow"):
            try:
                os.remove(os.path.join(dir_path, fn))
            except OSError:
                pass
    # order-index sidecars (r12): the ≤4 most recently used global
    # orders ride along, so a fresh process's first ordered page for a
    # rule seen before persist is a file read (~0.3 s at sf1), not the
    # 2.4-3.3 s label-derivation pass. Same tmp+rename / meta-last
    # discipline. Each sidecar embeds its (sig, dir, nulls) in the
    # Arrow schema metadata (r13): every corpus-wide order has the
    # SAME row count, so a count check alone cannot catch a stale
    # meta/file pairing from a crash window or a rewritten file — the
    # loader now requires the embedded identity to match the rule it
    # was asked for. Unconsumed sidecar entries carried on the live
    # tier are copied through (read into memory BEFORE any write, so
    # persisting into the same store cannot clobber them mid-copy),
    # and the live tier's pointers are repointed at the rewritten
    # files so a consumed-then-persisted tier never mmaps a file whose
    # contents changed under it.
    picked = list(tier._global_orders.items())[-4:]
    picked_keys = {ck for ck, _ in picked}
    carried = []
    for ck, sc in list(tier._order_sidecars.items()):
        if len(picked) + len(carried) >= 4 or ck in picked_keys:
            continue
        ctbl = _read_order_sidecar(sc[0], sc[1], ck)
        if ctbl is not None:
            carried.append((ck, ctbl))
    orders_meta = []
    new_ptrs = {}
    for (sig, odir, onulls), ent in picked:
        g_subj, g_vals, _ss, perm = ent
        try:
            vals = pa.array(g_vals.tolist(), type=pa.large_string())
        except (pa.ArrowInvalid, TypeError):
            continue
        if vals.null_count:
            continue
        name = f"order_{len(orders_meta)}.arrow"
        _write(
            name,
            pa.table(
                {
                    "s": pa.array(g_subj, pa.int64()),
                    "val": vals,
                    "perm": pa.array(perm, pa.int64()),
                }
            ).replace_schema_metadata(
                {
                    b"order_sig": sig.encode("utf-8"),
                    b"order_dir": odir.encode("utf-8"),
                    b"order_nulls": onulls.encode("utf-8"),
                }
            ),
        )
        orders_meta.append(
            {
                "file": name,
                "sig": sig,
                "dir": odir,
                "nulls": onulls,
                "n": int(g_subj.size),
            }
        )
    for (sig, odir, onulls), ctbl in carried:
        name = f"order_{len(orders_meta)}.arrow"
        _write(name, ctbl)  # identity metadata rides along unchanged
        orders_meta.append(
            {
                "file": name,
                "sig": sig,
                "dir": odir,
                "nulls": onulls,
                "n": int(ctbl.num_rows),
            }
        )
        new_ptrs[(sig, odir, onulls)] = (
            os.path.join(dir_path, name),
            int(ctbl.num_rows),
        )
    if orders_meta:
        meta["orders"] = orders_meta
    i = len(orders_meta)
    while True:  # drop stale sidecars a previous persist left behind
        stale = os.path.join(dir_path, f"order_{i}.arrow")
        if not os.path.exists(stale):
            break
        os.remove(stale)
        i += 1
    # live-tier pointer hygiene: entries referencing files under this
    # directory were just rewritten — repoint the carried ones, drop
    # the rest (they rebuild lazily; stale mmaps would now be caught
    # by the identity check anyway, this keeps the fast path fast)
    absdir = os.path.abspath(dir_path)
    for t in {id(x): x for x in (tier, orig_tier)}.values():
        with t._order_lock:
            for ck in list(t._order_sidecars):
                if ck in new_ptrs:
                    t._order_sidecars[ck] = new_ptrs[ck]
                elif (
                    os.path.dirname(os.path.abspath(t._order_sidecars[ck][0]))
                    == absdir
                ):
                    t._order_sidecars.pop(ck)
    tmp = os.path.join(dir_path, ".meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(dir_path, "meta.json"))
    return meta


class _SidecarVals:
    """Lazy page-value column for sidecar-loaded global orders: the
    mmap'd Arrow large_string column stands in for the numpy object
    array the in-process build produces. A page fancy-indexes only its
    size-many values (``vals[sel].tolist()``), so converting all ~2M
    strings to Python objects up front (~0.5 s at sf1) would be pure
    cold-start waste; ``tolist`` keeps re-persist working."""

    __slots__ = ("arr",)

    def __init__(self, arr) -> None:
        self.arr = arr

    def __len__(self) -> int:
        return len(self.arr)

    def __getitem__(self, idx):
        import pyarrow as pa

        if isinstance(idx, np.ndarray):
            return _SidecarVals(self.arr.take(pa.array(idx)))
        return self.arr[idx].as_py()

    def tolist(self) -> list:
        return self.arr.to_pylist()


def _order_sidecar_identity_ok(tbl, key) -> bool:
    """True iff the sidecar's embedded (sig, dir, nulls) schema
    metadata matches ``key``. Every corpus-wide global order has the
    SAME row count (all dictionary-resolvable subjects), so the row
    count alone cannot distinguish rules or directions — without this
    check a crash between the order_N.arrow writes and the meta.json
    rename, or a persist that rewrote files a live tier still points
    at, could silently serve e.g. desc for asc. Pre-r13 sidecars carry
    no metadata and are rejected (they rebuild lazily — slower, never
    wrong)."""
    md = tbl.schema.metadata or {}
    try:
        return (
            md.get(b"order_sig", b"").decode("utf-8") == key[0]
            and md.get(b"order_dir", b"").decode("utf-8") == key[1]
            and md.get(b"order_nulls", b"").decode("utf-8") == key[2]
        )
    except UnicodeDecodeError:
        return False


def _read_order_sidecar(path: str, n: int, key):
    """Read one sidecar fully into memory for copy-through during
    persist (the target write may clobber the source file, so no
    mmap). Returns the validated table or None."""
    import pyarrow as pa

    try:
        with pa.OSFile(path, "rb") as f:
            tbl = pa.ipc.open_file(f).read_all().combine_chunks()
        if tbl.num_rows != n or not _order_sidecar_identity_ok(tbl, key):
            return None
        return tbl
    except (OSError, KeyError, ValueError, pa.ArrowInvalid):
        return None


def _load_order_sidecar(path: str, n: int, key):
    """mmap-read one persisted global-order sidecar back into the
    (g_subj, g_vals, subj_sorted, perm) tuple ``_global_order`` caches.
    Any mismatch (identity metadata vs the requested rule, crash-window
    stale meta, truncated file, nulls, out-of-range or non-bijective
    permutation) returns None — the order rebuilds from the tier
    arrays: slower, never wrong."""
    import pyarrow as pa

    try:
        tbl = pa.ipc.open_file(pa.memory_map(path)).read_all().combine_chunks()
        if tbl.num_rows != n or not _order_sidecar_identity_ok(tbl, key):
            return None
        g_subj = (
            tbl.column("s")
            .chunk(0)
            .to_numpy(zero_copy_only=True)
            .astype(np.int64, copy=False)
        )
        perm = (
            tbl.column("perm")
            .chunk(0)
            .to_numpy(zero_copy_only=True)
            .astype(np.int64, copy=False)
        )
        vals_col = tbl.column("val").chunk(0)
        if vals_col.null_count or perm.size != g_subj.size:
            return None
        if perm.size and (perm.min() < 0 or perm.max() >= perm.size):
            return None
        ss = g_subj[perm]
        if ss.size > 1 and np.any(np.diff(ss) < 0):
            # subjects are unique, so g_subj[perm] must be strictly
            # increasing for a valid argsort permutation; a violation
            # also catches duplicate perm entries (non-bijectivity)
            return None
        return (g_subj, _SidecarVals(vals_col), ss, perm)
    except (OSError, KeyError, ValueError, pa.ArrowInvalid):
        return None


def tier_meta(dir_path: str) -> dict | None:
    """The persisted artifact's sizing record, or None (absent or a
    format this build cannot read)."""
    import json
    import os

    try:
        with open(os.path.join(dir_path, "meta.json")) as f:
            meta = json.load(f)
    except (OSError, ValueError):
        return None
    if meta.get("format") != TIER_FORMAT:
        return None
    return meta


def load_tier(dir_path: str) -> LocalTier | None:
    """Reconstruct a LocalTier from a persisted artifact by
    memory-mapping the IPC files: every int64 column, the dictionary
    blob, and the ranks are zero-copy views into the page cache (the
    buffers hold references to the maps, so no handle bookkeeping).
    Returns None on any structural problem — the caller falls back to
    the Spark collect, so a corrupt artifact degrades to a slow start,
    never a wrong answer. Base arrays are read-only, which the tier
    honors by construction: mutations copy-on-write into overlay
    buffers (LocalTier.patched), never into the base."""
    import os
    import pyarrow as pa

    meta = tier_meta(dir_path)
    if meta is None:
        return None
    try:
        qt = pa.ipc.open_file(
            pa.memory_map(os.path.join(dir_path, "quads.arrow"))
        ).read_all().combine_chunks()
        tt = pa.ipc.open_file(
            pa.memory_map(os.path.join(dir_path, "terms.arrow"))
        ).read_all().combine_chunks()

        def col(tbl, name):
            c = tbl.column(name)
            c = c.chunk(0) if c.num_chunks else pa.array([], c.type)
            return c

        def i64(tbl, name) -> np.ndarray:
            c = col(tbl, name)
            if len(c) == 0:
                return np.empty(0, dtype=np.int64)
            return c.to_numpy(zero_copy_only=True)

        s, p, o, g = (i64(qt, n) for n in ("s", "p", "o", "g"))
        idx = tuple(
            i64(qt, n) for n in ("s_order", "s_sorted", "o_order", "o_sorted")
        )
        th = i64(tt, "hash")
        if int(s.size) != int(meta["nrows"]) or int(th.size) != int(
            meta["n_terms"]
        ):
            return None
        val = col(tt, "value")
        n = len(val)
        if n:
            off = np.frombuffer(val.buffers()[1], dtype=np.int64)[
                val.offset : val.offset + n + 1
            ]
            start, end = off[:-1], off[1:]
            blob = memoryview(val.buffers()[2])
        else:
            start = end = np.empty(0, dtype=np.int64)
            blob = b""
        lit = (
            col(tt, "is_literal").to_numpy(zero_copy_only=True).view(np.bool_)
            if n
            else np.empty(0, dtype=bool)
        )
        td = TermDict(
            th,
            start,
            end,
            blob,
            lit,
            _arrow=val,
            # values are stored in th order, so the arrow->th
            # permutation is the identity
            _ord=np.arange(n, dtype=np.int64),
        )
        td._rank = i64(tt, "rank")
        tier = LocalTier(s, p, o, g, td, _indexes=idx)
        fm = meta.get("fts")
        if fm:
            # optional FTS mirror — its own try: a corrupt/missing fts
            # sidecar degrades to the lazy rebuild, never fails the tier
            try:
                ft = pa.ipc.open_file(
                    pa.memory_map(os.path.join(dir_path, "fts_tokens.arrow"))
                ).read_all().combine_chunks()
                fp = pa.ipc.open_file(
                    pa.memory_map(os.path.join(dir_path, "fts_postings.arrow"))
                ).read_all().combine_chunks()
                tokc = col(ft, "token")
                # width comes from the sidecar's OWN Arrow type; a crash
                # between the fts sidecar writes and the meta.json rename
                # can pair old meta with new sidecars, and decoding with
                # a stale width silently garbles tokens — treat any
                # width disagreement as corruption (skip the mirror).
                w = int(tokc.type.byte_width)
                if w != int(fm["token_width"]):
                    raise ValueError("fts token width mismatch")
                ntok = len(tokc)
                if ntok:
                    toks = np.frombuffer(
                        tokc.buffers()[1], dtype=f"S{w}", count=ntok,
                        offset=tokc.offset * w,
                    )
                else:
                    toks = np.empty(0, dtype="S1")
                lf = _LocalFts(
                    toks,
                    i64(ft, "start"),
                    i64(ft, "end"),
                    i64(fp, "lit"),
                    col(fp, "tf").to_numpy(zero_copy_only=True)
                    if fp.num_rows
                    else np.empty(0, np.float64),
                    col(fp, "dl").to_numpy(zero_copy_only=True)
                    if fp.num_rows
                    else np.empty(0, np.float64),
                    int(fm["n_docs"]),
                    float(fm["avgdl"]),
                    bool(fm["stem"]),
                    bool(fm["strip"]),
                )
                if toks.size == int(fm["n_tokens"]) and lf.lits.size == int(
                    fm["n_rows"]
                ):
                    tier._fts_state = (ARTIFACT_FTS, lf)
            except (OSError, KeyError, ValueError, pa.ArrowInvalid):
                pass
        for om in meta.get("orders") or []:
            # register unloaded: the first ordered page for this rule
            # pays one sidecar mmap-read (_load_order_sidecar), never
            # the eager cost for rules this process won't use
            try:
                pth = os.path.join(dir_path, om["file"])
                key = (str(om["sig"]), str(om["dir"]), str(om["nulls"]))
                if os.path.exists(pth):
                    tier._order_sidecars[key] = (pth, int(om["n"]))
            except (KeyError, TypeError, ValueError):
                continue
        return tier
    except (OSError, KeyError, ValueError, pa.ArrowInvalid):
        return None
