"""Forked multiprocess serving front-end over the driver-resident tier.

With the local tier resident, a point query is pure Python/numpy — so
the thread-pool facade (serving.Serving) hits the GIL at ~74 QPS no
matter how many threads it runs (tools/serving_sweep.py, r8). The
reference sidesteps the GIL with forked DuckDB worker PROCESSES over
Redis queues (reference workers.py:23-56); this module is the
Spark-resident equivalent: N processes forked from the driver, each
inheriting the tier mirror copy-on-write (numpy array pages are
refcount-free, so the quad columns stay physically shared), serving
``LocalTier.try_query`` without the GIL of the parent — or of each
other.

Protocol (one duplex pipe per worker, strictly request/response):

- ``("q", opts)``  → ``("r", result | None)`` — None = the tier bailed
  (regex filter, over-cap fts/semantic mirror, paths cache miss);
  the parent runs the distributed path, exactly as the in-process
  tier path would have.
- ``("m", delta)`` → ``("ok", None)`` — replay one Engine.mutate tier
  patch. The delta is the exact ``LocalTier.patched`` argument tuple
  the parent applied (plans/query.Engine._retier records it), so an
  identically-evolved fork lands on a byte-identical mirror: same
  physical row ids, same overlay fold points, same BM25 increments
  (``patch_fts_mirror`` with the same posting rows). Fork-resident
  hierarchy maps are patched from the same delta (patch_paths_edges),
  so ``paths`` queries keep serving in-fork across mutations.
- ``("x", None)``  → ``("bye", None)`` and the worker exits.

The forked child inherits the py4j gateway socket but MUST NOT use it:
it calls ``try_query(..., no_spark=True)``, so every Spark-needing path
(building the fts or semantic mirror, a paths map miss, the
distributed paths walk) bails to the parent instead — the same rule
Serving's event-loop reads follow in the parent.

Mutation consistency: every broadcast bumps the pool EPOCH; a worker
re-enters the idle rotation only after acking the current epoch's
patch. A worker that is checked out (serving a query) while the
broadcast runs — or that fails to ack within ``mutation_timeout_s`` —
is behind the served state and is DROPPED instead of returned to
rotation: a stale fork must never serve again. The ack wait polls with
a timeout, so a wedged (non-crashed) child can delay the mutation path
by at most the timeout instead of hanging it.

Fork-safety contract: construct the pool while the engine is QUIESCENT
(no in-flight queries — e.g. at Serving construction), so no engine or
tier lock is held at fork time. Mutation broadcasts check out every
worker before sending, so per-worker pipe FIFO order guarantees a
worker never serves a query dispatched after a mutation against the
pre-mutation mirror.

Memory: quad columns and sorted indexes share pages CoW for the
process lifetime. Python dict/str objects (the term dictionary) are
copied page-by-page as refcounts are touched; ``gc.freeze()`` in the
child keeps the collector from forcing that eagerly.
"""

from __future__ import annotations

import queue
import threading
import time

import numpy as np


def _patch_child_paths(engine, tier, payload) -> None:
    """Patch the fork-resident {child: [parents]} hierarchy maps with
    this mutation's edge delta so ``paths`` queries keep serving
    in-fork. Must run BEFORE ``tier.patched``: the delta's delete
    entries are row indexes into the PRE-patch tier arrays. The child's
    engine generation never bumps (the engine object is a fork-time
    snapshot), so the maps are updated in place under their fork-time
    keys — safe, the worker loop is single-threaded."""
    maps = engine._paths_edge_maps
    if not maps:
        return
    from .functions.xxh import term_id
    from .plans.query import _LOCAL_PATHS_EDGES, patch_paths_edges

    sizes = engine._paths_edge_map_sizes
    dels = np.asarray(payload["del"], dtype=np.int64)
    for key, m in list(maps.items()):
        if m is None:
            continue  # over-cap verdict: keep bailing to the parent
        size = sizes.get(key)
        if size is None:
            size = sum(len(v) for v in m.values())
        m2, d = patch_paths_edges(
            m, term_id(key[1]), payload["ins"], dels, tier.s, tier.p, tier.o
        )
        if size + d > _LOCAL_PATHS_EDGES:
            maps[key] = None
            sizes.pop(key, None)
        else:
            maps[key] = m2
            sizes[key] = size + d


def _child_main(conn, engine, fts_max_rows: int) -> None:
    """Worker loop — runs in the forked child. Never touches Spark."""
    import gc
    import os

    gc.freeze()  # inherited objects: don't let GC touch their pages
    st = engine._local_tier_state
    tier = st[1] if st is not None else None
    while True:
        try:
            msg = conn.recv()
        except (EOFError, OSError):
            os._exit(0)
        kind, payload = msg
        try:
            if kind == "q":
                if tier is None:
                    conn.send(("r", None))
                    continue
                conn.send(
                    ("r", tier.try_query(engine, payload, fts_max_rows, no_spark=True))
                )
            elif kind == "m":
                # hierarchy maps first: delete indexes address the
                # pre-patch tier arrays
                _patch_child_paths(engine, tier, payload)
                for h, v in payload["terms"]:
                    tier.h2v[h] = v
                    tier.v2h[v] = h
                    if v.startswith('"'):
                        tier.is_lit.add(h)
                new_tier = tier.patched(
                    payload["ins"],
                    np.asarray(payload["del"], dtype=np.int64),
                    payload["terms"],
                )
                fts = payload["fts"]
                if fts == "keep":
                    new_tier._fts_state = tier._fts_state
                elif isinstance(fts, tuple) and fts[0] == "rows":
                    from .plans.local_tier import patch_fts_mirror

                    fst = tier._fts_state
                    if fst is not None and fst[1] is not None:
                        new_tier._fts_state = (
                            fst[0],
                            patch_fts_mirror(fst[1], fts[1], fts[2], fts[3]),
                        )
                # "drop": mirror stays unbuilt; fts queries bail to parent
                tier = new_tier
                conn.send(("ok", None))
            elif kind == "x":
                conn.send(("bye", None))
                conn.close()
                os._exit(0)
            else:
                conn.send(("err", f"unknown message kind {kind!r}"))
        except Exception as e:  # keep the loop alive; parent falls back
            try:
                conn.send(("err", f"{type(e).__name__}: {e}"))
            except (OSError, BrokenPipeError):
                os._exit(1)


class _Worker:
    """One forked worker: its process, its pipe, and the mutation epoch
    it has acked (a worker behind the pool epoch must never serve)."""

    __slots__ = ("proc", "conn", "epoch")

    def __init__(self, proc, conn, epoch: int):
        self.proc = proc
        self.conn = conn
        self.epoch = epoch


class TierProcPool:
    """N forked read-only tier workers + a mutation broadcast channel."""

    def __init__(
        self,
        engine,
        n_procs: int = 8,
        query_timeout_s: float = 600.0,
        mutation_timeout_s: float = 60.0,
    ):
        import multiprocessing as mp

        st = engine._local_tier_state
        if st is None or st[0] != engine._graph_generation or st[1] is None:
            raise ValueError(
                "TierProcPool needs a resident local tier (warm the engine "
                "with one query before constructing the pool)"
            )
        self._timeout = query_timeout_s
        self._mut_timeout = mutation_timeout_s
        self._lock = threading.Lock()
        self._workers: list[_Worker] = []
        self._idle: queue.Queue = queue.Queue()
        self._n_live = 0
        self._epoch = 0  # bumped per mutation broadcast
        self._broadcasting = False  # a broadcast is draining the idle queue
        self._bails = 0
        self._served = 0
        self._worker_errors = 0
        self._stale_drops = 0
        ctx = mp.get_context("fork")
        # same budget-derived cap the parent's try_query uses (st was
        # validated resident above)
        fts_rows = engine._fts_mirror_rows(st[1])
        for _ in range(n_procs):
            parent_conn, child_conn = ctx.Pipe(duplex=True)
            proc = ctx.Process(
                target=_child_main, args=(child_conn, engine, fts_rows), daemon=True
            )
            proc.start()
            child_conn.close()
            w = _Worker(proc, parent_conn, 0)
            self._workers.append(w)
            self._idle.put(w)
            self._n_live += 1

    @property
    def alive(self) -> bool:
        return self._n_live > 0

    @property
    def n_procs(self) -> int:
        return self._n_live

    def _drop(self, w: _Worker) -> None:
        with self._lock:
            if w in self._workers:
                self._workers.remove(w)
                self._n_live -= 1
        try:
            w.conn.close()
        except OSError:
            pass
        if w.proc.is_alive():
            w.proc.terminate()

    def _checkin(self, w: _Worker) -> None:
        """Return a worker to rotation — unless a mutation broadcast ran
        while it was checked out (stale epoch): it never received the
        patch and would serve pre-mutation results indefinitely. While
        the broadcast is still draining the idle queue, the stale
        worker goes back to idle FOR the broadcast to sync; once the
        broadcast is over, missing it is permanent and the worker is
        dropped."""
        with self._lock:
            stale = w.epoch != self._epoch
            rescue = stale and self._broadcasting
            if stale and not rescue:
                self._stale_drops += 1
        if not stale or rescue:
            self._idle.put(w)
        else:
            self._drop(w)

    def query(self, opts: dict) -> dict | None:
        """Round-trip one query through an idle worker. Returns the
        reference-shaped result dict, or None when the tier bailed /
        the worker failed (caller runs the distributed path)."""
        deadline = time.monotonic() + self._timeout
        while True:
            try:
                w = self._idle.get(timeout=max(0.0, deadline - time.monotonic()))
            except queue.Empty:
                return None
            with self._lock:
                stale = w.epoch != self._epoch
                rescue = stale and self._broadcasting
            if not stale:
                break
            if rescue:
                # a broadcast is mid-drain: give the worker back for it
                # to sync, then retry (brief yield so the drain wins)
                self._idle.put(w)
                time.sleep(0.002)
            else:
                with self._lock:
                    self._stale_drops += 1
                self._drop(w)
            if not self.alive:
                return None
        healthy = True
        try:
            w.conn.send(("q", opts))
            if not w.conn.poll(self._timeout):
                healthy = False
                return None
            kind, payload = w.conn.recv()
        except (EOFError, OSError, BrokenPipeError):
            healthy = False
            return None
        finally:
            if healthy:
                self._checkin(w)
            else:
                self._drop(w)
        if kind == "r":
            with self._lock:
                if payload is None:
                    self._bails += 1
                else:
                    self._served += 1
            return payload
        with self._lock:  # "err"
            self._worker_errors += 1
        return None

    def apply_mutation(self, delta: dict) -> None:
        """Broadcast one tier patch to every worker and await the acks.
        Checks out ALL workers first (so no query can interleave with
        the patch on any worker's pipe), bounded by
        ``mutation_timeout_s``: a worker that cannot be checked out or
        does not ack in time is left behind the pool epoch and is
        dropped — either here or when its in-flight query checks it
        back in — instead of re-entering rotation unsynced."""
        payload = {
            "ins": list(delta["ins"]),
            "del": np.asarray(delta["del"], dtype=np.int64),
            "terms": list(delta["terms"]),
            "fts": delta["fts"],
        }
        with self._lock:
            self._epoch += 1
            epoch = self._epoch
            self._broadcasting = True
        deadline = time.monotonic() + self._mut_timeout
        held: list[_Worker] = []
        try:
            while len(held) < self._n_live:
                remaining = deadline - time.monotonic()
                if remaining <= 0:
                    break  # checked-out stragglers drop at check-in (stale epoch)
                try:
                    held.append(self._idle.get(timeout=min(remaining, 0.1)))
                except queue.Empty:
                    continue
        finally:
            with self._lock:
                self._broadcasting = False
        for w in held:
            ok = True
            try:
                w.conn.send(("m", payload))
                # poll before recv: a wedged (non-crashed) child must not
                # hang the mutation path — queries have a timeout, and so
                # must the broadcast ack
                if not w.conn.poll(max(0.1, deadline - time.monotonic())):
                    ok = False
                else:
                    kind, _ = w.conn.recv()
                    ok = kind == "ok"
            except (EOFError, OSError, BrokenPipeError):
                ok = False
            if ok:
                w.epoch = epoch
                self._idle.put(w)
            else:
                self._drop(w)

    def stats(self) -> dict:
        with self._lock:
            return {
                "procs": self._n_live,
                "served": self._served,
                "bails": self._bails,
                "worker_errors": self._worker_errors,
                "stale_drops": self._stale_drops,
            }

    def worker_memory(self) -> list[dict]:
        """Per-fork memory from /proc/<pid>/smaps_rollup (Linux).

        USS (Private_Clean + Private_Dirty) is the copy-on-write
        verdict: forks sharing the parent's tier arrays should show
        USS ≪ RSS — a child whose USS approaches the TermDict blob
        size has copied it (the failure mode this method exists to
        catch at sf1+, VERDICT r10 item 4). Returns [] off-Linux.
        """
        with self._lock:
            pids = [w.proc.pid for w in self._workers if w.proc.is_alive()]
        out = []
        for pid in pids:
            fields = {}
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        parts = line.split()
                        if len(parts) >= 2 and parts[0].endswith(":"):
                            try:
                                fields[parts[0][:-1]] = int(parts[1])
                            except ValueError:
                                pass
            except OSError:
                continue
            out.append(
                {
                    "pid": pid,
                    "rss_kb": fields.get("Rss", 0),
                    "uss_kb": fields.get("Private_Clean", 0)
                    + fields.get("Private_Dirty", 0),
                    "shared_kb": fields.get("Shared_Clean", 0)
                    + fields.get("Shared_Dirty", 0),
                }
            )
        return out

    def close(self) -> None:
        with self._lock:
            workers, self._workers = list(self._workers), []
            self._n_live = 0
        for w in workers:
            try:
                w.conn.send(("x", None))
            except (OSError, BrokenPipeError):
                pass
        for w in workers:
            w.proc.join(timeout=2.0)
            if w.proc.is_alive():
                w.proc.terminate()
            try:
                w.conn.close()
            except OSError:
                pass
