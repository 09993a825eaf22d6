"""Concurrent query serving — the Spark-first counterpart of the
reference's Redis worker pool (reference workers.py:23-128).

The reference fans queries out to N forked DuckDB workers through two
Redis lists and caches JSON results by query hash. On Spark none of
that machinery is needed: ONE SparkSession is thread-safe and its
scheduler is already a shared executor pool, so "N workers" is a
thread pool submitting jobs to the same session, and the FAIR
scheduler gives per-query fairness instead of FIFO head-of-line
blocking. What we keep from the reference is the API shape and
semantics:

- ``query_async(opts, timeout)``   (reference workers.py:113-127)
- ``insert_async(s, p, o, g)``     (reference workers.py:130-131)
- ``delete_async(s, p, o, g)``     (reference workers.py:134-142)
- ``TimeoutError`` on expiry       (reference workers.py:109-110)
- md5-of-opts result cache with TTL honoring ``use_cache``
  (reference workers.py:96-107; 7-day expiry like the reference)
- mutations are serialized while queries run concurrently (the
  reference routes inserts/deletes through the single manager
  process, reference workers.py:45-56)

All functions are asyncio coroutines like the reference's. Mutations
and reads that need Spark run on the instance's thread pool
(``run_in_executor``); a read the result cache or the resident tier
answers runs on the caller's event loop (see ``query_async``).
"""

from __future__ import annotations

import asyncio
import hashlib
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from .plans.query import Engine


class TimeoutError(Exception):
    pass


CACHE_TTL_S = 60 * 60 * 24 * 7  # reference workers.py:105: ex=7 days


def _parse_mem(s: str) -> int:
    """'8g' / '512m' / '1024k' / plain bytes → bytes (JVM -Xmx syntax,
    the format spark.driver.memory takes)."""
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}.get(s[-1:], 1)
    digits = s[:-1] if s[-1:] in "kmgt" else s
    return int(float(digits)) * mult


# Divisor turning the corpus's optimizer size estimate into one
# concurrent distributed query's peak execution-memory budget (shuffle /
# sort / join buffers). Calibrated against the sf10 over-cap sweeps
# (111M-quad corpus, 8 GiB JVM, usable execution ~0.6*(8g-300m) ≈
# 4.6 GiB): r14 found >=8 concurrent queries exhaust it
# (UNABLE_TO_ACQUIRE_MEMORY); an r15 re-run at 8 permits STILL died at
# the 16/32-worker points — the cached corpus competes for the same
# unified region, so the static execution share overstates what is
# actually free. The estimate a store-read graph exposes is the
# COMPRESSED parquet scan size (measured 1.22 GB for that corpus); a
# divisor of 1 (per-query budget ≈ the full compressed estimate ⇒ 3
# permits there) survived the full 48-client sweep at default memory.
# Conservative by design: an over-admitted query ERRORS, an
# under-admitted one just queues. Overridable per deployment via
# BIKIDATA_SPARK_DIST_QUERY_FRACTION.
_DIST_QUERY_EST_FRACTION = 1


class Serving:
    """Async serving facade over an :class:`Engine`.

    ``num_workers`` bounds concurrent driver-side query threads (the
    Spark scheduler multiplexes their jobs over the executor pool; set
    ``spark.scheduler.mode=FAIR`` for round-robin instead of FIFO).

    The default of 16 comes from the worker sweeps
    (tools/serving_sweep.py, sf0.1, 48 concurrent mixed clients, FAIR,
    local[32]). r6, distributed point path:

        workers   4     8     16    32
        QPS       1.75  2.42  2.82  2.81
        p95 s     26.1  19.7  16.8  16.9

    r8 continuation, local tier resident (queries are driver-side
    numpy — pure GIL work, no Spark jobs):

        workers   4      8      16     32
        QPS       75.1   73.7   70.5   60.9
        p50 s     0.29   0.23   0.17   0.20

    With the tier, QPS is flat to 16 and degrades at 32 (GIL
    contention), while p50 bottoms at 16; on the distributed fallback
    (over-cap stores) 16 is the throughput knee. 16 is right for both
    regimes.

    ``proc_workers`` breaks that GIL ceiling the same way the
    reference does — forked worker PROCESSES (workers.py:23-56) — via
    serving_pool.TierProcPool: N read-only forks of the resident tier
    (numpy pages shared copy-on-write), mutations serialized through
    the parent and replayed into each fork. r9 sweep (sf0.1, 240
    concurrent mixed clients, caches off):

        threads-only 16        72 QPS   p95 2.93 s
        proc_workers 8        489 QPS   p95 0.37 s
        proc_workers 16       670 QPS   p95 0.19 s

    Construct Serving while the engine is warm (tier + fts mirror
    built) and quiescent — the fork snapshots both.
    """

    def __init__(
        self,
        engine: Engine,
        num_workers: int = 16,
        journal_dir: str | None = None,
        journal_rotate_files: int = 512,
        journal_rotate_async: bool = True,
        proc_workers: int = 0,
    ):
        self.engine = engine
        self._num_workers = num_workers
        # multiprocess tier front-end (serving_pool.TierProcPool): with
        # the local tier resident, queries are pure Python/numpy and the
        # thread pool above is GIL-bound (~74 QPS flat over 4→16
        # threads, tools/serving_sweep.py r8). proc_workers>0 forks that
        # many read-only workers NOW — construct Serving while the
        # engine is quiescent and WARM (tier + fts mirror built), since
        # the fork snapshots both. Queries round-trip a worker first and
        # fall back to the in-process engine whenever the tier bails;
        # mutations apply in the parent then broadcast the tier patch.
        # Requires a resident tier; silently stays thread-only without
        # one (over-cap store, tier disabled).
        self._proc_pool = None
        self._proc_pool_state = "off"
        if proc_workers:
            try:
                from .serving_pool import TierProcPool

                self._proc_pool = TierProcPool(engine, proc_workers)
                self._proc_pool_state = "active"
            except ValueError:
                self._proc_pool_state = "no_tier"
        # durability: with journal_dir set, every SUCCESSFUL mutation
        # appends one JSON-lines file in the streaming-store mutation
        # format ({action, s, p, o, g}; action delete_hashes carries
        # decimal term hashes), so a restart replays it into a durable
        # log-structured store via streaming.mutations.start_ingest
        # (max_files_per_trigger=1 preserves mutation order). The
        # in-memory engine mutates first; the journal write is inside
        # the mutation lock, so the file sequence IS the apply order.
        self._journal_dir = journal_dir
        self._journal_seq = 0
        self._journal_mtime = 0.0
        # journaling starts healthy; the first failed journal write
        # permanently degrades to non-durable (see _journal) because a
        # GAP in the log is worse than a truncated log — replaying
        # around a missing mutation produces a silently divergent store
        self._durable = bool(journal_dir)
        self._journal_error: str | None = None
        # rotation: past this many LIVE journal files, fold them into
        # {journal_dir}/_compacted (a log-structured store) and delete
        # them — a one-file-per-mutation journal otherwise grows without
        # bound and replay is O(files). 0 disables. Incremental via the
        # persistent _ckpt file-source checkpoint; replay
        # (streaming.mutations.replay_journal) seeds from _compacted.
        # By default the fold runs on a BACKGROUND thread over a
        # snapshot of the live files taken under the mutation lock —
        # a synchronous fold would make every journal_rotate_files-th
        # mutation pay multi-second latency and block every concurrent
        # mutation for the duration. Safe concurrently: mutations keep
        # appending new files (the fold only deletes its snapshot; a
        # file the fold ingested but did not delete double-applies on
        # replay, which sequenced last-writer-wins makes a no-op), and
        # the _seq high-water mark is the snapshot's. Set
        # journal_rotate_async=False for the old inline behavior
        # (deterministic tests, single-shot batch jobs).
        self._rotate_files = journal_rotate_files
        self._rotate_async = journal_rotate_async
        self._rotating = False
        self._rotation_thread: threading.Thread | None = None
        self._rotation_error: str | None = None
        self._rotations = 0
        self._journal_live = 0
        if journal_dir:
            import os
            import re

            os.makedirs(journal_dir, exist_ok=True)
            # restart safety: resume the sequence after the highest
            # existing journal file — starting from 0 on a non-empty
            # journal_dir would os.rename ONTO 000000000001.json,
            # silently destroying the earlier record (and the file
            # stream source, which tracks seen files by path, would
            # skip the reused path on incremental replay)
            existing = [
                m for m in (re.fullmatch(r"(\d{12})\.json", e)
                            for e in os.listdir(journal_dir))
                if m
            ]
            if existing:
                self._journal_seq = max(int(m.group(1)) for m in existing)
                self._journal_mtime = max(
                    os.path.getmtime(os.path.join(journal_dir, m.group(0)))
                    for m in existing
                )
                self._journal_live = len(existing)
            # a rotation may have deleted ALL live files: the sequence
            # high-water mark survives in _seq (reusing a rotated file's
            # name would be skipped by the rotation checkpoint, which
            # tracks seen files by path — a silently lost mutation)
            seq_file = os.path.join(journal_dir, "_seq")
            if os.path.exists(seq_file):
                with open(seq_file) as f:
                    self._journal_seq = max(self._journal_seq, int(f.read().strip()))
        self._pool = ThreadPoolExecutor(
            max_workers=num_workers,
            thread_name_prefix="bikidata-serve",
            initializer=self._pin_scheduler_pool,
        )
        self._cache: dict[str, tuple[float, str]] = {}
        self._cache_lock = threading.Lock()
        # operational counters (the reference reads queue depth straight
        # off Redis with LLEN, reference workers.py:23-56; without Redis
        # we count submissions/completions ourselves). All guarded by
        # _cache_lock — they are touched on the same paths.
        self._started_at = time.time()
        self._submitted = 0  # work items handed to the pool
        self._completed = 0  # work items finished (success or error)
        self._in_flight = 0  # currently executing on a worker thread
        self._queries_served = 0
        self._inline_reads = 0  # answered on the caller's event loop
        self._pooled_reads = 0  # handed to the thread pool
        self._cache_hits = 0
        self._cache_misses = 0
        self._mutations_applied = 0
        self._errors = 0
        # bumped on every graph swap: a query computed against the
        # pre-mutation graph must not enter the cache after the swap's
        # clear(), or it would serve stale results for up to the TTL
        self._generation = 0
        # admission control for DISTRIBUTED queries (r15, guide §5):
        # on an over-cap engine (no resident tier) every query runs
        # Spark jobs whose shuffle/sort buffers co-reside in executor
        # memory; unbounded concurrency exhausts it
        # (UNABLE_TO_ACQUIRE_MEMORY at >=8 concurrent sf10 queries on
        # an 8 GiB JVM — r14 sweep). A semaphore bounds in-flight
        # distributed queries to what the memory budget supports;
        # excess queries queue (latency, never an error). Sized lazily
        # on the first gated query from the corpus size estimate — see
        # _dist_permits; BIKIDATA_SPARK_DIST_PERMITS=N overrides, 0
        # disables. Tier-resident engines are not gated: their queries
        # are driver-side numpy with no executor memory footprint.
        self._dist_sem = None  # "off" | threading.BoundedSemaphore
        self._dist_permits_n = 0
        self._dist_gate_waits = 0
        # mutations swap the engine's graph: one at a time, and no
        # queries observe a half-swapped graph because the swap is a
        # single reference assignment of an immutable Graph
        self._mutate_lock = threading.Lock()

    # ---- queries -------------------------------------------------------
    def _query_blocking(self, opts: dict, no_spark: bool = False) -> dict | None:
        """One read, counted. ``no_spark`` (the event-loop attempt)
        returns None for a read that needs Spark; that read is not
        counted here, since the pooled retry counts it."""
        with self._cache_lock:
            self._in_flight += 1
        done = True
        try:
            result = self._query_inner(opts, no_spark)
            done = result is not None
            return result
        except Exception:
            with self._cache_lock:
                self._errors += 1
            raise
        finally:
            with self._cache_lock:
                self._in_flight -= 1
                if done:
                    self._queries_served += 1
                    self._completed += 1
                    if no_spark:
                        self._inline_reads += 1

    def _pin_scheduler_pool(self) -> None:
        """Worker-thread initializer: one scheduler pool per worker
        thread, named after it. Under spark.scheduler.mode=FAIR
        (BIKIDATA_SPARK_SCHEDULER=FAIR) concurrent queries then share
        executors round-robin. The property is thread-local and a
        worker's name never changes, so it is set once per thread, not
        per request: a tier-served read makes no JVM call at all. Spark
        Connect has no SparkContext — pools are a classic-session
        refinement, not a correctness requirement, so degrade silently
        there (an initializer that raised would break the pool)."""
        try:
            sc = self.engine.graph.spark.sparkContext
            sc.setLocalProperty("spark.scheduler.pool", threading.current_thread().name)
        except Exception:
            pass

    def _query_inner(self, opts: dict, no_spark: bool = False) -> dict | None:
        query_hash = hashlib.md5(
            json.dumps(opts, sort_keys=True).encode("utf8")
        ).hexdigest()
        use_cache = opts.get("use_cache", True)
        if use_cache:
            with self._cache_lock:
                hit = self._cache.get(query_hash)
                if hit and hit[0] > time.time():
                    self._cache_hits += 1
                    return json.loads(hit[1])
        received = time.time()
        with self._cache_lock:
            generation = self._generation
        result = None
        pool = self._proc_pool
        if pool is not None and pool.alive:
            if no_spark:
                return None  # the forked workers serve tier reads outside this GIL
            # worker round-trip outside the GIL; None = tier bail or a
            # worker failure — the in-process path below covers both
            result = pool.query(opts)
        elif no_spark:
            result = self.engine.query_resident(opts)
            if result is None:
                return None  # needs Spark: the pooled retry counts the miss
        if result is None:
            sem = self._dist_gate()
            if sem is not None:
                if not sem.acquire(blocking=False):
                    with self._cache_lock:
                        self._dist_gate_waits += 1
                    sem.acquire()
                try:
                    result = self.engine.query(opts)
                finally:
                    sem.release()
            else:
                result = self.engine.query(opts)
        # reference workers.py:101-103: timing metadata on fresh results
        # (cache hits return the original timings, as with Redis)
        result["msg_received_time"] = received
        result["msg_processed_time"] = time.time()
        # fresh results go through the SAME JSON round-trip a cache hit
        # does, so both paths return identical shapes (tuples→lists,
        # non-JSON values stringified) — the Redis behavior
        payload = json.dumps(result, default=str)
        result = json.loads(payload)
        with self._cache_lock:
            self._cache_misses += 1
            if use_cache and self._generation == generation:  # no swap mid-query
                self._cache[query_hash] = (time.time() + CACHE_TTL_S, payload)
        return result

    def _dist_gate(self):
        """The admission semaphore for distributed queries, or None
        when the engine serves from a resident tier (zero executor
        memory per query — gating would only serialize numpy work).
        Sized once, lazily, on the first gated query; a retier that
        changes the engine's regime later keeps the size (permits are
        a memory bound, not a scheduling policy — re-sizing mid-flight
        would race the in-flight holders)."""
        st = self.engine._local_tier_state
        if st is None or st[1] is not None:
            return None  # tier unknown-yet or resident: not the gated regime
        sem = self._dist_sem
        if sem is None:
            with self._cache_lock:
                if self._dist_sem is None:
                    n = self._dist_permits()
                    self._dist_permits_n = n
                    self._dist_sem = (
                        threading.BoundedSemaphore(n) if n > 0 else "off"
                    )
                sem = self._dist_sem
        return None if sem == "off" else sem

    def _dist_permits(self) -> int:
        """How many distributed queries may run concurrently (guide §5:
        bound co-resident shuffle/sort buffers by execution memory, not
        by a memory knob). ``BIKIDATA_SPARK_DIST_PERMITS`` overrides
        (0 disables the gate). Otherwise: usable execution memory —
        ``spark.memory.fraction`` (0.6) of the JVM heap minus the 300 MB
        reserve — divided by a per-query footprint: the corpus's
        optimizer size estimate divided by
        ``BIKIDATA_SPARK_DIST_QUERY_FRACTION`` (default
        ``_DIST_QUERY_EST_FRACTION`` = 1, so the whole estimate; see
        the sf10 calibration note at its definition), clamped to
        [64 MB, 4 GB]. Clamped to [1, num_workers]."""
        import os

        env = os.environ.get("BIKIDATA_SPARK_DIST_PERMITS", "").strip()
        if env:
            return int(env)
        heap = _parse_mem(os.environ.get("BIKIDATA_SPARK_DRIVER_MEM", "8g"))
        try:
            heap = _parse_mem(
                self.engine.graph.spark.conf.get("spark.driver.memory")
            )
        except Exception:
            pass
        usable = int(0.6 * max(heap - (300 << 20), heap // 2))
        est = 0
        try:
            est = int(
                str(
                    self.engine.graph.triples._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            )
        except Exception:
            pass
        frac = int(
            os.environ.get(
                "BIKIDATA_SPARK_DIST_QUERY_FRACTION",
                str(_DIST_QUERY_EST_FRACTION),
            )
        )
        per_q = min(max(est // max(frac, 1), 64 << 20), 4 << 30)
        return max(1, min(self._num_workers, usable // per_q))

    async def query_async(self, opts: dict, timeout: int = 60) -> dict:
        """Answer a read. A read that needs no Spark — a result-cache
        hit, or one the resident tier answers — runs right here on the
        event-loop thread: it is GIL-bound numpy work, so a pool thread
        would add a handoff and no parallelism. Any other read (a tier
        decline, an over-cap engine, a tier not yet built for this
        generation, a live proc pool) goes to the thread pool."""
        opts = dict(opts)
        with self._cache_lock:
            self._submitted += 1
        t0 = time.perf_counter()
        result = self._query_blocking(opts, no_spark=True)
        if result is not None:
            elapsed = time.perf_counter() - t0
            await asyncio.sleep(0)  # let the loop's other tasks run
            if timeout is not None and elapsed > timeout:
                raise TimeoutError("Query timed out")
            return result
        with self._cache_lock:
            self._pooled_reads += 1
        loop = asyncio.get_running_loop()
        fut = loop.run_in_executor(self._pool, self._query_blocking, opts)
        try:
            return await asyncio.wait_for(fut, timeout=timeout)
        except asyncio.TimeoutError:
            raise TimeoutError("Query timed out") from None

    # ---- mutations -----------------------------------------------------
    def _mutate_blocking(self, action: str, data: list[dict], are_hashes: bool) -> dict:
        with self._cache_lock:
            self._in_flight += 1
        try:
            return self._mutate_inner(action, data, are_hashes)
        finally:
            with self._cache_lock:
                self._in_flight -= 1
                self._completed += 1

    def _mutate_inner(self, action: str, data: list[dict], are_hashes: bool) -> dict:
        if are_hashes and action != "delete":
            return {"error": "are_hashes is only supported for deletes"}
        received = time.time()
        with self._mutate_lock:
            # Engine.mutate handles the graph swap itself and keeps the
            # point-query tier warm (zero-job mutation when the mirror
            # is resident — plans/query.Engine.mutate)
            self.engine._last_tier_delta = None
            result = self.engine.mutate(action, data, are_hashes=are_hashes)
            if "error" not in result:
                self._sync_proc_pool()
                if self._journal_dir and self._durable:
                    try:
                        self._journal(action, data, are_hashes)
                    except Exception as e:  # disk full, permissions, ...
                        # the served state now has a mutation the log
                        # never will: stop journaling (a gap would make
                        # replay silently divergent rather than merely
                        # truncated) and surface the degradation
                        self._durable = False
                        self._journal_error = f"{type(e).__name__}: {e}"
                        result["journal_error"] = self._journal_error
                with self._cache_lock:
                    self._cache.clear()  # results may be stale now
                    self._generation += 1  # in-flight queries must not cache
                    self._mutations_applied += 1
        result["msg_received_time"] = received
        result["msg_processed_time"] = time.time()
        return result

    def _sync_proc_pool(self) -> None:
        """Broadcast the just-applied tier patch to the forked workers,
        or retire the pool when the mutation took a path the workers
        cannot replay (tier demoted over-cap, dictionary shed rebuilt
        the graph, or no tier was resident) — a stale fork must never
        serve again. Runs under _mutate_lock."""
        pool = self._proc_pool
        if pool is None or not pool.alive:
            return
        delta = self.engine._last_tier_delta
        st = self.engine._local_tier_state
        replayable = (
            delta is not None
            and delta.get("new_tier") is not None
            and st is not None
            and st[1] is delta["new_tier"]
        )
        if replayable:
            try:
                pool.apply_mutation(delta)
                return
            except Exception:
                pass  # fall through to retirement
        pool.close()
        self._proc_pool = None
        self._proc_pool_state = "retired"

    def refork(self, proc_workers: int) -> bool:
        """Operator-initiated pool (re)construction — e.g. after a
        retirement (tier demotion, dictionary shed) once the tier is
        resident again, or to resize the pool. MUST be called during a
        quiescent window (no in-flight queries): the fork snapshots
        engine state, and a lock held by a query thread at fork time
        would deadlock the child. Returns True when the pool is active.
        Holds the mutation lock so no mutation lands mid-fork."""
        from .serving_pool import TierProcPool

        with self._mutate_lock:
            if self._proc_pool is not None:
                self._proc_pool.close()
                self._proc_pool = None
            # ensure the tier is resident (may collect — one bounded
            # job); a demoted (gen, None) memo is sticky by design, so
            # clear it — the operator raised the cap or compacted
            st = self.engine._local_tier_state
            if st is not None and st[1] is None:
                self.engine._local_tier_state = None
            self.engine._local_tier()
            try:
                self._proc_pool = TierProcPool(self.engine, proc_workers)
                self._proc_pool_state = "active"
                return True
            except ValueError:
                self._proc_pool_state = "no_tier"
                return False

    def _journal(self, action: str, data: list[dict], are_hashes: bool) -> None:
        """Append this mutation as one JSON-lines file (tmp + rename —
        the stream source must never read a half-written file). Called
        under _mutate_lock, so the zero-padded sequence matches apply
        order; hash-addressed deletes normalize to canonical signed
        decimal via the same rule the engine applies."""
        import os

        from .operators.mutations import _hash_to_long

        recs = []
        for d in data:
            if action == "insert":
                recs.append(
                    {"action": "insert", "s": d["s"], "p": d["p"],
                     "o": d["o"], "g": d.get("g", "") or ""}
                )
            elif not are_hashes:
                recs.append(
                    {"action": "delete", "s": d["s"], "p": d["p"],
                     "o": d.get("o") or "", "g": d.get("g", "") or ""}
                )
            else:
                recs.append(
                    {
                        "action": "delete_hashes",
                        "s": str(_hash_to_long(d["s"])),
                        "p": str(_hash_to_long(d["p"])),
                        "o": "" if d.get("o") in (None, "") else str(_hash_to_long(d["o"])),
                        "g": "" if d.get("g") in (None, "") else str(_hash_to_long(d["g"])),
                    }
                )
        self._journal_seq += 1
        name = f"{self._journal_seq:012d}.json"
        tmp = os.path.join(self._journal_dir, f"_tmp.{name}")
        with open(tmp, "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs) + "\n")
        dest = os.path.join(self._journal_dir, name)
        os.rename(tmp, dest)
        # the file stream source orders batches by MODIFICATION time; a
        # fast mutation burst can tie mtimes within the clock tick, so
        # stamp a strictly-increasing one (replay order must be apply
        # order — sequenced tombstones depend on it)
        t = max(time.time(), self._journal_mtime + 0.002)
        self._journal_mtime = t
        os.utime(dest, (t, t))
        self._journal_live += 1
        if (
            self._rotate_files
            and self._journal_live >= self._rotate_files
            and not self._rotating
        ):
            # snapshot under _mutate_lock (we are inside it): no writer
            # races the glob, and the _seq high-water mark is exact for
            # these files
            import glob as _glob

            live = sorted(_glob.glob(os.path.join(self._journal_dir, "*.json")))
            seq = self._journal_seq
            if self._rotate_async:
                self._rotating = True
                t = threading.Thread(
                    target=self._rotate_bg,
                    args=(live, seq),
                    daemon=True,
                    name="bikidata-journal-rotate",
                )
                self._rotation_thread = t
                t.start()
            else:
                self._rotate_journal(live, seq)

    def _rotate_bg(self, live: list, seq: int) -> None:
        try:
            self._rotate_journal(live, seq)
        except Exception as e:  # surfaced via status(); next write retries
            self._rotation_error = f"{type(e).__name__}: {e}"
        finally:
            self._rotating = False

    def _rotate_journal(self, live: list, seq: int) -> None:
        """Fold the snapshot of live journal files into
        ``{journal_dir}/_compacted`` and delete them, bounding the
        journal at ``journal_rotate_files`` live files (+ one compacted
        store). The ingest is INCREMENTAL (the _ckpt checkpoint
        persists across rotations, so each fold only reads files not
        yet folded); the compaction after it keeps _compacted at one
        net-state segment instead of one batch directory per journal
        file. Crash-safe AND concurrency-safe: files are deleted only
        after the fold commits and only the snapshot's files are
        deleted — a file the fold ingested but did not delete (written
        concurrently by a mutation, or left by a crash) double-applies
        on replay, which sequenced last-writer-wins semantics make a
        no-op (replay_journal docs)."""
        import os

        from .streaming.mutations import compact_store, start_ingest

        spark = self.engine.graph.spark
        comp = os.path.join(self._journal_dir, "_compacted")
        q = start_ingest(
            spark,
            self._journal_dir,
            comp,
            os.path.join(self._journal_dir, "_ckpt"),
            max_files_per_trigger=1,
        )
        q.awaitTermination()
        # a tombstone-only fold (possible only when the journal's deletes
        # target quads never journaled — i.e. a journal that is not
        # self-contained; with rotation the base load should flow through
        # the journal too) has no triples dir to compact
        if os.path.isdir(os.path.join(comp, "triples")):
            compact_store(spark, comp)
        # the sequence high-water mark must survive even if every live
        # file is rotated away (see __init__)
        seq_file = os.path.join(self._journal_dir, "_seq")
        with open(f"{seq_file}.tmp", "w") as f:
            f.write(str(seq))
        os.rename(f"{seq_file}.tmp", seq_file)
        for f in live:
            os.remove(f)
        with self._cache_lock:
            # journal writes may have landed during a background fold:
            # subtract the snapshot, don't zero the counter
            self._journal_live -= len(live)
            self._rotations += 1

    async def insert_async(
        self, s: str, p: str, o: str, g: str = "", timeout: int = 60
    ) -> dict:
        return await self._mutate_async("insert", s, p, o, g, timeout, False)

    async def delete_async(
        self,
        s: str,
        p: str | None,
        o: str | None,
        g: str = "",
        timeout: int = 60,
        are_hashes: bool = False,
    ) -> dict:
        return await self._mutate_async("delete", s, p, o, g, timeout, are_hashes)

    async def _mutate_async(self, action, s, p, o, g, timeout, are_hashes) -> dict:
        data = [{"s": s, "p": p, "o": o, "g": g}]
        loop = asyncio.get_running_loop()
        with self._cache_lock:
            self._submitted += 1
        fut = loop.run_in_executor(
            self._pool, self._mutate_blocking, action, data, are_hashes
        )
        try:
            return await asyncio.wait_for(fut, timeout=timeout)
        except asyncio.TimeoutError:
            raise TimeoutError("Query timed out") from None

    # ---- introspection ---------------------------------------------------
    def status(self) -> dict:
        """Operational snapshot — the surface the reference gets for free
        from Redis (``LLEN`` queue depth, key counts; reference
        workers.py:23-56, 96-107). Everything here is driver-local
        bookkeeping: no Spark job is triggered, so it is safe to poll.

        ``queue_depth`` counts submitted-but-not-yet-finished work items
        beyond the ones currently executing (the Redis list length
        analogue); ``in_flight`` is what the worker threads are running
        right now. ``routes`` counts reads answered on the caller's
        event loop (``inline``) and reads handed to the thread pool
        (``pool``).
        """
        now = time.time()
        with self._cache_lock:
            live = sum(1 for exp, _ in self._cache.values() if exp > now)
            return {
                "workers": self._num_workers,
                "uptime_s": round(now - self._started_at, 3),
                "queue_depth": max(0, self._submitted - self._completed - self._in_flight),
                "in_flight": self._in_flight,
                "queries_served": self._queries_served,
                "routes": {"inline": self._inline_reads, "pool": self._pooled_reads},
                "mutations_applied": self._mutations_applied,
                "errors": self._errors,
                "generation": self._generation,
                "durable": self._durable,
                "journal_error": self._journal_error,
                "journal_live_files": self._journal_live,
                "journal_rotations": self._rotations,
                "journal_rotating": self._rotating,
                "journal_rotation_error": self._rotation_error,
                "proc_pool": (
                    {"state": self._proc_pool_state, **self._proc_pool.stats()}
                    if self._proc_pool is not None
                    else {"state": self._proc_pool_state}
                ),
                "dist_admission": {
                    "engaged": self._dist_sem not in (None, "off"),
                    "permits": self._dist_permits_n,
                    "waits": self._dist_gate_waits,
                },
                "result_cache": {
                    "entries": len(self._cache),
                    "live_entries": live,
                    "hits": self._cache_hits,
                    "misses": self._cache_misses,
                    "ttl_s": CACHE_TTL_S,
                },
                "subject_cache": self.engine.cache_stats(),
            }

    def close(self) -> None:
        if self._proc_pool is not None:
            self._proc_pool.close()
            self._proc_pool = None
        t = self._rotation_thread
        if t is not None and t.is_alive():
            # let an in-flight background fold commit (it deletes files
            # only after the fold is durable, so even a hard exit here
            # is safe — this join just keeps shutdown tidy)
            t.join(timeout=120)
        self._pool.shutdown(wait=False, cancel_futures=True)
