"""Async serving facade: concurrency, cache, timeout, mutations
(reference workers.py semantics without the Redis queue)."""

from __future__ import annotations

import asyncio

import pytest

from bikidata_spark import Engine, Serving, TimeoutError, build_from_iterator

TRIPLES = [
    ("<e/1>", "<p/name>", '"alpha"'),
    ("<e/2>", "<p/name>", '"beta"'),
    ("<e/2>", "<p/parent>", "<e/1>"),
    ("<e/3>", "<p/name>", '"gamma"'),
]


@pytest.fixture()
def serving(spark):
    graph = build_from_iterator(spark, TRIPLES).cache()
    return Serving(Engine(graph), num_workers=2)


def test_query_async_and_cache(serving):
    async def go():
        opts = {"filters": [{"p": "<p/name>", "o": '"alpha"'}]}
        r1 = await serving.query_async(opts)
        r2 = await serving.query_async(opts)  # cache hit
        return r1, r2

    r1, r2 = asyncio.run(go())
    assert list(r1["results"].keys()) == ["<e/1>"]
    assert r1["results"] == r2["results"]
    assert len(serving._cache) == 1


def test_concurrent_queries(serving):
    async def go():
        tasks = [
            serving.query_async({"filters": [{"p": "<p/name>", "o": f'"{v}"'}]})
            for v in ("alpha", "beta", "gamma")
        ]
        return await asyncio.gather(*tasks)

    rs = asyncio.run(go())
    assert [list(r["results"]) for r in rs] == [["<e/1>"], ["<e/2>"], ["<e/3>"]]


@pytest.mark.parametrize("route", ["pool", "inline"])
def test_query_timeout(serving, route, monkeypatch):
    """A read that outlasts its timeout raises TimeoutError on either
    route: a pooled one (a fresh engine builds its tier first) is
    abandoned by the wait, an inline one is checked once answered."""
    import time

    from bikidata_spark.plans.local_tier import LocalTier

    opts = {"filters": [{"p": "<p/name>", "o": '"alpha"'}], "use_cache": False}
    if route == "inline":
        serving.engine.query(dict(opts))  # tier resident: the read runs inline
        inner = LocalTier.try_query

        def slow(self, *args, **kwargs):
            time.sleep(0.05)
            return inner(self, *args, **kwargs)

        monkeypatch.setattr(LocalTier, "try_query", slow)
    with pytest.raises(TimeoutError):
        asyncio.run(serving.query_async(opts, timeout=0.001))
    routes = serving.status()["routes"]
    assert routes == ({"inline": 1, "pool": 0} if route == "inline" else {"inline": 0, "pool": 1})


def test_insert_then_delete_roundtrip(serving):
    async def go():
        out = []
        out.append(await serving.insert_async("<e/4>", "<p/name>", '"delta"'))
        out.append(await serving.query_async({"filters": [{"p": "<p/name>", "o": '"delta"'}]}))
        out.append(await serving.insert_async("<e/4>", "<p/name>", '"delta"'))  # dup
        out.append(await serving.delete_async("<e/4>", "<p/name>", '"delta"'))
        out.append(await serving.query_async({"filters": [{"p": "<p/name>", "o": '"delta"'}], "use_cache": False}))
        return out

    ins, q1, dup, dele, q2 = asyncio.run(go())
    assert ins["triples_inserted"] == 1
    assert list(q1["results"]) == ["<e/4>"]
    assert "error" in dup
    assert dele["triples_deleted"] == 1
    assert q2["results"] == {}


def test_build_from_iterator_batches(spark):
    g = build_from_iterator(spark, iter(TRIPLES), batch_size=2)
    assert g.triples.count() == 4
    assert g.terms.filter("is_literal").count() == 3


def test_serving_under_mutation_stress(serving):
    """Concurrent queries racing >=2 graph swaps: every response is a
    coherent snapshot (never an error/torn read), post-swap fresh reads
    see the new graph, and nothing computed against a pre-swap graph
    can poison the cache afterwards (generation counter)."""

    async def go():
        q = {"filters": [{"p": "<p/name>", "o": '"delta"'}], "use_cache": False}
        results = []

        async def reader(n):
            for _ in range(n):
                r = await serving.query_async(q)
                results.append(set(r["results"]))

        async def writer():
            await serving.insert_async("<e/4>", "<p/name>", '"delta"')  # swap 1
            await serving.delete_async("<e/4>", "<p/name>", '"delta"')  # swap 2
            await serving.insert_async("<e/5>", "<p/name>", '"delta"')  # swap 3

        await asyncio.gather(reader(4), reader(4), writer())
        final = await serving.query_async(q)
        return results, set(final["results"])

    import sys

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the loop thread and the pool
    try:
        results, final = asyncio.run(go())
    finally:
        sys.setswitchinterval(interval)
    # every observed state is one of the legal snapshots
    legal = [set(), {"<e/4>"}, {"<e/5>"}]
    assert all(r in legal for r in results), results
    assert final == {"<e/5>"}
    # cached entries all belong to the final generation: re-asking with
    # the cache on returns the post-swap state, not a stale pre-swap one
    cached = asyncio.run(
        serving.query_async({"filters": [{"p": "<p/name>", "o": '"delta"'}]})
    )
    assert set(cached["results"]) == {"<e/5>"}
    # no lost update between reads on the event loop and work on the pool
    st = serving.status()
    assert st["queries_served"] == 10 and st["mutations_applied"] == 3
    assert st["routes"]["inline"] + st["routes"]["pool"] == 10
    assert serving._submitted == serving._completed == 13


def test_cache_hit_shape_matches_fresh(serving):
    """Fresh results and cache hits go through the same JSON round-trip:
    identical shapes (lists, stringified timestamps) both ways."""

    async def go():
        opts = {"filters": [{"p": "<p/name>", "o": '"beta"'}], "aggregates": ["<p/name>"]}
        fresh = await serving.query_async(opts)
        hit = await serving.query_async(opts)
        return fresh, hit

    fresh, hit = asyncio.run(go())
    fresh.pop("msg_processed_time"), hit.pop("msg_processed_time")
    fresh.pop("msg_received_time"), hit.pop("msg_received_time")
    assert fresh == hit  # deep-equal INCLUDING container types


def test_delete_by_hash_forms(spark):
    """are_hashes deletes address triples by term hash directly —
    signed ints, unsigned decimal strings, and hex digests all resolve
    to the same id; no existence validation (reference query.py:476+)."""
    from pyspark.sql import functions as F

    from bikidata_spark.operators.mutations import delete

    graph = build_from_iterator(spark, TRIPLES).cache()
    h = {r["value"]: r["hash"] for r in graph.terms.collect()}
    s, p, o = h["<e/1>"], h["<p/name>"], h['"alpha"']
    # signed-int form
    g2, res = delete(graph, [{"s": s, "p": p, "o": o}], are_hashes=True)
    assert res == {"triples_deleted": 1}
    assert g2.triples.count() == 3
    assert g2.triples.filter(F.col("s") == s).count() == 0
    # terms are NOT garbage-collected (reference behavior)
    assert g2.terms.count() == graph.terms.count()
    # hex-digest form (reference clients pass xxh64_hexdigest)
    u = lambda v: f"{v & (2**64 - 1):016x}"  # noqa: E731
    g3, _ = delete(graph, [{"s": u(s), "p": u(p), "o": u(o)}], are_hashes=True)
    assert g3.triples.count() == 3
    # unsigned decimal-string form
    g4, _ = delete(graph, [{"s": str(s & (2**64 - 1)), "p": str(p), "o": str(o)}], are_hashes=True)
    assert g4.triples.count() == 3
    # o omitted: every (s, p, g) match goes
    s2, p2 = h["<e/2>"], h["<p/name>"]
    g5, res5 = delete(graph, [{"s": s2, "p": p2}], are_hashes=True)
    assert res5 == {"triples_deleted": 1}
    assert g5.triples.filter((F.col("s") == s2) & (F.col("p") == p2)).count() == 0
    assert g5.triples.count() == 3  # <e/2> <p/parent> survives
    # non-matching hash: deletes nothing, does NOT error (reference)
    g6, res6 = delete(graph, [{"s": 123456789, "p": p, "o": o}], are_hashes=True)
    assert res6 == {"triples_deleted": 1} and g6.triples.count() == 4
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash"):
        delete(graph, [{"s": "zz-not-a-hash", "p": p, "o": o}], are_hashes=True)


def test_serving_delete_by_hash(serving):
    """Serving.delete_async(are_hashes=True) accepts hash-addressed
    deletes instead of erroring; the graph swap + cache clear happen
    like any delete (the tombstone path of the serving facade)."""

    async def go():
        eng = serving.engine
        h = {r["value"]: r["hash"] for r in eng.graph.terms.collect()}
        before = await serving.query_async({"filters": [{"p": "<p/name>", "o": '"beta"'}]})
        res = await serving.delete_async(
            h["<e/2>"], h["<p/name>"], h['"beta"'], are_hashes=True
        )
        after = await serving.query_async(
            {"filters": [{"p": "<p/name>", "o": '"beta"'}], "use_cache": False}
        )
        return before, res, after

    before, res, after = asyncio.run(go())
    assert list(before["results"]) == ["<e/2>"]
    assert res["triples_deleted"] == 1
    assert after["results"] == {}
    # hash-addressed INSERT is refused (delete-only surface, like the reference)
    r = serving._mutate_blocking("insert", [{"s": 1, "p": 2, "o": 3}], True)
    assert "error" in r


def test_status_endpoint(serving):
    """The operational surface the reference reads off Redis (LLEN /
    key counts): counters move with real traffic and never trigger a
    Spark job."""
    s0 = serving.status()
    assert s0["workers"] == 2
    assert s0["queries_served"] == 0
    assert s0["in_flight"] == 0
    assert s0["queue_depth"] == 0
    assert s0["result_cache"]["entries"] == 0
    assert s0["subject_cache"]["entries"] == 0

    async def go():
        opts = {"filters": [{"p": "<p/name>", "o": '"alpha"'}]}
        await serving.query_async(opts)
        await serving.query_async(opts)  # result-cache hit
        await serving.insert_async("<e/9>", "<p/name>", '"iota"')
        await serving.query_async({"filters": [{"p": "<p/name>", "o": '"iota"'}]})

    asyncio.run(go())
    s1 = serving.status()
    assert s1["queries_served"] == 3
    assert s1["result_cache"]["hits"] == 1
    assert s1["result_cache"]["misses"] == 2
    assert s1["result_cache"]["entries"] == 1  # insert cleared the pre-swap entry
    assert s1["mutations_applied"] == 1
    assert s1["generation"] == 1
    assert s1["in_flight"] == 0 and s1["queue_depth"] == 0
    assert s1["errors"] == 0
    assert s1["uptime_s"] >= s0["uptime_s"]
    sc = s1["subject_cache"]
    assert sc["max"] == 32
    tier = sc["local_tier"]
    if tier["state"] == "active":
        # cap-sized graph: queries served driver-side by the local
        # tier, which bypasses the persisted subject-set cache (the
        # counter restarts with the post-insert generation's tier, and
        # the serving-layer result cache absorbed the repeat query)
        assert tier["queries_served"] >= 1
    else:
        assert sc["entries"] >= 1 and sc["misses"] >= 1


def test_dist_admission_control(spark, monkeypatch):
    """r15 (guide §5): on an over-cap engine every served query runs
    distributed Spark jobs whose shuffle/sort buffers co-reside in
    executor memory; the admission semaphore bounds how many execute
    at once (excess queries queue — latency, never an error). Pin:
    peak in-engine concurrency <= permits, all results correct,
    status() surfaces the gate."""
    from bikidata_spark import Engine, Serving, build_from_iterator
    import threading

    monkeypatch.setenv("BIKIDATA_SPARK_DIST_PERMITS", "2")
    graph = build_from_iterator(spark, TRIPLES).cache()
    eng = Engine(graph, local_tier_bytes=1, term_cache_bytes=0)
    assert eng._local_tier() is None  # over-cap: the gated regime
    srv = Serving(eng, num_workers=8)

    peak = {"now": 0, "max": 0}
    lock = threading.Lock()
    inner = Engine.query

    def tracked(self, opts):
        with lock:
            peak["now"] += 1
            peak["max"] = max(peak["max"], peak["now"])
        try:
            return inner(self, opts)
        finally:
            with lock:
                peak["now"] -= 1

    monkeypatch.setattr(Engine, "query", tracked)

    async def go():
        tasks = [
            srv.query_async(
                {"filters": [{"p": "<p/name>"}], "size": 2, "start": i,
                 "use_cache": False},
                timeout=120,
            )
            for i in range(8)
        ]
        return await asyncio.gather(*tasks)

    rs = asyncio.run(go())
    assert all(r["total"] == 3 for r in rs)
    assert peak["max"] <= 2, peak
    st = srv.status()["dist_admission"]
    assert st["engaged"] and st["permits"] == 2
    assert st["waits"] >= 1  # 8 clients through 2 permits had to queue
    srv.close()

    # permits=0 disables the gate outright
    monkeypatch.setenv("BIKIDATA_SPARK_DIST_PERMITS", "0")
    eng2 = Engine(graph, local_tier_bytes=1, term_cache_bytes=0)
    assert eng2._local_tier() is None
    srv2 = Serving(eng2, num_workers=4)
    assert asyncio.run(
        srv2.query_async({"filters": [{"p": "<p/name>"}], "size": 1})
    )["total"] == 3
    assert srv2.status()["dist_admission"]["engaged"] is False
    srv2.close()


def test_tier_reads_skip_the_jvm_and_fair_pools_hold(spark, monkeypatch):
    """The scheduler pool is pinned once per worker thread, so
    tier-served reads through Serving send no py4j command at all, and
    a distributed read still runs every stage in its worker thread's
    pool. A FAIR scheduler places a job by that same job property
    (spark.scheduler.pool), so the test session's FIFO scheduler shows
    it without a second JVM."""
    import gc

    from py4j.clientserver import ClientServerConnection

    graph = build_from_iterator(spark, TRIPLES).cache()
    eng = Engine(graph)
    assert eng._local_tier() is not None
    # one worker: its initializer runs on the first read, never later
    srv = Serving(eng, num_workers=1)
    opts = [
        {"filters": [{"p": "<p/name>", "o": f'"{v}"'}], "use_cache": False}
        for v in ("alpha", "beta", "gamma")
    ]
    asyncio.run(srv.query_async(opts[0]))
    served = eng._local_tier().queries_served
    # release the Java objects earlier work left in reference cycles
    # now: py4j sends a memory command for each when Python's collector
    # gets to it, which could otherwise land inside the counted reads
    gc.collect()
    sent = []
    inner = ClientServerConnection.send_command

    def counted(self, command):
        sent.append(command)
        return inner(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)

    async def reads():
        return [await srv.query_async(o) for o in opts * 10]

    rs = asyncio.run(reads())
    monkeypatch.undo()
    srv.close()
    assert eng._local_tier().queries_served == served + 30  # all tier-served
    assert [list(r["results"]) for r in rs[:3]] == [["<e/1>"], ["<e/2>"], ["<e/3>"]]
    assert sent == [], sent[:3]

    plain = Engine(graph, local_tier_rows=0)
    assert plain._local_tier() is None  # every read runs Spark jobs
    srv = Serving(plain, num_workers=2)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    dist = {"filters": [{"p": "<p/name>"}], "aggregates": ["<p/name>"],
            "size": 2, "use_cache": False}
    assert asyncio.run(srv.query_async(dist, timeout=120))["total"] == 3
    workers = {t.name for t in srv._pool._threads}
    srv.close()
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    pools = []
    for jid in sorted(set(tracker.getJobIdsForGroup(None)) - before):
        for sid in tracker.getJobInfo(jid).stageIds:
            st = jsc.statusStore().lastStageAttempt(sid)
            # a skipped stage (shuffle output reused) was never
            # submitted, so it carries no pool of its own
            if st.status().toString() != "SKIPPED":
                pools.append(st.schedulingPool())
    assert pools, "the distributed read ran no stage"
    assert set(pools) <= workers, (pools, workers)


def test_tier_reads_answer_on_the_event_loop(spark):
    """Reads the resident tier answers run on the caller's event loop:
    no executor thread ever starts for them. A tier decline (a regex
    filter) goes through the pool and answers as Engine.query does,
    concurrent clients' inline reads interleave, and status() counts
    each route."""
    graph = build_from_iterator(spark, TRIPLES).cache()
    eng = Engine(graph)
    eng.query({"filters": [{"p": "<p/name>"}], "size": 1})  # build the tier
    srv = Serving(eng, num_workers=2)
    reads = [
        {"filters": [{"p": "<p/name>", "o": f'"{v}"'}], "use_cache": False}
        for v in ("alpha", "beta", "gamma")
    ]

    async def serial():
        return [await srv.query_async(o) for o in reads * 4]

    rs = asyncio.run(serial())
    assert srv._pool._threads == set()
    assert [list(r["results"]) for r in rs[:3]] == [["<e/1>"], ["<e/2>"], ["<e/3>"]]

    regex = {"filters": [{"p": "regex", "o": '"al.*"'}], "use_cache": False}
    got = asyncio.run(srv.query_async(regex, timeout=120))
    assert srv._pool._threads
    want = eng.query(dict(regex))
    assert {k: got[k] for k in want} == want
    assert list(got["results"]) == ["<e/1>"]

    order = []

    async def client(name):
        for _ in range(5):
            await srv.query_async(reads[0])
            order.append(name)

    async def both():
        await asyncio.gather(client("a"), client("b"))

    asyncio.run(both())
    assert order == ["a", "b"] * 5

    st = srv.status()
    srv.close()
    assert st["routes"] == {"inline": 22, "pool": 1}
    assert st["errors"] == 0 and st["in_flight"] == 0 and st["queue_depth"] == 0
    assert st["queries_served"] == 23
    assert srv._submitted == srv._completed == st["queries_served"]
