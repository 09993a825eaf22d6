"""Load against ``bikidata_spark.Serving`` from one asyncio loop on the
calling thread: serial reads and writes (each request sent when the
previous one returned), an open loop (requests sent at their due times,
whatever is still in flight) and a closed loop of several clients.
"""

from __future__ import annotations

import asyncio
import time

from gen import WRITE_P, write_o, write_s

TIMEOUT_S = 60


def strip_timing(resp: dict) -> dict:
    return {k: v for k, v in resp.items() if not k.startswith("msg_")}


class Outcome:
    """Results of one loop: per-op records and the loop's wall time."""

    def __init__(self):
        self.records: list[dict] = []
        self.elapsed_s = 0.0

    def add(self, rec: dict) -> None:
        self.records.append(rec)


def read_loop(srv, ops: list[dict], check, seconds: float, block: int) -> Outcome:
    """Send reads one at a time until ``seconds`` have passed, stopping
    after a whole ``block`` of reads (at least one);
    ``check(key, response)`` says whether an answer is right."""
    out = Outcome()

    async def main():
        t_start = time.perf_counter()
        for n, op in enumerate(ops):
            if (n % block == 0 and n > 0
                    and time.perf_counter() - t_start >= seconds):
                break
            out.add(await _read(srv, op, check, time.perf_counter()))
        out.elapsed_s = time.perf_counter() - t_start

    asyncio.run(main())
    return out


def write_loop(srv, ops: list[dict]) -> Outcome:
    """Send the writes one at a time; each must return no error."""
    out = Outcome()

    async def main():
        for op in ops:
            i, t0 = op["id"], time.perf_counter()
            call = srv.insert_async if op["action"] == "insert" else srv.delete_async
            rec = {"kind": "write", "action": op["action"]}
            try:
                resp = await call(write_s(i), WRITE_P, write_o(i), timeout=TIMEOUT_S)
                rec["ok"] = "error" not in resp
            except Exception as e:
                rec["ok"] = False
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["lat_ms"] = (time.perf_counter() - t0) * 1000
            out.add(rec)

    asyncio.run(main())
    return out


async def _read(srv, op: dict, check, t_due: float) -> dict:
    """One read; latency counts from ``t_due`` (a perf_counter time)."""
    rec = {"kind": op["kind"], "key": op["key"], "submit": time.time()}
    try:
        resp = await srv.query_async(op["opts"], timeout=TIMEOUT_S)
        rec["ok"] = check(op["key"], strip_timing(resp))
        rec["received"] = resp["msg_received_time"]
        rec["processed"] = resp["msg_processed_time"]
    except Exception as e:  # timeout, refusal or engine error: a failed read
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {e}"
    rec["lat_ms"] = (time.perf_counter() - t_due) * 1000
    return rec


def open_loop(srv, ops: list[dict], due_s: list[float], check, seconds: float) -> Outcome:
    """Send ``ops[i]`` at ``due_s[i]`` seconds after the start, whether
    or not earlier reads have returned, for ``seconds``. Each read is
    timed from its due time; ``late_ms`` records how late the generator
    sent it and ``backlog`` how many reads were still in flight."""
    out = Outcome()

    async def main():
        t_start = time.perf_counter()
        tasks, in_flight = [], [0]

        async def one(op, t_due, late_ms):
            in_flight[0] += 1
            backlog = in_flight[0]
            rec = await _read(srv, op, check, t_due)
            in_flight[0] -= 1
            rec.update(late_ms=late_ms, backlog=backlog)
            return rec

        for op, due in zip(ops, due_s):
            if due >= seconds:
                break
            t_due = t_start + due
            wait = t_due - time.perf_counter()
            if wait > 0:
                await asyncio.sleep(wait)
            late_ms = max(0.0, time.perf_counter() - t_due) * 1000
            tasks.append(asyncio.create_task(one(op, t_due, late_ms)))
        for rec in await asyncio.gather(*tasks):
            out.add(rec)
        out.elapsed_s = time.perf_counter() - t_start

    asyncio.run(main())
    return out


def closed_loop(srv, ops: list[dict], check, clients: int, seconds: float) -> Outcome:
    """``clients`` clients, each sending its next read when its previous
    one returned, drawing from ``ops`` in order, for ``seconds``."""
    out = Outcome()

    async def main():
        t_start = time.perf_counter()
        it = iter(ops)

        async def client():
            while time.perf_counter() - t_start < seconds:
                op = next(it, None)
                if op is None:
                    return
                out.add(await _read(srv, op, check, time.perf_counter()))

        await asyncio.gather(*(client() for _ in range(clients)))
        out.elapsed_s = time.perf_counter() - t_start

    asyncio.run(main())
    return out
