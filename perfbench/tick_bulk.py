"""``tick_bulk``: bulk ingest beside scan-back through the TCP server, in
the shape of the reference client's harness, on a table that is never
compacted.

One writer connection works in cycles. A cycle writes a fresh
``(sec, interval)`` prefix of 100,000 bars as ten 10,000-row batches —
odd cycles one sync ``batch_insert`` at a time, even cycles all ten as
``batch_insert_async`` in flight together — then one 10,000-row batch
of corrections to rows written earlier in the cycle (insert is an
upsert). After each cycle a reader connection reads back a completed
prefix drawn by the seed, once each as a full-prefix scan, as
``execute_split`` over ten sub-ranges, and as a 1,000-bar range with
``adj()`` on open..v, and checks every row against the written values
with the corrections applied (latest wins); ``adj()`` values against an
independent cumulative-factor computation (tickdata.AdjEvents).

Writes and reads take turns from one thread, so each op is timed alone:
on a few shared cores, a reader and a writer running at once made every
latency depend on how their ops happened to overlap.

After the timed phase the server is SIGKILLed, restarted on the same
warehouse, and every acknowledged batch is read back (row count, value
checksum and exact rows). The OS page cache survives the kill, so this
shows process-crash durability only, not power-loss durability.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import common, tickdata
from perfbench.trace import Tracer

BARS = 100_000
BATCH = 10_000
INTERVAL = 1
INSERT = tickdata.INSERT.format(t="bulk")
SCAN = "select * from bulk where sec=? and interval=?"
SPLIT = "select * from bulk where sec=? and interval=? and tm>=? and tm<?"
ADJ = (
    "select sec, interval, tm, adj(open), adj(high), adj(low), adj(close), "
    "adj(v), vwap from bulk where sec=? and interval=? and tm>=? and tm<?"
)
ADJ_RANGE = 1_000
WARM_CYCLES = 2
SPAN_S = BARS * 60 * INTERVAL  # a prefix's time span; _adj_ events fall in it
ADJ_SECS = 200  # prefixes that get _adj_ factors; more than a run writes
READS = ("scan", "split", "adj")


class Prefix:
    """What the server acknowledged for one (sec, interval) prefix."""

    def __init__(self, seed: int, sec: int):
        self.series = tickdata.Series(seed, sec, INTERVAL, BARS, salt=1)
        self.events = tickdata.AdjEvents(seed, sec, SPAN_S)
        self.acked = 0  # leading rows acknowledged

    def ranges(self, parts: int = 10) -> list[tuple[int, int]]:
        tm = self.series.tm
        step = self.acked // parts
        bounds = [int(tm[i * step]) for i in range(parts)] + [int(tm[self.acked - 1]) + 1]
        return list(zip(bounds[:-1], bounds[1:]))


class Writer:
    def __init__(self, conn, seed: int):
        self.conn, self.seed = conn, seed
        self.prefixes: list[Prefix] = []
        self.completed: list[Prefix] = []
        self.lat_ms: list[float] = []  # every batch, send to ack
        self.sync_ms: list[float] = []  # the batches sent with none in flight
        self.errors: list[str] = []
        self.rows_acked = 0

    def _ack(self, p: Prefix, n: int, t_send: float, sync: bool) -> None:
        ms = (time.monotonic() - t_send) * 1000
        self.lat_ms.append(ms)
        if sync:
            self.sync_ms.append(ms)
        p.acked += n
        self.rows_acked += n

    def cycle(self, sec: int, deadline: float | None) -> None:
        p = Prefix(self.seed, sec)
        self.prefixes.append(p)
        s = p.series
        if sec % 2:
            for lo in range(0, BARS, BATCH):
                if deadline is not None and time.monotonic() >= deadline:
                    return
                t = time.monotonic()
                self.conn.batch_insert(INSERT, s.insert_rows(np.arange(lo, lo + BATCH)))
                self._ack(p, BATCH, t, sync=True)
        else:
            sent = []
            for lo in range(0, BARS, BATCH):
                t = time.monotonic()
                fut = self.conn.batch_insert_async(
                    INSERT, s.insert_rows(np.arange(lo, lo + BATCH))
                )
                sent.append((fut, t))
            # acks arrive in send order (the server chains a connection's
            # batches), so reading them in order times each ack
            for fut, t in sent:
                fut.get()
                self._ack(p, BATCH, t, sync=False)
        if deadline is not None and time.monotonic() >= deadline:
            return
        rng = np.random.default_rng([self.seed, sec, 3])
        idx = np.sort(rng.choice(BARS, BATCH, replace=False))
        s.correct(idx, rng)
        t = time.monotonic()
        self.conn.batch_insert(INSERT, s.insert_rows(idx))
        ms = (time.monotonic() - t) * 1000
        self.lat_ms.append(ms)
        self.sync_ms.append(ms)
        self.rows_acked += BATCH
        self.completed.append(p)


class Reader:
    def __init__(self, conn, seed: int):
        self.conn = conn
        self.rng = np.random.default_rng([seed, 4])
        self.ops: list[tuple[str, float, int, str | None]] = []

    def read(self, p: Prefix, kind: str):
        key = (p.series.sec, INTERVAL)
        lo, hi, factor = 0, p.acked, None
        if kind in ("adj", "range"):  # "range": the adj window without adj()
            lo = int(self.rng.integers(p.acked - ADJ_RANGE + 1))
            hi = lo + ADJ_RANGE
            tm = p.series.tm
            args = key + (int(tm[lo]), int(tm[hi - 1]) + 1)
            if kind == "adj":
                factor = p.events.forward_px(tm)
        t = time.monotonic()
        try:
            if kind == "split":
                got = self.conn.execute_split(SPLIT, p.ranges(), key)
            elif kind == "scan":
                got = self.conn.execute(SCAN, key)
            else:
                got = self.conn.execute(ADJ if kind == "adj" else SPLIT, args)
            ms = (time.monotonic() - t) * 1000
            err = None if p.series.matches(got, lo, hi, factor) else "wrong result"
        except Exception as e:
            ms = (time.monotonic() - t) * 1000
            got, err = None, f"{type(e).__name__}: {e}"
        self.ops.append((kind, ms, len(got or ()), err))


def run(seed: int, seconds: int, trace: bool, rd: common.RunDir, rss: common.PeakRss) -> dict:
    t0 = time.monotonic()
    wh = rd.sub("warehouse")
    servers: list[common.Server] = []
    conns = []
    tracer = Tracer() if trace else None
    try:
        server = common.Server(rd, wh, traced=trace)
        servers.append(server)
        rss.track(server.pid)
        if tracer:
            tracer.install_client()
        wconn, rconn = server.connect(), server.connect()
        conns += [wconn, rconn]
        wconn.execute("create database bench")
        for c in conns:
            c.use("bench")
        wconn.execute(tickdata.CREATE.format(t="bulk"))
        wconn.batch_insert(
            tickdata.INSERT_ADJ,
            [r for sec in range(ADJ_SECS) for r in tickdata.AdjEvents(seed, sec, SPAN_S).rows(sec)],
        )
        # warm-up: the timed phase's own loop, untimed, for a sync and an
        # async cycle; op times fall by about half over the first two
        # cycles, as the JVM compiles the write and read paths
        writer = Writer(wconn, seed)
        reader = Reader(rconn, seed)
        _, sec = _drive(writer, reader, 1, float("inf"), cycles=WARM_CYCLES)
        warm_reads = len(reader.ops)
        warm_failed = sum(1 for o in reader.ops if o[3])
        reader.ops.clear()
        writer.lat_ms.clear()
        writer.sync_ms.clear()
        setup_s = time.monotonic() - t0
        errors0 = wconn.server_stats()["n_errors"]

        rss.reset()
        if tracer:
            tracer.start_phase()
        t_start = time.monotonic()
        deadline = t_start + seconds
        steal0 = common.steal_s()
        w_wall, _ = _drive(writer, reader, sec, deadline)
        steal = (common.steal_s() - steal0) / ((time.monotonic() - t_start) * common.CPUS)
        if tracer:
            tracer.end_phase()
        server_errors = wconn.server_stats()["n_errors"] - errors0
        stats = wconn.storage_stats("bulk")
        signature = tracer and _signature(reader, writer)
        for c in conns:
            c.close()
        conns = []
        rss.sample()
        peak = rss.stop()

        # durability: kill -9 the whole server tree, restart, read back
        if trace:
            server.stop_graceful()
        else:
            server.kill()
        common.log(f"timed phase done {time.monotonic() - t0:.1f}s")
        t_re = time.monotonic()
        server2 = common.Server(rd, wh, tag="-restart")
        servers.append(server2)
        vconns = [server2.connect("bench") for _ in range(common.CPUS)]
        conns += vconns
        durability = _verify(vconns, writer.prefixes)
        durability["restart_s"] = time.monotonic() - t_re
        common.log(f"durability checked {time.monotonic() - t0:.1f}s")
        res = _result(writer, reader, w_wall, setup_s, peak, stats, server_errors)
        res["report"]["host_steal_share"] = (steal, "ratio", 1)
        res["durability"] = durability
        res["rss_at_peak"] = rss.at_peak
        res["warmup_failed"] = warm_failed
        res["attempted"] += warm_reads
        res["failed"] += warm_failed
        if signature:  # the one-client passes are checked reads too
            marks = [m for ps in signature for m in ps]
            res["attempted"] += len(marks)
            res["failed"] += sum(not m[3] for m in marks)
        res["correct"] = res["failed"] == 0 and durability["ok"]
        if tracer:
            res["layers"] = tracer.tick_layers(
                server.trace_dir, reader.ops, "tick_bulk", signature,
                storage=stats, e2e=res["metrics"],
                server_errors=server_errors,
            )
        return res
    finally:
        for c in conns:
            c.close()
        for s in servers:
            s.kill()


def _drive(writer: Writer, reader: Reader, sec: int, deadline: float, cycles: int | None = None):
    """Cycles from prefix ``sec`` on, from one thread: each cycle's
    writes, then one read of each kind on a completed prefix drawn by
    the seed. Returns the time spent writing and the next prefix."""
    busy, end = 0.0, sec + cycles if cycles else None
    while time.monotonic() < deadline and sec != end:
        t = time.monotonic()
        try:
            writer.cycle(sec, deadline)
        except Exception as e:  # a failed batch ends the writes, counted
            writer.errors.append(f"{type(e).__name__}: {e}")
            break
        finally:
            busy += time.monotonic() - t
        sec += 1
        for kind in READS:
            if time.monotonic() >= deadline or not writer.completed:
                break
            p = writer.completed[int(reader.rng.integers(len(writer.completed)))]
            reader.read(p, kind)
    return busy, sec


def _signature(reader: Reader, writer: Writer):
    """One client, each read kind once on the same prefix, twice over:
    the job, stage and task counts per read kind that repeat exactly are
    the counts a later change may cite. The extra "range" read is the adj
    window without ``adj()``, the base of adj.extra_jobs/extra_ms."""
    passes = []
    if not writer.completed:
        return passes
    p = writer.completed[0]
    timed_ops = len(reader.ops)
    for _ in range(2):
        marks = []
        for kind in READS + ("range",):
            reader.rng = np.random.default_rng(0)  # same adj window each pass
            t = time.monotonic_ns()
            reader.read(p, kind)
            marks.append((kind, t, time.monotonic_ns(), reader.ops[-1][3] is None))
        passes.append(marks)
    del reader.ops[timed_ops:]  # keep the timed phase's reads only
    return passes


def _verify(conns, prefixes: list[Prefix]) -> dict:
    """Every acknowledged row readable after the restart, latest wins:
    row count, value checksum and the exact rows of each prefix, read
    over several connections at once."""
    todo = [p for p in prefixes if p.acked]

    def check(i: int) -> int:
        bad = 0
        for p in todo[i :: len(conns)]:
            try:
                got = conns[i].execute(SCAN, (p.series.sec, INTERVAL))
            except Exception:
                got = None
            ok = (
                got is not None
                and len(got) == p.acked
                and _checksum(got) == p.series.checksum(0, p.acked)
                and p.series.matches(got, 0, p.acked)
            )
            bad += not ok
        return bad

    with ThreadPoolExecutor(len(conns)) as ex:
        bad = sum(ex.map(check, range(len(conns))))
    return {
        "ok": bad == 0 and bool(todo),
        "prefixes_checked": len(todo),
        "prefixes_lost_or_wrong": bad,
        "rows_checked": sum(p.acked for p in todo),
        "scope": "process crash (SIGKILL); the OS page cache survives, so not power loss",
    }


def _checksum(rows: list[tuple]) -> float:
    """Sum of the value columns, summed per column as Series.checksum."""
    return float(sum(np.array(c, dtype=np.float64).sum() for c in list(zip(*rows))[3:]))


def _result(writer: Writer, reader: Reader, w_wall, setup_s, peak_mb, stats, server_errors) -> dict:
    w = common.summarize(writer.lat_ms)
    ws = common.summarize(writer.sync_ms)
    ok_reads = [o for o in reader.ops if o[3] is None]
    r = common.summarize([o[1] for o in ok_reads])
    scans = [o for o in ok_reads if o[0] != "adj"]
    scan_rows = sum(o[2] for o in scans)
    scan_s = sum(o[1] for o in scans) / 1000
    by_kind = {k: common.summarize([o[1] for o in ok_reads if o[0] == k]) for k in READS}
    attempted = len(writer.lat_ms) + len(writer.errors) + len(reader.ops)
    failed = len(writer.errors) + len(reader.ops) - len(ok_reads)
    stored = (stats["base_bytes"] + stats["log_bytes"]) / (
        writer.rows_acked * tickdata.ROW_BYTES
    )
    metrics = {
        "setup_s": (setup_s, "s", 1),
        "peak_rss_mb": (peak_mb, "MB", 1),
        "op_p50_ms": (ws.get("p50", 0.0), "ms", ws["n"]),
        "op_tail_ms": (ws.get("tail", 0.0), "ms", ws["n"]),
        "ops_s": (len(writer.lat_ms) / w_wall, "1/s", w["n"]),
        "rows_s": (scan_rows / scan_s if scan_s else 0.0, "rows/s", len(scans)),
    }
    report = {
        "setup_s": (setup_s, "s", 1),
        "peak_rss_mb": (peak_mb, "MB", 1),
        "error_ratio": (failed / max(1, attempted), "ratio", attempted),
        "read_p50_ms": (r.get("p50"), "ms", r["n"]),
        "read_tail_ms": (r.get("tail"), "ms", r["n"], r.get("tail_pct")),
        "scan_rows_s": (metrics["rows_s"][0], "rows/s", len(scans)),
        "write_p50_ms": (w.get("p50"), "ms", w["n"]),
        "write_tail_ms": (w.get("tail"), "ms", w["n"], w.get("tail_pct")),
        "sync_write_p50_ms": (ws.get("p50"), "ms", ws["n"]),
        "sync_write_tail_ms": (ws.get("tail"), "ms", ws["n"], ws.get("tail_pct")),
        "ingest_rows_s": (len(writer.lat_ms) * BATCH / w_wall, "rows/s", w["n"]),
        "stored_bytes_per_user_byte": (stored, "ratio", 1),
    }
    for k in READS:
        report[f"{k}_p50_ms"] = (by_kind[k].get("p50"), "ms", by_kind[k]["n"])
    errs = sorted({o[3] for o in reader.ops if o[3]} | set(writer.errors))[:5]
    return {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "metrics": metrics,
        "report": report,
        "server_errors": server_errors,
        "errors": errs,
    }
