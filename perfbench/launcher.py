"""Traced wire server: ``opentick_spark.server.main`` with timing hooks.

    python perfbench/launcher.py TRACE_DIR [server flags...]

Before calling ``main`` this wraps public entry points of each layer of
the server process — the wire codecs (``wire_bson.dumps/loads``,
``wire_packed.pack_*/unpack_columns``), request dispatch
(``_Session.handle``), the dialect parser, the engine calls the wire
uses, ``TableStore.read``/``append_columns``, ``apply_adj`` and
``DataFrame.toArrow`` — and records a span (name, start, end, parent,
request id) around each call. Every request runs under its own Spark
job group, and the session writes an uncompressed event log, so
perfbench/eventlog.py can attribute jobs, stages, tasks, shuffle and
executor time to requests. Spans stay in memory; on SIGINT the server
stops, the Spark session is stopped (flushing the event log) and the
spans are written to TRACE_DIR/spans.json.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import opentick_spark.engine as engine_mod  # noqa: E402
import opentick_spark.server as server_mod  # noqa: E402
import opentick_spark.session as session_mod  # noqa: E402
import opentick_spark.wire_bson as wire_bson  # noqa: E402
import opentick_spark.wire_packed as wire_packed  # noqa: E402
from opentick_spark.table import TableStore  # noqa: E402
from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

SPANS: list[tuple] = []  # (request, name, start_ns, end_ns, parent, attrs)
_ids = itertools.count(1)
_local = threading.local()
_spark = []


def _stack() -> list:
    if not hasattr(_local, "stack"):
        _local.stack = []
    return _local.stack


def traced(name: str, fn, attrs=None):
    """``fn`` wrapped in a span; ``attrs(args, result)`` adds numbers."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        stack = _stack()
        sid = next(_ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.monotonic_ns()
        try:
            out = fn(*args, **kwargs)
        finally:
            stack.pop()
        extra = attrs(args, out) if attrs else None
        SPANS.append(
            (getattr(_local, "req", None), name, t0, time.monotonic_ns(), parent, sid, extra)
        )
        return out

    return wrapper


def _handle(orig):
    """One request: its own span tree id and Spark job group."""

    @functools.wraps(orig)
    def handle(self, msg):
        req = next(_ids)
        _local.req = req
        _local.stack = [req]
        try:
            port = self.sock.getpeername()[1]
        except OSError:
            port = None
        cmd = msg.get("1")
        what = msg.get("2")
        sql = self.prepared_sql.get(what) if isinstance(what, int) else what
        self.server.spark.sparkContext.setJobGroup(f"req:{req}", str(cmd))
        t0 = time.monotonic_ns()
        try:
            return orig(self, msg)
        finally:
            SPANS.append(
                (req, "server.handle", t0, time.monotonic_ns(), None, req,
                 {"port": port, "ticket": msg.get("0"), "cmd": cmd,
                  "sql": sql if isinstance(sql, str) else None})
            )
            _local.req = None

    return handle


def _run(orig):
    """Remember the peer port on the session's reader thread, so frame
    decodes there can be matched to the request they carry."""

    @functools.wraps(orig)
    def run(self):
        try:
            _local.port = self.sock.getpeername()[1]
        except OSError:
            _local.port = None
        return orig(self)

    return run


def _loads(orig):
    @functools.wraps(orig)
    def loads(data):
        t0 = time.monotonic_ns()
        out = orig(data)
        ticket = out.get("0") if isinstance(out, dict) else None
        SPANS.append(
            (None, "wire.decode_frame", t0, time.monotonic_ns(), None, next(_ids),
             {"port": getattr(_local, "port", None), "ticket": ticket, "bytes": len(data)})
        )
        return out

    return loads


def _to_arrow(orig):
    @functools.wraps(orig)
    def to_arrow(self):
        out = traced("engine.collect", orig)(self)
        try:  # driver planning phases of this DataFrame's execution
            it = self._jdf.queryExecution().tracker().phases().iterator()
            plan = 0.0
            while it.hasNext():
                plan += it.next()._2().durationMs()
            SPANS.append(
                (getattr(_local, "req", None), "engine.plan", 0, 0, None, next(_ids),
                 {"ms": plan})
            )
        except Exception:  # planning numbers are best-effort
            pass
        return out

    return to_arrow


def _get_spark(orig, log_dir: str):
    @functools.wraps(orig)
    def get_spark(*args, extra_conf=None, **kwargs):
        conf = dict(extra_conf or {})
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
        spark = orig(*args, extra_conf=conf, **kwargs)
        _spark.append(spark)
        return spark

    return get_spark


def install(trace_dir: str) -> None:
    log_dir = os.path.join(trace_dir, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    session_mod.get_spark = _get_spark(session_mod.get_spark, log_dir)
    n_bytes = lambda a, out: {"bytes": len(out)}  # noqa: E731
    wire_bson.dumps = traced("wire.encode", wire_bson.dumps, n_bytes)
    wire_bson.loads = _loads(wire_bson.loads)
    wire_packed.pack_arrow_table = traced("wire.pack", wire_packed.pack_arrow_table)
    wire_packed.pack_columns = traced("wire.pack", wire_packed.pack_columns)
    server_mod.unpack_columns = traced("wire.unpack", server_mod.unpack_columns)
    server_mod._Session.handle = _handle(server_mod._Session.handle)
    server_mod._Session.run = _run(server_mod._Session.run)
    engine_mod.parse = traced("dialect.parse", engine_mod.parse)
    engine_mod.apply_adj = traced("adj.apply", engine_mod.apply_adj)
    E = engine_mod.Engine
    for name in (
        "execute_packed_payload",
        "execute_split_packed_payload",
        "batch_insert_columns",
        "batch_insert",
        "prepare",
    ):
        setattr(E, name, traced(f"engine.{name}", getattr(E, name)))
    TableStore.read = traced("table.read", TableStore.read)
    TableStore.append_columns = traced("table.commit", TableStore.append_columns)
    DataFrame.toArrow = _to_arrow(DataFrame.toArrow)


def main() -> None:
    trace_dir = sys.argv[1]
    install(trace_dir)
    try:
        server_mod.main(sys.argv[2:])
    finally:
        t_stop = time.monotonic_ns()
        if _spark:
            _spark[0].stop()  # flushes the event log
        with open(os.path.join(trace_dir, "spans.json"), "w") as f:
            json.dump({"spans": SPANS, "stopped_ns": t_stop}, f)
        print("TRACE_WRITTEN", flush=True)


if __name__ == "__main__":
    main()
