"""The traced run: client-side spans, and the per-layer numbers built from
them, the traced server's spans (perfbench/launcher.py) and the Spark
event log (perfbench/eventlog.py).

End-to-end metrics come from untraced runs only. A ``--trace 1`` run
repeats the workload with the hooks on; the difference between its
end-to-end numbers and those of the last untraced run of the same
workload in this checkout (kept in ``.perfbench_out/``) is reported as
the tracing overhead.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time

from perfbench import common, eventlog

OUT = os.path.join(common.ROOT, ".perfbench_out")
SPARK_KEYS = (
    "jobs", "stages", "tasks", "sched_delay_ms", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "python_worker_ms", "python_bytes_sent", "python_bytes_returned",
)
# per-layer metrics every traced run reports (the gate's per_layer list)
SUMMARY = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.sched_delay_ms": "ms",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.python_bytes_sent": "B",
    "spark.python_bytes_returned": "B",
    "spark.plan_ms": "ms",
    "traced.op_p50_ms": "ms",
}
DATA_KINDS = ("write", "scan", "split", "adj", "range")


def _spark_name(k: str) -> str:
    return {"jobs": "jobs_per_op", "stages": "stages_per_op", "tasks": "tasks_per_op"}.get(k, k)


def save_untraced(workload: str, seed: int, metrics: dict) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{workload}-untraced.json"), "w") as f:
        json.dump({"seed": seed, "metrics": metrics}, f)


def overhead(workload: str, traced_metrics: dict) -> dict:
    """Traced minus untraced end-to-end metrics, against the last
    untraced run of this workload in this checkout."""
    path = os.path.join(OUT, f"{workload}-untraced.json")
    if not os.path.exists(path):
        return {"absent": "no untraced run of this workload in this checkout yet"}
    with open(path) as f:
        base = json.load(f)
    return {
        "base_seed": base["seed"],
        "delta": {
            k: traced_metrics[k][0] - v[0]
            for k, v in base["metrics"].items()
            if k in traced_metrics and traced_metrics[k][0] is not None
        },
    }


def _write_spans(name: str, spans: dict) -> str:
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, name)
    with open(path, "w") as f:
        json.dump(spans, f)
    return os.path.relpath(path, common.ROOT)


class Tracer:
    """Client-side hooks of the traced tick run: spans around the wire
    codec calls of the client process and the send time of every
    request (for the server's queueing delay)."""

    def __init__(self):
        self.spans: list[tuple] = []  # (name, start_ns, end_ns, attrs)
        self.sends: dict[tuple, int] = {}  # (local port, ticket) -> send ns
        self._local = threading.local()
        self.phase = (0, 0)

    def _timed(self, name, fn, attrs=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.monotonic_ns()
            out = fn(*args, **kwargs)
            self.spans.append((name, t0, time.monotonic_ns(), attrs(args, out) if attrs else None))
            return out

        return wrapper

    def install_client(self) -> None:
        import opentick_spark.client as client_mod
        import opentick_spark.server as server_mod
        import opentick_spark.wire_bson as wire_bson
        import opentick_spark.wire_packed as wire_packed

        local = self._local
        dumps = wire_bson.dumps

        def encode(msg):
            local.ticket = msg.get("0") if isinstance(msg, dict) else None
            return dumps(msg)

        wire_bson.dumps = self._timed("client.encode", encode, lambda a, o: {"bytes": len(o)})
        wire_bson.loads = self._timed("client.decode", wire_bson.loads, lambda a, o: {"bytes": len(a[0])})
        wire_packed.pack_columns = self._timed("client.encode", wire_packed.pack_columns)
        T = client_mod.TCPConnection
        T._extract_result = self._timed("client.decode", T._extract_result)
        send = server_mod.send_frame

        def send_frame(sock, payload):
            ticket = getattr(local, "ticket", None)
            local.ticket = None
            if ticket is not None:
                self.sends[(sock.getsockname()[1], ticket)] = time.monotonic_ns()
            return send(sock, payload)

        server_mod.send_frame = send_frame

    def start_phase(self) -> None:
        self.phase = (time.monotonic_ns(), 0)

    def end_phase(self) -> None:
        self.phase = (self.phase[0], time.monotonic_ns())

    def tick_layers(self, trace_dir, ops, workload, signature, storage,
                    e2e: dict, server_errors: int) -> dict:
        with open(os.path.join(trace_dir, "spans.json")) as f:
            server_spans = json.load(f)["spans"]
        groups = eventlog.parse(os.path.join(trace_dir, "eventlog"))
        spans_file = _write_spans(
            f"{workload}-spans-{os.getpid()}.json",
            {"server": server_spans, "client": self.spans},
        )
        reqs = _requests(server_spans)
        lo, hi = self.phase
        timed = [r for r in reqs.values() if lo <= r["t0"] <= hi and r["kind"] in DATA_KINDS]
        n = max(1, len(timed))
        reads = [r for r in timed if r["kind"] != "write"]
        writes = [r for r in timed if r["kind"] == "write"]
        for r in reqs.values():
            r["spark"] = groups.get(f"req:{r['id']}", {})

        def tot(rs, name):
            return sum(r["ms"].get(name, 0.0) for r in rs)

        def client_ms(name):
            return sum((b - a) / 1e6 for nm, a, b, _ in self.spans if nm == name and lo <= a <= hi)

        waits = []
        for r in timed:
            sent = self.sends.get((r["port"], r["ticket"]))
            entry = r.get("engine_t0")
            if sent is not None and entry is not None:
                waits.append((entry - sent) / 1e6 - r["decode_ms"])
        rows_returned = sum(o[2] for o in ops if o[3] is None)
        layers = {
            "client.decode_ms": client_ms("client.decode") / n,
            "client.encode_ms": client_ms("client.encode") / n,
            "wire.decode_ms": sum(r["decode_ms"] for r in timed) / n + tot(timed, "wire.unpack") / n,
            "wire.encode_ms": (tot(timed, "wire.encode") + tot(timed, "wire.pack")) / n,
            "wire.request_bytes": sum(r["request_bytes"] for r in timed) / n,
            "wire.reply_bytes": sum(r["reply_bytes"] for r in timed) / n,
            "server.wait_ms": statistics.median(waits) if waits else None,
            "server.errors": server_errors,
            "dialect.parse_ms": sum(
                r["ms"].get("dialect.parse", 0.0) for r in reqs.values() if lo <= r["t0"] <= hi
            ) / n,
            "dialect.parses_per_op": sum(
                r["count"].get("dialect.parse", 0) for r in reqs.values() if lo <= r["t0"] <= hi
            ) / n,
            "engine.exec_ms": sum(r["engine_ms"] for r in timed) / n,
            "engine.plan_ms": tot(timed, "engine.plan") / n,
            "engine.collect_ms": tot(reads, "engine.collect") / max(1, len(reads)),
            "engine.bind_ms": (tot(writes, "engine.batch_insert_columns") - tot(writes, "table.commit"))
            / max(1, len(writes)),
            "table.read_build_ms": tot(reads, "table.read") / max(1, len(reads)),
            "table.commit_ms": tot(writes, "table.commit") / max(1, len(writes)),
            "table.log_files": storage["log_files"],
            "table.stored_bytes": storage["base_bytes"] + storage["log_bytes"],
            "table.files_read_per_op": sum(r["spark"].get("files_read", 0) for r in reads)
            / max(1, len(reads)),
            "table.rows_examined_per_row": sum(r["spark"].get("scan_rows", 0) for r in reads)
            / max(1, rows_returned),
            "adj.apply_ms": tot(timed, "adj.apply") / max(1, sum(r["kind"] == "adj" for r in timed)),
        }
        for k in SPARK_KEYS:
            layers[f"spark.{_spark_name(k)}"] = sum(r["spark"].get(k, 0.0) for r in timed) / n
        by_kind = {}
        for kind in DATA_KINDS:
            rs = [r for r in timed if r["kind"] == kind]
            if rs:
                by_kind[kind] = {
                    "n": len(rs),
                    "engine.exec_ms_p50": statistics.median(r["engine_ms"] for r in rs),
                    "engine.plan_ms_p50": statistics.median(r["ms"].get("engine.plan", 0.0) for r in rs),
                    "spark.jobs_per_op": sum(r["spark"].get("jobs", 0) for r in rs) / len(rs),
                    "spark.stages_per_op": sum(r["spark"].get("stages", 0) for r in rs) / len(rs),
                }
        sig = _signature(signature, reqs)
        if "adj" in sig and "range" in sig:
            a, b = sig["adj"], sig["range"]
            layers["adj.extra_jobs"] = a["jobs"][0] - b["jobs"][0]
            layers["adj.extra_ms"] = a["engine_ms"][0] - b["engine_ms"][0]
        summary = {k: layers[k] for k in SUMMARY if k in layers}
        summary["spark.plan_ms"] = layers["engine.plan_ms"]
        summary["traced.op_p50_ms"] = e2e["op_p50_ms"][0]
        return {
            "summary": {k: {"value": v, "unit": SUMMARY[k]} for k, v in summary.items()},
            "layers": layers,
            "by_kind": by_kind,
            "count_signature": sig,
            "traced_ops": len(timed),
            "overhead": overhead(workload, e2e),
            "absent": {
                "operators.*": "no registry operator runs on the tick path",
                "streaming.*": "no streaming query runs on the tick path",
            },
            "spans": spans_file,
        }


def _requests(spans: list) -> dict:
    """Server spans folded per request: kind, timings per layer name."""
    reqs: dict = {}
    frames: dict = {}
    for req, name, t0, t1, parent, sid, attrs in spans:
        if name == "server.handle":
            sql = (attrs or {}).get("sql") or ""
            cmd = attrs.get("cmd")
            if cmd == "batch":
                kind = "write"
            elif cmd == "split":
                kind = "split"
            elif cmd == "run" and "adj(" in sql:
                kind = "adj"
            elif cmd == "run" and "tm>=" in sql:
                kind = "range"
            elif cmd == "run" and sql.lstrip().lower().startswith("select"):
                kind = "scan"
            else:
                kind = str(cmd)
            r = reqs.setdefault(req, {"ms": {}, "count": {}})
            r.update(id=req, kind=kind, t0=t0, t1=t1, port=attrs.get("port"),
                     ticket=attrs.get("ticket"))
        elif name == "wire.decode_frame":
            frames[(attrs.get("port"), attrs.get("ticket"))] = ((t1 - t0) / 1e6, attrs["bytes"])
    for req, name, t0, t1, parent, sid, attrs in spans:
        if name in ("server.handle", "wire.decode_frame") or req not in reqs:
            continue
        r = reqs[req]
        ms = attrs["ms"] if name == "engine.plan" else (t1 - t0) / 1e6
        r["ms"][name] = r["ms"].get(name, 0.0) + ms
        r["count"][name] = r["count"].get(name, 0) + 1
        if name == "wire.encode" and parent == req:
            r["reply_bytes"] = r.get("reply_bytes", 0) + attrs["bytes"]
        if name.startswith("engine.") and name not in ("engine.plan", "engine.collect", "engine.prepare"):
            if parent == req:
                r["engine_t0"] = min(t0, r.get("engine_t0", t0))
    for r in reqs.values():
        dec, nbytes = frames.get((r.get("port"), r.get("ticket")), (0.0, 0))
        r["decode_ms"], r["request_bytes"] = dec, nbytes
        r.setdefault("reply_bytes", 0)
        top = [k for k in r["ms"] if k in (
            "engine.execute_packed_payload", "engine.execute_split_packed_payload",
            "engine.batch_insert_columns", "engine.batch_insert")]
        r["engine_ms"] = sum(r["ms"][k] for k in top) - r["ms"].get("wire.pack", 0.0)
    return reqs


def _signature(passes, reqs: dict) -> dict:
    """Jobs, stages and tasks per read kind in each of the two one-client
    passes, and which of the three repeat exactly."""
    if not passes:
        return {}
    out: dict = {}
    for marks in passes:
        for kind, t0, t1, ok in marks:
            rs = [r for r in reqs.values() if t0 <= r["t0"] <= t1 and r["kind"] in DATA_KINDS]
            e = out.setdefault(kind, {"jobs": [], "stages": [], "tasks": [], "engine_ms": [], "ok": []})
            for k in ("jobs", "stages", "tasks"):
                e[k].append(int(sum(r["spark"].get(k, 0) for r in rs)))
            e["engine_ms"].append(sum(r["engine_ms"] for r in rs))
            e["ok"].append(ok)
    for e in out.values():
        e["repeats"] = [k for k in ("jobs", "stages", "tasks") if len(set(e[k])) == 1]
    return out


def corpus_layers(res: dict, log_dir: str) -> dict:
    """Per-layer numbers of the traced corpus run: per operator and pass,
    from job groups ``op:<entry>:<pass>`` (plus the streaming query's own
    run-id group), the planning times and the streaming progress."""
    groups = eventlog.parse(log_dir)
    runs = res.pop("runs")
    stream = res.pop("streaming")
    plan = res.pop("plan_ms")
    timed_ids = stream["run_ids"][-2:]  # one streaming query per traced pass
    for p, rid in enumerate(timed_ids):
        g = groups.get(f"op:streaming_window_counts:{p}")
        if g is not None and rid in groups:
            for k, v in groups[rid].items():
                g[k] += v
    per_op: dict = {}
    for name, ms, p in runs:
        g = groups.get(f"op:{name}:{p}", {})
        e = per_op.setdefault(name, {"s": [], "jobs": [], "stages": [], "tasks": [],
                                     "shuffle_bytes": [], "python_worker_ms": []})
        e["s"].append(ms / 1000)
        for k in ("jobs", "stages", "tasks"):
            e[k].append(int(g.get(k, 0)))
        e["shuffle_bytes"].append(g.get("shuffle_read_bytes", 0) + g.get("shuffle_write_bytes", 0))
        e["python_worker_ms"].append(g.get("python_worker_ms", 0.0))
    layers = {}
    for name, e in per_op.items():
        for k, v in e.items():
            layers[f"operators.{name}.{k}"] = statistics.median(v)
    n = max(1, len(runs))
    for k in SPARK_KEYS:
        layers[f"spark.{_spark_name(k)}"] = sum(
            groups.get(f"op:{name}:{p}", {}).get(k, 0.0) for name, _, p in runs
        ) / n
    batches = [d for rid, d in stream["batches"] if rid in timed_ids]
    layers["streaming.batches"] = len(batches) / max(1, len(timed_ids))
    layers["streaming.add_batch_ms"] = sum(d.get("addBatch", 0) for d in batches) / max(1, len(timed_ids))
    layers["streaming.wal_commit_ms"] = sum(d.get("walCommit", 0) for d in batches) / max(1, len(timed_ids))
    plan_all = [v for vs in plan.values() for v in vs]
    layers["spark.plan_ms"] = sum(plan_all) / max(1, len(plan_all))
    sig = {
        name: {
            **{k: e[k] for k in ("jobs", "stages", "tasks")},
            "repeats": [k for k in ("jobs", "stages", "tasks") if len(set(e[k])) == 1],
        }
        for name, e in per_op.items()
    }
    summary = {k: layers[k] for k in SUMMARY if k in layers}
    summary["traced.op_p50_ms"] = res["metrics"]["op_p50_ms"][0]
    return {
        "summary": {k: {"value": v, "unit": SUMMARY[k]} for k, v in summary.items()},
        "layers": layers,
        "count_signature": sig,
        "overhead": overhead("corpus_batch", res["metrics"]),
        "absent": {
            "client.* wire.* server.* dialect.* engine.* table.* adj.*":
                "corpus_batch calls the registry in-process; no server, wire or table code runs",
        },
    }
