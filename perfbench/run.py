#!/usr/bin/env python3
"""Repo benchmark: serve and ingest workloads, oracle-checked.

    python3 perfbench/run.py --workload serve|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root. The engine runs in its own process at
its defaults, with SPARK_GRAFT_CPUS set to the host's core count. The
last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}; the line before it is the host-health record. With
--trace 0 the metrics are the end-to-end ones (BENCHMARK.json
"end_to_end"); with --trace 1 they are the per-layer ones, and the
spans plus a run summary are written to .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

INGEST_KEY = "streaming_search_e2e"
# serve warm-up: slices of closed-loop requests from nproc clients; cold
# requests run ~10x slower, and slice p50s level off by the fourth slice
WARM_SLICE, WARM_SLICES = 20, 4
OFFERED_SHARE = 0.5  # open-loop rate, as a share of the last warm-up slice's rate
LATENCY_LIMIT_MS = 2500  # a response later than this misses the goodput count
SERVE_OPS = ("search", "lookup", "chunks", "upload")
NPROC = len(os.sched_getaffinity(0))

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms"}


class EngineDied(RuntimeError):
    pass


class Engine:
    """The program under test (perfbench/engine.py) in a child process,
    with its process tree's RSS sampled from /proc."""

    def __init__(self, mode: str, lake: str, spans_out: str, work: str):
        from host import PeakRss

        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env.update(
            SPARK_GRAFT_CPUS=str(NPROC),
            PYTHONPATH=os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
            # scratch (Python temp files, JVM temp files, Spark's block
            # manager and spill) goes under the run's work dir, not /tmp
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        )
        self.log_path = os.path.join(work, f"{mode}.log")
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), mode, lake, spans_out],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, env=env, cwd=work,
        )
        self.rss = PeakRss(self.proc.pid)
        self.ready = self.recv()

    def recv(self) -> dict:
        line = self.proc.stdout.readline()
        if not line:
            raise EngineDied(self.log_tail())
        return json.loads(line)

    def call(self, **msg) -> dict:
        self.proc.stdin.write(json.dumps(msg) + "\n")
        self.proc.stdin.flush()
        return self.recv()

    def floor(self) -> float:
        return self.call(cmd="floor")["floor_s"]

    def log_tail(self) -> str:
        self.log.flush()
        with open(self.log_path) as fh:
            return "".join(fh.readlines()[-30:])

    def close(self) -> float:
        """Stop the engine, wait for its tree to exit; → peak RSS in MB."""
        from host import tree_pids

        pids = tree_pids(self.proc.pid)
        try:
            if self.proc.poll() is None:
                self.call(cmd="stop")
                self.proc.wait(timeout=60)
        except (EngineDied, OSError, subprocess.TimeoutExpired):
            pass
        finally:
            kill_tree(self.proc, pids)
            self.log.close()
        return self.rss.stop()


def kill_tree(proc: subprocess.Popen, pids: list[int]) -> None:
    """Kill what is left of the engine's tree and wait until every
    process in it (the JVM and Python workers too) has ended."""
    from host import alive

    for pid in reversed(pids):
        if alive(pid):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    proc.wait()
    deadline = time.time() + 30
    while any(alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs) -> float:
    """The highest percentile with ten samples beyond it (0 under 11 samples)."""
    s = sorted(xs)
    return s[-11] if len(s) > 10 else 0.0


# ---------------------------------------------------------------- ingest


def ingest(args, work: str) -> dict:
    from lake import make_lake
    from oracle import ingest_expected, rows_key

    lake = make_lake(args.seed, os.path.join(work, "lake"))
    expected = ingest_expected(lake, INGEST_KEY)  # not part of setup_s
    spans_out = trace_path(args, "spans") if args.trace else "-"
    attempted = failed = 0

    def rep(engine, traced=False):
        nonlocal attempted, failed
        r = engine.call(cmd="rep", traced=traced)
        attempted += 1
        if rows_key(r["rows"]) != expected:
            failed += 1
            print(f"# ingest rep {r['rep']}: rows differ from the oracle", file=sys.stderr)
        return r

    t0 = time.perf_counter()
    engine = Engine("ingest", lake, spans_out, work)
    try:
        # one warm-up rep: the first rep runs ~2.3x a later one; reps 2-4
        # still drift down ~8%, which the run budget cannot wait out
        warm = [rep(engine)]
        setup_s = time.perf_counter() - t0
        floors, reps = [], []

        def measure(traced=False):
            floors.append(engine.floor())
            reps.append(rep(engine, traced))

        if args.trace:
            # one untraced rep between two traced ones, so the overhead
            # estimate cancels the drift of a still-warming JIT
            for traced in (True, False, True):
                measure(traced)
        else:
            # as many whole reps as fit in --seconds, at least one
            measure()
            while sum(r["wall_s"] for r in reps) + reps[-1]["wall_s"] <= args.seconds:
                measure()
        snap = rest_snapshot(engine) if args.trace else None
    finally:
        peak_mb = engine.close()
    host = {"warmup_reps": len(warm), "warmup_wall_s": [w["wall_s"] for w in warm],
            "rep_wall_s": [r["wall_s"] for r in reps], "action_floor_s": floors,
            "peak_rss_mb": peak_mb}
    if not args.trace:
        metrics = {"setup_s": setup_s,
                   "latency_p50_ms": 1e3 * median([r["wall_s"] for r in reps])}
    else:
        metrics = ingest_layers(snap, reps, load_spans(spans_out), floors)
        metrics["host.peak_rss_mb"] = peak_mb
    return result(attempted, failed, metrics, host, args)


def ingest_layers(snap, reps, spans, floors) -> dict:
    from tracing import (
        jobs_between, self_times, session_metrics, streaming_metrics,
    )

    selft = self_times(spans)
    per_rep = []
    for r in (r for r in reps if r["traced"]):
        mine = [s for s in spans if s["trace"] == f"rep{r['rep']}"]

        def self_s(name):
            return sum(selft[s["id"]] for s in mine if s["name"] == name)

        m = session_metrics(snap, jobs_between(snap, r["t0"], r["t1"]), r["wall_s"], NPROC)
        m.update(streaming_metrics(r["stream_events"]))
        m.update(materialize_metrics(mine))
        m.update({
            "operators.chunking.chunk_sentence_s": self_s("operators.chunking.chunk_sentence"),
            "operators.embedding.embed_chunks_s": self_s("operators.embedding.embed_chunks"),
            "operators.similarity.kmeans_fit_s": self_s("operators.similarity.kmeans_fit"),
            "operators.similarity.probe_serve_s": self_s("operators.similarity.probe_cells")
            + self_s("action"),
            f"registry.{INGEST_KEY}_s": r["wall_s"],
        })
        per_rep.append(m)
    out = {k: median([m[k] for m in per_rep]) for k in per_rep[0]}
    untraced = [r["wall_s"] for r in reps if not r["traced"]]
    out["trace.overhead_ms"] = 1e3 * (
        median([r["wall_s"] for r in reps if r["traced"]]) - median(untraced))
    out["host.action_floor_ms"] = 1e3 * median(floors)
    return out


# ----------------------------------------------------------------- serve


def serve(args, work: str) -> dict:
    import pyarrow.parquet as pq

    from lake import make_lake
    from loadgen import make_plan, request_stream, run_closed_loop, run_open_loop
    from oracle import ServeOracle

    lake = make_lake(args.seed, os.path.join(work, "lake"))
    docs = {d["doc_id"]: d for d in pq.read_table(
        os.path.join(lake, "documents.parquet")).to_pylist()}
    warm = list(itertools.islice(request_stream(args.seed, 1, docs),
                                 WARM_SLICES * WARM_SLICE))
    timed = request_stream(args.seed, 2, docs)
    if args.trace:
        timed = every_other_traced(timed)
    spans_out = trace_path(args, "spans") if args.trace else "-"

    t0 = time.perf_counter()
    engine = Engine("serve", lake, spans_out, work)
    open_plan, offered = [], 0.0
    try:
        port = engine.ready["port"]
        slice_p50, slice_rps = [], []
        for k in range(WARM_SLICES):
            reqs = warm[k * WARM_SLICE:(k + 1) * WARM_SLICE]
            s0 = time.perf_counter()
            run_closed_loop(port, iter(reqs), math.inf, NPROC)
            slice_rps.append(len(reqs) / (time.perf_counter() - s0))
            slice_p50.append(median([1e3 * (r.done - r.sent) for r in reqs]))
        setup_s = time.perf_counter() - t0
        floors = [engine.floor()]
        plan = run_closed_loop(port, timed, args.seconds)
        floors.append(engine.floor())
        if args.trace:
            offered = OFFERED_SHARE * slice_rps[-1]
            open_plan = make_plan(args.seed, 3, args.seconds, offered, docs)
            for i, r in enumerate(open_plan):
                r.rid = f"o{i}"
            origin = run_open_loop(port, open_plan, NPROC)
            floors.append(engine.floor())
        snap = rest_snapshot(engine) if args.trace else None
    finally:
        peak_mb = engine.close()

    sent = warm + plan + open_plan
    oracle = ServeOracle(lake, [r.arg.get("doc_id", r.arg.get("source"))
                                for r in sent if r.op in ("chunks", "upload")])
    ok = {id(r): check_serve(oracle, r) for r in sent}
    lat = {id(r): 1e3 * (r.done - r.sent) for r in plan}
    seen = {r.arg["query"] for r in warm if r.op == "search"}
    repeats = []
    for r in plan:
        if r.op == "search":
            repeats.append(r.arg["query"] in seen)
            seen.add(r.arg["query"])
    host = {"closed_loop_clients": 1, "requests": len(plan), "warmup_clients": NPROC,
            "warmup_slices": len(slice_p50), "warmup_slice_p50_ms": slice_p50,
            "warmup_slice_rps": slice_rps,
            "warmup_steady": abs(slice_p50[-1] - slice_p50[-2]) <= 0.2 * slice_p50[-2],
            "search_requests": len(repeats),
            "search_repeat_share": sum(repeats) / max(len(repeats), 1),
            "action_floor_s": floors, "peak_rss_mb": peak_mb}
    if not args.trace:
        metrics = {"setup_s": setup_s, "latency_p50_ms": median(list(lat.values()))}
    else:
        for r in open_plan:  # open loop: latency from the due time
            lat[id(r)] = 1e3 * (r.done - origin - r.due)
        late = sorted(1e3 * (r.sent - origin - r.due) for r in open_plan)
        host.update(offered_rps=offered, open_loop_requests=len(open_plan),
                    generator_late_ms_p50=median(late), generator_late_ms_max=late[-1])
        metrics = serve_layers(snap, plan, open_plan, lat, ok, load_spans(spans_out),
                               floors, args.seconds)
        metrics["host.peak_rss_mb"] = peak_mb
    return result(len(ok), sum(not v for v in ok.values()), metrics, host, args)


def every_other_traced(requests):
    """Trace every other closed-loop request, to measure the overhead."""
    for i, r in enumerate(requests):
        r.rid = f"c{i}" if i % 2 else None
        yield r


def check_serve(oracle, r) -> bool:
    if r.error or r.status != 200:
        return False
    a = r.arg
    try:
        if r.op == "search":
            return oracle.search_ok(a["query"], a["k"], r.body["results"])
        if r.op == "upload":
            return oracle.upload_ok(a["filename"], a["source"], r.body)
        return getattr(oracle, f"{r.op}_ok")(a["doc_id"], r.body)
    except (KeyError, TypeError):
        return False


def serve_layers(snap, plan, open_plan, lat, ok, spans, floors, seconds) -> dict:
    """Per-op service breakdown from the traced closed-loop requests;
    waiting, tail and goodput from the open-loop window."""
    from tracing import jobs_in_group, session_metrics, union_length

    def op_of(r):
        return "lookup" if r.op == "status" else r.op

    out: dict[str, float] = {}
    for op in SERVE_OPS:
        out[f"serve.{op}_p50_ms"] = median([lat[id(r)] for r in plan if op_of(r) == op])
    out["trace.overhead_ms"] = median([lat[id(r)] for r in plan if r.rid]) - median(
        [lat[id(r)] for r in plan if not r.rid])
    out["serve.open_latency_p50_ms"] = median([lat[id(r)] for r in open_plan])
    out["serve.open_latency_tail_ms"] = tail([lat[id(r)] for r in open_plan])
    out["serve.goodput_rps"] = sum(
        ok[id(r)] and lat[id(r)] <= LATENCY_LIMIT_MS for r in open_plan) / seconds

    service = {s["trace"]: s for s in spans if s["name"].startswith("api.")}
    per_req: dict[str, list[dict]] = {op: [] for op in SERVE_OPS}
    waits: dict[str, list[float]] = {op: [] for op in SERVE_OPS}
    for r in plan + open_plan:
        span = service.get(r.rid)
        if span is None:
            continue
        svc = span["end"] - span["start"]
        if r.rid.startswith("o"):  # open-loop request
            waits[op_of(r)].append(lat[id(r)] - 1e3 * svc)
            continue
        jobs = jobs_in_group(snap, r.rid)
        m = session_metrics(snap, jobs, svc, NPROC)
        m["service_ms"] = 1e3 * svc
        m["spark_ms"] = 1e3 * union_length(
            [(j["_t0"], j["_t1"]) for j in jobs if j["_t0"] and j["_t1"]])
        per_req[op_of(r)].append(m)
    for op, ms in per_req.items():
        out[f"api.{op}.wait_ms"] = median(waits[op])
        out[f"api.{op}.service_ms"] = median([m["service_ms"] for m in ms])
        out[f"api.{op}.spark_ms"] = median([m["spark_ms"] for m in ms])
        out[f"api.{op}.jobs"] = median([m["session.jobs"] for m in ms])
    out["api.search.input_bytes"] = median(
        [m["sources.input_bytes"] for m in per_req["search"]])
    every = [m for ms in per_req.values() for m in ms]
    for k in every[0]:
        if "." in k:
            out[k] = median([m[k] for m in every])
    out["operators.embedding.hash_embed_one_ms"] = median(
        [1e3 * (s["end"] - s["start"]) for s in spans
         if s["name"] == "operators.embedding.hash_embed_one"])
    out.update(materialize_metrics(spans))
    out["host.action_floor_ms"] = 1e3 * median(floors)
    return out


def materialize_metrics(spans: list[dict]) -> dict:
    eager = [s for s in spans if s["name"] == "plans.materialize"]
    return {
        "plans.materialize_calls": len(eager),
        "plans.materialize_lazy_calls": sum(
            s["name"] == "plans.materialize_lazy" for s in spans),
        "plans.materialize_s": sum(s["end"] - s["start"] for s in eager),
    }


# ---------------------------------------------------------------- common


def rest_snapshot(engine: Engine) -> dict:
    from tracing import RestReader

    return RestReader(engine.ready["ui"], engine.ready["app"]).snapshot()


def trace_path(args, kind: str) -> str:
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"{args.workload}-s{args.seed}.{kind}.json")


def load_spans(path: str) -> list[dict]:
    with open(path) as fh:
        return [s for s in json.load(fh) if s["end"] is not None]


def per_layer_names() -> list[tuple[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def result(attempted, failed, metrics, host, args) -> dict:
    from host import host_record

    host = {**host_record(), "workload": args.workload, "seed": args.seed, **host}
    if args.trace:
        names = per_layer_names()
        with open(trace_path(args, "summary"), "w") as fh:
            json.dump({"host": host, "metrics": metrics}, fh, indent=1)
        units = dict(names)
        metrics = {n: metrics.get(n, 0.0) for n, _ in names}
    else:
        units = END_TO_END
    print(json.dumps({"host": host}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in metrics.items()},
    }


WORKLOADS = {"serve": serve, "ingest": ingest}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the engine
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "data_pipeline2_spark")):
        print("perfbench: engine package data_pipeline2_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        out = WORKLOADS[args.workload](args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
