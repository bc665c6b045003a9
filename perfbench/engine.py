"""The program under test, in its own process.

    python3 perfbench/engine.py ingest <lake_dir> <spans_out|->
    python3 perfbench/engine.py serve  <lake_dir> <spans_out|->

The engine runs at its defaults: the session comes from
`session.get_spark` and the only setting is SPARK_GRAFT_CPUS, set by
the caller. Commands arrive as JSON lines on stdin and replies leave as
JSON lines on the original stdout (everything else the process prints
goes to stderr). With a spans path, span wrappers are installed around
the layers' public functions; they record only inside a traced rep
or request.

ingest: {"cmd": "rep", "traced": bool} runs the streaming-ingest-to-
searchable registry key once and replies with its rows and timing.
serve: starts `api.serve` and replies with the port; requests that
carry an X-Request-Id header are traced, each under its own job group.
Both answer {"cmd": "floor"} (the action floor) and {"cmd": "stop"}.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

from tracing import Spans, progress_listener, wrap_callers

INGEST_KEY = "streaming_search_e2e"

_out = os.fdopen(os.dup(1), "w", buffering=1)
os.dup2(2, 1)  # stray prints from the engine or Spark go to stderr


def reply(obj) -> None:
    _out.write(json.dumps(obj) + "\n")


def action_floor(spark) -> float:
    t = time.perf_counter()
    spark.range(1_000_000).count()
    return time.perf_counter() - t


# span name -> (module, attribute) wrapped wherever callers resolve it
INGEST_SPANS = {
    "operators.chunking.chunk_sentence": ("operators.chunking", "chunk_sentence"),
    "operators.embedding.embed_chunks": ("operators.embedding", "embed_chunks"),
    "operators.similarity.kmeans_fit": ("operators.similarity", "_kmeans_trajectory"),
    "operators.similarity.probe_cells": ("registry.curation_r11", "_probe_cells"),
    "plans.materialize": ("plans.materialize", "materialize"),
    "plans.materialize_lazy": ("plans.materialize", "materialize_lazy"),
}
SERVE_SPANS = {
    "operators.embedding.hash_embed_one": ("operators.embedding", "hash_embed_one"),
    "plans.materialize": ("plans.materialize", "materialize"),
    "plans.materialize_lazy": ("plans.materialize", "materialize_lazy"),
}


def install(spans: Spans, table: dict) -> None:
    import importlib

    for name, (mod, attr) in table.items():
        module = importlib.import_module(f"data_pipeline2_spark.{mod}")
        wrap_callers(spans, module, attr, name)


def run_ingest(spark, lake: str, spans: Spans | None) -> None:
    from data_pipeline2_spark import registry

    fn = registry.queries()[INGEST_KEY]
    events: list = []
    if spans is not None:
        install(spans, INGEST_SPANS)
        spark.streams.addListener(progress_listener(events))
    reply({"ready": True, "ui": spark.sparkContext.uiWebUrl,
           "app": spark.sparkContext.applicationId})
    rep = 0
    for line in sys.stdin:
        msg = json.loads(line)
        if msg["cmd"] == "stop":
            break
        if msg["cmd"] == "floor":
            reply({"floor_s": action_floor(spark)})
            continue
        rep += 1
        traced = spans is not None and msg.get("traced", False)
        n_events = len(events)
        if traced:
            spans.root = spans.begin(f"registry.{INGEST_KEY}", trace_id=f"rep{rep}")
        t0, p0 = time.time(), time.perf_counter()
        df = fn(spark, lake)
        if traced:
            act = spans.begin("action")
        rows = [r.asDict() for r in df.collect()]
        wall = time.perf_counter() - p0
        t1 = time.time()
        if traced:
            spans.end(act)
            spans.end(spans.root)
            spans.root = None
            time.sleep(0.3)  # let the listener's last callbacks land
        reply({"rows": rows, "wall_s": wall, "t0": t0, "t1": t1, "rep": rep,
               "traced": traced, "stream_events": events[n_events:]})


def run_serve(spark, lake: str, spans: Spans | None) -> None:
    from data_pipeline2_spark import api

    sc = spark.sparkContext
    if spans is not None:
        install(spans, SERVE_SPANS)
        local = threading.local()
        for op, meth in (("search", "search"), ("lookup", "get_document"),
                         ("chunks", "get_chunks"), ("upload", "upload")):
            setattr(api.EngineAPI, meth, _api_span(spans, sc, local, op,
                                                   getattr(api.EngineAPI, meth)))
        base_handler = api.make_handler

        def make_handler(engine_api):
            handler = base_handler(engine_api)

            class Traced(handler):
                def _with_rid(self, fn):
                    local.rid = self.headers.get("X-Request-Id")
                    try:
                        return fn()
                    finally:
                        local.rid = None

                def do_GET(self):
                    return self._with_rid(super().do_GET)

                def do_POST(self):
                    return self._with_rid(super().do_POST)

            return Traced

        api.make_handler = make_handler
    server = api.serve(spark, lake)
    reply({"ready": True, "port": server.server_address[1], "ui": sc.uiWebUrl,
           "app": sc.applicationId})
    for line in sys.stdin:
        msg = json.loads(line)
        if msg["cmd"] == "stop":
            break
        if msg["cmd"] == "floor":
            reply({"floor_s": action_floor(spark)})
    api.stop_server(server)


def _api_span(spans: Spans, sc, local, op: str, meth):
    """EngineAPI method wrapper: a traced request (one carrying an
    X-Request-Id) gets a span and a job group named after its id.
    get_status calls get_document, so only the outermost call counts."""

    def traced(self, *args, **kwargs):
        rid = getattr(local, "rid", None)
        if rid is None or getattr(local, "inside", False):
            return meth(self, *args, **kwargs)
        local.inside = True
        sc.setJobGroup(rid, f"perfbench {op}")
        span = spans.begin(f"api.{op}", trace_id=rid)
        try:
            return meth(self, *args, **kwargs)
        finally:
            spans.end(span)
            sc.setLocalProperty("spark.jobGroup.id", None)
            local.inside = False

    return traced


def main() -> None:
    mode, lake, spans_out = sys.argv[1], sys.argv[2], sys.argv[3]
    from data_pipeline2_spark.session import get_spark

    spark = get_spark(f"perfbench-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    spans = Spans() if spans_out != "-" else None
    try:
        (run_ingest if mode == "ingest" else run_serve)(spark, lake, spans)
    finally:
        if spans is not None:
            spans.write(spans_out)
        spark.stop()
    reply({"stopped": True})


if __name__ == "__main__":
    main()
