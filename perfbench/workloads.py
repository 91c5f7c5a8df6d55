"""The workloads and one timed pass of each.

Each workload loads one layer of the engine (see ``BENCHMARK.json``
for why each was chosen). A pass drives the package only through its
public functions: ``REGISTRY[name].fn`` plus the ``noop`` writer for
the query workloads, and the ``streaming.*`` runners and store readers
for ``stream_ingest``. Every call into the package runs under
``quiet()``, so whatever it prints lands on stderr, never on the
benchmark's stdout.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass

from perfbench.gen import STREAM_SCHEMAS
from perfbench.spans import Tracer


@dataclass(frozen=True)
class Workload:
    """Registered queries run in order per pass, or, with ``drops``,
    the streaming ingest over that many drops per stream; ``sf`` is
    the scale of the generated tables."""

    name: str
    sf: float
    queries: tuple[str, ...] = ()
    drops: int = 0

    @property
    def streaming(self) -> bool:
        return self.drops > 0


# A driver_loops workload (iterative graph / clustering queries) and
# a near_dup_pairs workload were measured and left out: see README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "star_analytics",
            0.02,
            (
                "q3_shipping_priority",
                "pricing_summary",
                "window_analytics",
                "asof_join_last_purchase",
                "sessionize_lag_gap",
            ),
        ),
        Workload("stream_ingest", 0.01, drops=2),
    )
}


def quiet():
    """Send anything the package prints to stderr."""
    return contextlib.redirect_stdout(sys.stderr)


@dataclass
class QueryRun:
    name: str
    build_s: float
    exec_s: float
    df: object = None
    result: object = None
    error: str | None = None


def timed_query(name: str, build, sink, tracer: Tracer, counters=None) -> QueryRun:
    """Time ``build()`` (the plans layer, including any jobs it runs
    eagerly) and ``sink(df)`` (execute) separately. With ``counters``
    the physical plan is forced in between, in its own span, to read
    the Catalyst phase times."""
    try:
        with tracer.span("query"):
            with tracer.span("build"):
                t0 = time.perf_counter()
                with quiet():
                    df = build()
                t1 = time.perf_counter()
            if counters is not None:
                with tracer.span("catalyst") as sp, quiet():
                    sp.counters.update(counters.catalyst_phases(df))
            with tracer.span("execute"):
                t2 = time.perf_counter()
                with quiet():
                    result = sink(df)
                t3 = time.perf_counter()
        return QueryRun(name, t1 - t0, t3 - t2, df, result)
    except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return QueryRun(name, 0.0, 0.0, error=f"{type(exc).__name__}: {exc}")


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def collect_sink(df) -> list:
    return df.collect()


def run_query(spark, registry, name: str, in_dir: str, tracer: Tracer, counters=None) -> QueryRun:
    """Build one registered query and execute it into the noop sink."""
    fn = registry[name].fn
    return timed_query(name, lambda: fn(spark, in_dir), noop_sink, tracer, counters)


class ProgressLog:
    """Collects streaming query progress (a StreamingQueryListener)."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                log.events.append(
                    {
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                        "add_batch_s": p.durationMs.get("addBatch", 0) / 1e3,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


@dataclass
class StreamRun:
    drain_s: float
    read_s: float
    triggers: list[dict]
    dirs: dict
    reads: list[QueryRun]
    error: str | None = None


def stream_pass(
    spark, in_dir: str, out_dir: str, tracer: Tracer, progress: ProgressLog, counters=None
) -> StreamRun:
    """Drain the document and event drops through the three streaming
    sinks into fresh stores, then read the stores back."""
    from afg_data_pipeline_spark.streaming.cms import (
        cms_sink,
        heavy_hitters_from_store,
    )
    from afg_data_pipeline_spark.streaming.incremental_dedup import (
        run_incremental_dedup,
    )
    from afg_data_pipeline_spark.streaming.sinks import run_foreach_batch

    def source(name):
        return (
            spark.readStream.schema(STREAM_SCHEMAS[name])
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(in_dir, "stream", name))
        )

    o = {k: os.path.join(out_dir, k) for k in ("dedup", "flags", "cms", "events", "ckpt")}
    seen = len(progress.events)
    try:
        t0 = time.perf_counter()
        with quiet():
            with tracer.span("stream"):
                run_incremental_dedup(
                    source("documents"), o["dedup"], o["flags"], o["ckpt"] + "/dedup"
                )
            with tracer.span("stream"):
                cms_sink(
                    source("events"), o["cms"], o["ckpt"] + "/cms", "user_id"
                ).awaitTermination()
            with tracer.span("stream"):
                run_foreach_batch(source("events"), o["events"], o["ckpt"] + "/events")
        t1 = time.perf_counter()
        with tracer.span("read"):
            reads = [
                timed_query(
                    "heavy_hitters",
                    lambda: heavy_hitters_from_store(spark, o["cms"]),
                    collect_sink,
                    tracer,
                    counters,
                ),
                timed_query(
                    "flags",
                    lambda: spark.read.parquet(o["flags"]),
                    collect_sink,
                    tracer,
                    counters,
                ),
            ]
        t2 = time.perf_counter()
        # progress events are delivered asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        error = next((r.error for r in reads if r.error), None)
        return StreamRun(t1 - t0, t2 - t1, progress.events[seen:], o, reads, error)
    except Exception as exc:  # noqa: BLE001 - a failed pass is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        return StreamRun(0.0, 0.0, progress.events[seen:], o, [], f"{type(exc).__name__}: {exc}")
