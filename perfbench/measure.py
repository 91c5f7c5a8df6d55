"""Timed passes, output checks and metrics of one benchmark run."""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import sys
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import check
from perfbench.spans import SparkCounters, Tracer
from perfbench.workloads import ProgressLog, quiet, run_query, stream_pass

# Warm reps keep getting faster for several passes (JIT), so the first
# WARMUP passes after the cold one are run but not reported.
WARMUP = 2
MIN_WARM = 2  # reported warm passes per run, and traced ones with --trace 1

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_s.p50": "s",
    "rows_per_s": "1/s",
    "live_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_driver_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "execute.exec_s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.driver_gap_s": "s",
    "execute.executor_run_s": "s",
    "execute.executor_cpu_s": "s",
    "execute.slot_busy": "ratio",
    "execute.shuffle_read_mb": "MB",
    "execute.shuffle_write_mb": "MB",
    "execute.spill_mb": "MB",
    "execute.gc_s": "s",
    "io.input_mb": "MB",
    "io.input_rows": "count",
    "io.rows_per_result": "ratio",
    "operators.join_rows_out": "count",
    "operators.pair_yield": "ratio",
    "operators.bnlj_nodes": "count",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.files_written": "count",
    "sinks.write_amp": "ratio",
    "sinks.read_s": "s",
    "jvm.heap_peak_mb": "MB",
    "self.pass_s": "s",
    "self.query_s": "s",
    "self.build_s": "s",
    "self.catalyst_s": "s",
    "self.execute_s": "s",
    "self.stream_s": "s",
    "self.read_s": "s",
    "trace.overhead_s": "s",
}

SPAN_NAMES = ("pass", "query", "build", "catalyst", "execute", "stream", "read")
STORE_DIRS = ("dedup", "flags", "cms", "events")
MB = 1024.0 * 1024.0


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _dir_usage(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under ``path``."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size, files


class Bench:
    """One workload in one session: passes, then checks, then report."""

    def __init__(self, spark, registry, workload, in_dir, manifest, work, trace):
        self.spark = spark
        self.registry = registry
        self.w = workload
        self.in_dir = in_dir
        self.manifest = manifest
        self.work = work
        self.trace = trace
        self.cores = spark.sparkContext.defaultParallelism
        self.counters = SparkCounters(spark) if trace else None
        self.progress = ProgressLog()
        if workload.streaming:
            spark.streams.addListener(self.progress.listener())
        self.passes: list[dict] = []
        self.layers: list[dict] = []  # one per traced pass
        self.attempted = 0
        self.failures: list[str] = []
        self.result_rows = 0
        tables = manifest["tables"]
        if workload.streaming:
            # both event sinks read every event
            self.input_rows = tables["documents"]["rows"] + 2 * tables["events"]["rows"]
        else:
            # every table each query's oracle names
            self.input_rows = sum(
                tables[t]["rows"]
                for q in workload.queries
                for t in check.tables_read(registry[q].oracle)
            )

    # ------------------------------------------------------------ passes

    def _one_pass(self, index: int, traced: bool) -> dict:
        tracer = Tracer(traced)
        counters = self.counters if traced else None
        gc0 = counters.gc_s() if traced else 0.0
        t0 = time.perf_counter()
        with tracer.span("pass"):
            if self.w.streaming:
                out_dir = os.path.join(self.work, f"pass-{index}")
                run = stream_pass(
                    self.spark, self.in_dir, out_dir, tracer, self.progress, counters
                )
                steps = 3 * self.w.drops + 2
                # a failed drain loses every step of the pass
                failed = [run.error] * steps if run.error else []
                detail = f"drain {run.drain_s:.2f} read {run.read_s:.2f}"
            else:
                run = [
                    run_query(self.spark, self.registry, q, self.in_dir, tracer, counters)
                    for q in self.w.queries
                ]
                steps = len(run)
                failed = [f"{r.name}: {r.error}" for r in run if r.error]
                detail = " ".join(f"{r.name}={r.build_s:.2f}+{r.exec_s:.2f}" for r in run)
        wall = time.perf_counter() - t0
        self.attempted += steps
        self.failures += [f"pass {index} {f}" for f in failed]
        print(f"pass {index}: {wall:.3f} s{' traced' if traced else ''} {detail}", file=sys.stderr)
        rec = {"wall": wall, "traced": traced, "run": run, "tracer": tracer}
        if traced:
            tracer.spans[0].counters["gc_s"] = counters.gc_s() - gc0
            self.layers.append(self._layer_metrics(rec))
        if self.w.streaming:
            self._keep_outputs(rec)
        return rec

    def _keep_outputs(self, rec: dict) -> None:
        """Keep only the newest untraced pass's stores, for the check."""
        if rec["traced"]:
            shutil.rmtree(os.path.dirname(rec["run"].dirs["dedup"]), ignore_errors=True)
            return
        for p in self.passes:
            if not p["traced"]:
                shutil.rmtree(os.path.dirname(p["run"].dirs["dedup"]), ignore_errors=True)

    def _warm(self) -> list[dict]:
        """The reported warm passes: after the cold and warm-up ones."""
        return [p for p in self.passes[1 + WARMUP :] if not p["traced"]]

    def run(self, seconds: float) -> None:
        """Cold pass, warm-up passes, then warm passes until ``seconds``
        have passed since the cold pass began. With tracing, warm passes
        alternate untraced / traced."""
        start = time.perf_counter()
        i = 0
        while True:
            traced = self.trace and i > WARMUP and (i - WARMUP) % 2 == 0
            self.passes.append(self._one_pass(i, traced))
            i += 1
            warm = len(self._warm())
            traced_n = sum(p["traced"] for p in self.passes)
            enough = warm >= MIN_WARM and (not self.trace or traced_n >= MIN_WARM)
            if enough and time.perf_counter() - start >= seconds:
                break
        if self.w.streaming:
            self._check_stream()
        else:
            self._check_queries()

    # ------------------------------------------------------------ checks

    def _last_untraced(self):
        return [p for p in self.passes if not p["traced"]][-1]["run"]

    def _fail(self, what: str) -> None:
        print(f"check FAIL {what}", file=sys.stderr)
        self.failures.append(f"check {what}")

    def _check_queries(self) -> None:
        con = check.oracle(self.in_dir)
        for r in self._last_untraced():
            if r.error:
                continue
            try:
                with quiet():
                    ok, n, detail = check.check_query(r.df, self.registry[r.name].oracle, con)
            except Exception as exc:  # noqa: BLE001 - a failed check is counted
                ok, n, detail = False, 0, f"{type(exc).__name__}: {exc}"
            if ok:
                print(f"check ok {r.name}: {detail}", file=sys.stderr)
            else:
                self._fail(f"{r.name}: {detail}")
            self.result_rows += n
        con.close()

    def _check_stream(self) -> None:
        """The merged counters equal the sketch built over all events in
        one batch, the foreachBatch copy holds every event once, every
        flag is a cross-batch pair at or above the threshold, every
        exact copy split across drops is flagged, and no heavy hitter is
        under-counted."""
        from pyspark.sql import functions as F

        from afg_data_pipeline_spark.operators.cms import cms_build
        from afg_data_pipeline_spark.streaming.cms import read_merged_counters

        run = self._last_untraced()
        n_ev = self.manifest["tables"]["events"]["rows"]
        events_path = os.path.join(self.in_dir, "events.parquet")
        try:
            with quiet():
                merged = read_merged_counters(self.spark, run.dirs["cms"])
                batch = cms_build(
                    self.spark.read.parquet(events_path).select("user_id"), "user_id", 1024, 4
                )
                rows = [
                    sorted(map(tuple, df.select("j", "pos", "c").collect()))
                    for df in (merged, batch)
                ]
                copied = (
                    self.spark.read.parquet(run.dirs["events"])
                    .agg(F.count("*").alias("n"), F.countDistinct("event_id").alias("d"))
                    .first()
                )
            if rows[0] != rows[1]:
                self._fail(f"counters: {len(rows[0])} rows != batch sketch {len(rows[1])} rows")
            if (copied.n, copied.d) != (n_ev, n_ev):
                self._fail(f"foreachBatch rows {copied.n} (distinct {copied.d}) != {n_ev}")
        except Exception as exc:  # noqa: BLE001 - a failed check is counted
            self._fail(f"{type(exc).__name__}: {exc}")

        batch_of = {
            i: b
            for b, ids in enumerate(self.manifest["streams"]["documents"]["drops"])
            for i in ids
        }
        docs = pq.read_table(os.path.join(self.in_dir, "documents.parquet"), columns=["doc_id", "text"])
        by_text: dict[str, list[int]] = {}
        for i, t in zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()):
            by_text.setdefault(t, []).append(i)
        want = {
            (a, b) for ids in by_text.values() for a in ids for b in ids if batch_of[a] > batch_of[b]
        }
        hitters, flags = (r.result or [] for r in run.reads) if run.reads else ([], [])
        got = {(r.new_id, r.dup_of) for r in flags}
        if len(got) != len(flags):
            self._fail("duplicate flag rows")
        if any(r.jaccard < 0.5 or batch_of[r.new_id] <= batch_of[r.dup_of] for r in flags):
            self._fail("a flag below the threshold or within one batch")
        if not want <= got:
            self._fail(f"{len(want - got)} exact cross-batch copies not flagged")

        counts = pc.value_counts(pq.read_table(events_path, columns=["user_id"]).column("user_id"))
        exact = {str(c["values"]): c["counts"] for c in counts.to_pylist()}
        if not hitters or any(r.est_count < exact[r.key] for r in hitters):
            self._fail("heavy hitters empty or under-counted")
        per_pass = [len(p["run"].triggers) for p in self.passes]
        if any(n != 3 * self.w.drops for n in per_pass):
            self._fail(f"micro-batches per pass {per_pass}, want {3 * self.w.drops}")
        self.result_rows = len(flags) + len(hitters)
        print(
            f"check stream_ingest: {len(flags)} flags ({len(want)} exact copies), "
            f"{len(hitters)} heavy hitters",
            file=sys.stderr,
        )

    # ------------------------------------------------------------ layers

    def _layer_metrics(self, rec: dict) -> dict:
        """Per-layer figures of one traced pass."""
        snap = self.counters.snapshot()
        spans = rec["tracer"].spans

        def attr(sp):
            return SparkCounters.attribute(snap, sp.start, sp.end) | {"dur": sp.duration}

        m = dict.fromkeys(PER_LAYER, 0.0)
        builds = [attr(s) for s in spans if s.name == "build"]
        execs = [attr(s) for s in spans if s.name in ("execute", "stream")]
        m["plans.build_s"] = sum(b["dur"] for b in builds)
        m["plans.build_jobs"] = sum(b["jobs"] for b in builds)
        m["plans.build_driver_s"] = sum(b["dur"] - b["job_busy_s"] for b in builds)
        for phase in ("analysis", "optimization", "planning"):
            m[f"catalyst.{phase}_s"] = sum(
                s.counters.get(phase, 0.0) for s in spans if s.name == "catalyst"
            )
        exec_s = sum(e["dur"] for e in execs)
        m["execute.exec_s"] = exec_s
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            m[f"execute.{k}"] = sum(e[k] for e in execs)
        m["execute.driver_gap_s"] = sum(e["dur"] - e["job_busy_s"] for e in execs)
        m["execute.slot_busy"] = m["execute.executor_run_s"] / (exec_s * self.cores)
        m["execute.gc_s"] = spans[0].counters["gc_s"]
        whole = attr(spans[0])
        m["io.input_mb"] = whole["input_mb"]
        m["io.input_rows"] = whole["input_rows"]
        m["operators.join_rows_out"] = whole["join_rows_out"]
        m["operators.bnlj_nodes"] = whole["nested_loop_nodes"]
        if self.w.streaming:
            run = rec["run"]
            trig = run.triggers
            m["streaming.batches"] = len(trig)
            m["streaming.trigger_s"] = median([t["trigger_s"] for t in trig])
            m["streaming.add_batch_s"] = median([t["add_batch_s"] for t in trig])
            m["streaming.overhead_s"] = median([t["trigger_s"] - t["add_batch_s"] for t in trig])
            usage = [_dir_usage(run.dirs[k]) for k in STORE_DIRS]
            written = sum(u[0] for u in usage)
            m["sinks.bytes_written_mb"] = written / MB
            m["sinks.files_written"] = sum(u[1] for u in usage)
            m["sinks.write_amp"] = written / sum(
                s["bytes"] for s in self.manifest["streams"].values()
            )
            m["sinks.read_s"] = run.read_s
        selft = rec["tracer"].self_times()
        for name in SPAN_NAMES:
            m[f"self.{name}_s"] = selft.get(name, 0.0)
        return m

    # ------------------------------------------------------------ report

    def _overhead(self) -> float:
        """Median over traced passes of (traced wall - mean wall of the
        untraced warm passes next to it)."""
        out = []
        for i, p in enumerate(self.passes):
            if not p["traced"]:
                continue
            near = [
                q["wall"]
                for q in self.passes[max(1 + WARMUP, i - 1) : i + 2]
                if not q["traced"]
            ]
            out.append(p["wall"] - sum(near) / len(near))
        return median(out)

    def _live_mb(self) -> float:
        """Memory the run retains: JVM heap and non-heap in use after a
        full GC, plus the Python driver's peak resident set."""
        jvm = self.spark._jvm
        jvm.System.gc()
        bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = bean.getHeapMemoryUsage().getUsed() + bean.getNonHeapMemoryUsage().getUsed()
        return used / MB + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    def report(self, setups: list[float], session_s: float) -> tuple[dict, dict]:
        warm = self._warm()
        metrics: dict[str, float] = {}
        samples: dict[str, int] = {}

        def put(name, value, n=1):
            metrics[name] = float(value)
            samples[name] = n

        if self.trace:
            n = len(self.layers)
            for k in PER_LAYER:
                put(k, median([layer[k] for layer in self.layers]), n)
            rows = self.result_rows or 1
            put("io.rows_per_result", metrics["io.input_rows"] / rows, n)
            joined = metrics["operators.join_rows_out"]
            put("operators.pair_yield", rows / joined if joined else 0.0, n)
            put("session.start_s", session_s)
            put("jvm.heap_peak_mb", self.counters.heap_peak_mb())
            put("trace.overhead_s", self._overhead(), n)
            units = PER_LAYER
        else:
            put("setup_s", median(setups), len(setups))
            put("cold_pass_s", self.passes[0]["wall"])
            put("pass_s", median([p["wall"] for p in warm]), len(warm))
            if self.w.streaming:
                lat = [t["trigger_s"] for p in warm for t in p["run"].triggers]
                work = [p["run"].drain_s for p in warm]
            else:
                lat = [r.build_s + r.exec_s for p in warm for r in p["run"] if not r.error]
                work = [p["wall"] for p in warm]
            put("query_s.p50", median(lat), len(lat))
            put("rows_per_s", self.input_rows / median(work), len(work))
            put("live_mb", self._live_mb())
            units = END_TO_END
        for f in self.failures:
            print(f"failure: {f}", file=sys.stderr)
        result = {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
        }
        return result, samples

    def trace_dump(self) -> list[dict]:
        return [
            {"pass": i, "wall": p["wall"], "spans": p["tracer"].dump()}
            for i, p in enumerate(self.passes)
            if p["traced"]
        ]
