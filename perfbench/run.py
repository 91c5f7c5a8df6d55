"""Layer-split benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload star_analytics --seed 1 \\
        --seconds 10 --trace 0

A run sets up (session, registry import, seeded inputs) several times
and reports the median, then runs passes over the workload for
``--seconds`` seconds: the first pass is the cold one, the rest are
warm. After the timed window it checks the outputs once, prints one
``metric <name> <value> <unit> n=<samples>`` line per metric and, last,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes and reports the per-layer metrics of
the traced ones, the tracing overhead (traced minus untraced pass
time) and each span's self time; it also writes the spans to
``.perfbench_work/trace-<workload>-<seed>.json``.

Only metric lines reach stdout: the process's own stdout descriptor is
pointed at stderr for the whole run, so prints from the package, the
JVM or worker processes all land on stderr.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Without the engine next to the benchmark these raise, and the run
# exits non-zero before printing anything on stdout.
from afg_data_pipeline_spark.plans import REGISTRY  # noqa: E402
from afg_data_pipeline_spark.session import get_session  # noqa: E402

from perfbench import gen, measure  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SETUPS = 3  # set-ups per run; setup_s is their median


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def spark_conf(work: str) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory and
    the JVM small enough to share the machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file outside the work directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }


def set_up(workload, seed: int, work: str, index: int):
    """Start a session and generate the seeded inputs.
    Returns (spark, input dir, manifest, session start seconds)."""
    t = time.perf_counter()
    spark = get_session("perfbench", extra_conf=spark_conf(work))
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    in_dir = os.path.join(work, f"inputs-{index}")
    manifest = gen.write_inputs(
        gen.star_tables(workload.sf), in_dir, seed, workload.drops
    )
    return spark, in_dir, manifest, session_s


def shut_down(spark) -> None:
    """Stop the session, then end the JVM and wait until it has exited
    (it exits when its stdin closes; its Python workers follow it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def emit(out, result: dict, samples: dict) -> None:
    for name, m in result["metrics"].items():
        out.write(f"metric {name} {m['value']!r} {m['unit']} n={samples.get(name, 1)}\n")
    out.write(json.dumps(result) + "\n")
    out.flush()


def main(argv=None) -> int:
    args = parse_args(argv)
    # The JVM and Python workers inherit descriptor 1: point it at
    # stderr and keep a private handle for the metric lines.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    workload = WORKLOADS[args.workload]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    runs_dir = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(runs_dir, f"{workload.name}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        setups = []
        spark, in_dir, manifest, session_s = set_up(
            workload, args.seed, work, 0
        )
        setups.append(time.perf_counter() - T0)
        for i in range(1, SETUPS):
            spark.stop()
            shutil.rmtree(in_dir)
            t = time.perf_counter()
            spark, in_dir, manifest, _ = set_up(
                workload, args.seed, work, i
            )
            setups.append(time.perf_counter() - t)
        print(f"setups: {' '.join(f'{s:.3f}' for s in setups)} s", file=sys.stderr)
        bench = measure.Bench(
            spark, REGISTRY, workload, in_dir, manifest, work, bool(args.trace)
        )
        bench.run(args.seconds)
        result, samples = bench.report(setups, session_s)
        if args.trace:
            with open(os.path.join(runs_dir, f"trace-{workload.name}-{args.seed}.json"), "w") as fh:
                json.dump(bench.trace_dump(), fh)
    except Exception:  # noqa: BLE001 - report, print no result
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        if spark is not None:
            try:
                shut_down(spark)
            except Exception:  # noqa: BLE001 - already failing or stopped
                traceback.print_exc(file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
    emit(out, result, samples)
    return 0


if __name__ == "__main__":
    sys.exit(main())
