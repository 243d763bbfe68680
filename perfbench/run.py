"""KG-construction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 20 --trace 0

Run from the repository root. The inputs are generated from ``--seed`` under
``.perfbench/`` (nothing is written outside the checkout), one Spark session
at ``local[4]`` is set up and warmed, and operations run back to back (closed
loop, one client) until ``--seconds`` have passed and the operation under way
has ended. Every operation's outputs are checked; a failed check makes the
exit code 1. With ``--trace 1`` the run traces its operations and prints the
per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4

END_TO_END_UNITS = {
    "setup_s": "s", "turns_per_s": "turns/s", "rows_per_s": "rows/s", "delta_p50_s": "s",
    "precision": "ratio", "recall": "ratio", "reject_share": "ratio",
    "ok_ops_share": "ratio",
}
COUNTERS = {"tasks": "count", "failed_tasks": "count", "cpu_s": "s", "gc_s": "s",
            "shuffle_write_bytes": "bytes", "spill_bytes": "bytes"}
LAYERS = {
    "session": {"start_s": "s", "trace_overhead_s": "s", "peak_rss_mb": "MB"},
    "sources.reader": {"busy_s": "s", "rows_in": "count", "rows_rejected": "count",
                       "staging_bytes": "bytes"},
    "plans.pipeline": {"busy_s": "s", "rows_mapped": "count", "rows_filtered": "count"},
    "plans.merge": {"bulk_s": "s", "live_s": "s", "buckets_rewritten": "count",
                    "bytes_written": "bytes", "write_amp": "ratio"},
    "transcripts.extract": {"busy_s": "s", "turns_in": "count", "triples_out": "count"},
    "operators.skew": {"task_skew": "ratio"},
    "operators.linking": {"busy_s": "s", "vocab": "count", "exact": "count",
                          "fuzzy": "count", "linked_share": "ratio"},
    "operators.connected_components": {"busy_s": "s", "pairs_in": "count",
                                       "components": "count", "spark_jobs": "count"},
    "transcripts.pipeline": {"canon_s": "s", "materialize_s": "s", "wall_s": "s",
                             "scaling_eff": "ratio"},
}
COUNTED_LAYERS = ["sources.reader", "plans.pipeline", "plans.merge", "transcripts.extract",
                  "operators.linking", "operators.connected_components",
                  "transcripts.pipeline"]


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{k}": u for layer, ms in LAYERS.items() for k, u in ms.items()}
    for layer in COUNTED_LAYERS:
        units.update({f"{layer}.{k}": u for k, u in COUNTERS.items()})
    return units


def _environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and make the
    program importable by Spark's Python workers (mapInPandas pickles its
    kernel by module path)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)  # gettempdir() may have cached /tmp already
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def start_session(work: Path, cores: int, ui: bool):
    from nebula_importer_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit
    (the Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def measure(wl, spark, seconds: float, samples) -> tuple[int, int]:
    """Closed loop: the next operation starts when the previous one (and its
    checks) finished, until ``seconds`` have passed, not counting warm-up
    work done between operations. Returns (operations attempted, operations
    failed); a failure ends the call it happened in."""
    from workloads import CheckFailed

    failed = 0
    deadline = time.perf_counter() + seconds
    while samples.ops == 0 or time.perf_counter() < deadline + samples.warmup_s:
        try:
            wl.op(spark, samples)
        except CheckFailed as e:
            failed += 1
            print(f"check failed: {e}", file=sys.stderr)
        except Exception:  # noqa: BLE001 — an operation failure is a result
            failed += 1
            traceback.print_exc()
    return samples.ops, failed


def end_to_end(samples, setup_s: float, attempted: int, failed: int) -> dict:
    from workloads import median

    v = {
        "setup_s": setup_s,
        "turns_per_s": median(samples.turns_per_s),
        "rows_per_s": median(samples.rows_per_s),
        "delta_p50_s": median(samples.delta_s),
        "precision": median(samples.precision),
        "recall": median(samples.recall),
        "reject_share": median(samples.reject_share),
        "ok_ops_share": (attempted - failed) / attempted,
    }
    return {k: {"value": x, "unit": END_TO_END_UNITS[k]} for k, x in v.items()}


UNTRACED_LOG = ROOT / ".perfbench" / "untraced.jsonl"


def record_untraced(workload: str, seed: int, walls: list[tuple[str, float]]) -> None:
    """Append this run's (kind, wall time) per operation; a later traced run
    in the same checkout subtracts their per-kind medians to state the
    tracing overhead."""
    UNTRACED_LOG.parent.mkdir(parents=True, exist_ok=True)
    with UNTRACED_LOG.open("a") as f:
        f.write(json.dumps({"workload": workload, "seed": seed, "walls": walls}) + "\n")


def untraced_walls(workload: str) -> dict[str, list[float]]:
    """Recorded untraced wall times of ``workload``, by operation kind."""
    if not UNTRACED_LOG.exists():
        return {}
    by_kind: dict[str, list[float]] = {}
    for line in UNTRACED_LOG.read_text().splitlines():
        r = json.loads(line) if line else {}
        if r.get("workload") == workload:
            for kind, w in r.get("walls", []):
                by_kind.setdefault(kind, []).append(w)
    return by_kind


def traced_metrics(args, wl, spark, start_s: float) -> tuple[dict, int]:
    """The run's operations, traced and checked; per-layer metrics from
    the spans, the Spark REST counters and the program's results. Returns
    (metrics, failed operations)."""
    from spans import SparkCounters, Tracer, peak_rss_mb
    from workloads import CheckFailed, Samples, median

    tracer = Tracer(spark, run_id=f"{args.workload}-{args.seed}")
    m = {k: 0.0 for k in per_layer_units()}
    failed = 0
    layer_spans: dict[str, list] = {}
    try:
        found, layer_spans = wl.traced(spark, tracer, Samples())
        m.update(found)
    except CheckFailed as e:
        failed = 1
        print(f"check failed: {e}", file=sys.stderr)
    # the traced operations are the root spans; a root's "phase" names its
    # kind (bulk or a delta kind), the transcript job has one kind
    roots = [(s.counts.get("phase", "run"), s.seconds) for s in tracer.spans if s.parent is None]
    traced_wall = sum(w for _, w in roots)
    m["session.start_s"] = start_s
    m["session.peak_rss_mb"] = peak_rss_mb(jvm_pid())
    walls = untraced_walls(args.workload)
    if roots and all(walls.get(kind) for kind, _ in roots):
        untraced = sum(median(walls[kind]) for kind, _ in roots)
        m["session.trace_overhead_s"] = traced_wall - untraced
        print(f"tracing overhead: traced {traced_wall:.3f} s - untraced {untraced:.3f} s (per-kind "
              f"medians of {sum(map(len, walls.values()))} recorded operations, summed over the "
              f"{len(roots)} traced ones) = {m['session.trace_overhead_s']:.3f} s")
    else:
        print(f"tracing overhead: traced {traced_wall:.3f} s; no untraced runs recorded in "
              f"{UNTRACED_LOG.relative_to(ROOT)} to subtract")

    counters = SparkCounters(spark)

    def groups(spans):
        # a job belongs to the innermost span open when it ran, so these are
        # self counters, like self times
        return {tracer.group(s.id) for s in spans}

    for layer, spans in layer_spans.items():
        for k, v in counters.totals(groups(spans)).items():
            m[f"{layer}.{k}"] = v
    if "operators.connected_components" in layer_spans:
        cc = groups(layer_spans["operators.connected_components"])
        m["operators.connected_components.spark_jobs"] = len(counters.jobs_of(cc))
        ext = tracer.find("plans.merge.commit", "stage/surface_triples")
        m["operators.skew.task_skew"] = counters.read_skew(groups(ext))

    out = ROOT / ".perfbench" / "traces" / f"{args.workload}-seed{args.seed}.json"
    tracer.dump(out)
    print(f"spans: {out.relative_to(ROOT)} ({len(tracer.spans)} spans)")
    for name in sorted({s.name for s in tracer.spans}):
        sps = [s for s in tracer.spans if s.name == name]
        print(f"  {name:36s} calls {len(sps):3d}  wall {sum(s.seconds for s in sps):8.3f} s"
              f"  self {sum(tracer.self_seconds(s) for s in sps):8.3f} s")
    return m, failed


def scaling_eff(wl, spark, work: Path):
    """tp(4) / (4 * tp(1)) on about half of the turns: the same
    operation on a fresh context with 1 and then 4 cores (same JVM, same
    shuffle partitions). Half the input keeps the 1-core run short."""
    tp = {}
    for cores in (1, CORES):
        spark.stop()
        spark = start_session(work, cores, ui=False)
        wl.read_inputs(spark)
        tp[cores] = wl.scaling_op(spark)
        print(f"scaling: local[{cores}] {tp[cores]:.1f} turns/s")
    return tp[CORES] / (CORES * tp[1]), spark


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["kg_bulk", "import_csv"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path[:0] = [str(ROOT), str(HERE)]
    from workloads import WORKLOADS, Samples  # fails here when the program is missing

    work = ROOT / ".perfbench" / "work" / f"{args.workload}-seed{args.seed}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](work, args.seed)
    print(f"inputs generated in {time.perf_counter() - t:.2f} s", file=sys.stderr)

    t0 = time.perf_counter()
    spark = start_session(work, CORES, ui=bool(args.trace))
    start_s = time.perf_counter() - t0
    try:
        wl.read_inputs(spark)
        wl.warmup(spark)
        setup_s = time.perf_counter() - t0
        if args.trace:
            m, failed = traced_metrics(args, wl, spark, start_s)
            attempted = 1
            if args.workload == "kg_bulk":
                m["transcripts.pipeline.scaling_eff"], spark = scaling_eff(wl, spark, work)
            units = per_layer_units()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in m.items()}
        else:
            samples = Samples()
            attempted, failed = measure(wl, spark, args.seconds, samples)
            metrics = end_to_end(samples, setup_s + samples.warmup_s, attempted, failed)
            record_untraced(args.workload, args.seed, samples.walls)
            print(f"{attempted} operations, wall times "
                  + " ".join(f"{k} {w:.2f}" for k, w in samples.walls) + " s", file=sys.stderr)
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
