"""Engine benchmark: one seeded workload, timed, checked, one JSON line.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It writes only under ``.perfbench/``
there: cached inputs, the table, Spark's scratch and temp files, and a
record of each run (metrics, op log, failures and, when traced, spans).
The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A human-readable report goes to stderr. The
exit code is 0 only when every op and check passed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: keep at most this many seeds' inputs per (workload, size) in the cache
CACHED_SEEDS = 4


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--tamper", action="store_true",
                   help="corrupt one committed block after set-up (self-test: the run must fail)")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every scratch path of Python, the JVM and Spark into ``work``
    and pin the engine's settings to its defaults."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # python workers import the engine and the benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # the status stores must keep every job, stage and SQL execution
        # of a run for the traced counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"


def machine_probe() -> float:
    """Best of three runs of bench.py's numpy bandwidth kernel, seconds."""
    import numpy as np

    a = np.random.default_rng(1).integers(0, 255, 8_000_000, dtype=np.uint64)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        b = (a >> np.uint64(3)) & np.uint64(7)
        np.packbits((b & np.uint64(1)).astype(np.uint8))
        best = min(best, time.perf_counter() - t0)
    return best


def _cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal), or [] off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    the degraded-window flag beside the probe (recorded, never divided by)."""
    if not before or not after:
        return 0.0
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(1, sum(delta))


def _evict_inputs(cache: str, keep: str) -> None:
    prefix = keep.rsplit("-s", 1)[0] + "-s"
    dirs = sorted(
        (d for d in os.listdir(cache) if d.startswith(prefix) and d != keep),
        key=lambda d: os.path.getmtime(os.path.join(cache, d)),
    )
    for d in dirs[: max(0, len(dirs) - (CACHED_SEEDS - 1))]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def code_hash(root: str = ROOT) -> str:
    """Hash of the engine's and the benchmark's Python sources: runs of
    one seed are compared only while neither has changed."""
    h = hashlib.sha256()
    for pkg in ("parquet_converter_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, pkg)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _check_bytes_per_turn(runs: str, key: str, value: float) -> str | None:
    """bytes_per_turn is exact: every run of one seed and one code
    version must read the same."""
    path = os.path.join(runs, "bytes_per_turn.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    if key in seen and seen[key] != value:
        return f"bytes_per_turn {value!r} differs from an earlier run of this seed ({seen[key]!r})"
    seen[key] = value
    with open(path + ".tmp", "w") as f:
        json.dump(seen, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return None


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "parquet_converter_spark", "__init__.py")):
        print("perfbench: the engine package parquet_converter_spark is not in this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, "run", str(os.getpid()))
    runs = os.path.join(work, "runs")
    cache = os.path.join(work, "inputs")
    for d in (run_dir, runs, cache):
        os.makedirs(d, exist_ok=True)
    _isolate(work)
    sys.path.insert(0, ROOT)

    from perfbench import report, workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload](args.size, args.seed, cache, args.seconds)
    t0 = time.perf_counter()
    wl.prepare()
    input_s = time.perf_counter() - t0
    _evict_inputs(cache, f"{wl.name}-{wl.size}-s{wl.seed}")
    probe_s = machine_probe()
    k = min(4, len(os.sched_getaffinity(0)))

    from parquet_converter_spark.session import get_spark

    tracer = Tracer(counters=bool(args.trace))
    t_setup = time.perf_counter()
    with tracer.span("session.get_spark", phase="setup"):
        spark = get_spark(master=f"local[{k}]")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer.attach(spark)
        ctx = workloads.Ctx(spark, tracer, run_dir, traced=bool(args.trace))
        wl.setup(ctx)
        if args.tamper:
            workloads.tamper_one_block(wl.io.root)
        setup_s = time.perf_counter() - t_setup
        codecs = workloads.codec_microbench(wl.input_paths()) if args.trace else {}
        cpu0 = _cpu_times()
        for i in range(wl.n_rounds):
            wl.round(ctx, i)
        steal = steal_share(cpu0, _cpu_times())
        wl.finish(ctx)
        live_bytes, live_turns = wl.live_table(ctx)
    finally:
        _stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = report.end_to_end(ctx, wl, setup_s, live_bytes, live_turns)
    # the table depends on the sizes, the op plan and the code, not only the seed
    plan = {"cfg": wl.cfg, "rounds": wl.n_rounds, "warm": getattr(wl, "warm_appends", 0)}
    key = f"{wl.name}-{json.dumps(plan, sort_keys=True)}-s{wl.seed}-{code_hash()}"
    bad = _check_bytes_per_turn(runs, key, e2e["bytes_per_turn"])
    if bad:
        ctx.failures.append(bad)
    failed = len(ctx.failures)
    attempted = max(1, ctx.attempted)
    if args.trace:
        values = report.per_layer(wl, tracer.spans, codecs, live_bytes, probe_s, steal, k)
        spec = [(n, u) for n, u, _ in report.layer_spec(wl.name)]
    else:
        values = e2e
        spec = [(n, u) for n, u, _, _ in report.END_TO_END]
    metrics = {n: {"value": values[n], "unit": u} for n, u in spec}

    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = os.path.join(runs, f"{wl.name}-{wl.size}-s{wl.seed}-t{args.trace}-{stamp}-{os.getpid()}")
    record = {
        "workload": wl.name, "size": wl.size, "seed": wl.seed, "seconds": args.seconds,
        "trace": args.trace, "k": k, "machine_probe_s": probe_s, "steal_share": steal,
        "input_s": input_s,
        "live_bytes": live_bytes, "live_turns": live_turns, "end_to_end": e2e,
        "tail": {kind: report.tail(ctx.timed(kind)) for kind in (wl.main_kind, wl.side_kind)},
        "ops": ctx.ops, "failures": ctx.failures,
    }
    with open(base + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(base + ".spans.jsonl")
    _print_report(record, metrics, report, args.trace)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def _print_report(record: dict, metrics: dict, report, trace: int) -> None:
    err = sys.stderr
    print(f"\nperfbench {record['workload']} size={record['size']} seed={record['seed']} "
          f"local[{record['k']}] probe={record['machine_probe_s']:.4f}s "
          f"steal={100 * record['steal_share']:.1f}% "
          f"live={record['live_turns']} turns / {record['live_bytes']} B", file=err)
    for kind, t in record["tail"].items():
        if t["value"] is None:
            print(f"  tail {kind}: n/a ({t['n']} samples, needs 11)", file=err)
        else:
            print(f"  tail {kind}: {t['value']:.4f} s = p{t['pct']:.0f} (rank {t['rank']} of {t['n']})",
                  file=err)
    moves = {n: mv for n, _, mv in report.layer_spec(record["workload"])} if trace else {}
    for name, m in metrics.items():
        print(f"  {name:48s} {m['value']:>16.6g} {m['unit']:6s} {moves.get(name, '')}", file=err)
    for f in record["failures"]:
        print(f"  FAILED {f}", file=err)


if __name__ == "__main__":
    sys.exit(main())
