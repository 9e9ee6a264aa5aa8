"""Knowledge-graph construction benchmark.

    python3 kgbench/run.py --workload crawl_build --seed 1 --seconds 15 --trace 0

Run from the repository root.  Builds the workload's inputs from the
seed, starts a local Spark session on every core, warms the engine up,
then runs the workload's operations in a closed loop with one client
for at least `--seconds` seconds and the workload's minimum operation
count, checking each operation's output.  The last stdout line is one
JSON object: `correct`, `attempted`, `failed` and `metrics` -- the
end-to-end metrics of kgbench/metrics.json with `--trace 0`, its
per-layer metrics with `--trace 1`.  The line before it carries run
diagnostics (sample counts, input properties, load).

The traced run makes a fixed number of operation pairs: each traced
operation is paired with an untraced run of the same operation,
alternating which goes first, so `trace_overhead_s` compares like with
like.  Its spans are written to .kgbench_work/traces/.  All files the
run writes stay under .kgbench_work/ in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "rdf_knowledge_extractor_spark"
# stop starting new operations this long after launch, so a slow run
# still exits well inside three minutes
WALL_LIMIT_S = 140.0
SETUP_REPEATS = 3


def load_metric_defs() -> dict:
    return json.loads((HERE / "metrics.json").read_text())


def _loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def _peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def _start_spark(work: Path):
    from rdf_knowledge_extractor_spark.session import get_spark

    cpus = os.cpu_count() or 1
    spark = get_spark(
        app_name="kgbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            # -XX:-UsePerfData: no hsperfdata files outside the work dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _p90(xs):
    if len(xs) < 2:
        return _median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def layer_metrics(tracer) -> dict[str, float]:
    """Median per operation of every span-derived metric.

    A span named `a` gives `a.s`; a dotted name `a.b` gives `a.b_s`.
    Jobs, stages and the counts a span recorded are summed per layer
    (`a` for `a.b`), and every span gives `<name>.self_s`."""
    std = {"run_id", "id", "parent", "name", "start", "end", "jobs", "stages"}
    selfs = tracer.self_times()
    root: dict[int, int] = {}
    per_op: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        root[s["id"]] = s["id"] if s["parent"] is None else root[s["parent"]]
        m = per_op.setdefault(root[s["id"]], {})
        name = s["name"]
        m[f"{name}.self_s"] = m.get(f"{name}.self_s", 0.0) + selfs[s["id"]]
        if s["parent"] is None:
            continue
        dotted = "." in name
        layer = name.rsplit(".", 1)[0] if dotted else name
        dur_key = f"{name}_s" if dotted else f"{name}.s"
        m[dur_key] = m.get(dur_key, 0.0) + s["end"] - s["start"]
        for k in ("jobs", "stages"):
            m[f"{layer}.{k}"] = m.get(f"{layer}.{k}", 0) + s[k]
        for k, v in s.items():
            if k not in std:
                m[f"{layer}.{k}"] = v
    out: dict[str, list] = {}
    for m in per_op.values():
        for k, v in m.items():
            out.setdefault(k, []).append(v)
    return {k: _median(v) for k, v in out.items()}


def _prepare_env(run_dir: Path) -> None:
    """Keep every file the run writes under `run_dir`, and let Spark's
    Python workers import the package from the repository root."""
    for d in ("spark-local", "tmp", "warehouse"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tempfile.tempdir = str(run_dir / "tmp")
    # takes precedence over spark.local.dir, so set it even if the caller did
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # the short-lived JVM that spark-submit runs to build its java command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def run(workload_name: str, seed: int, seconds: float, trace: bool, run_dir: Path) -> dict:
    launched = time.perf_counter()
    work = run_dir.parent
    run_id = run_dir.name

    from kgbench.spans import Tracer
    from kgbench.workloads import WORKLOADS

    t0 = time.perf_counter()
    spark = _start_spark(run_dir)
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[workload_name](spark, seed, run_dir)
        setup_times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup()
            setup_times.append(time.perf_counter() - t)
        off = Tracer(spark, run_id, enabled=False)
        t = time.perf_counter()
        wl.build()
        build_s = time.perf_counter() - t
        wl.prepare()
        t = time.perf_counter()
        wl.warm_up(off)
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(setup_times) + build_s + warm_s

        tracer = Tracer(spark, run_id, enabled=True)
        lanes = [off, tracer] if trace else [off]
        results: dict[bool, list] = {False: [], True: []}
        errors: list[str] = []
        steal0, total0 = _cpu_jiffies()
        start = time.perf_counter()
        i = 0
        while True:
            # a traced run alternates which copy of the operation goes first
            for lane in (lanes if i % 2 == 0 else lanes[::-1]):
                try:
                    r = wl.op(i, lane)
                except Exception as exc:  # a failed operation is counted, not fatal
                    r = None
                    errors.append(f"op {i}: {type(exc).__name__}: {exc}")
                else:
                    if r.error:
                        errors.append(f"op {i}: {r.error}")
                results[lane.enabled].append(r)
            i += 1
            now = time.perf_counter()
            done = i >= wl.traced_ops if trace else now - start >= seconds and wl.can_stop(i)
            if done or now - launched > WALL_LIMIT_S:
                break
        measured_s = time.perf_counter() - start
        steal1, total1 = _cpu_jiffies()
        bpt = wl.store_bytes_per_triple()
        props = wl.props
        wl.close()
    finally:
        from pyspark import SparkContext

        jvm_pid = getattr(getattr(SparkContext._gateway, "proc", None), "pid", None)
        rss = _peak_rss_mb([os.getpid(), jvm_pid] if jvm_pid else [os.getpid()])
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    all_results = [r for lane in results.values() for r in lane]
    ok = [r for r in results[False] if r is not None and r.error is None]
    attempted = len(all_results)
    failed = sum(1 for r in all_results if r is None or r.error is not None)
    lat = [r.latency for r in ok]
    noise = {
        "loadavg_1m": _loadavg(),
        "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
    }
    if trace:
        metrics = layer_metrics(tracer)
        pairs = [
            (b.latency - a.latency)
            for a, b in zip(results[False], results[True])
            if a is not None and b is not None
        ]
        metrics.update(noise, trace_overhead_s=_median(pairs), peak_rss_mb=rss)
        traces = work / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tracer.write(str(traces / f"{run_id}.jsonl"))
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_s": _median(lat),
            "op_p90_s": _p90(lat),
            "items_per_s": sum(r.items for r in ok) / sum(lat) if lat else 0.0,
            "store_bytes_per_triple": bpt,
        }
    defs = load_metric_defs()["end_to_end" if not trace else "per_layer"]
    diag = {
        "workload": workload_name,
        "seed": seed,
        "ops": len(lat),
        "latencies_s": [round(x, 4) for x in lat],
        "p50_by_kind_s": {
            k: round(_median([r.latency for r in ok if r.kind == k]), 4)
            for k in sorted({r.kind for r in ok})
        },
        "measured_s": measured_s,
        "setup": {"session_s": session_s, "inputs_s": setup_times, "build_s": build_s,
                  "warm_up_s": warm_s},
        "wall_s": time.perf_counter() - launched,
        "inputs": props,
        "peak_rss_mb": rss,
        **noise,
        "errors": errors[:5],
    }
    return {
        "diag": diag,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                d["name"]: {"value": float(metrics.get(d["name"]) or 0.0), "unit": d["unit"]}
                for d in defs
            },
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"kgbench: no {PACKAGE} package next to {HERE.name}/; run from a full checkout",
              file=sys.stderr)
        return 2
    run_dir = Path.cwd() / ".kgbench_work" / (
        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    _prepare_env(run_dir)
    sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != HERE]
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    out = run(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    print(json.dumps(out["diag"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
