#!/usr/bin/env python3
"""Benchmark of the streaming pipeline, the daily rollup job and the query
lanes. Run from the repository root:

    python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 20 --trace 0

Workloads (see BENCHMARK.json): ``stream_replay`` and ``batch_mix``. Inputs
come from ``--seed`` through ``perfbench/gen.py``; which end-to-end metric
each per-layer metric should move is in ``perfbench/interactions.json``.

With ``--trace 0`` the last stdout line is one JSON object holding the
end-to-end metrics: ``setup_s`` and ``cpu_ms_per_op``, the CPU time of the
benchmark process, the driver JVM and every process below them per timed op,
JIT compiler threads left out. Wall-time latencies and throughputs are
printed on the lines before it but not gated: they also count the time the
program waited for a CPU that other threads, processes or the hypervisor
held, which on a shared host moves them from run to run by more than the
CPU time. With ``--trace 1`` the last line holds the per-layer metrics, and
the run also writes its spans to ``.perfbench/<run>/spans.json``. Lines
before it give every metric under its workload-specific name, with unit and
sample count, and the host provenance. Exits non-zero, printing no result,
when the program is missing or the run fails.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PROGRAM = "kafkastreamingetl_spark"
DEADLINE_S = 170  # every run must end within 180 s


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (setup starts there)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)


def _ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _pin_host(run_dir: str) -> int:
    """Core count from the CPU mask, driver heap well below host RAM, fresh
    local and temp dirs inside the run directory. JIT compiler threads are
    kept alive, so that tracing.cpu_s can count their CPU time."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = max(1, min(4, _ram_bytes() // 2**30 // 4))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
    )
    return cpus


def _provenance(root: str, cpus: int) -> dict:
    import pyspark

    digest = hashlib.sha256()
    for d, _, names in sorted(os.walk(os.path.join(root, PROGRAM))):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as f:
                    digest.update(f.read())
    commit = "unknown"
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        commit = r.stdout.strip() or commit
    return {
        "nproc": cpus,
        "ram_gb": round(_ram_bytes() / 2**30, 1),
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
        "program_sha256": digest.hexdigest()[:16],
    }


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _stop_jvm() -> None:
    """End the driver JVM this process launched and wait for it (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class _Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise _Deadline(f"run exceeded {DEADLINE_S} s")


# every end-to-end number under its workload-specific name:
# (name, unit, summary key, scale, sample-count key)
DISPLAY = {
    "stream_replay": [("batch_p50_ms", "ms", "p50", 1e3, "n"), ("batch_p90_ms", "ms", "p90", 1e3, "n"),
                      ("rows_per_s", "events/s", "rows_per_s", 1.0, "n_pass")],
    "batch_mix": [("query_p50_s", "s", "lane_p50", 1.0, "n_lane"), ("query_p90_s", "s", "lane_p90", 1.0, "n_lane"),
                  ("job_p50_s", "s", "job_p50", 1.0, "n_job"), ("job_p90_s", "s", "job_p90", 1.0, "n_job"),
                  ("pass_s", "s", "pass", 1.0, "n_pass"), ("rows_per_s", "rows/s", "rows_per_s", 1.0, "n_pass")],
}


def _summary(m) -> dict:
    from tracing import median, pct
    from workloads import MIX_LANES

    ok = [o for o in m.ops if o.ok]
    lat = [o.latency_s for o in ok]
    lanes = [o.latency_s for o in ok if o.key in MIX_LANES]
    jobs = [o.latency_s for o in ok if o.key not in MIX_LANES]
    return {"p50": pct(lat, 50), "p90": pct(lat, 90), "n": len(lat), "rows_per_s": m.rows_per_s,
            "cpu_ms_per_op": m.cpu_ms_per_op, "jit_ms_per_op": m.jit_ms_per_op, "n_op": len(m.ops),
            "pass": median(m.passes), "n_pass": len(m.passes),
            "lane_p50": pct(lanes, 50), "lane_p90": pct(lanes, 90), "n_lane": len(lanes),
            "job_p50": pct(jobs, 50), "job_p90": pct(jobs, 90), "n_job": len(jobs)}


def run(args, root: str, run_dir: str, t_start: float) -> dict:
    cpus = _pin_host(run_dir)
    sys.path.insert(0, root)
    from pyspark import SparkContext

    import workloads
    from tracing import Rest, Spans, peak_rss_mb

    from kafkastreamingetl_spark.session import get_test_spark

    layers: dict[str, float] = {}
    t0 = time.perf_counter()
    spark = get_test_spark("perfbench")
    layers["session.start_s"] = time.perf_counter() - t0
    jvm_pid = SparkContext._gateway.proc.pid
    wl = workloads.WORKLOADS[args.workload](spark, args.seed, run_dir, args.smoke)
    t0 = time.perf_counter()
    wl.generate()
    wl.prepare()
    layers["setup.generate_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.warm()
    layers["setup.warm_s"] = time.perf_counter() - t0
    setup_s = time.perf_counter() - t_start

    # a traced run reports per-layer numbers only: one pass per window keeps
    # its three windows, the local[1] pass and the replay inside the deadline
    n_pass = 1 if args.trace else wl.passes(args.seconds)
    plain = wl.measure(n_pass, Spans(False))
    measured = [plain]
    layers["jvm.jit_cpu_ms_per_op"] = plain.jit_ms_per_op
    if args.trace:
        spans = Spans(True)
        traced = wl.measure(n_pass, spans)
        measured.append(traced)
        rest = Rest(spark)
        groups = wl.groups(traced)
        rest.settle(groups)
        layers.update(wl.layers(traced, rest, spans))
        layers.update({f"spark.{k}": v for k, v in rest.stage_sums(groups).items()})
        spans.dump(os.path.join(run_dir, "spans.json"))
        # untraced windows on both sides of the traced one, so warm-up drift
        # does not read as tracing overhead
        after = wl.measure(n_pass, Spans(False))
        measured.append(after)
        p50_plain = (_summary(plain)["p50"] + _summary(after)["p50"]) / 2
        layers["trace.overhead_frac"] = _summary(traced)["p50"] / p50_plain - 1.0 if p50_plain else 0.0
        # one pass of the same job on one core: the single-threaded baseline
        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        spark = get_test_spark("perfbench-1core")
        wl.rebind(spark)
        one = wl.measure(1, Spans(False))
        measured.append(one)
        layers["speedup_vs_1core"] = plain.rows_per_s / one.rows_per_s if one.rows_per_s else 0.0

    for m in measured:
        wl.check(m)
    copy = os.path.join(run_dir, "data-again")
    wl.generate(copy)
    deterministic = _tree_digest(copy) == _tree_digest(wl.data)
    if not deterministic:
        wl.notes.append("generator: the same seed gave different bytes")
    layers["host.peak_rss_mb"] = rss = peak_rss_mb(jvm_pid)
    spark.stop()

    ops = [o for m in measured for o in m.ops]
    failed = sum(not o.ok for o in ops)
    s = _summary(plain)
    return {
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "summary": s,
        "layers": layers,
        "attempted": len(ops),
        "failed": failed,
        "correct": failed == 0 and deterministic and not wl.notes,
        "notes": wl.notes,
        "provenance": {**_provenance(root, cpus), **wl.provenance()},
        "op_latencies_s": [[(o.key, round(o.latency_s, 4)) for o in m.ops] for m in measured],
    }


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter() - _process_age_s()
    sys.path.insert(0, HERE)
    import workloads

    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs (perfbench/smoke_test.py)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PROGRAM, "__init__.py")):
        print(f"perfbench: no {PROGRAM}/ package in {root}; run from the repository root", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = os.path.join(root, ".perfbench", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        res = run(args, root, run_dir, t_start)
    except Exception as e:  # noqa: BLE001 - any failure means no result line
        import traceback

        traceback.print_exc()
        print(f"perfbench: {args.workload} failed: {type(e).__name__}: {e}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        if "pyspark" in sys.modules:
            _stop_jvm()
        for d in ("data", "data-again", "lake", "ck", "warm_lake", "replay_sink", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    s = res["summary"]
    e2e = {"setup_s": res["setup_s"], "cpu_ms_per_op": s["cpu_ms_per_op"]}
    failed_frac = res["failed"] / res["attempted"]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          f"provenance={json.dumps(res['provenance'], sort_keys=True)}")
    rows = [("setup_s", "s", res["setup_s"], 1), ("peak_rss_mb", "MB", res["peak_rss_mb"], 1),
            ("failed_frac", "ratio", failed_frac, res["attempted"]),
            ("cpu_ms_per_op", "ms", s["cpu_ms_per_op"], s["n_op"]),
            ("jit_cpu_ms_per_op", "ms", s["jit_ms_per_op"], s["n_op"])]
    for name, unit, key, scale, n_key in DISPLAY[args.workload]:
        rows.append((name, unit, s[key] * scale, s[n_key]))
    for name, unit, value, n in rows:
        print(f"  {name:<14} {value:>14.4f} {unit:<9} n={n}")
    for note in res["notes"]:
        print(f"  note: {note}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        print(f"  spans: {os.path.relpath(os.path.join(run_dir, 'spans.json'), root)}")
        names = [m["name"] for m in spec["per_layer"]]
        values = {n: float(res["layers"].get(n, 0.0)) for n in names}
    else:
        values = {m["name"]: float(e2e[m["name"]]) for m in spec["end_to_end"]}
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({**out, **{k: res[k] for k in ("provenance", "notes", "layers", "op_latencies_s")}}, f)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
