"""Benchmark entry point.

    python3 perfbench/run.py --workload geotag --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One process runs one workload on ``local[N]`` (N = usable cores).  Set-up
is the session start, the seeded inputs written to disk, the one-time
layer preparation and ``WARMUP_JOBS`` warm-up jobs; ``setup_s`` is their
sum.  Then it runs back-to-back jobs for ``--seconds`` (at least one) in a
closed loop, checking every job's output against an expected result
computed without the engine.
With ``--trace 1`` the first half of the window runs untraced and the
second half traced, and the per-layer metrics replace the end-to-end
ones.  Human-readable lines come first; the last stdout line is one JSON
object.  ``--smoke`` runs every workload once at a small size in its own
process and fails unless every output check passes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("geotag", "skew_shuffled", "extract_convert", "near_dup")
# the first job after a single cold one still runs ~40% slow (JIT, Python
# worker reuse), so set-up runs two and the timed window starts warm
WARMUP_JOBS = 2
VOLATILE_CONF = {
    "spark.app.id", "spark.app.startTime", "spark.app.submitTime", "spark.driver.host",
    "spark.driver.port", "spark.executor.id",
}


def _host_env(work: Path) -> tuple[int, str]:
    """Cores from the CPU affinity mask (``nproc``), driver heap a quarter
    of MemTotal; every temporary file of Spark, the JVM and Python stays
    under ``work``."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap = f"{max(1, mem_kb // (4 << 20))}g"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # no hsperfdata file in the system temp directory either
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return cores, heap


def _session(cores: int, work: Path, extra: dict[str, str]):
    from rosreestr_xml_to_gis_converter_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        **extra,
    }
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def _effective_conf(spark) -> dict[str, str]:
    return {k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
            if k not in VOLATILE_CONF}


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it ran in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _wait_gone(pids: set[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited (the Python workers
    are the JVM's descendants, reparented once it exits); kill stragglers."""
    import signal

    def alive(p: int) -> bool:
        try:
            with open(f"/proc/{p}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    deadline = time.monotonic() + timeout
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except OSError:
                        pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _metric_specs() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run(args) -> int:
    try:
        import workloads  # noqa: F401 — also proves the engine is importable
    except ImportError as exc:
        print(f"perfbench: engine not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from harness import HostNoise, ProcTree, Tracer
    from workloads import WORKLOADS, install_spans

    specs = _metric_specs()
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    cores, heap = _host_env(work)
    tracer = Tracer(enabled=False)
    if args.trace:
        install_spans(tracer)
    wl = WORKLOADS[args.workload](args.seed, work, args.scale, tracer, cores,
                                  ROOT / ".bench_cache")
    tree = ProcTree()
    spark = None
    jobs: list[tuple[bool, float, float, bool]] = []  # (traced, wall, cpu, ok)
    persisted: list[int] = []
    alive: list[bool] = []
    correct = True
    try:
        marks = [time.perf_counter()]
        tracer.enabled = bool(args.trace)
        tracer.begin_unit()
        with tracer.span("session.get_spark", spark=False):
            spark = _session(cores, work, wl.extra_conf)
        tracer.sc = spark.sparkContext
        marks.append(time.perf_counter())
        wl.generate()
        wl.prepare(spark)
        marks.append(time.perf_counter())
        tracer.enabled = False
        warm = []
        for _ in range(WARMUP_JOBS):
            warm.append(wl.job(spark))
            wl.after_job()
        marks.append(time.perf_counter())
        session_s, prep_s, warm_s = (b - a for a, b in zip(marks, marks[1:]))
        expected = wl.expected()
        if not all(wl.check(w, expected) for w in warm):
            print("perfbench: a warm-up job failed its output check", file=sys.stderr)
            correct = False
        with HostNoise(tree) as noise:
            phases = [(False, args.seconds / 2), (True, args.seconds / 2)] if args.trace \
                else [(False, args.seconds)]
            for traced, seconds in phases:
                tracer.enabled = traced
                start = time.perf_counter()
                n = 0
                while n < 1 or time.perf_counter() - start < seconds:
                    n += 1
                    tracer.begin_unit()
                    cpu0 = tree.cpu_s()
                    t0 = time.perf_counter()
                    try:
                        got = wl.job(spark)
                        dt = time.perf_counter() - t0
                        ok = wl.check(got, expected)
                    except Exception:  # noqa: BLE001 — a failed job is a measured outcome
                        dt = time.perf_counter() - t0
                        traceback.print_exc(file=sys.stderr)
                        ok = False
                    cpu = tree.cpu_s() - cpu0
                    tracer.release()
                    wl.after_job()
                    persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())
                    layer = wl.layer_alive()
                    if layer is not None:
                        alive.append(layer)
                    jobs.append((traced, dt, cpu, ok))
        if args.trace:
            tracer.enabled = True
            wl.trace_counters(spark)
        conf = _effective_conf(spark)
        peak_rss = tree.peak_rss_bytes()
    finally:
        if spark is not None:
            started = set(tree.pids()) - {tree.root}
            _stop_jvm(spark)
            _wait_gone(started)
        shutil.rmtree(work, ignore_errors=True)

    plain = [j for j in jobs if not j[0]]
    failed = sum(not j[3] for j in jobs)
    job_p50 = statistics.median(j[1] for j in plain)
    conf_sha = hashlib.sha256(json.dumps(conf, sort_keys=True).encode()).hexdigest()[:12]
    e2e = {
        "setup_s": marks[3] - marks[0],
        "job_s_p50": job_p50,
        "rows_per_s": wl.records * len(plain) / sum(j[1] for j in plain),
        "cpu_s_per_job": statistics.median(j[2] for j in plain),
        "peak_rss_mb": peak_rss / 2**20,
    }
    units = {m["name"]: m["unit"] for m in specs["end_to_end"] + specs["per_layer"]}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} scale={args.scale} "
          f"local[{cores}] driver_mem={heap} conf_sha={conf_sha}")
    for k, v in e2e.items():
        print(f"  {k:<24} {v:14.4f} {units[k]}")
    print(f"  {'job_s samples':<24} {len(plain):14d}   ("
          + ", ".join(f"{j[1]:.2f}" for j in plain) + ")")
    print(f"  {'cpu_s samples':<24} {len(plain):14d}   ("
          + ", ".join(f"{j[2]:.2f}" for j in plain) + ")")
    print(f"  set-up = session {session_s:.2f} s + inputs+prepare {prep_s:.2f} s "
          f"+ {WARMUP_JOBS} warm-up jobs {warm_s:.2f} s")
    if len(plain) >= 100:  # p90 only with >= 10 samples beyond it
        print(f"  {'job_s_p90':<24} {statistics.quantiles([j[1] for j in plain], n=10)[-1]:14.4f} s")
    print(f"  {'failed_frac':<24} {failed / len(jobs):14.4f} ratio ({failed}/{len(jobs)})")
    if args.workload == "extract_convert":
        print(f"  {'out_bytes_per_in_byte':<24} {wl.out_bytes_per_in_byte:14.4f} ratio")
    if args.workload == "near_dup":
        print(f"  {'planted_recall':<24} {wl.planted_recall:14.4f} ratio")
    print(f"  host noise over the timed window: steal_share={noise.steal_share:.4f} "
          f"other_cpu_share={noise.other_cpu_share:.4f}")
    print(f"  leaks: persisted_rdds_after_job={persisted} prepared_layer_alive="
          f"{all(alive) if alive else 'n/a'}")
    print(f"  effective conf: {json.dumps(conf, sort_keys=True)}")

    if args.trace:
        traced = [j[1] for j in jobs if j[0]]
        layer = tracer.summary()
        layer["spark.persisted_rdds_after_job"] = statistics.median(persisted)
        layer["job.out_bytes_per_in_byte"] = wl.out_bytes_per_in_byte
        layer["job.planted_recall"] = wl.planted_recall
        layer["trace.overhead_s"] = statistics.median(traced) - job_p50
        layer["peak_rss_mb"] = e2e["peak_rss_mb"]
        layer["cpu_s_per_job"] = e2e["cpu_s_per_job"]
        print(f"  tracing overhead: {layer['trace.overhead_s']:.4f} s per job "
              f"(traced p50 {statistics.median(traced):.4f} s, n={len(traced)})")
        for k in sorted(layer):
            print(f"  {k:<48} {layer[k]:16.4f} {units.get(k, '')}")
        names = [m["name"] for m in specs["per_layer"]]
        values = {k: layer.get(k, 0.0) for k in names}
    else:
        names = [m["name"] for m in specs["end_to_end"]]
        values = e2e
    result = {
        "correct": correct and failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in names},
    }
    print(json.dumps(result))
    return 0


def smoke() -> int:
    """Every workload once, small, traced, each in its own process."""
    bad = []
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", name, "--seed", "1",
               "--seconds", "1", "--trace", "1", "--scale", "smoke"]
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
        ok = res.get("correct") is True and res.get("failed") == 0
        busy = sorted({k.split(".")[0] for k, m in res.get("metrics", {}).items() if m["value"]})
        print(f"smoke {name}: {'ok' if ok else 'FAILED'} rc={p.returncode} "
              f"attempted={res.get('attempted')} layers with work: {', '.join(busy)}")
        if not ok:
            bad.append(name)
            sys.stderr.write(p.stderr[-4000:])
    return 1 if bad else 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full")
    ap.add_argument("--smoke", action="store_true", help="run every workload once, small")
    args = ap.parse_args(argv)
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    sys.path[:0] = [str(HERE), str(ROOT)]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
