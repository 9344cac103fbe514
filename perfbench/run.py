"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  It starts the program's
process (``worker.py``) with ``SPARK_GRAFT_CPUS`` set to the core count and
every scratch directory (Spark local dirs, warehouse, temp files, the event
log) inside a per-run directory under ``perfbench/.run`` that is removed at
the end; waits for it; and prints, as the last line of standard output, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``.  The line before it is the run record: host, sample counts,
warm-up counts and the figures that are not metrics.  Both are also kept in
``perfbench/.out``.  Exits non-zero without a result if the program is
missing or the run fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("api_payload", "curation_mix")
TIMEOUT_S = 170


def load_avg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def blas_kernel() -> str:
    """``OPENBLAS_CORETYPE`` if set, else the core OpenBLAS picked at load."""
    if os.environ.get("OPENBLAS_CORETYPE"):
        return "OPENBLAS_CORETYPE=" + os.environ["OPENBLAS_CORETYPE"]
    import numpy  # noqa: F401  (loads the BLAS library)

    with open("/proc/self/maps") as f:
        libs = {line.split()[-1] for line in f if "openblas" in line.lower()}
    for path in sorted(libs):
        lib = ctypes.CDLL(path)
        for sym in ("openblas_get_corename", "openblas_get_corename64_"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                return fn().decode()
    return "unknown"


def host_record(cpus: int) -> dict:
    import pyspark

    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": str(cpus),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "blas": blas_kernel(),
        "loadavg_start": load_avg(),
    }


def launch_env(rundir: str, cpus: int, trace: bool) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(rundir, "tmp")
    for d in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(rundir, d))
    # No hsperfdata file under /tmp: the run writes only inside the checkout.
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem'"]
    if trace:
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{rundir}/eventlog",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(rundir, "local"),
        SPARK_WAREHOUSE_DIR=os.path.join(rundir, "warehouse"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
        PYTHONDONTWRITEBYTECODE="1",
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
    )
    return env


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``: the worker, its JVM, the JVM's
    Python daemons (which move to a process group of their own) and the
    load generator.  Zombies have ended and are left out."""
    pids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if fields[0] != "Z" and int(fields[3]) == sid:
                pids.append(int(d))
        except (OSError, ValueError, IndexError):
            continue
    return pids


def end_session(sid: int, timeout: float = 30.0) -> None:
    """Kill every process of session ``sid`` and wait until none is left."""
    end = time.time() + timeout
    while time.time() < end:
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    t0 = time.time()

    if not os.path.isfile(os.path.join(ROOT, "etl_pipeline2_0_spark", "__init__.py")):
        print("perfbench: the program (etl_pipeline2_0_spark/) is not in this checkout", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    host = host_record(cpus)
    rundir = os.path.join(HERE, ".run", f"{args.workload}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(HERE, ".out")
    os.makedirs(outdir, exist_ok=True)
    os.makedirs(rundir)
    result_path = os.path.join(rundir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--rundir", rundir, "--out", result_path, "--t0", str(t0),
    ]
    proc = subprocess.Popen(
        cmd, cwd=ROOT, env=launch_env(rundir, cpus, bool(args.trace)),
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=TIMEOUT_S - (time.time() - t0))
    except subprocess.TimeoutExpired:
        err = "timed out"
    finally:
        # The worker's session holds the JVM and Python workers: end them all.
        end_session(proc.pid)
        proc.wait()
    try:
        with open(result_path) as f:
            res = json.load(f)
    except (OSError, ValueError):
        sys.stderr.write((err or "")[-4000:])
        print(f"perfbench: the {args.workload} run produced no result", file=sys.stderr)
        shutil.rmtree(rundir, ignore_errors=True)
        return 1
    if args.trace:
        shutil.copy(os.path.join(rundir, "spans.json"),
                    os.path.join(outdir, f"spans-{args.workload}-{args.seed}.json"))
    shutil.rmtree(rundir, ignore_errors=True)

    host["loadavg_end"] = load_avg()
    record = dict(res["record"], host=host, failures=res["failures"], wall_s=time.time() - t0)
    values = res["per_layer"] if args.trace else res["end_to_end"]
    units = {m["name"]: m["unit"] for m in _declared(args.trace)}
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    line = {
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }
    with open(os.path.join(outdir, f"run-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"record": record, "result": line}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps(line))
    return 0


def _declared(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer"] if trace else spec["end_to_end"]


if __name__ == "__main__":
    sys.exit(main())
