"""One benchmark run inside the program's own Python process.

``run.py`` starts this file with the launch environment (core count, local
directories, and for traced runs the Spark event log) and reads back the JSON
it writes to ``--out``.  Steps:

1. make the workload's inputs from ``--seed`` (untimed);
2. with ``--trace 1``, install the tracer before the program is imported;
3. set up: one cold start, then ``SETUPS`` timed re-builds of the session
   (``get_spark`` + a trivial job, + the HTTP server on ``api_payload``);
4. warm up, then measure for ``--seconds``; every output is checked;
5. read peak RSS, stop Spark, and in traced runs attribute the Spark jobs
   of the event log to spans and compute the per-layer figures.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen_docs  # noqa: E402
import gen_tables  # noqa: E402
import metrics  # noqa: E402
import tracer as tracer_mod  # noqa: E402

SETUPS = 3
API_WARMUP = 4  # untimed requests before the timed window
CURATION_SCALE = 0.01  # TPC-H scale factor of the generated tables
# Untimed passes before the window.  A part's second run is still about
# 5-10 % slower than its third; a second warm-up pass would cost ~12 s per
# run, more than the benchmark's time budget (see README) leaves.
CURATION_WARMUP_PASSES = 1
CURATION_QUERIES = ["q5_region_revenue", "cohort_retention", "dup_components"]
BATCH_FILES, BATCH_KEYS, BATCH_KEY_SETS = 12, 48, 12


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM child, in MiB."""
    me = os.getpid()
    pids = [me]
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        if int(fields[1]) == me and comm == "java":
            pids.append(int(d))
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def program_cpu_s(skip: set[int] = frozenset()) -> float:
    """CPU seconds (user + system) used so far by the program: every process
    of this session (this Python driver, its JVM, the JVM's Python workers)
    but those in ``skip``.  The CPU of children a process has already reaped
    counts too, except for this process, whose reaped child is the load
    generator.  Time the host steals from the VM is not in it."""
    me, sid = os.getpid(), os.getsid(0)
    ticks = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in skip:
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) != sid:
            continue
        ticks += int(fields[11]) + int(fields[12])
        if int(d) != me:
            ticks += int(fields[13]) + int(fields[14])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_jiffies() -> list[int]:
    """The host's cpu line of /proc/stat: user, nice, system, idle, iowait,
    irq, softirq, steal (clock ticks since boot)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Busy, idle and steal shares of all cores' time between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {"busy": round(sum(d[:3] + d[5:7]) / total, 3), "idle": round(sum(d[3:5]) / total, 3),
            "steal": round(d[7] / total, 3)}


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.tracer = tracer_mod.install() if args.trace else None
        self.attempted = 0
        self.failures: list[str] = []
        self.record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # -- bookkeeping -----------------------------------------------------
    def check(self, what: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failures.append(f"{what}: {error}")

    def mark(self, phase: str) -> None:
        """Record when ``phase`` ended, in seconds since the run started."""
        self.record.setdefault("phases_s", {})[phase] = round(time.time() - self.args.t0, 2)

    def span(self, name: str, layer: str):
        if self.tracer is None or not self.tracer.enabled:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)

    def trace_main(self, enabled: bool, op: str | None) -> None:
        if self.tracer is not None:
            self.tracer.set_thread(enabled, op)

    # -- set-up ----------------------------------------------------------
    def set_up(self, make_server: bool):
        """Cold start, then ``SETUPS`` timed re-builds of the session."""
        self.trace_main(True, "setup")
        from etl_pipeline2_0_spark import get_spark
        from etl_pipeline2_0_spark.server import create_server

        def once():
            spark = get_spark()
            spark.range(1).count()
            return spark, (create_server(spark) if make_server else None)

        spark, srv = once()
        self.record["cold_start_s"] = time.time() - self.args.t0
        times = []
        for _ in range(SETUPS):
            if srv is not None:
                srv.server_close()
            spark.stop()
            t = time.perf_counter()
            spark, srv = once()
            times.append(time.perf_counter() - t)
        self.record["setup_samples_s"] = times
        self.mark("setup")
        self.record["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        self.trace_main(False, None)
        return spark, srv, statistics.median(times)

    # -- api_payload -----------------------------------------------------
    def api_payload(self) -> dict:
        spark, srv, setup_s = self.set_up(make_server=True)
        # CPU the program spends on each request, by request id.
        request_cpu: dict[str, float] = {}
        skip: set[int] = set()
        base = srv.RequestHandlerClass

        class MeteredHandler(base):
            def do_POST(self):
                c = program_cpu_s(skip)
                try:
                    return base.do_POST(self)
                finally:
                    request_cpu[self.headers.get("X-Bench-Request")] = program_cpu_s(skip) - c

        srv.RequestHandlerClass = MeteredHandler
        server_thread = threading.Thread(target=srv.serve_forever, daemon=True)
        server_thread.start()
        cmd = [
            sys.executable, os.path.join(HERE, "loadgen.py"),
            "--port", str(srv.server_address[1]), "--seed", str(self.args.seed),
            "--seconds", str(self.args.seconds), "--warmup", str(API_WARMUP),
            "--trace", str(self.args.trace),
        ]
        cpu0 = cpu_jiffies()
        loadgen = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        skip.add(loadgen.pid)
        try:
            out, err = loadgen.communicate(timeout=150)
        finally:
            loadgen.kill()
            loadgen.wait()
            srv.shutdown()
            srv.server_close()
        if loadgen.returncode != 0:
            sys.exit(f"load generator failed: {err[-2000:]}")
        self.mark("requests")
        self.record["cpu_requests"] = cpu_shares(cpu0, cpu_jiffies())
        load = json.loads(out)
        for r in load["records"]:
            self.check(r["id"], r["error"])
        timed = [r for r in load["records"] if not r["warmup"] and r["error"] is None]
        # A handler thread files its request's CPU just after the reply went
        # out; wait for the last one.
        give_up = time.time() + 10
        while any(r["id"] not in request_cpu for r in timed) and time.time() < give_up:
            time.sleep(0.01)
        latency = {r["id"]: r["end"] - r["start"] for r in timed}
        p50 = statistics.median(latency.values())
        tail, pct = metrics.tail(list(latency.values()))
        self.record.update(
            requests_timed=len(timed), warmup_requests=API_WARMUP,
            tail_s=tail, tail_percentile=pct, max_latency_s=max(latency.values()),
            req_per_s=len(timed) / sum(latency.values()),
            payload_bytes=sum(r["bytes"] for r in timed),
            latencies_s=[[r["end"] - r["start"], r["bytes"]] for r in timed],
            warmup_latencies_s=[r["end"] - r["start"] for r in load["records"] if r["warmup"]],
        )
        self.record["peak_rss_mb"] = peak_rss_mb()
        self.record.update(op_p50_s=p50, request_cpu_s=[request_cpu[r["id"]] for r in timed])
        e2e = {"setup_s": setup_s, "op_cpu_s": statistics.median(request_cpu[r["id"]] for r in timed)}
        traced = {r["id"] for r in timed if r["traced"]}
        on = [v for k, v in latency.items() if k in traced]
        off = [v for k, v in latency.items() if k not in traced]
        base = statistics.median(off) if off else 0.0
        self.overhead = (statistics.median(on) - base) / base if on and off else 0.0
        self.client_latency = latency
        spark.stop()
        return e2e

    # -- curation_mix ----------------------------------------------------
    def curation_mix(self) -> dict:
        import duckdb

        rd = self.args.rundir
        tables = os.path.join(rd, "tables")
        gen_tables.write_tables(self.args.seed, tables, CURATION_SCALE)
        stream_src = os.path.join(rd, "stream_src")
        os.makedirs(stream_src)
        shutil.copy(os.path.join(tables, "events.parquet"), stream_src)
        corpus = os.path.join(rd, "corpus")
        manifest = gen_docs.write_corpus(self.args.seed, corpus, BATCH_FILES, BATCH_KEYS, BATCH_KEY_SETS)

        self.mark("inputs")
        spark, _, setup_s = self.set_up(make_server=False)
        from etl_pipeline2_0_spark.pipeline import run_batch
        from etl_pipeline2_0_spark.plans.registry import ALL_QUERIES
        from etl_pipeline2_0_spark.sources.tables import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
        oracle = {q: checks.value_hash(con.sql(ALL_QUERIES[q][1]).fetchdf()) for q in CURATION_QUERIES}
        con.close()
        self.mark("oracle")

        stream_ref: dict[str, str] = {}
        counter = iter(range(10**6))

        def query(q: str) -> float:
            with self.span(f"plans.{q}.build", "plans"):
                t = time.perf_counter()
                df = ALL_QUERIES[q][0](spark, tables)
            with self.span(f"plans.{q}.action", "plans.action"):
                pdf = df.toPandas()
                dt = time.perf_counter() - t
            self.check(q, None if checks.value_hash(pdf) == oracle[q] else "value hash != oracle")
            return dt

        def stream() -> float:
            name = f"bench_sessions_{next(counter)}"
            with self.span("streaming.windows.stream_sessionize.drain", "streaming.windows") as sp:
                t = time.perf_counter()
                q = _start_sessionize(spark, tables, stream_src, name, os.path.join(rd, "ckpt", name))
                try:
                    q.awaitTermination(150)
                finally:
                    if q.isActive:
                        q.stop()
                dt = time.perf_counter() - t
                if sp is not None:
                    sp.extra["batches"] = len(q.recentProgress)
            h = checks.rows_hash(spark.table(name).collect())
            spark.catalog.dropTempView(name)
            ref = stream_ref.setdefault("rows", h)
            self.check("stream_sessionize", None if h == ref else "drained rows differ from the first pass")
            return dt

        def batch() -> float:
            out = os.path.join(rd, f"batch_out_{next(counter)}")
            with self.span("batch", "batch") as sp:
                t = time.perf_counter()
                res = run_batch(spark, input_path=corpus, out_dir=out, use_rowstore=True)
                dt = time.perf_counter() - t
                if sp is not None:
                    sp.extra["bytes_out"] = _tree_bytes(out)
            self.check("batch", checks.check_batch_output(out, res["metadata"], manifest))
            shutil.rmtree(out)
            return dt

        parts = [(q, lambda q=q: query(q)) for q in CURATION_QUERIES]
        parts.append(("stream_sessionize", stream))
        parts.append(("batch", batch))
        rng = random.Random(self.args.seed)

        names = [p for p, _ in parts]
        # part → [(seconds, traced)] over the measured passes
        part_s: dict[str, list[tuple[float, bool]]] = {p: [] for p in names}
        part_cpu: dict[str, list[float]] = {p: [] for p in names}  # program CPU s

        def one_pass(n: int, deadline: float | None = None) -> None:
            """Pass ``n`` (0 = warm-up), stopping before a part that would
            start after ``deadline``.  In traced runs every other part is
            traced, the other half in the next pass, so each pair of passes
            traces every part once and times every part untraced once; the
            pair is one traced operation."""
            for name, run in rng.sample(parts, len(parts)):
                if deadline is not None and time.perf_counter() >= deadline:
                    return
                i = names.index(name)
                traced = bool(self.args.trace) and n > 0 and (i + n + self.args.seed) % 2 == 0
                self.trace_main(traced, f"round{(n - 1) // 2}")
                c = program_cpu_s()
                dt = run()
                dc = program_cpu_s() - c
                self.trace_main(False, None)
                if n > 0:
                    part_s[name].append((dt, traced))
                    part_cpu[name].append(dc)
                else:
                    self.record.setdefault("warmup_part_s", {}).setdefault(name, []).append(dt)

        for _ in range(CURATION_WARMUP_PASSES):
            one_pass(0)
        self.mark("warmup")
        cpu0 = cpu_jiffies()
        deadline = time.perf_counter() + self.args.seconds
        n = 0
        # The first measured pass always completes, so every part has a
        # sample, and traced runs complete pairs of passes.  Untraced runs
        # then go on part by part until the window closes.
        while n == 0 or time.perf_counter() < deadline or (self.args.trace and n % 2):
            n += 1
            one_pass(n, None if n == 1 or self.args.trace else deadline)
        self.mark("measure")
        self.record["cpu_window"] = cpu_shares(cpu0, cpu_jiffies())
        pass_s = sum(statistics.median(t for t, _ in v) for v in part_s.values())
        self.record.update(passes_started=n, warmup_passes=CURATION_WARMUP_PASSES, part_s=part_s,
                           corpus=manifest.to_json(), corpus_files=BATCH_FILES)
        self.record["peak_rss_mb"] = peak_rss_mb()
        self.record.update(op_p50_s=pass_s, part_cpu_s=part_cpu)
        e2e = {"setup_s": setup_s, "op_cpu_s": sum(statistics.median(v) for v in part_cpu.values())}
        on = sum(t for v in part_s.values() for t, tr in v if tr)
        off = sum(t for v in part_s.values() for t, tr in v if not tr)
        self.overhead = (on - off) / off if self.args.trace else 0.0
        self.client_latency = {}
        spark.stop()
        return e2e

    # -- per-layer -------------------------------------------------------
    def per_layer(self) -> dict:
        log_dir = os.path.join(self.args.rundir, "eventlog")
        jobs = tracer_mod.parse_event_log(log_dir)
        spans = self.tracer.spans
        serial = self.args.workload == "curation_mix"
        rest = tracer_mod.attribute_jobs(spans, jobs, serial=serial)
        self.record["jobs_outside_traced_ops"] = len(rest)
        by_op: dict[str, list] = {}
        for s in spans:
            by_op.setdefault(s.op, []).append(s)
        setup = metrics.OpTrace(by_op.pop("setup", []))
        ops = [metrics.OpTrace(v) for k, v in by_op.items() if k is not None]
        out = metrics.layer_metrics(ops, CURATION_QUERIES, self.client_latency)
        out["session.get_spark.wall_s"] = metrics.median(
            s.end - s.start for s in setup.top("session")[1:]
        )
        out["trace.overhead_frac"] = self.overhead
        self.record["traced_ops"] = len(ops)
        self.tracer.dump(os.path.join(self.args.rundir, "spans.json"))
        return out


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _start_sessionize(spark, tables, src, name, checkpoint):
    """Drain the events file stream once (``availableNow``) through the
    stateful sessionizer into a memory sink, the way the repository's own
    streaming benchmark row does."""
    from etl_pipeline2_0_spark.sources.tables import load_table
    from etl_pipeline2_0_spark.streaming.windows import sized_state_partitions, stream_sessionize

    schema = load_table(spark, tables, "events").schema
    events = spark.readStream.schema(schema).parquet(src)
    with sized_state_partitions(spark):
        return (
            stream_sessionize(events).writeStream.format("memory").queryName(name)
            .outputMode("update").option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start()
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["api_payload", "curation_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--rundir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--t0", type=float, required=True)
    args = ap.parse_args()

    run = Run(args)
    st = run.record["self_test"] = checks.self_test(args.rundir)
    if st["caught"] != st["planted"] or st["false_alarms"]:
        sys.exit(f"output checks failed their self-test: {st}")
    e2e = getattr(run, args.workload)()
    result = {
        "attempted": run.attempted,
        "failed": len(run.failures),
        "failures": run.failures[:20],
        "end_to_end": e2e,
        "per_layer": run.per_layer() if args.trace else {},
        "record": run.record,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
