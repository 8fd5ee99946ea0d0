#!/usr/bin/env python3
"""Run one benchmark workload at a seed and print its metrics.

    python3 perfbench/run.py --workload asof_sql --seed 7 --seconds 16 --trace 0

Run from the repository root: the library is imported from the current
directory. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The lines before it print every metric of the run with
its unit. The full record (every metric, diagnostics, health probes)
goes to ``.perfbench_out/<workload>-s<seed>-trace<0|1>.json``; a traced
run also writes its spans next to it. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.parse
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

READ_KINDS = ("lookup", "sql", "lookup_cur", "lookup_ver")
OUT_DIR = ".perfbench_out"

# the metrics of the result line (BENCHMARK.json); the record holds more
END_TO_END = ("setup_s", "read_p50_ms", "ops_per_s", "peak_rss_mb")
# per-layer metrics every workload exercises
PER_LAYER = (
    "table.resolve_ms", "table.snapshot_bytes", "table.parse_hit_frac",
    "metadata.prune_ms", "metadata.files_total", "metadata.files_kept",
    "metadata.files_kept_frac", "lakehouse.build_ms", "lakehouse.py4j_calls",
    "spark.exec_ms", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.py4j_calls", "iofs.calls", "iofs.read_bytes", "trace.read_p50_ms",
)


def unit_of(name: str) -> str:
    """A metric's unit, from its name."""
    if "bytes" in name:
        return "B"
    for suffix, unit in (("ops_per_s", "ops/s"), ("rows_per_s", "rows/s"), ("_ms", "ms"),
                         ("_s", "s"), ("_mb", "MB"), ("_frac", "ratio"), ("_amp", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of ``values`` (p in 0..100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest of p99/p95/p90/p75/p50 with at
    least ten samples beyond it; p50 when there are fewer than 20."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return p, percentile(values, p)
    return 50, percentile(values, 50)


def proc_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def health(spark) -> dict:
    """Session-health probe: one-task job latency, py4j round trip,
    driver and JVM resident memory."""
    jobs = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(0, 1, 1, 1).collect()
        jobs.append(time.perf_counter() - t)
    rtts = []
    for _ in range(20):
        t = time.perf_counter()
        spark._jvm.java.lang.System.nanoTime()
        rtts.append(time.perf_counter() - t)
    return {
        "trivial_job_ms": 1000 * statistics.median(jobs),
        "py4j_rtt_ms": 1000 * statistics.median(rtts),
        "driver_rss_mb": proc_kb(os.getpid(), "VmRSS") / 1024,
        "jvm_rss_mb": proc_kb(jvm_pid(spark), "VmRSS") / 1024,
    }


def start_spark(root: str, work: str):
    # collected timestamps come back as naive local times; make local UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed, pre-touched 2 GB driver heap: under the library's 8 GB
    # default the resident heap grows with GC timing, and peak RSS
    # varied by a quarter between runs of one workload
    os.environ["BAZOF_DRIVER_MEM"] = "2g"
    # Python workers import the library from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # no hsperfdata file in the system temp directory
        f"--driver-java-options '-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}'",
        "pyspark-shell",
    ])
    from bazof_spark.session import get_spark

    # one task thread: on a few shared cores a stage as wide as the
    # machine waits for its slowest task, so every other tenant's load
    # showed in the latencies. With 2 competing busy threads on 4 cores,
    # asof_sql's read_p50_ms rose 1.65x at local[4] and 1.1x at local[1].
    spark = get_spark(app_name="perfbench", master="local[1]", shuffle_partitions=1)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``, from /proc."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, pending = [], [pid]
    while pending:
        p = pending.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        pending.extend(kids)
    return out


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and the Python workers it
    started have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    killed = False
    while True:
        alive = [p for p in workers if _running(p)]
        if not alive or (killed and time.monotonic() > deadline):
            return
        if not killed and time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
            deadline = time.monotonic() + 10
        time.sleep(0.05)


class Harness:
    """Runs operations, times them, checks them, and keeps the samples."""

    def __init__(self, wl, tracer=None):
        self.wl = wl
        self.tracer = tracer
        self.samples: list[tuple[str, float]] = []  # (kind, seconds)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.scan_rows = 0
        self.check_s = 0.0
        self._file_rows: dict[str, int] = {}

    def _rows_in(self, df) -> int:
        import pyarrow.parquet as pq

        total = 0
        for uri in df.inputFiles():
            n = self._file_rows.get(uri)
            if n is None:
                path = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
                n = self._file_rows[uri] = pq.read_metadata(path).num_rows
            total += n
        return total

    def _dir_sizes(self) -> dict[str, int]:
        path = os.path.join(self.wl.root, self.wl.TABLE)
        return {e.name: e.stat().st_size for e in os.scandir(path) if e.is_file()}

    def execute(self, op, timed: bool) -> None:
        tr = self.tracer if timed else None
        before = self._layout() if tr is not None and op.kind in ("upsert", "compact") else None
        if tr is not None:
            tr.begin_op(op.kind)
        df = result = None
        err = None
        t0 = time.perf_counter()
        try:
            if op.build is not None:
                df = op.build()
                if tr is not None:
                    with tr.span("spark.exec"):
                        result = df.collect()
                else:
                    result = df.collect()
            else:
                result = op.run()
        except Exception as exc:  # a failed operation is counted, not fatal
            err = exc
        dt = time.perf_counter() - t0
        info = tr.end_op() if tr is not None else None
        self.attempted += 1
        ok = False
        t1 = time.perf_counter()
        if err is None:
            try:
                ok = bool(op.check(result))
            except Exception as exc:
                err = exc
        self.check_s += time.perf_counter() - t1
        if not ok:
            self.failed += 1
            self.errors.append(f"{op.kind}: {'wrong result' if err is None else repr(err)[:300]}")
        if timed:
            self.samples.append((op.kind, dt))
            if df is not None and err is None:
                self.scan_rows += self._rows_in(df)
        if before is not None:
            self._count_layout(info, op.kind, before, self._layout())

    def _layout(self):
        """Table directory listing and Current file count, read without
        the library's snapshot parse cache (filling it here would turn
        the traced run's parse misses into hits)."""
        from bazof_spark.metadata import Snapshot

        path = os.path.join(self.wl.root, self.wl.TABLE)
        with open(os.path.join(path, "version.txt")) as f:
            version = f.read().strip()
        with open(os.path.join(path, f"s{version}.json")) as f:
            snapshot = Snapshot.deserialize(f.read())
        return self._dir_sizes(), len(snapshot.get_data_files())

    def _count_layout(self, info, kind, before, after) -> None:
        (sizes0, files0), (sizes1, files1) = before, after
        new = {n: s for n, s in sizes1.items() if n not in sizes0}
        data = sum(s for n, s in new.items() if n.endswith(".parquet"))
        snaps = sum(s for n, s in new.items() if n.startswith("s") and n.endswith(".json"))
        c = info["counts"]
        if kind == "upsert":
            c["writer.data_bytes"] += data
            c["writer.snapshot_bytes"] += snaps
        else:
            c["maintenance.bytes_rewritten"] += data
            c["maintenance.files_before"] += files0
            c["maintenance.files_after"] += files1


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def run(args) -> dict:
    from workloads import WORKLOADS

    root = os.getcwd()
    out = os.path.join(root, OUT_DIR)
    work = os.path.join(out, f"work-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    wl = None
    try:
        t_setup = time.perf_counter()
        spark = start_spark(root, work)
        t_probe = time.perf_counter()
        health_start = health(spark)
        probe_s = time.perf_counter() - t_probe
        phases = {"session_s": t_probe - t_setup}
        t = time.perf_counter()
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        wl.setup()
        phases["author_s"] = time.perf_counter() - t
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark)
        h = Harness(wl, tracer)
        t = time.perf_counter()
        stream = wl.ops()
        for _ in range(wl.warmup):
            h.execute(next(stream), timed=False)
        wl.start_timing()
        phases["warmup_s"] = time.perf_counter() - t
        # the oracle's own work is not the library's set-up
        phases["oracle_s"] = wl.oracle_s + h.check_s
        setup_s = time.perf_counter() - t_setup - probe_s - phases["oracle_s"]

        table_path = os.path.join(wl.root, wl.TABLE)
        bytes_start = dir_bytes(table_path)
        if tracer is not None:
            tracer.install()
        busy = 0.0
        wall0 = time.perf_counter()
        ticks0 = cpu_ticks()
        n = 0
        try:
            for op in stream:
                h.execute(op, timed=True)
                busy += h.samples[-1][1]
                n += 1
                if n % wl.cycle == 0 and (busy >= args.seconds or time.perf_counter() - wall0 > 4 * args.seconds):
                    break
        finally:
            if tracer is not None:
                tracer.uninstall()
                tracer.finish()
        for ok in wl.final_checks():
            h.attempted += 1
            if not ok:
                h.failed += 1
                h.errors.append("final check: acknowledged upserts not all readable")
        ticks1 = cpu_ticks()
        health_end = health(spark)
        peak_mb = (proc_kb(os.getpid(), "VmHWM") + proc_kb(jvm_pid(spark), "VmHWM")) / 1024

        def lat(kinds):
            return [s for k, s in h.samples if k in kinds]

        reads = lat(READ_KINDS)
        writes = lat(("upsert",))
        compacts = lat(("compact",))
        tail_p, tail_v = tail(reads)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "ops": dict(sorted(Counter(k for k, _ in h.samples).items())),
            "timed_busy_s": busy,
            "timed_wall_s": time.perf_counter() - wall0,
            "setup_phases": phases,
            "latencies_ms": [[k, round(1000 * v, 3)] for k, v in h.samples],
            "read_samples": len(reads),
            "read_tail_pct": tail_p,
            "end_to_end": {
                "setup_s": setup_s,
                "read_p50_ms": 1000 * statistics.median(reads),
                "read_tail_ms": 1000 * tail_v,
                "ops_per_s": len(h.samples) / busy,
                "scan_rows_per_s": h.scan_rows / sum(reads),
                "peak_rss_mb": peak_mb,
                "failed_frac": h.failed / h.attempted,
            },
            # share of CPU time a hypervisor gave to other guests while
            # the timed phase ran: a high value marks a loaded host
            "health": {"start": health_start, "end": health_end,
                       "timed_steal_frac": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])},
            "errors": h.errors[:20],
        }
        e2e = record["end_to_end"]
        if writes:
            wt_p, wt_v = tail(writes)
            e2e.update({"write_p50_ms": 1000 * statistics.median(writes), "write_tail_ms": 1000 * wt_v})
            record["write_samples"], record["write_tail_pct"] = len(writes), wt_p
            e2e["write_amp"] = (dir_bytes(table_path) - bytes_start) / max(1, wl.upserted_arrow_bytes)
            e2e["space_amp"] = dir_bytes(table_path) / wl.current_state_bytes(work)
        if compacts:
            e2e["compact_p50_ms"] = 1000 * statistics.median(compacts)
            record["compact_samples"] = len(compacts)
        if hasattr(wl, "repeated_instant_frac"):
            record["repeated_instant_frac"] = wl.repeated_instant_frac
        if tracer is not None:
            from tracer import layer_metrics

            layers = layer_metrics(tracer)
            layers["trace.read_p50_ms"] = e2e["read_p50_ms"]
            record["per_layer"] = layers
            base = f"{args.workload}-s{args.seed}"
            tracer.write_spans(os.path.join(out, f"{base}-spans.jsonl"))
            untraced = os.path.join(out, f"{base}-trace0.json")
            if os.path.exists(untraced):
                with open(untraced) as f:
                    ref = json.load(f)["end_to_end"]["read_p50_ms"]
                record["trace_overhead_frac"] = e2e["read_p50_ms"] / ref - 1
        return {"record": record, "attempted": h.attempted, "failed": h.failed}
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["lookup", "asof_sql", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join("bazof_spark", "__init__.py")):
        print("perfbench: run from the repository root (no bazof_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())

    t0 = time.perf_counter()
    res = run(args)
    rec = res["record"]
    rec["wall_s"] = time.perf_counter() - t0
    out = os.path.join(os.getcwd(), OUT_DIR)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-s{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    for k, v in sorted({**rec["end_to_end"], **rec.get("per_layer", {})}.items()):
        print(f"{k} {v:.6g} {unit_of(k)}")
    if "trace_overhead_frac" in rec:
        print(f"tracing overhead on read_p50_ms: {100 * rec['trace_overhead_frac']:+.1f}%")
    names = PER_LAYER if args.trace else END_TO_END
    values = rec["per_layer"] if args.trace else rec["end_to_end"]
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": unit_of(k)} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
