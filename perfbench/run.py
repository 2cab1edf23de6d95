"""jane_spark user-level benchmark.

    python3 perfbench/run.py --workload fdsn_requests --seed 1 --seconds 12 --trace 0

Runs one workload against the program in the checkout this file sits
in: starts Spark, makes the inputs from the seed, sets up several
times (the median counts), warms up, then runs operations in a closed
loop with one client thread until ``--seconds`` have passed, at least
the workload's minimum number of operations ran and its last block of
operations is whole. Every output is
checked afterwards; a wrong or failed operation counts as failed.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A full record
(environment, per-operation results, all metrics) is written to
``.perfbench/results/`` in the checkout, with the traced run's span
file beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MAX_MEASURE_S = 100.0
# Hypervisor steal, in cores averaged over a block of operations, above
# which the block counts as disturbed: the host ran another guest on
# this machine's CPUs, and a block that loses 0.2 cores to it runs a
# fifth slower. The loop runs on, up to MAX_MEASURE_FACTOR x --seconds,
# until the workload's minimum number of operations ran in undisturbed
# blocks; latency and rates are taken over those blocks.
STEAL_GATE_CORES = 0.15
MAX_MEASURE_FACTOR = 1.75
WORKLOADS = ("fdsn_requests", "index_ingest", "curation_batch")
FDSN_KINDS = ("event_text", "event_quakeml", "event_geojson", "station_xml",
              "dataselect_get", "dataselect_bulk", "availability", "rest_search",
              "rest_documents")
END_TO_END = {
    "setup_s": "s", "request_p50_ms": "ms", "request_p90_ms": "ms",
    "requests_per_s": "1/s", "docs_per_s": "1/s", "payload_mb_per_s": "MB/s",
    "stored_bytes_per_input_byte": "ratio", "peak_rss_mb": "MB", "ok_frac": "ratio",
}
PER_LAYER = {
    "plans.compile_ms": "ms",
    "sources.index_open_ms": "ms", "sources.files_read_per_request": "count",
    "sources.scan_rows_per_result_row": "ratio", "sources.validate_ms": "ms",
    "sources.parse_xml_ms": "ms", "sources.parse_waveform_ms": "ms",
    "sources.write_ms": "ms", "sources.upsert_ms": "ms",
    "sources.bytes_written": "bytes", "sources.files_written": "count",
    "services.build_ms": "ms", "services.serialize_ms": "ms",
    "services.response_bytes": "bytes",
    **{f"services.{k}.p50_ms": "ms" for k in FDSN_KINDS},
    "engine.analyze_ms": "ms", "engine.optimize_ms": "ms", "engine.plan_ms": "ms",
    "engine.exec_ms": "ms", "engine.jobs_per_op": "count",
    "engine.stages_per_op": "count", "engine.tasks_per_op": "count",
    "engine.build_jobs": "count", "engine.persisted_rdds_leaked": "count",
    "operators.shuffle_bytes": "bytes", "operators.spill_bytes": "bytes",
    "operators.broadcast_build_ms": "ms", "operators.python_eval_ms": "ms",
    "operators.cc_build_ms": "ms", "operators.lsh_candidate_pairs": "count",
    "operators.lsh_verified_pairs": "count", "operators.lsh_pair_precision": "ratio",
    **{f"layer.{k}.self_ms": "ms" for k in
       ("sources", "plans", "services", "engine", "operators", "bench")},
    "trace.op_wall_ms": "ms", "trace.layer_sum_ratio": "ratio",
    "trace.overhead_ms": "ms", "trace.overhead_frac": "ratio",
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def percentile(values: list[float], q: float) -> float:
    """Percentile with linear interpolation between the closest ranks."""
    s = sorted(values)
    x = q * (len(s) - 1)
    k = int(x)
    return s[k] + (s[min(k + 1, len(s) - 1)] - s[k]) * (x - k)


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# ------------------------------------------------------------ processes


def _proc_table() -> dict[int, int]:
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    s = f.read()
            except OSError:
                continue
            out[int(pid)] = int(s[s.rindex(")") + 2:].split()[1])
    return out


def descendants(pid: int) -> set[int]:
    table = _proc_table()
    tree, grew = {pid}, True
    while grew:
        grew = False
        for p, parent in table.items():
            if parent in tree and p not in tree:
                tree.add(p)
                grew = True
    return tree - {pid}


def tree_rss_mb() -> float:
    total = 0
    for pid in descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total / 1024.0


class RssSampler(threading.Thread):
    """Peak resident memory of this process tree: the Python driver, the
    JVM and the Python workers, sampled every half second."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._halt.wait(0.5)

    def stop(self) -> float:
        self._halt.set()
        self.join(timeout=10)
        self.peak = max(self.peak, tree_rss_mb())
        return self.peak


# ------------------------------------------------------------ context


class Context:
    def __init__(self, spark, seed: int, scale: float, work: str, tracer):
        self.spark, self.seed, self.scale, self.work = spark, seed, scale, work
        self.tracer = tracer

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @staticmethod
    def tree_bytes(root: str) -> int:
        total = 0
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                         if not f.startswith((".", "_")))
        return total


def start_spark(work: str):
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")
    # a fixed driver heap (initial = maximum): a growing one makes the
    # peak resident memory depend on when the collector chose to grow it
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Djava.io.tmpdir={os.environ['TMPDIR']} "
        f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}' pyspark-shell")
    # no hsperfdata from any JVM spark-submit starts: HotSpot writes it
    # under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from jane_spark.engine.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every other child is gone."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:  # the JVM exits when its standard input closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (OSError, ChildProcessError):
            pass


def git_commit() -> str:
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ------------------------------------------------------------ metrics


def end_to_end(wl, recs, setup_s, peak_rss) -> dict:
    """Latency over the timed operations (``timed_ops``); a rate is
    their count, documents or bytes over their summed wall time, as one
    closed-loop caller sees it. ``ok_frac`` covers every operation."""
    timed = timed_ops(wl, recs)
    walls = [r["wall_ms"] for r in timed]
    busy_s = sum(walls) / 1e3
    ok = [r for r in recs if r["ok"]]
    ok_timed = [r for r in timed if r["ok"]]
    stored = getattr(wl, "stored_bytes", None)
    if stored is None:
        stored = median(r["stored_bytes"] for r in ok) if ok else 0.0
    return {
        "setup_s": setup_s,
        "request_p50_ms": median(walls),
        "request_p90_ms": percentile(walls, 0.9),
        "requests_per_s": len(timed) / busy_s,
        "docs_per_s": sum(r.get("items", 0) for r in ok_timed) / busy_s,
        "payload_mb_per_s": sum(r.get("payload_bytes", 0) for r in ok_timed) / 1e6 / busy_s,
        "stored_bytes_per_input_byte": stored / wl.input_bytes,
        "peak_rss_mb": peak_rss,
        "ok_frac": len(ok) / len(recs),
    }


def per_layer(wl, tracer, recs) -> dict:
    traced = [r for r in recs if r.get("op_id")]
    plain = [r for r in recs if not r.get("op_id")]
    c = [r["counters"] for r in traced]

    def cm(key):
        return median(x.get(key, 0.0) for x in c)

    def sm(name):
        return median(tracer.op_span_ms(r["op_id"], name) for r in traced)

    layers = sorted((tracer.op_layers(r["op_id"]) for r in traced), key=lambda x: x[0])
    # the median request's layer split: the traced operations within a
    # tenth of the count on either side of the median by wall time, averaged
    mid, k = len(layers) // 2, len(layers) // 10
    band = layers[max(0, mid - k):mid + k + 1]
    m = {k: 0.0 for k in PER_LAYER}
    items = sum(r.get("items", 0) for r in traced)
    m.update({
        "plans.compile_ms": sm("plans.compile"),
        "sources.index_open_ms": sm("sources.index_open"),
        "sources.files_read_per_request": cm("files_read"),
        "sources.scan_rows_per_result_row": (
            sum(x.get("scan_rows", 0.0) for x in c) / items if items else 0.0),
        "sources.validate_ms": sm("sources.validate"),
        "sources.parse_xml_ms": sm("sources.parse_xml"),
        "sources.parse_waveform_ms": sm("sources.parse_waveform"),
        "sources.write_ms": sm("sources.write"),
        "sources.upsert_ms": sm("sources.upsert"),
        "sources.bytes_written": cm("bytes_written"),
        "sources.files_written": cm("files_written"),
        "services.build_ms": median(tracer.op_self_ms(r["op_id"], "services.build")
                                    for r in traced),
        "services.serialize_ms": sm("services.serialize"),
        "services.response_bytes": median(r.get("payload_bytes", 0) for r in traced
                                          if r["kind"] in FDSN_KINDS),
        "engine.analyze_ms": cm("analyze_ms"),
        "engine.optimize_ms": cm("optimize_ms"),
        "engine.plan_ms": cm("plan_ms"),
        "engine.exec_ms": cm("exec_total_ms"),
        "engine.jobs_per_op": cm("jobs"),
        "engine.stages_per_op": cm("stages"),
        "engine.tasks_per_op": cm("tasks"),
        "engine.build_jobs": cm("build_jobs"),
        "engine.persisted_rdds_leaked": cm("persisted_rdds_leaked"),
        "operators.shuffle_bytes": cm("shuffle_bytes"),
        "operators.spill_bytes": cm("spill_bytes"),
        "operators.broadcast_build_ms": cm("broadcast_build_ms"),
        "operators.python_eval_ms": cm("python_eval_ms"),
        "operators.cc_build_ms": sm("operators.connected_components"),
        "operators.lsh_candidate_pairs": cm("lsh_candidate_pairs"),
        "operators.lsh_verified_pairs": cm("lsh_verified_pairs"),
    })
    n_cand = sum(x.get("lsh_candidate_pairs", 0) for x in c)
    if n_cand:
        m["operators.lsh_pair_precision"] = sum(
            x.get("lsh_verified_pairs", 0) for x in c) / n_cand
    for k in FDSN_KINDS:
        m[f"services.{k}.p50_ms"] = median(r["wall_ms"] for r in plain if r["kind"] == k)
    for layer in ("sources", "plans", "services", "engine", "operators", "bench"):
        m[f"layer.{layer}.self_ms"] = statistics.fmean(lay.get(layer, 0.0) for _, lay in band)
    wall = median(w for w, _ in layers)
    m["trace.op_wall_ms"] = wall
    layer_sum = sum(m[f"layer.{x}.self_ms"] for x in
                    ("sources", "plans", "services", "engine", "operators", "bench"))
    m["trace.layer_sum_ratio"] = layer_sum / wall if wall else 0.0
    # overhead: traced minus untraced median wall, per kind, averaged
    gaps, bases = [], []
    for kind in {r["kind"] for r in traced}:
        t = [r["wall_ms"] for r in traced if r["kind"] == kind]
        u = [r["wall_ms"] for r in plain if r["kind"] == kind]
        if t and u:
            gaps.append(median(t) - median(u))
            bases.append(median(u))
    if gaps:
        m["trace.overhead_ms"] = statistics.fmean(gaps)
        m["trace.overhead_frac"] = sum(gaps) / sum(bases)
    return m


# ------------------------------------------------------------ main


def block_steal(block: list[dict]) -> float:
    """Steal cores over a block of operations, weighted by wall time."""
    return sum(r["steal_cores"] * r["wall_ms"] for r in block) / sum(r["wall_ms"] for r in block)


def measure(wl, tracer, args) -> tuple[list[dict], float]:
    """The timed closed loop: one operation at a time, in blocks of
    ``wl.block``, until ``seconds`` have passed and the workload's
    minimum number of operations ran in undisturbed blocks (see
    ``STEAL_GATE_CORES``), or until the loop's cap once that minimum ran
    at all. Each record carries the CPU the host took while it ran
    (steal and other processes, from /proc/stat). Returns the operation
    records and the loop's wall time."""
    from bench import _ambient_cores, _ambient_start

    min_ops = wl.min_ops_traced if args.trace else wl.min_ops
    recs: list[dict] = []
    quiet_ops = 0
    t_loop = time.perf_counter()
    while True:
        elapsed = time.perf_counter() - t_loop
        if elapsed > MAX_MEASURE_S or (len(recs) % wl.block == 0 and len(recs) >= min_ops and (
                (elapsed >= args.seconds and quiet_ops >= min_ops)
                or elapsed >= MAX_MEASURE_FACTOR * args.seconds)):
            return recs, elapsed
        i = len(recs)
        op_id = f"op{i}" if args.trace and wl.traced_op(i) else None
        if op_id:
            tracer.begin_op(op_id)
        amb = _ambient_start()
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                rec = wl.op(i)
            rec["error"] = None
        except Exception:
            rec = {"kind": "?", "error": traceback.format_exc(limit=3)}
        rec["wall_ms"] = (time.perf_counter() - t) * 1e3
        rec["other_cores"], rec["steal_cores"] = _ambient_cores(amb, min_window=0.0)
        rec["quiet"] = False
        if op_id:
            rec["op_id"] = op_id
            rec["counters"] = tracer.end_op()
        recs.append(rec)
        if len(recs) % wl.block == 0:
            block = recs[-wl.block:]
            if block_steal(block) <= STEAL_GATE_CORES:
                for r in block:
                    r["quiet"] = True
                quiet_ops += len(block)


def timed_ops(wl, recs: list[dict]) -> list[dict]:
    """The operations latency and rates are taken over: those in
    undisturbed blocks or, when fewer than half the workload's minimum
    ran in such blocks, the half of all blocks the host disturbed least."""
    quiet = [r for r in recs if r["quiet"]]
    if 2 * len(quiet) >= wl.min_ops:
        return quiet
    blocks = sorted((recs[i:i + wl.block] for i in range(0, len(recs), wl.block)),
                    key=block_steal)
    return [r for b in blocks[:max(1, len(blocks) // 2)] for r in b]


def check_all(wl, recs) -> int:
    """Check every operation's output; returns the number that failed."""
    for rec in recs:
        if rec["error"] is None:
            try:
                rec["error"] = wl.check(rec)
            except Exception:
                rec["error"] = traceback.format_exc(limit=3)
        rec["ok"] = rec["error"] is None
        if rec.get("op_id") and rec.get("pairs"):
            rec["counters"].update(wl.layer_counts(rec))
        if not rec["ok"]:
            print(f"perfbench: {rec['kind']} failed: {rec['error']}", file=sys.stderr)
    return sum(not r["ok"] for r in recs)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor; the smoke test uses a small one")
    args = ap.parse_args()

    for needed in ("jane_spark", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            _fail(f"{needed} not found next to perfbench/; run from a jane_spark checkout")
    sys.path[:0] = [ROOT, HERE]
    try:
        import jane_spark  # noqa: F401
        from bench import _ambient_cores, _ambient_start
    except ImportError as e:
        _fail(f"cannot import the program: {e}")

    import curation_batch
    import fdsn_requests
    import index_ingest
    from tracing import NullTracer, Tracer

    out_dir = os.path.join(ROOT, ".perfbench", "results")
    work = os.path.join(ROOT, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work)
        spark_start_s = time.perf_counter() - t
        tracer = Tracer(spark) if args.trace else NullTracer()
        ctx = Context(spark, args.seed, args.scale, work, tracer)
        wl = {"fdsn_requests": fdsn_requests.FdsnRequests,
              "index_ingest": index_ingest.IndexIngest,
              "curation_batch": curation_batch.CurationBatch}[args.workload](ctx)

        setup_reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            wl.setup(rep)
            setup_reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        setup_s = spark_start_s + median(setup_reps) + warmup_s
        print(f"perfbench: spark start {spark_start_s:.2f} s, set-up "
              f"{', '.join(f'{x:.2f}' for x in setup_reps)} s, warm-up {warmup_s:.2f} s",
              file=sys.stderr)

        amb = _ambient_start()
        recs, loop_s = measure(wl, tracer, args)
        other_cores, steal_cores = _ambient_cores(amb)
        failed = check_all(wl, recs)
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale,
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": spark.version, "python_version": platform.python_version(),
            "git_commit": git_commit(),
            "ambient_other_cores": round(other_cores, 3),
            "ambient_steal_cores": round(steal_cores, 3),
            "spark_start_s": spark_start_s, "setup_reps_s": setup_reps,
            "warmup_s": warmup_s, "loop_s": loop_s,
            "steal_gate_cores": STEAL_GATE_CORES, "quiet_ops": sum(r["quiet"] for r in recs),
        }
        if args.trace:
            metrics = per_layer(wl, tracer, recs)
            tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.spans.json"))
            tracer.close()
        wl.close()
    except Exception:
        traceback.print_exc()
        sys.exit(1)
    finally:
        if spark is not None:
            stop_spark(spark)
        peak = sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        metrics = end_to_end(wl, recs, setup_s, peak)
    units = PER_LAYER if args.trace else END_TO_END
    record = {
        "env": env, "metrics": metrics, "units": units,
        "ops": [{k: r.get(k) for k in ("kind", "params", "wall_ms", "ok", "error", "items",
                                       "payload_bytes", "other_cores", "steal_cores", "quiet",
                                       "counters")}
                for r in recs],
    }
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"perfbench: {len(recs)} operations, {env['quiet_ops']} in undisturbed blocks, "
          f"loop {loop_s:.1f} s, "
          f"run {time.perf_counter() - T_START:.1f} s", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(recs), "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))


if __name__ == "__main__":
    main()
