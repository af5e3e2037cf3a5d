#!/usr/bin/env python3
"""Genomics I/O benchmark for disq_spark: BAM scan and region query
(``bam_read``), BAM sort-and-write plus VCF round trip (``write_roundtrip``).

    python3 perfbench/run.py --workload bam_read --seed 1 --seconds 3 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` and removed at exit; the run record (every operation,
the named per-workload figures, spans) stays in ``.perfbench_work/results``.
The last stdout line is the result JSON: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
MIN_OPS = 3


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Acts:
    """Labels and times the Spark actions of one operation."""

    def __init__(self, spark, tracer, label: str, traced: bool):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.label = label
        self.traced = traced
        self.parts: list[dict] = []
        self.occ = -1  # one occurrence of a phase starts at its plan step

    @contextmanager
    def __call__(self, phase: str, step: str):
        if step == "plan":
            self.occ += 1
        part = {"phase": phase, "step": step, "occ": self.occ}
        self.sc.setJobDescription(f"{self.label}/{phase}.{step}")
        t0 = time.perf_counter()
        with self.tracer.span(f"{phase}.{step}", label=self.label):
            try:
                yield part
            finally:
                part["s"] = time.perf_counter() - t0
                self.sc.setJobDescription(None)
                self.parts.append(part)


def session(run_dir: str, event_log: str | None = None):
    from disq_spark import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    return get_session(app_name="perfbench", extra_conf=conf)


def _idle(batches):
    for pdf in batches:
        yield pdf


def start_session(run_dir: str, event_log: str | None, cores: int):
    """A session whose Python workers have started (one task per core)."""
    spark = session(run_dir, event_log)
    spark.range(0, cores, 1, cores).mapInPandas(_idle, "id long").count()
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def measure(spark, wl, seconds: float, tracer=None) -> list[dict]:
    """Closed loop: run operations back to back for ``seconds``, at least
    MIN_OPS of them and whole cycles of ``wl.cycle``. With a tracer, cycles
    alternate between untraced and traced: a cycle of each, and at least
    two operations of each."""
    from perfbench.trace import Tracer, tree_io

    tr = tracer or Tracer(False)
    ops = []
    need = 2 * max(wl.cycle, 2) if tracer else MIN_OPS
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(ops) < need or len(ops) % wl.cycle:
        traced = tr.enabled = tracer is not None and len(ops) // wl.cycle % 2 == 1
        label = f"{wl.name}/{'t' if traced else ''}{len(ops)}"
        acts = Acts(spark, tr, label, traced)
        io0 = tree_io(os.getpid()) if traced else (0, 0)
        t0 = time.time()
        with tr.span("op", label=label):
            try:
                records, ok = wl.op(spark, acts)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                records, ok = 0, False
        t1 = time.time()
        io1 = tree_io(os.getpid()) if traced else (0, 0)
        ops.append({"label": label, "traced": traced, "t0": t0, "t1": t1, "wall": t1 - t0,
                    "records": records, "ok": ok, "parts": acts.parts,
                    "rchar": io1[0] - io0[0], "wchar": io1[1] - io0[1]})
    return ops


def layer_metrics(wl, ops_u, ops_t, log, tracer, replays, cores, canary) -> dict:
    """Every per-layer metric; a layer this workload does not load reads 0."""
    from perfbench.trace import op_split

    m = {k: 0.0 for k in metric_units("per_layer")}
    splits = [op_split(log, o["label"] + "/", o["t0"], o["t1"], cores) for o in ops_t]
    for k in ("task_cpu_s", "task_run_s", "core_busy_ratio", "max_task_s", "driver_gap_s",
              "stages", "tasks", "shuffle_write_bytes"):
        m[f"session.{k}"] = _median([s[k] for s in splits])
    m.update(replays)
    plans = [p for o in ops_t for p in o["parts"] if p["step"] == "plan"]
    for layer, ratio in (("bam_source", "bam_source.chunks_kept_ratio"),
                         ("variants", "tabix.chunks_kept_ratio")):
        mine = [p for p in plans if wl.plan_layer.get(p["phase"]) == layer]
        if mine:
            m[f"{layer}.plan_s"] = _median([p["s"] for p in mine])
            kept = [p["kept"] / replays[f"{layer}.chunks"] for p in mine if "kept" in p]
            m[ratio] = _median(kept) if kept else 1.0  # full reads keep every chunk
    for name in ("bai.merge", "sbi.merge", "tabix.merge", "sinks_bam.finalize", "sinks_variants.finalize"):
        m[f"{name}_s"] = _median(tracer.seconds(name))
    concat = [s for s in tracer.spans if s["name"] == "merge.concat" and s["end"]]
    if concat:
        m["merge.concat_mb_per_s"] = (sum(s["bytes"] for s in concat) / 1e6
                                      / sum(s["end"] - s["start"] for s in concat))
    if "sort_write" in wl.plan_layer:
        # the write's last stage encodes parts; the stages before it sample,
        # read and shuffle for the range-partitioned sort
        sw = [op_split(log, o["label"] + "/sort_write.run", o["t0"], o["t1"], cores) for o in ops_t]
        m["coordinate_sort.stage_s"] = _median([s["other_stages_s"] for s in sw])
        m["sinks_bam.encode_stage_s"] = _median([s["last_stage_s"] for s in sw])
        m["sinks_bam.parts"] = _median([s["last_stage_tasks"] for s in sw])
    m["io.read_bytes_per_input_byte"] = _median([o["rchar"] / wl.input_bytes() for o in ops_t])
    if wl.output_bytes():
        m["io.write_bytes_per_output_byte"] = _median([o["wchar"] / wl.output_bytes() for o in ops_t])
    m["trace.overhead_s"] = _median([o["wall"] for o in ops_t]) - _median([o["wall"] for o in ops_u])
    m["host.cpu_canary_s"] = canary
    return {k: float(v) for k, v in m.items()}


def run(args, run_dir: str) -> dict:
    import bench
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    t_start = time.perf_counter()
    canary = bench.cpu_canary()
    marks = {"canary": time.perf_counter() - t_start}
    _log(f"{wl.name} seed={args.seed} trace={args.trace} cores={cores} cpu_canary_s={canary}")
    with trace.RssSampler() as rss:
        event_dir = os.path.join(run_dir, "eventlog") if args.trace else None
        setups, spark = [], None
        for k in range(SETUP_REPEATS):
            root = os.path.join(run_dir, f"inputs{k}")
            if k:
                shutil.rmtree(os.path.join(run_dir, f"inputs{k - 1}"))
            os.makedirs(root)
            t0 = time.perf_counter()
            if spark is None:
                # the JVM and Python workers start while the inputs are built
                with ThreadPoolExecutor(1) as pool:
                    started = pool.submit(start_session, run_dir, event_dir, cores)
                    wl.build(root, args.seed)
                    spark = started.result()
            else:
                wl.build(root, args.seed)
            wl.warmup(spark)
            setups.append(time.perf_counter() - t0)
        _log(f"setup_s runs: {[round(s, 3) for s in setups]}")
        marks["setups"] = time.perf_counter() - t_start
        if args.trace:
            tracer = trace.Tracer(True)
            trace.wrap_sinks(tracer)  # spans record only while an op is traced
            try:
                ops = measure(spark, wl, args.seconds, tracer)
            finally:
                tracer.unwrap()
        else:
            ops = measure(spark, wl, args.seconds)
        marks["measure"] = time.perf_counter() - t_start
        try:
            checks = wl.verify(spark, Acts(spark, trace.Tracer(False), f"{wl.name}/verify", False))
        except Exception:  # a failed check is counted, not fatal
            traceback.print_exc()
            checks = [False]
        peak = rss.peak
        marks["verify"] = time.perf_counter() - t_start
    attempted = len(ops) + len(checks)
    failed = sum(not o["ok"] for o in ops) + sum(not c for c in checks)
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace, "cores": cores,
              "cpu_canary_s": canary, "setup_runs_s": setups, "ops": ops, "checks": checks,
              "figures": {"ops": len(ops), **wl.figures(ops)}}
    record["figures"]["error_rate"] = failed / attempted
    if args.trace:
        app_id = spark.sparkContext.applicationId
        shutdown(spark)
        marks["shutdown"] = time.perf_counter() - t_start
        log = trace.read_event_log(os.path.join(event_dir, app_id))
        replays = wl.replays()
        metrics = layer_metrics(wl, [o for o in ops if not o["traced"]],
                                [o for o in ops if o["traced"]], log, tracer, replays, cores, canary)
        units = metric_units("per_layer")
        record["spans"] = tracer.spans
    else:
        shutdown(spark)
        marks["shutdown"] = time.perf_counter() - t_start
        walls = [o["wall"] for o in ops]
        metrics = {
            "setup_s": _median(setups),
            "op_p50_s": _median(walls),
            "rec_per_s": sum(o["records"] for o in ops) / sum(walls),
            "bytes_per_record": wl.bytes_per_record(),
            "peak_rss_mb": peak / 2**20,
        }
        units = metric_units("end_to_end")
    marks["end"] = time.perf_counter() - t_start
    record["timeline_s"] = marks
    _log("figures: " + json.dumps(record["figures"]))
    _log("timeline_s: " + json.dumps({k: round(v, 2) for k, v in marks.items()}))
    record["metrics"] = metrics
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, default=str)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bam_read", "write_roundtrip"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, ROOT)
    try:
        try:
            import bench  # noqa: F401  (the host CPU canary)
            import disq_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            _log(f"cannot import the library or its canary from {ROOT}: {e}")
            return 2
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
