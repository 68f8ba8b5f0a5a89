"""Benchmark of ctinexus_spark's knowledge-graph construction.

One run measures one workload in a fresh process:

    python3 perfbench/run.py --workload kg-resume --seed 1 --seconds 10 --trace 0

and prints, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones. ``--workload all``
runs every workload, each in its own process, prints every metric with
its unit, and exits non-zero when any output check failed.

A run: build the session in this fresh process (``setup_s``); generate
the seeded input and prepare the workload (logged, not timed); start a
new SparkContext so that no Python worker survives preparation; run the
workload's ``first_ops`` cold ops, each in a new SparkContext
(``first_run_s``, their median); then run ops until ``--seconds`` have
passed and at least the workload's ``min_ops`` ops are measured. Every op's
output is checked. Runs write only under ``.bench_work/`` in the current
directory and remove it when they end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
# a traced op may leave at most this share of its wall outside every
# layer span (the root span's self time) before the run fails
MAX_UNATTRIBUTED = 0.15

END_TO_END = [
    ("wall_s", "s"), ("docs_per_s", "docs/s"), ("entities_per_s", "texts/s"),
    ("first_run_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB"),
    ("model_calls_per_doc", "calls/doc"), ("model_tokens_per_doc", "tokens/doc"),
]


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _log(msg: str, **fields) -> None:
    print(f"# {msg} {json.dumps(fields, sort_keys=True)}", flush=True)


class Session:
    """Builds sessions the way every run must: local[nproc], the
    benchmark's model module on the workers, scratch dirs in the work dir."""

    def __init__(self, work: str, trace: bool):
        from ctinexus_spark.session import build_session

        self.build_session = build_session
        self.work = work
        self.n = _nproc()
        os.environ["SPARK_GRAFT_CPUS"] = str(self.n)  # never session.py's default of 32
        os.environ["SPARK_DRIVER_MEM"] = "1g"  # not session.py's 8g: the host's memory is shared
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
        tmp = os.path.join(work, "tmp")
        for d in ("tmp", "spark-local", "eventlog"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        os.environ["TMPDIR"] = tmp
        # the JVMs spark-submit starts would write perf data under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        self.conf = {
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if trace:
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None

    def start(self) -> float:
        """build_session plus one trivial action; returns its seconds."""
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = self.build_session("ctinexus-perfbench", master=f"local[{self.n}]", extra_conf=self.conf)
        self.spark.range(1).count()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.addPyFile(os.path.join(HERE, "model_io.py"))
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt


def _environment(spark, args, wl) -> dict:
    import platform

    import pyspark

    return {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": _nproc(), "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "n_docs": wl.n_docs,
    }


class Runner:
    def __init__(self, args, work: str):
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.wl = WORKLOADS[args.workload]()
        self.attempted = 0
        self.failed = 0
        self.pinned: list[float] = []

    def run_op(self, ctx, traced: bool = False) -> tuple[float, dict, dict, float]:
        """One op: timed call, untimed check, storage probe and release.
        Returns (wall seconds, model counters, traced layer counts, peak
        RSS MB)."""
        from ctinexus_spark.partitioning import release_checkpoint_blocks
        from model_io import in_flight_seconds
        from probes import RssSampler, jvm_storage

        spark = ctx.spark
        out = ctx.path("out", f"op{self.attempted}")
        op_id = f"op{self.attempted}"
        self.attempted += 1
        ctx.counters.value = {}
        counters: dict = {}
        counts: dict = {}
        wall = float("nan")
        checked: dict = {}
        rss = RssSampler()
        try:
            with rss:
                if traced:
                    wall, counts = self.wl.traced_op(ctx, out, op_id)
                else:
                    wall = self.wl.op(ctx, out)
            counters = dict(ctx.counters.value)
            if "wait_intervals" in counters:
                counters["wait_s"] = in_flight_seconds(counters.pop("wait_intervals"))
            checked = self.wl.check(ctx, out)
        except Exception:  # one failed op is counted; the run goes on
            self.failed += 1
            traceback.print_exc()
            counters, counts = {}, {}
        n_rdds, held_mb = jvm_storage(spark)
        if traced:
            with ctx.tracer.span("barrier", op_id):
                release_checkpoint_blocks(spark)
        else:
            self.pinned.append(held_mb)
            release_checkpoint_blocks(spark)
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(out + ".store", ignore_errors=True)
        peak_mb = rss.peak_bytes / 2**20
        _log("op", id=op_id, traced=traced, wall_s=round(wall, 4), pinned_rdds=n_rdds,
             pinned_mb=round(held_mb, 2), peak_rss_mb=round(peak_mb, 1), peak_procs=rss.peak_procs,
             counters=counters, check=checked)
        return wall, counters, counts, peak_mb

    @staticmethod
    def fresh_context(ctx, sess) -> float:
        """A new SparkContext in the same JVM, with no Python workers;
        returns its seconds."""
        dt = sess.start()
        ctx.spark = sess.spark
        ctx.counters = ctx.spark.sparkContext.accumulator({}, _counter_param())
        return dt

    def run(self) -> dict:
        from workloads import Ctx, write_input

        args, wl = self.args, self.wl
        sess = Session(self.work, trace=bool(args.trace))
        # setup_s: what a spark-submit job pays before its first job, in
        # this fresh process: JVM launch, SparkContext, one trivial action
        setup_s = sess.start()
        spark = sess.spark
        ctx = Ctx(spark=spark, work=self.work, seed=args.seed,
                  counters=spark.sparkContext.accumulator({}, _counter_param()))
        t0 = time.perf_counter()
        write_input(ctx, wl.n_docs)
        input_s = time.perf_counter() - t0
        t1 = time.perf_counter()
        wl.prepare(ctx)
        prepare_s = time.perf_counter() - t1

        # untimed: a new SparkContext in the same JVM stops the Python
        # workers that preparation started, so the first op spawns its own
        restart_s = self.fresh_context(ctx, sess)
        spark = ctx.spark
        _log("prepared", setup_s=round(setup_s, 4), input_s=round(input_s, 3),
             prepare_s=round(prepare_s, 3), restart_s=round(restart_s, 3), **ctx.info)
        env = _environment(spark, args, wl)
        _log("environment", **env)

        if args.trace:
            return self.traced(ctx, sess, setup_s)

        firsts = []
        for i in range(wl.first_ops):
            if i:
                self.fresh_context(ctx, sess)
            firsts.append(self.run_op(ctx)[0])
        first = statistics.median(firsts)
        walls, per_op, peaks = [], [], []
        end = time.perf_counter() + args.seconds
        while time.perf_counter() < end or len(walls) < wl.min_ops:
            wall, counters, _, peak_mb = self.run_op(ctx)
            walls.append(wall)
            per_op.append(counters)
            peaks.append(peak_mb)
        ok = [w for w in walls if w == w]
        if not ok or any(f != f for f in firsts):
            return {}
        wall_s = statistics.median(ok)
        done = [c for c in per_op if c] or [{}]  # counters of the ops that passed their check
        calls = statistics.median(c.get("calls", 0) for c in done)
        tokens = statistics.median(c.get("tokens_in", 0) + c.get("tokens_out", 0) for c in done)
        values = {
            "wall_s": wall_s,
            "docs_per_s": wl.docs_per_op / wall_s,
            "entities_per_s": wl.entities / wall_s,
            "first_run_s": first,
            "setup_s": setup_s,
            "peak_rss_mb": statistics.median(peaks),
            "model_calls_per_doc": calls / wl.docs_per_op,
            "model_tokens_per_doc": tokens / wl.docs_per_op,
        }
        _log("walls", first_runs_s=firsts, walls_s=walls, pinned_mb=self.pinned,
             model_wait_s=[c.get("wait_s") for c in per_op])
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END}

    def traced(self, ctx, sess, setup_s: float) -> dict:
        from spans import Tracer

        ctx.tracer = Tracer(ctx.spark)
        self.run_op(ctx)  # cold first op, not reported
        untraced, traced = [], []
        end = time.perf_counter() + self.args.seconds
        while time.perf_counter() < end or not (traced or self.failed):
            untraced.append(self.run_op(ctx)[0])
            op_id = f"op{self.attempted}"
            wall, counters, counts, _ = self.run_op(ctx, traced=True)
            if counts:
                traced.append({"op_id": op_id, "wall": wall, "counters": counters, "counts": counts})
        app_id = ctx.spark.sparkContext.applicationId
        sess.spark.stop()  # completes the event log
        _log("spans", spans=ctx.tracer.spans)
        if not traced:
            return {}
        return per_layer(ctx, self.wl, traced, untraced, setup_s, app_id, self.pinned)


def _counter_param():
    from model_io import COUNTER_PARAM

    return COUNTER_PARAM


PER_LAYER_SPECIFIC = [
    ("session.start_s", "s"),
    ("normalize.docs_in", "count"), ("normalize.docs_out", "count"),
    ("ie_et.docs_in", "count"), ("ie_et.triples_out", "count"), ("ie_et.invalid_frac", "ratio"),
    ("align.triples_out", "count"), ("align.main_pairs_out", "count"), ("align.merged_frac", "ratio"),
    ("lp.links_ok", "count"), ("lp.hallucination_frac", "ratio"),
    ("barrier.pinned_mb", "MB"),
    ("client.calls", "count"), ("client.service_s", "s"), ("client.wait_s", "s"),
    ("client.wait_frac", "ratio"), ("client.inflight_mean", "count"),
    ("client.inflight_max", "count"), ("client.retry_frac", "ratio"), ("client.failed_calls", "count"),
    ("client.tokens_in", "count"), ("client.tokens_out", "count"), ("client.embed_texts_per_call", "count"),
    ("stagestore.bytes_written", "bytes"), ("stagestore.files_written", "count"),
    ("stagestore.remaining_frac", "ratio"), ("stagestore.versions", "count"),
    ("embed.texts", "count"),
    ("lsh.candidates", "count"), ("lsh.pairs_out", "count"), ("lsh.pairs_per_candidate", "ratio"),
    ("cc.vertices", "count"), ("cc.components", "count"),
    ("resolve.self_s", "s"), ("resolve.recall", "ratio"),
    ("trace.overhead_s", "s"), ("trace.unattributed_s", "s"), ("trace.unattributed_frac", "ratio"),
]


def per_layer_names() -> list[tuple[str, str]]:
    from spans import ARROW, ARROW_LAYERS, COMMON, SPARK_LAYERS

    units = {"jobs": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes",
             "py_bytes_sent": "bytes", "py_bytes_returned": "bytes"}
    names = []
    for layer in SPARK_LAYERS:
        for m in COMMON + (ARROW if layer in ARROW_LAYERS else []):
            names.append((f"{layer}.{m}", units.get(m, "s")))
    return names + PER_LAYER_SPECIFIC


def per_layer(ctx, wl, traced: list[dict], untraced: list[float], setup_s: float, app_id: str,
              pinned: list[float]) -> dict:
    from spans import ARROW, ARROW_LAYERS, SPARK_LAYERS, layer_common, read_event_log, task_metrics_by_group

    med = statistics.median
    op_ids = [t["op_id"] for t in traced]
    events = read_event_log(ctx.path("eventlog"), app_id)
    groups, stage_totals = task_metrics_by_group(events)
    v: dict[str, float] = {}
    selfs = [ctx.tracer.self_times(op) for op in op_ids]
    for layer in SPARK_LAYERS:
        common = layer_common(groups, op_ids, layer)
        v[f"{layer}.self_s"] = med(s.get(layer, 0.0) for s in selfs)
        for k in ("jobs", "executor_run_s", "shuffle_bytes", "spill_bytes", "py_start_s", "py_init_s", "py_run_s"):
            v[f"{layer}.{k}"] = common[k]
        if layer in ARROW_LAYERS:
            for k in ARROW:
                v[f"{layer}.{k}"] = common[k]
    v["resolve.self_s"] = med(s.get("resolve", 0.0) for s in selfs)

    for name, _ in PER_LAYER_SPECIFIC:
        if name in traced[0]["counts"]:
            v[name] = med(t["counts"][name] for t in traced)
    ctr = [t["counters"] for t in traced]
    is_http = "inflight_max" in ctr[0]  # only the HTTP transport counts in-flight requests
    for key in ("calls", "service_s", "wait_s", "failed_calls", "tokens_in", "tokens_out"):
        v[f"client.{key}"] = med(c.get(key, 0) for c in ctr) if is_http else 0
    if is_http:
        # the share of the op's wall during which a request waited on the model
        v["client.wait_frac"] = med(c.get("wait_s", 0) / t["wall"] for c, t in zip(ctr, traced))
        v["client.inflight_mean"] = med(c.get("inflight_sum", 0) / max(c.get("calls", 1), 1) for c in ctr)
        v["client.inflight_max"] = med(c.get("inflight_max", 0) for c in ctr)
        v["client.retry_frac"] = med(c.get("failed_calls", 0) / max(c.get("calls", 1), 1) for c in ctr)
        v["client.embed_texts_per_call"] = med(c.get("embed_texts", 0) / max(c.get("embed_calls", 1), 1) for c in ctr)
    v["barrier.pinned_mb"] = med(pinned) if pinned else 0.0
    v["session.start_s"] = setup_s
    traced_walls = [t["wall"] for t in traced]
    v["trace.overhead_s"] = med(traced_walls) - med(w for w in untraced if w == w)

    # reconciliation: the layers' self times must cover the op's wall,
    # leaving at most MAX_UNATTRIBUTED of it to the root span's own self
    # time; each job group's task-level executor time must equal Spark's
    # own stage totals
    gaps = []
    for t, s in zip(traced, selfs):
        root = next(x for x in ctx.tracer.spans if x["op"] == t["op_id"] and x["name"] == "op")
        layers = (root["end"] - root["start"]) - s["op"]  # the layer spans inside the op
        gap = t["wall"] - layers
        gaps.append(gap)
        _log("reconcile", op=t["op_id"], wall_s=round(t["wall"], 4), layer_self_sum_s=round(layers, 4),
             unattributed_s=round(gap, 4), self_s=s)
        if gap > MAX_UNATTRIBUTED * t["wall"]:
            raise AssertionError(f"{t['op_id']}: {gap:.3f} s of {t['wall']:.3f} s is outside every layer span")
    v["trace.unattributed_s"] = med(gaps)
    v["trace.unattributed_frac"] = med(g / t["wall"] for g, t in zip(gaps, traced))
    by_task = {g: m.get("executor_run_ms", 0.0) for g, m in groups.items()}
    _log("reconcile", executor_run_ms_by_task=sum(by_task.values()),
         executor_run_ms_by_stage=sum(stage_totals.values()))
    off = {g: (by_task.get(g, 0.0), stage_totals.get(g, 0.0)) for g in set(by_task) | set(stage_totals)
           if by_task.get(g, 0.0) != stage_totals.get(g, 0.0)}
    if off:
        raise AssertionError(f"task-level executor run time differs from the stage totals: {off}")

    out = {}
    for name, unit in per_layer_names():
        out[name] = {"value": v.get(name, 0), "unit": unit}
    return out


def run_all(args) -> int:
    """Every workload, each in a fresh process; prints a metric table."""
    from workloads import WORKLOADS

    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print(f"{name}: no result (exit {proc.returncode})")
            status = 1
            continue
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              f"failed_frac={res['failed'] / res['attempted']:.4f}")
        for metric, m in res["metrics"].items():
            print(f"  {metric:32s} {m['value']:>16.6g} {m['unit']}")
        if proc.returncode != 0 or not res["correct"]:
            status = 1
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    import ctinexus_spark  # noqa: F401 — fail fast, before any JVM, without the library

    if args.workload == "all":
        return run_all(args)
    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        runner = Runner(args, work)
        metrics = runner.run()
        ok = bool(metrics) and runner.failed == 0
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        print(json.dumps({"correct": ok, "attempted": runner.attempted, "failed": runner.failed,
                          "metrics": metrics}))
        return 0 if ok else 1
    finally:
        try:
            _stop_spark()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _stop_spark() -> None:
    """Stop the session and the JVM that spark-submit started, and wait
    for the JVM to exit (it stops its Python workers on the way)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
