#!/usr/bin/env python3
"""richdem_spark benchmark.

    python3 perfbench/run.py --workload dem-pipeline --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout.  One process = one run: start a Spark
session shaped to the machine, build the workload's inputs from the
seed, compute the reference outputs, run one warm-up pass, then run
timed passes (closed loop, one client) until ``--seconds`` of pass time
have been measured.  Every pass's outputs are checked.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (see BENCHMARK.json).  The line
before it is a readable summary with the session shape, the error rate
and the output mismatch count."""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

from measure import (  # noqa: E402
    RssSampler,
    Tracer,
    covered_seconds,
    descendant_pids,
    group_counts,
    parse_event_log,
    steal_seconds,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SPARK_LAYER = ("spark.jobs", "spark.stages", "spark.tasks",
               "spark.driver_gap_s", "spark.task_busy_s",
               "spark.core_util", "spark.shuffle_bytes",
               "spark.result_bytes", "spark.gc_s", "spark.spill_bytes")


def box_shape() -> dict:
    """local[nproc], shuffle partitions = nproc, driver heap 1/8 of RAM
    (1-4 GiB; at 1 GiB the dem-pipeline driver can run out of heap)."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return {"master": f"local[{nproc}]", "cores": nproc,
            "shuffle_partitions": nproc,
            "driver_memory": f"{min(4096, max(1024, mem_mb // 8))}m",
            "ram_mb": mem_mb}


def start_session(shape: dict, work: str, event_log: bool):
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # everything the JVM and the Python workers write stays in ``work``;
    # workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "")
                        .split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(shape["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = shape["driver_memory"]
    # every JVM, the launcher's too: temp files in ``work``, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
        f"-Dderby.system.home={os.environ['TMPDIR']}")
    from richdem_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": os.path.join(work, "eventlog"),
        "spark.eventLog.compress": "false",
    }
    spark = get_spark(app="perfbench", master=shape["master"],
                      shuffle_partitions=shape["shuffle_partitions"],
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker it
    started have exited."""
    pids = descendant_pids()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while pids and time.time() < deadline:
        pids = {p for p in pids if _alive(p)}
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Harness:
    """Runs passes of one workload and keeps their figures."""

    def __init__(self, spark, wl, tracer, run_id: str, cores: int):
        self.sc = spark.sparkContext
        self.wl = wl
        self.tracer = tracer
        self.run_id = run_id
        self.cores = cores
        self.n_pass = 0
        self.attempted = 0
        self.failed_ops = 0
        self.mismatched_ops = 0
        self.mismatched_passes = 0
        self.counts: dict[str, tuple[int, int, int]] = {}

    def group(self, name: str) -> str:
        """Set this thread's Spark job group; returns its id."""
        g = f"{self.run_id}.{name}"
        self.sc.setJobGroup(g, name)
        return g

    def run_pass(self, count_jobs: bool = False,
                 concurrent: bool = False) -> dict:
        """One pass, then its output check; returns its wall time,
        per-op times, job groups and epoch interval.  ``concurrent``
        runs the operations side by side (warm-up of independent
        operations only; the tracer must be off)."""
        self.n_pass += 1
        tag = f"p{self.n_pass}"
        state: dict = {}
        ops: dict[str, float] = {}
        failed: list[str] = []

        def one(op: str, metric: str) -> str:
            g = self.group(f"{tag}.{op}")
            with self.tracer.span(metric[:-2]) as s:
                try:
                    self.wl.run_op(op, state)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    failed.append(op)
            ops[metric] = s.seconds
            if count_jobs:
                self.counts[g] = group_counts(self.sc, g)
            return g

        steal0 = steal_seconds()
        with self.tracer.span("pass") as ps:
            if concurrent:
                with ThreadPoolExecutor(self.cores) as ex:
                    groups = list(ex.map(lambda om: one(*om), self.wl.OPS))
            else:
                groups = [one(op, metric) for op, metric in self.wl.OPS]
        self.group(f"{tag}.check")
        bad: list[str] = []
        if not failed:
            try:
                bad = self.wl.check(state)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                bad = [op for op, _ in self.wl.OPS]
        self.wl.release(state)
        if bad:
            print(f"perfbench: pass {tag} output mismatch: {bad}",
                  file=sys.stderr)
        self.attempted += len(self.wl.OPS)
        self.failed_ops += len(failed)
        self.mismatched_ops += len(bad)
        self.mismatched_passes += bool(bad or failed)
        return {"wall": ps.seconds, "steal": steal_seconds() - steal0,
                "ops": ops, "groups": groups, "span_id": ps.span_id,
                "start": ps.start, "end": ps.start + ps.seconds}

    def measure(self, seconds: float) -> list[dict]:
        """Passes until ``seconds`` of pass time are measured (at least
        one)."""
        passes: list[dict] = []
        while not passes or sum(p["wall"] for p in passes) < seconds:
            passes.append(self.run_pass())
        return passes

    def measure_paired(self, seconds: float
                       ) -> tuple[list[dict], list[dict]]:
        """Untraced and traced passes in pairs, until ``seconds`` of pass
        time and at least two pairs are measured.  The order inside a
        pair alternates (U T, T U, U T, ...), so the pass times' drift
        while the JIT warms up cancels out of the paired differences."""
        untraced: list[dict] = []
        traced: list[dict] = []
        while (len(traced) < 2 or sum(p["wall"] for p in untraced + traced)
               < seconds):
            for on in ((False, True) if len(traced) % 2 == 0
                       else (True, False)):
                self.tracer.enabled = on
                (traced if on else untraced).append(
                    self.run_pass(count_jobs=on))
        self.tracer.enabled = False
        return untraced, traced


def make_workload(name: str, spark, seed: int, work: str):
    if name == "dem-pipeline":
        from dem_pipeline import DemPipeline

        return DemPipeline(spark, seed)
    from query_mix import QueryMix

    return QueryMix(spark, seed, work)


def end_to_end(wl, passes: list[dict], setup_s: float,
               peak_bytes: int) -> dict[str, float]:
    walls = [p["wall"] for p in passes]
    lat = [t for p in passes for t in p["ops"].values()]
    run_s = statistics.median(walls)
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "mcells_per_s": wl.cells / run_s / 1e6,
        "query_p50_s": statistics.median(lat),
        "query_p90_s": statistics.quantiles(lat, n=10,
                                            method="inclusive")[8],
        "peak_rss_mb": peak_bytes / 2**20,
    }


def per_layer(harness, wl, traced: list[dict], untraced: list[dict],
              probes: dict, start_s: float, log_dir: str,
              cores: int) -> dict[str, float]:
    """Per-layer figures: medians over the traced passes."""
    out: dict[str, float] = {"session.start_s": start_s}
    out.update(probes)
    self_times = [harness.tracer.child_self_times(p["span_id"])
                  for p in traced]
    for _, metric in wl.OPS:
        out[metric] = statistics.median(st[metric[:-2]]
                                        for st in self_times)
    events = parse_event_log(log_dir)
    per_pass = []
    for p in traced:
        stats = [events[g] for g in p["groups"] if g in events]
        counts = [harness.counts.get(g, (0, 0, 0)) for g in p["groups"]]
        busy = sum(s.task_busy_s for s in stats)
        jobs = [j for s in stats for j in s.jobs]
        per_pass.append({
            "spark.jobs": sum(c[0] for c in counts),
            "spark.stages": sum(c[1] for c in counts),
            "spark.tasks": sum(c[2] for c in counts),
            "spark.driver_gap_s": p["wall"] - covered_seconds(
                jobs, p["start"], p["end"]),
            "spark.task_busy_s": busy,
            "spark.core_util": busy / (cores * p["wall"]),
            "spark.shuffle_bytes": sum(s.shuffle_bytes for s in stats),
            "spark.result_bytes": sum(s.result_bytes for s in stats),
            "spark.gc_s": sum(s.gc_s for s in stats),
            "spark.spill_bytes": sum(s.spill_bytes for s in stats),
        })
    for k in SPARK_LAYER:
        out[k] = statistics.median(pp[k] for pp in per_pass)
    halo = events.get(f"{harness.run_id}.probe.halo_join")
    if halo is not None:
        out["tiles.halo_shuffle_bytes"] = halo.shuffle_bytes
    out["trace.overhead_s"] = statistics.median(
        t["wall"] - u["wall"] for u, t in zip(untraced, traced))
    return out


def run(args, shape: dict, work: str) -> tuple[dict, dict]:
    run_id = f"{args.workload}.s{args.seed}.{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    sampler = RssSampler().start()
    spark = wl = None
    try:
        with tracer.span("session.start") as s:
            spark = start_session(shape, work, event_log=bool(args.trace))
        start_s = s.seconds
        wl = make_workload(args.workload, spark, args.seed, work)
        h = Harness(spark, wl, tracer, run_id, shape["cores"])
        h.group("setup")
        wl.setup(tracer)
        tracer.enabled = False
        # warm-up; its cold cost lands in setup_s.  Independent operations
        # take their cold pass side by side
        for i in range(wl.WARMUP_PASSES):
            h.run_pass(concurrent=wl.INDEPENDENT_OPS and i == 0)
        setup_s = time.perf_counter() - T0
        warm_bad = h.failed_ops + h.mismatched_ops
        h.attempted = h.failed_ops = h.mismatched_ops = 0
        h.mismatched_passes = 0
        if not args.trace:
            sampler.measuring(True)
            passes = h.measure(args.seconds)
            sampler.measuring(False)
            metrics = end_to_end(wl, passes, setup_s, sampler.peak_bytes)
        else:
            untraced, traced = h.measure_paired(args.seconds)
            tracer.enabled = True
            h.group("probe")
            probes = wl.probes(tracer, h.group)
            passes = untraced + traced
    finally:
        sampler.close()
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_session(spark)
    if args.trace:
        metrics = per_layer(h, wl, traced, untraced, probes, start_s,
                            os.path.join(work, "eventlog"), shape["cores"])
        spans_dir = os.path.join(ROOT, ".bench_build", "perfbench")
        tracer.write(os.path.join(
            spans_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    info = {
        "passes": len(passes), "warmup_failed": warm_bad,
        "steal_share": (sum(p["steal"] for p in passes)
                        / (os.cpu_count() * sum(p["wall"] for p in passes))),
        "attempted": h.attempted, "failed": h.failed_ops + h.mismatched_ops,
        "error_rate": h.failed_ops / h.attempted,
        "output_mismatches": h.mismatched_passes,
    }
    return metrics, info


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    for need in ("richdem_spark", "__spark_entry__.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    shape = box_shape()
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"work-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        metrics, info = run(args, shape, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    units = {m["name"]: m["unit"]
             for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"trace={args.trace} master={shape['master']} "
          f"shuffle_partitions={shape['shuffle_partitions']} "
          f"driver_memory={shape['driver_memory']} "
          f"ram_mb={shape['ram_mb']} passes={info['passes']} "
          f"steal_share={info['steal_share']:.3f} "
          f"error_rate={info['error_rate']:.4f} "
          f"output_mismatches={info['output_mismatches']} | "
          + " ".join(f"{k}={v:.6g} {units.get(k, 's')}"
                     for k, v in metrics.items()))
    names = [m["name"]
             for m in bench["per_layer" if args.trace else "end_to_end"]]
    result = {
        "correct": info["failed"] == 0 and info["warmup_failed"] == 0,
        "attempted": info["attempted"],
        "failed": info["failed"],
        "metrics": {k: {"value": float(metrics.get(k, 0.0)),
                        "unit": units[k]} for k in names},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
