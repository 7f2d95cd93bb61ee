"""posextract-spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_html --seed 1 --seconds 20 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
and their expected output digests, builds the Spark session with the
settings pinned in ``perfbench/config.json``, runs the warm-up passes (their
count is pinned there too), then runs closed-loop passes (one at a time,
each after the last completes) for ``--seconds`` and checks every pass's
outputs against the expected digests.

The last line of standard output is one JSON object. With ``--trace 0`` its
metrics are the ``end_to_end`` metrics of ``BENCHMARK.json``; with
``--trace 1`` they are the ``per_layer`` metrics, and the spans are written
to ``.perfbench/traces/``. The exit code is 0 when every pass was correct,
1 on a digest mismatch or a failed pass, 2 when the library is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; ``dump``
    writes them once."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans = []
        self.stack = []

    def open(self, name: str) -> dict:
        span = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.stack[-1]["name"] if self.stack else None,
            "run": self.run_id,
        }
        self.spans.append(span)
        self.stack.append(span)
        return span

    def close(self, span: dict) -> float:
        span["end"] = time.perf_counter()
        self.stack.remove(span)
        return span["end"] - span["start"]

    def __call__(self, name: str, fn):
        """(seconds, result) of ``fn()`` inside a span called ``name``."""
        span = self.open(name)
        try:
            result = fn()
        finally:
            elapsed = self.close(span)
        return elapsed, result

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def session_settings(cfg: dict, work: str) -> dict:
    s = cfg["session"]
    extra = {k: v.replace("{work}", work) for k, v in s["extra_conf"].items()}
    return {
        "app_name": "perfbench",
        "master": s["master"],
        "shuffle_partitions": s["shuffle_partitions"],
        "arrow_batch_size": s["arrow_batch_size"],
        "extra_conf": extra,
    }


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python daemon)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def wait_gone(pids, timeout_s: float = 20.0) -> None:
    """Wait until every pid has exited; kill what outlives ``timeout_s``.
    Polls /proc because the JVM's children are not ours to wait on."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [pid for pid in pids if os.path.exists(f"/proc/{pid}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def jvm_counters(spark) -> dict:
    """Cumulative JVM GC seconds and generated-code compilations."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return {
        "jvm.gc_s": sum(b.getCollectionTime() for b in beans) / 1000.0,
        "codegen.compiles": compiles.getCount(),
    }


def job_counts(spark, group: str) -> dict:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in (st.getJobInfo(j).stageIds if st.getJobInfo(j) else [])]
    tasks = sum(st.getStageInfo(s).numTasks for s in stages if st.getStageInfo(s))
    return {"spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": tasks}


class Runner:
    def __init__(self, workload, spark, procfs):
        self.w = workload
        self.spark = spark
        self.procfs = procfs
        self.attempted = 0
        self.failed = 0
        self.n = 0

    def one_pass(self, sampler=None) -> dict:
        """Run and check one pass; returns its wall time and its CPU and JVM
        counter deltas (without the CPU of ``sampler``, if given)."""
        self.n += 1
        group = f"pass-{self.n}"
        self.spark.sparkContext.setJobGroup(group, group)
        s0 = sampler.cpu_s if sampler else 0.0
        c0 = self.procfs.cpu_split()
        j0 = jvm_counters(self.spark)
        t0 = time.perf_counter()
        ok = True
        try:
            self.w.run_pass(self.spark)
        except Exception as e:  # a failed pass is counted, not fatal
            print(f"pass {self.n} failed: {e!r}", file=sys.stderr)
            ok = False
        wall = time.perf_counter() - t0
        c1 = self.procfs.cpu_split()
        c1["driver"] -= (sampler.cpu_s if sampler else 0.0) - s0
        j1 = jvm_counters(self.spark)
        if ok:
            try:
                ok = self.w.check()
            except Exception as e:
                print(f"pass {self.n} output unreadable: {e!r}", file=sys.stderr)
                ok = False
            if not ok:
                print(f"pass {self.n}: output digest mismatch", file=sys.stderr)
        return {
            "ok": ok,
            "wall": wall,
            "cpu": {k: c1[k] - c0[k] for k in c1},
            "jvm": {k: j1[k] - j0[k] for k in j1},
            "group": group,
        }

    def counted(self, sampler=None) -> dict:
        r = self.one_pass(sampler)
        self.attempted += 1
        self.failed += 0 if r["ok"] else 1
        return r


def warm_up(runner: Runner, passes: int) -> None:
    """Untimed passes over the input's first file before measuring: the
    cold one compiles the plans and starts the workers at a fraction of a
    whole pass's cost, the others let the JIT catch up. A wrong one counts
    as a failure."""
    runner.w.part = "first"
    for _ in range(passes):
        r = runner.one_pass()
        if not r["ok"]:
            runner.attempted += 1
            runner.failed += 1
        print(f"warm-up pass: {r['wall']:.3f}s cpu {r['cpu']}", file=sys.stderr)
    runner.w.part = "full"


def measure(runner: Runner, cfg: dict, seconds: float) -> dict:
    """Closed-loop timed passes for ``seconds`` (at least
    ``min_timed_passes``) with tracing off. Throughput and CPU are totals
    over the timed window divided by its passes: the JIT compiler threads
    run in the background and their work lands in whichever pass is
    running, and a window total counts it once wherever it falls."""
    sampler = runner.procfs.PeakPss(cfg["sampler_interval_s"]).start()
    walls, cpus = [], []
    t_end = time.perf_counter() + seconds
    try:
        while len(walls) < cfg["min_timed_passes"] or time.perf_counter() < t_end:
            r = runner.counted(sampler)
            walls.append(r["wall"])
            cpus.append(sum(r["cpu"].values()))
            print(f"timed pass {len(walls)}: {r['wall']:.3f}s cpu {r['cpu']}", file=sys.stderr)
    finally:
        peak = sampler.stop()
    return {
        "rows_per_s": runner.w.rows * len(walls) / sum(walls),
        "cpu_s": sum(cpus) / len(cpus),
        "peak_pss_mb": peak,
        "passes": len(walls),
        "pass_s": statistics.median(walls),
    }


def traced(runner: Runner, tracer: Tracer) -> dict:
    """The workload's layer isolation and per-item costs. The first
    isolation round compiles the prefix plans, which the passes never run,
    and warms the JIT further; the second is reported. It sits between two
    untraced reference passes whose mean gives the pass time, CPU split, JVM
    counters and job counts (the pass times still drift as the JIT warms,
    so one reference on either side). The layers the timed pass does not
    run come last, so they cannot disturb the reference passes."""

    def isolate(name, fn):
        runner.spark.sparkContext.setJobGroup(name, name)
        root = tracer.open(name)
        try:
            return fn(runner.spark, tracer)
        finally:
            tracer.close(root)

    isolate("trace-warm-up", runner.w.trace)
    before = runner.counted()
    layers = isolate("trace", runner.w.trace)
    after = runner.counted()
    jobs = job_counts(runner.spark, after["group"])
    extra = isolate("trace-extra", runner.w.trace_extra)
    for error in runner.w.trace_errors:
        print(f"traced run: {error}", file=sys.stderr)
    runner.attempted += 1
    runner.failed += 1 if runner.w.trace_errors else 0
    out = {f"{k}.cpu_s": (before["cpu"][k] + v) / 2 for k, v in after["cpu"].items()}
    out.update({k: (before["jvm"][k] + v) / 2 for k, v in after["jvm"].items()})
    out.update(jobs)
    out.update(runner.w.last)
    out.update(layers)
    out.update(extra)
    out.update(runner.w.micro())
    wall = (before["wall"] + after["wall"]) / 2
    self_sum = sum(v for k, v in layers.items() if k.endswith("_s"))
    out["trace.gap_frac"] = self_sum / wall - 1.0
    return out


def result(values: dict, spec: list, attempted: int, failed: int) -> dict:
    """The result line: every metric of ``spec`` by name and unit. A layer
    the workload does not run reads 0."""
    return {
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import posextract_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the library: {e}", file=sys.stderr)
        return 2
    import procfs
    import workloads

    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    metrics_spec = bench["per_layer" if args.trace else "end_to_end"]

    run_id = f"{args.workload}-s{args.seed}-p{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", run_id)
    workloads.clean_dir(work)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    spark = None
    try:
        w = workloads.WORKLOADS[args.workload](cfg["workloads"][args.workload], work, args.seed)
        t_prep = time.perf_counter()
        w.prepare(trace=bool(args.trace))
        print(f"prepare {time.perf_counter() - t_prep:.2f}s", file=sys.stderr)

        from posextract_spark.session import build_session

        t0 = time.perf_counter()
        spark = build_session(**session_settings(cfg, work))
        print(f"session {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        w.open(spark)
        print(f"open {time.perf_counter() - t0:.2f}s", file=sys.stderr)
        runner = Runner(w, spark, procfs)
        warm_up(runner, cfg["warmup_passes"])
        setup_s = time.perf_counter() - t0

        if args.trace:
            tracer = Tracer(run_id)
            values = traced(runner, tracer)
            tracer.dump(os.path.join(ROOT, ".perfbench", "traces", f"{run_id}.json"))
        else:
            values = measure(runner, cfg, args.seconds)
            values["setup_s"] = setup_s
            print(
                f"{args.workload}: {values['passes']} passes, median {values['pass_s']:.3f}s",
                file=sys.stderr,
            )
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            started = [pid for pid in procfs.tree() if pid != os.getpid()]
            stop_session(spark)
            wait_gone(started)
        print(f"stop {time.perf_counter() - t_stop:.2f}s", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    line = result(values, metrics_spec, runner.attempted, runner.failed)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
