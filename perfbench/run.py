#!/usr/bin/env python3
"""NKG-construction benchmark.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

One workload per process, closed loop: one job at a time from one
single-threaded driver on ``local[nproc]``.  The last line of stdout is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (a separate, instrumented run).
perfbench/README.md defines every metric and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# scratch space inside the checkout: one directory per run (inputs, Spark
# local dirs, output roots, checkpoints), removed when the run ends; traced
# runs keep their span / event-log summary file under traces/
WORK = os.path.join(ROOT, ".perfbench")

# reruns per run: batch resumes over the complete output (~3 CPU-s each);
# stream restarts from the checkpoint, each after one micro-batch of new
# files arrived (~2.5 CPU-s).  A restart with no new files reads ~0.2 s of
# thread hand-offs whose median moved by 40 % between runs.
RESUME_ROUNDS = 5
RESTART_ROUNDS = 3
# maxFilesPerTrigger of streaming.ingest.stream_transcripts
FILES_PER_TRIGGER = 8
# drains still speed up for the first few in a process, so every run
# measures at least this many (the same positions in the sequence)
MIN_DRAINS = 5

# every pipeline stage span -> the per-layer metric of its self time
STAGE_METRICS = {
    "sentences": "mentions.sentences_s",
    "predictions": "extraction.predictions_s",
    "facts": "facts.facts_s",
    "main_triples": "facts.main_triples_s",
    "fact_qualifiers": "facts.fact_qualifiers_s",
    "compacted": "facts.compacted_s",
    "surface_to_entity": "canonicalize.surface_to_entity_s",
    "entities": "canonicalize.entities_s",
    "facts_canonical": "canonicalize.facts_canonical_s",
    "mention_ner": "ner.mention_ner_s",
    "metrics": "metrics.metrics_s",
}


def pin_environment(run_dir: str) -> tuple[dict, dict]:
    """Environment and Spark conf for this host; returns (conf, env record).
    Must run before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        # the session factory's 16g default exceeds small hosts' RAM
        "SPARK_DRIVER_MEM": f"{min(2048, ram_mb // 4)}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    env = {"nproc": cpus, "ram_mb": ram_mb,
           "driver_mem": os.environ["SPARK_DRIVER_MEM"],
           "python": sys.version.split()[0]}
    return conf, env


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def median(xs) -> float:
    return float(statistics.median(xs))


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every descendant:
    the Spark JVM, the Python daemon and its workers, including exited
    workers their parents reaped.  Time the host steals from the VM is
    not in it."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited meanwhile
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        # utime, stime, cutime, cstime
        cpu[int(name)] = sum(int(x) for x in fields[11:15])
    ticks, stack = 0, list(children.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        ticks += cpu[pid]
        stack.extend(children.get(pid, []))
    own = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + own.user + own.system


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Bench:
    def __init__(self, wl, seed: int, run_dir: str, conf: dict, env: dict):
        from text2nkg_spark.config import PipelineConfig
        from text2nkg_spark.plans.pipeline import default_label_space

        self.wl, self.seed, self.dir = wl, seed, run_dir
        self.conf, self.env = conf, env
        self.cfg = PipelineConfig()
        self.space = default_label_space()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def stage(self) -> None:
        """Generate and write every input before anything is timed."""
        from workloads import WARM, stage_inputs

        log("staging inputs")
        late = RESTART_ROUNDS * FILES_PER_TRIGGER
        self.inputs = stage_inputs(
            self.wl, self.seed, self.path("input"),
            late_files=late if self.wl.path == "stream" else 0)
        self.warm_inputs = stage_inputs(WARM, 0, self.path("warm_in"))

    # -- set-up -----------------------------------------------------------
    def set_up(self, paths: tuple[str, ...]) -> tuple[float, float]:
        """JVM + session launch, then a warm-up of each path:
        (wall seconds, CPU seconds).  The batch path warms with one
        extraction pass over a tiny fixed input, which spawns the Python
        workers; the build after it is a process's first, as in a batch
        job.  The stream path warms with one drain of the workload's own
        files, as a long-running ingest has drained earlier backlogs."""
        from text2nkg_spark.plans.pipeline import extract
        from text2nkg_spark.session import get_spark

        import pyspark

        t0, c0 = time.perf_counter(), tree_cpu_s()
        self.spark = get_spark("perfbench", extra=self.conf)
        self.env.update(pyspark=pyspark.__version__,
                        java=self.spark.sparkContext._jvm.System
                        .getProperty("java.version"))
        if "batch" in paths:
            extract(self.spark.read.parquet(self.warm_inputs["batch"]),
                    self.cfg, self.space).count()
        if "stream" in paths:
            self._drain(self.inputs["stream"], "warm_stream")
        return time.perf_counter() - t0, tree_cpu_s() - c0

    # -- the two paths ----------------------------------------------------
    def build(self, root: str):
        """One run_pipeline call: (outputs, wall seconds, CPU seconds)."""
        from text2nkg_spark.plans.pipeline import run_pipeline

        self.attempted += 1
        t0, c0 = time.perf_counter(), tree_cpu_s()
        tr = self.spark.read.parquet(self.inputs["batch"])
        out = run_pipeline(self.spark, tr, root, self.cfg, self.space)
        return out, time.perf_counter() - t0, tree_cpu_s() - c0

    def _drain(self, src: str, name: str):
        from text2nkg_spark.streaming.ingest import (
            run_to_parquet, stream_extract_facts, stream_transcripts)

        t0, c0 = time.perf_counter(), tree_cpu_s()
        q = run_to_parquet(
            stream_extract_facts(stream_transcripts(self.spark, src),
                                 self.cfg, self.space),
            self.path(name), self.path(name + ".ckpt"))
        q.awaitTermination()
        return (time.perf_counter() - t0, tree_cpu_s() - c0,
                q.recentProgress)

    def drain(self, name: str):
        """availableNow drain of the staged stream files into output
        ``name`` (checkpoint ``name.ckpt``): (wall seconds, CPU seconds,
        progress)."""
        self.attempted += 1
        return self._drain(self.inputs["stream"], name)

    # -- output checks ----------------------------------------------------
    def check(self, errors: list[str]) -> None:
        if errors:
            self.failed += 1
            self.errors.extend(errors)

    def check_builds(self, outs: list[dict]) -> None:
        from checks import check_batch, oracle_sample

        sample = oracle_sample(self.wl.gen_config(self.seed), self.seed,
                               self.cfg, self.space)
        for out in outs:
            self.check(check_batch(out, sample))

    def check_drains(self, names: list[str], resumed: str | None = None,
                     late: list[str] = ()) -> None:
        """Each drain's output against extract_facts_fused over the files it
        read: the staged ones, plus ``late`` for the ``resumed`` output."""
        from pyspark.sql import functions as F

        from checks import check_stream
        from text2nkg_spark.plans.pipeline import extract

        extract(self.spark.read.parquet(*self.inputs["base"], *late),
                self.cfg, self.space).write.parquet(self.path("reference"))
        ref = self.spark.read.parquet(self.path("reference"))
        # conv ids are zero-padded and the late conversations come last
        base = ref.where(F.col("conv_id") < f"conv{self.wl.n_convs:08d}")
        for name in names:
            self.check(check_stream(self.spark.read.parquet(self.path(name)),
                                    base))
        if resumed is not None:
            self.check(check_stream(
                self.spark.read.parquet(self.path(resumed)), ref))

    # -- runs -------------------------------------------------------------
    def measure(self, seconds: float) -> dict:
        """The end-to-end metrics, each in CPU seconds of the whole process
        tree (``tree_cpu_s``); wall times go to the log.  On a shared host
        a build's wall time moves with the time the host steals from the
        VM, up to 2x within an hour; its CPU time moves a few times less."""
        setup_wall, setup_cpu = self.set_up((self.wl.path,))
        log(f"set-up (wall s, cpu s) ({setup_wall:.2f}, {setup_cpu:.2f})")
        runs, outs = [], []
        deadline = time.perf_counter() + seconds
        if self.wl.path == "batch":
            while not runs or time.perf_counter() < deadline:
                out, wall, cpu = self.build(self.path(f"out{len(runs)}"))
                runs.append((wall, cpu))
                outs.append(out)
            resume = [self.build(self.path("out0"))[1:]
                      for _ in range(RESUME_ROUNDS)]
        else:
            while (len(runs) < MIN_DRAINS
                   or time.perf_counter() < deadline):
                runs.append(self.drain(f"stream{len(runs)}")[:2])
            resume, late = [], []
            for r in range(RESTART_ROUNDS):
                batch = self.inputs["late"][r * FILES_PER_TRIGGER:
                                            (r + 1) * FILES_PER_TRIGGER]
                for f in batch:
                    late.append(os.path.join(self.inputs["stream"],
                                             os.path.basename(f)))
                    os.rename(f, late[-1])
                resume.append(self.drain("stream0")[:2])
        log("runs (wall s, cpu s) " + " ".join(
            f"({w:.2f}, {c:.2f})" for w, c in runs) + ", resumes " + " ".join(
            f"({w:.2f}, {c:.2f})" for w, c in resume))
        if self.wl.path == "batch":
            self.check_builds(outs)
        else:
            self.check_drains([f"stream{i}" for i in range(1, len(runs))],
                              "stream0", late)
        log("outputs checked")
        return {
            "setup_s": setup_cpu,
            "cpu_ms_per_turn": 1000 * median(c for _, c in runs)
            / self.wl.turns,
            "resume_cpu_s": median(c for _, c in resume),
        }

    def measure_traced(self, trace_path: str) -> dict:
        import tracing

        events = self.path("events")
        os.makedirs(events)
        self.conf = dict(self.conf, **{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"})
        log(f"set-up {self.set_up(('batch', 'stream'))[0]:.1f}s")
        tracer = tracing.Tracer()
        with tracing.instrument(tracer, self.spark.sparkContext) as groups:
            with tracer.span("build"):
                out, build_s, build_cpu = self.build(self.path("out"))
        log(f"traced build {build_s:.1f}s")
        with tracer.span("stream"):
            drain_s, drain_cpu, progress = self.drain("stream")
        log(f"traced drain {drain_s:.1f}s")
        peak_rss_mb = jvm_peak_rss_mb(self.spark)
        self.check_builds([out])
        self.check_drains(["stream"])
        log("outputs checked")
        predictions = out["predictions"].count()
        app_id = self.spark.sparkContext.applicationId

        gen_cfg = self.wl.gen_config(self.seed)
        candidates = tracing.count_candidates(
            tracing.workload_sentences(gen_cfg), self.cfg)
        with tracer.span("kernels"):
            kernels = tracing.kernel_rates(
                tracing.workload_sentences(gen_cfg, 50_000),
                self.cfg, self.space)
        log("kernels timed")
        stop_spark(self.spark)
        self.spark = None

        summary = tracing.eventlog_summary(os.path.join(events, app_id))
        build_groups = {g: summary[g] for g in groups if g in summary}
        pred_tasks = sorted(summary["predictions"]["task_ms"])
        self_s = tracer.self_times()
        build_id = next(s["id"] for s in tracer.spans if s["name"] == "build")
        stage_s = {s["name"].removeprefix("stage:"): self_s[s["id"]]
                   for s in tracer.spans if s["parent"] == build_id
                   and s["name"].startswith("stage:")}
        rows = [p for p in progress if p.numInputRows > 0]

        def p50(*keys):
            return median([sum(p.durationMs.get(k, 0) for k in keys)
                           for p in rows])

        def total(name):
            return sum(s["end"] - s["start"] for s in tracer.spans
                       if s["name"] == name)

        metrics = {STAGE_METRICS[k]: v for k, v in stage_s.items()}
        metrics.update(kernels)
        metrics.update({
            "manifest.fingerprint_s": total("fingerprint"),
            "manifest.lineage_s": total("lineage"),
            "extraction.candidates": candidates,
            "extraction.facts_per_candidate": predictions / candidates,
            "extraction.task_skew": pred_tasks[-1] / median(pred_tasks),
            "canonicalize.jobs": summary["surface_to_entity"]["jobs"],
            "jvm.peak_rss_mb": peak_rss_mb,
            "spark.jobs": sum(g["jobs"] for g in build_groups.values()),
            "streaming.batches": len(rows),
            "streaming.trigger_ms": p50("triggerExecution"),
            "streaming.add_batch_ms": p50("addBatch"),
            "streaming.planning_ms": p50("queryPlanning"),
            "streaming.commit_ms": p50("walCommit", "commitOffsets"),
            # the workload's own path, traced; the tracing overhead is
            # this / the untraced run's cpu_ms_per_turn - 1
            "trace.cpu_ms_per_turn": 1000 * (
                build_cpu if self.wl.path == "batch" else drain_cpu)
            / self.wl.turns,
            "trace.turns_per_s": self.wl.turns / (
                build_s if self.wl.path == "batch" else drain_s),
        })
        for key in ("shuffle_write_mb", "shuffle_read_mb", "gc_s"):
            metrics[f"spark.{key}"] = sum(
                g[key] for g in build_groups.values())

        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({
                "workload": self.wl.name, "seed": self.seed,
                "spans": [dict(s, self_s=self_s[s["id"]])
                          for s in tracer.spans],
                "eventlog": {str(g): dict(v, tasks=len(v.pop("task_ms")))
                             for g, v in summary.items()},
                "progress": [json.loads(p.json) for p in progress],
                "metrics": metrics,
            }, f, indent=1)
        return metrics


def result(spec_metrics: list[dict], values: dict, attempted: int,
           failed: int) -> dict:
    names = [m["name"] for m in spec_metrics]
    if sorted(values) != sorted(names):
        raise RuntimeError(
            f"measured {sorted(values)} != BENCHMARK.json {sorted(names)}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": values[m["name"]],
                                    "unit": m["unit"]}
                        for m in spec_metrics}}


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "text2nkg_spark")):
        sys.exit(f"perfbench: no text2nkg_spark package in {ROOT}")
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    bench = None
    try:
        conf, env = pin_environment(run_dir)
        bench = Bench(WORKLOADS[args.workload], args.seed, run_dir, conf,
                      env)
        bench.stage()
        if args.trace:
            trace_path = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            values = bench.measure_traced(trace_path)
            print(f"perfbench: spans and event-log summary in {trace_path}",
                  file=sys.stderr)
        else:
            values = bench.measure(args.seconds)
    finally:
        if bench is not None and bench.spark is not None:
            stop_spark(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for err in bench.errors:
        print(f"perfbench: output check failed: {err}", file=sys.stderr)
    print("perfbench env: " + json.dumps(env), file=sys.stderr)
    key = "per_layer" if args.trace else "end_to_end"
    print(json.dumps(result(spec[key], values, bench.attempted,
                            bench.failed)))


if __name__ == "__main__":
    main()
