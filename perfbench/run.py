"""Repository benchmark: one seeded, oracle-checked workload per call.

    python3 perfbench/run.py --workload route_fanout --seed 1 --seconds 10 --trace 0

Load model: closed loop, one client. This process drives one Spark job
at a time on local[k], k = min(nproc, 4), and waits for each complete
result. It writes its own seeded events parquet under perfbench/out/,
computes the expected outputs with the DuckDB oracle (untimed), then:

--trace 0  sets Spark up (setup_s), runs one cold pass, two settling
           passes and warm passes for --seconds (at least 3), checks
           every pass, and prints the end-to-end metrics. setup_s and
           each pass's time are wall time minus the CPU time the
           hypervisor gave other guests meanwhile (steal, /proc/stat).
           The cold pass varies too much between runs to gate on; the
           traced run reports it as workload.cold_s.
--trace 1  runs the per-layer profile (perfbench/layers.py) and a few
           workload passes with spans, job groups and the Spark event
           log on; prints the per-layer metrics and trace.warm_s (the
           tracing overhead is trace.warm_s minus the untraced runs'
           warm_s), and writes the spans to
           perfbench/out/spans-<workload>-<seed>.jsonl.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Any error before a result exists exits non-zero.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# the program under test: without it there is no result and the exit is non-zero
from perfbench import inputs, layers, procstat, sessions, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

OUT = os.path.join(ROOT, "perfbench", "out")
SETTLE_PASSES = 2   # untimed passes between the cold pass and the warm ones
MIN_WARM = 3        # warm passes even when --seconds runs out first
VCPUS = len(os.sched_getaffinity(0))


def metric_units(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json lists for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def unstolen(wall: float, steal: float, cpu: float, vcpus: int) -> float:
    """Wall seconds minus the CPU seconds the hypervisor gave other guests.

    A pass that overlaps a burst of steal is slower by about the stolen
    time, because most of a pass runs on one thread at a time. Where the
    steal spreads over all vCPUs that over-corrects, so the result is
    never below the process tree's CPU seconds spread over every vCPU."""
    return max(wall - steal, cpu / vcpus)


def _source_id() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "not-a-git-checkout"


class Run:
    """One benchmark invocation: inputs, expectations, passes, metrics."""

    def __init__(self, workload, seed: int, seconds: float, perturb: bool):
        self.wl = workload
        self.seconds = seconds
        self.perturb = perturb
        self.work = os.path.join(OUT, f"{workload.name}-{seed}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.tmp = os.path.join(self.work, "tmp")
        sessions.pin_environment(ROOT, self.work)
        self.events_glob = inputs.write_events(
            self.data_dir, workload.turns, workload.convs, seed, workload.hot_convs
        )
        self.passes: list[dict] = []
        self.env: dict = {}
        self.bases: dict[str, str] = {}   # printed next to a metric: its base or sample count

    def expect(self, state) -> None:
        self.want = self.wl.expect(self.events_glob, self.tmp, sessions.cores(), state)
        if self.perturb:  # self-test hook: one expected count off by one
            counts = self.want.get("sink_counts") or self.want["rule_counts"]
            key = sorted(counts, key=str)[0]
            counts[key] += 1

    def one_pass(self, spark, state, label: str) -> dict:
        pid = sessions.jvm_pid(spark)
        c0, s0 = procstat.cpu_seconds(pid), procstat.steal_seconds()
        t0 = time.perf_counter()
        got, bad = None, []
        try:
            got = self.wl.run_pass(spark, self.data_dir, state)
        except Exception as e:  # a failing pass is counted, not fatal
            bad = [f"{type(e).__name__}: {e}"]
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_seconds(pid) - c0
        steal = procstat.steal_seconds() - s0
        if not bad:
            bad = self.wl.check(got, self.want)
        rec = {"label": label, "wall": wall, "cpu": cpu, "steal": steal,
               "unstolen": unstolen(wall, steal, cpu, VCPUS), "bad": bad}
        self.passes.append(rec)
        return rec

    def measure(self, spark, state, seconds: float, tag: str = "") -> tuple[dict, list[dict]]:
        """Cold pass, settling passes, then warm passes for ``seconds``
        (at least MIN_WARM); returns (cold, warm)."""
        cold = self.one_pass(spark, state, tag + "cold")
        # the passes right after the cold one still share the cores with
        # the JIT compiling what the cold pass triggered
        for _ in range(SETTLE_PASSES):
            self.one_pass(spark, state, tag + "settle")
        warm, t0 = [], time.perf_counter()
        while len(warm) < MIN_WARM or time.perf_counter() - t0 < seconds:
            warm.append(self.one_pass(spark, state, tag + "warm"))
        return cold, warm

    def untraced(self) -> dict:
        t0, s0 = time.perf_counter(), procstat.steal_seconds()
        spark, _ = sessions.start()
        state = self.wl.prepare(spark)
        setup_wall = time.perf_counter() - t0
        setup_s = unstolen(setup_wall, procstat.steal_seconds() - s0,
                           procstat.cpu_seconds(sessions.jvm_pid(spark)), VCPUS)
        self.expect(state)
        self.wl.before_timing(spark, self.data_dir, state)
        _, warm = self.measure(spark, state, self.seconds)
        pid = sessions.jvm_pid(spark)
        peak = procstat.peak_rss_mb(pid)
        self.env = sessions.describe(spark)
        self.wl.after_timing()
        sessions.stop(spark)
        warm_s = statistics.median(p["unstolen"] for p in warm)
        self.bases = {
            "setup_s": f"wall {setup_wall:.3f} s minus steal",
            "warm_s": f"median of {len(warm)} warm passes, wall minus steal "
                      f"(wall alone {statistics.median(p['wall'] for p in warm):.3f} s)",
            "cpu_s": f"median of {len(warm)} warm passes",
        }
        return {
            "setup_s": setup_s,
            "warm_s": warm_s,
            "turns_per_s": self.wl.turns / warm_s,
            "cpu_s": statistics.median(p["cpu"] for p in warm),
            "peak_rss_mb": peak,
        }

    def traced(self, seed: int) -> dict:
        log_dir = os.path.join(self.work, "eventlog")
        os.makedirs(log_dir)
        tracer = tracing.Tracer(f"{self.wl.name}-{seed}-{os.getpid()}")
        with tracer.span("setup"):
            spark, start_s = sessions.start(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
            tracer.spark = spark
            state = self.wl.prepare(spark)
        with tracer.span("oracle"):
            self.expect(state)
        self.env = sessions.describe(spark)
        profile = layers.Profile(spark, tracer, self.data_dir, self.work)
        # PatternDB first, so its first pass is the JVM's first on every workload
        profile.patterndb()
        with tracer.span("workload", group=f"workload:{self.wl.name}"):
            self.wl.before_timing(spark, self.data_dir, state)
            cold, traced = self.measure(spark, state, 0, "traced-")
            self.wl.after_timing()
        profile.pipeline()
        profile.checkpoint()
        sessions.stop(spark)
        groups = tracing.group_metrics(log_dir)

        counts = profile.counts
        if counts["resumed_buckets"] != 0:
            self.passes.append({"label": "checkpoint-resume", "wall": 0.0, "cpu": 0.0, "steal": 0.0,
                                "bad": [f"resume reprocessed {counts['resumed_buckets']} buckets"]})
        self.bases = layers.bases(counts, groups)
        self.bases["trace.warm_s"] = f"median of {len(traced)} traced warm passes, wall minus steal"
        self.groups = {g: {k: v for k, v in m.items() if k != "stage_run_ms"} for g, m in groups.items()}
        os.makedirs(OUT, exist_ok=True)
        tracer.write(os.path.join(OUT, f"spans-{self.wl.name}-{seed}.jsonl"))
        return {
            "session.start_s": start_s,
            "session.heap_mb": self.env["heap_max_mb"],
            **layers.derive(tracer, groups, counts),
            "trace.warm_s": statistics.median(p["unstolen"] for p in traced),
            "workload.cold_s": cold["unstolen"],
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, help="override the input size (self-tests)")
    ap.add_argument("--perturb-expected", action="store_true",
                    help="bump one expected count (self-test of the output check)")
    args = ap.parse_args(argv)

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    if args.turns:
        wl.turns, wl.convs = args.turns, max(args.turns // 200, wl.hot_convs + 1)

    run = Run(wl, args.seed, args.seconds, args.perturb_expected)
    try:
        metrics = run.traced(args.seed) if args.trace else run.untraced()
    finally:
        sessions.shutdown()
        shutil.rmtree(run.work, ignore_errors=True)

    units = metric_units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")
    failed = sum(1 for p in run.passes if p["bad"])
    attempted = len(run.passes)
    env = {**run.env, "workload": wl.name, "turns": wl.turns, "seed": args.seed,
           "source": _source_id()}
    print("# env " + json.dumps(env, sort_keys=True))
    print("# passes (label wall_s/cpu_s/steal_s): " + " ".join(
        f"{p['label']}:{p['wall']:.3f}/{p['cpu']:.2f}/{p['steal']:.2f}" for p in run.passes))
    for p in run.passes:
        if p["bad"]:
            print(f"# FAILED {p['label']} pass: " + "; ".join(p["bad"])[:2000])
    for name, value in metrics.items():
        print(f"# {name:32s} {value:16.4f} {units[name]:8s} {run.bases.get(name, '')}")
    print(f"# failed_frac {failed / attempted:.4f} ({failed}/{attempted} passes)")
    if args.trace:
        print("# groups " + json.dumps(run.groups, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
