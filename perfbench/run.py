#!/usr/bin/env python3
"""rasteret_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload zonal --seed 1 --seconds 10 --trace 0

Workloads: zonal and sample (the set in BENCHMARK.json), ingest and
raster_ops (same harness; every traced run's ledger runs one rep of each of
the four, so their layers are measured whatever the workload).  Inputs are
generated from --seed with ``rasteret_spark.sources.synthetic`` and cached
under ``.perfbench_work/`` in the checkout.  The engine runs on
``local[<cores>]`` from this one Python process.

--trace 0 reports the end-to-end metrics: closed-loop reps (plan build plus
action, one client) until --seconds have passed, medians over reps.  The
throughput is work units per CPU-second of the process tree (the JVM, its
Python workers and this driver); wall-clock units per second is in the record
line.  On a shared 4-vCPU host, the rep wall time of one seeded zonal input
differed by up to 1.8x between runs a few minutes apart as hypervisor steal
came and went; its CPU-seconds per rep moved far less.
--trace 1 reports the per-layer metrics: with the Spark event log on, untraced
reps alternate with traced reps (spans around every layer call), then the
per-layer ledger (perfbench/ledger.py) runs.

The last stdout line is {"correct", "attempted", "failed", "metrics"}; the
line before it is the full record (reps, contention, provenance).  A failed
output check makes the exit code 1.
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
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
MIN_REPS = 1
MAX_FAILED_REPS = 2
EXT_CORES_MAX = 2.0   # a rep with more external busy cores counts as contended
DRIVER_MEMORY = "3g"  # sized for a 15 GB, 4-core host
# A fixed young generation: the heap then grows with retained data only, not
# with how the collector's adaptive sizing reacts to a busy host, so peak RSS
# repeats from run to run.  C1 only: a run's JVM lives about a minute, too
# short for C2's compile bursts to pay back the cores they take from the reps.
JVM_OPTS = "-Xmn384m -XX:TieredStopAtLevel=1 -XX:-UsePerfData"

WORK_UNIT = {"zonal": "images", "sample": "points", "ingest": "images", "raster_ops": "queries"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORK_UNIT))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--images", type=int, default=480,
                   help="image-table rows (4000 reproduces the ROADMAP row counts at seed 42)")
    return p.parse_args(argv)


def per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def git_head() -> str:
    try:
        r = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def start_session(nproc: int, event_dir: str | None = None):
    from rasteret_spark.session import get_spark

    tmp = WORK / "tmp"
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JVM_OPTS}",
    }
    if event_dir:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app="perfbench", master=f"local[{nproc}]", shuffle_partitions=nproc, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Runner:
    def __init__(self, args, nproc: int):
        from perfbench import inputs as inp
        from perfbench import observe

        self.args, self.nproc = args, nproc
        self.inputs = inp.Inputs(str(WORK), args.seed, inp.Scale(args.images), nproc)
        self.tracer = observe.Tracer(enabled=False)
        self.sampler = None
        self.spark = None
        self.ctx = None
        self.workload = None
        self.problems: list[str] = []
        self.failed_reps = 0
        self.setup: dict = {}
        self.host_probe_s: list[float] = []

    # -- set-up ----------------------------------------------------------------
    def set_up(self) -> None:
        """Generate (or find) the inputs, then time session start plus one
        unchecked warm-up rep on the full input, so that every core's Python
        worker is up before the first timed rep.  Generation is not part of
        it.

        One session per process: a second SparkContext in the same Python
        process loses Python accumulator updates, which the lineage runner
        relies on.  A traced run therefore has the event log on throughout."""
        from perfbench import observe
        from perfbench import workloads as wl

        self.inputs.prepare()  # forks: no thread may exist yet
        self.sampler = observe.RssSampler()
        event_dir = None
        if self.args.trace:
            shutil.rmtree(WORK / "trace", ignore_errors=True)
            (WORK / "trace" / "eventlog").mkdir(parents=True)
            event_dir = str(WORK / "trace" / "eventlog")
        t0 = time.perf_counter()
        self.ctx = wl.Ctx(None, self.inputs, self.tracer, str(WORK))
        self.workload = wl.WORKLOADS[self.args.workload](self.ctx)  # numpy reference answers
        refs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.spark = self.ctx.spark = start_session(self.nproc, event_dir)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.workload.run(self.ctx, self.inputs.images_dir, check=False)
        warm_s = time.perf_counter() - t0
        self.setup = {"session_s": session_s, "warm_s": warm_s, "references_s": refs_s,
                      "total_s": session_s + warm_s}

    # -- measurement -------------------------------------------------------------
    def probe_host(self) -> None:
        """Seconds for a fixed single-core Python loop: recorded next to the
        reps so a reader can tell a slow host from a slow engine."""
        t0 = time.perf_counter()
        sum(i * i for i in range(2_000_000))
        self.host_probe_s.append(time.perf_counter() - t0)

    def reps(self, seconds: float, tags: tuple[str, ...]) -> dict[str, list[dict]]:
        """Closed loop: one rep at a time, cycling through ``tags``, until
        ``seconds`` have passed and every tag has MIN_REPS reps.  Spans are
        recorded only in traced runs and only on reps tagged ``rep``."""
        import benchguard

        out: dict[str, list[dict]] = {t: [] for t in tags}
        sc = self.spark.sparkContext
        t_end = time.perf_counter() + seconds
        k = 0
        while (
            min(map(len, out.values())) < MIN_REPS or time.perf_counter() < t_end
        ) and self.failed_reps < MAX_FAILED_REPS:
            tag = tags[k % len(tags)]
            rep_id = f"{tag}-{k}"
            k += 1
            sc.setJobGroup(rep_id, f"perfbench {self.args.workload} {rep_id}")
            self.tracer.rep = rep_id
            self.tracer.enabled = bool(self.args.trace) and tag == "rep"
            try:
                cpu0 = benchguard.tree_jiffies()
                with self.sampler.sampling(), self.tracer.span("rep"):
                    wall, ext, r = benchguard.measure(
                        lambda: self.workload.run(self.ctx, self.inputs.images_dir)
                    )
                cpu = (benchguard.tree_jiffies() - cpu0) / benchguard.HZ
            except Exception as e:  # a failed rep is counted, not fatal
                traceback.print_exc()
                self.failed_reps += 1
                self.problems.append(f"{rep_id} failed: {type(e).__name__}: {str(e)[:300]}")
                continue
            out[tag].append({"id": rep_id, "wall_s": wall, "ext_cores": ext, "cpu_s": cpu, "out": r})
            self.problems.extend(f"{rep_id}: {p}" for p in r.problems)
        digests = {repr(r["out"].digest) for rs in out.values() for r in rs}
        if len(digests) > 1:
            self.problems.append(f"output digest differs across reps: {sorted(digests)}")
        return out

    def traced(self) -> tuple[list[dict], list[dict], dict]:
        """Untraced and traced reps interleaved, then the ledger; Spark's own
        counters for the traced reps come from the event log."""
        from perfbench import ledger, observe

        by_tag = self.reps(self.args.seconds, ("untraced", "rep"))
        untraced, traced = by_tag["untraced"], by_tag["rep"]
        layer: dict[str, float] = {}
        if traced:
            plans = [observe.executed_plan(q) for q in traced[-1]["out"].plans]
            (WORK / "trace" / "plans.txt").write_text("\n\n".join(plans))
            counts = [observe.plan_counts(p) for p in plans]
            layer["spark.exchanges"] = sum(c[0] for c in counts)
            layer["spark.python_nodes"] = sum(c[1] for c in counts)
        self.tracer.enabled = True
        ledger_m, problems = ledger.measure(self.ctx, set(per_layer_units()))
        layer.update(ledger_m)
        self.problems.extend(problems)
        self.tracer.dump(str(WORK / "trace" / "spans.jsonl"))
        self.spark.stop()  # flushes the event log
        self.spark = None
        tot = observe.event_log_metrics(str(WORK / "trace" / "eventlog"), "rep-")
        n = max(len(traced), 1)
        for key, val in tot.items():
            layer[key] = val / n
        walls = [r["wall_s"] for r in traced]
        layer["spark.cpu_busy_ratio"] = tot.get("spark.executor_cpu_s", 0.0) / max(sum(walls) * self.nproc, 1e-9)
        if traced and untraced:
            layer["trace.overhead_frac"] = (
                statistics.median(walls) / statistics.median([r["wall_s"] for r in untraced]) - 1
            )
            layer["trace.layer_sum_frac"] = statistics.median(
                1 - self.tracer.self_times(r["id"]).get("rep", 0.0) / r["wall_s"] for r in traced
            )
        return untraced, traced, layer

    # -- report --------------------------------------------------------------------
    def report(self, reps: list[dict], layer: dict | None, untraced: list[dict] | None) -> dict:
        import pyarrow
        import pyspark

        a = self.args
        walls = [r["wall_s"] for r in reps]
        units = [r["out"].units for r in reps]
        attempted = sum(r["out"].attempted for r in reps) + self.failed_reps
        if layer is not None:
            units_of = per_layer_units()
            missing = sorted(set(units_of) - set(layer))
            if missing:
                self.problems.append(f"per-layer metrics not measured: {missing}")
            metrics = {k: {"value": layer[k], "unit": u} for k, u in units_of.items() if k in layer}
        # each problem is one failed output check or one failed rep
        failed = sum(r["out"].bad for r in reps) + len(self.problems)
        rate = statistics.median(u / w for u, w in zip(units, walls)) if reps else 0.0
        cpu_rate = statistics.median(u / max(r["cpu_s"], 1e-9) for u, r in zip(units, reps)) if reps else 0.0
        e2e = {
            "units_per_cpu_s": {"value": cpu_rate, "unit": "1/s"},
            "setup_s": {"value": self.setup["total_s"], "unit": "s"},
            "peak_rss_mb": {"value": self.sampler.peak_mb, "unit": "MB"},
        }
        record = {
            "workload": a.workload,
            "seed": a.seed,
            "trace": a.trace,
            "work_unit": WORK_UNIT[a.workload],
            f"{WORK_UNIT[a.workload]}_per_s": rate,
            f"{WORK_UNIT[a.workload]}_per_cpu_s": cpu_rate,
            "median_rep_s": statistics.median(walls) if walls else None,
            "n_reps": len(reps),
            "reps": [[round(r["wall_s"], 4), round(r["ext_cores"], 2), round(r["cpu_s"], 2)] for r in reps],
            "contended_reps": sum(1 for r in reps if r["ext_cores"] > EXT_CORES_MAX),
            "ext_cores_max": EXT_CORES_MAX,
            "failed_reps": self.failed_reps,
            "failed_frac": failed / max(attempted, 1),
            "problems": self.problems,
            "setup": self.setup,
            "gen_s": self.inputs.gen_s,
            "host_probe_s": self.host_probe_s,
            "inputs_cached": self.inputs.cached,
            "inputs_key": self.inputs.key,
            "scale": vars(self.inputs.scale),
            "work_per_rep": units[-1] if units else None,
            "rows_per_rep": reps[-1]["out"].attempted if reps else None,
            "nproc": self.nproc,
            "spark_version": pyspark.__version__,
            "pyarrow_version": pyarrow.__version__,
            "spark_driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "jvm_opts": JVM_OPTS,
            "spark_local_dirs": os.environ["SPARK_LOCAL_DIRS"],
            "git_head": git_head(),
            "end_to_end": e2e,
        }
        if untraced is not None:
            record["untraced_reps"] = [[round(r["wall_s"], 4), round(r["ext_cores"], 2)] for r in untraced]
        if layer is not None:
            record["per_layer"] = metrics
        else:
            metrics = e2e
        correct = not self.problems and bool(reps)
        record["correct"] = correct
        print(json.dumps(record, default=str), flush=True)
        (WORK / "results").mkdir(parents=True, exist_ok=True)
        with open(WORK / "results" / f"{a.workload}-s{a.seed}-t{a.trace}.json", "w") as f:
            json.dump(record, f, default=str)
        return {"correct": correct, "attempted": max(attempted, 1), "failed": failed, "metrics": metrics}

    def close(self) -> None:
        from perfbench import observe

        try:
            observe.stop_processes(self.spark)
        finally:
            if self.sampler is not None:
                self.sampler.close()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "rasteret_spark" / "__init__.py").is_file() or not (ROOT / "benchguard.py").is_file():
        print(f"perfbench: no rasteret_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    nproc = len(os.sched_getaffinity(0))
    local_dir = WORK / "spark-local" / str(os.getpid())
    for d in (local_dir, WORK / "tmp"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(local_dir)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(WORK / "tmp")

    runner = Runner(args, nproc)
    try:
        runner.set_up()
        if args.trace:
            untraced, reps, layer = runner.traced()
        else:
            untraced, layer = None, None
            runner.probe_host()
            reps = runner.reps(args.seconds, ("rep",))["rep"]
            runner.probe_host()
        result = runner.report(reps, layer, untraced)
    finally:
        runner.close()
        shutil.rmtree(local_dir, ignore_errors=True)
        shutil.rmtree(WORK / "ingest", ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
