"""One workload in one process: generate the inputs, start the session, set
up, run the closed loop, check the outputs and write a JSON result.

``run.py`` starts this file in a subprocess with the environment that keeps
every file the run writes inside the checkout. Nothing is printed on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from ledger import Ledger, fold, read_event_logs  # noqa: E402
from stats import median  # noqa: E402

# Catalog scale. sf0.01 keeps a run (JVM start, three set-ups, warm-up,
# the measured loop and the checks) inside the benchmark's time budget; the
# engine is bound by job count, so per-op costs barely move with scale.
SF = 0.01
SETUP_REPS = 3


def vmhwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MB (``VmHWM`` in /proc)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """What a workload sees: the session, the ledger, the seed and the
    checks it has counted so far."""

    def __init__(self, spark, ledger: Ledger, seed: int, seconds: float, work: str):
        self.spark = spark
        self.ledger = ledger
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)
        return ok

    def op_failed(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {traceback.format_exc(limit=3)[-600:]}")


def _workload(name: str, run: Run):
    if name == "vault_mixed":
        from vault_mix import VaultMix

        return VaultMix(run)
    from curation import Rounds

    return Rounds.named(name, run)


SPARK_KEYS = (
    "jobs", "stages", "tasks", "in_job_s", "driver_gap_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "python_wait_s", "shuffle_write_bytes",
)


def layer_metrics(ledger: Ledger, folded: dict) -> dict:
    """The per-layer metrics every workload reports: session and catalog
    set-up, and the Spark work per measured op (maintenance included)."""
    spans = ledger.spans
    ops = [s for s in spans if s.attrs.get("measured")]

    def durations(name: str) -> list[float]:
        return [s.dur for s in spans if s.name == name]

    out = {
        "session.start_s": durations("session.start")[0],
        "catalog.load_s": median(durations("catalog.load")),
        "catalog.temporal_records_fill_s": median(durations("catalog.temporal_records_fill")),
    }
    for k in SPARK_KEYS:
        out[f"spark.{k}_per_op"] = sum(folded[s.id][k] for s in ops) / max(1, len(ops))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--event-log", default=None)
    args = ap.parse_args()

    phases = {"start": time.time()}
    base = os.path.join(args.work, "data")
    datagen.generate(base, args.seed, SF)
    reps = []
    for i in range(SETUP_REPS):
        d = os.path.join(args.work, f"catalog{i}")
        shutil.copytree(base, d)
        reps.append(d)

    phases["inputs"] = time.time()
    ledger = Ledger()
    from temporalvault_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    with ledger.span("session.start"):
        spark = get_spark(f"perfbench-{args.workload}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    if args.event_log:
        ledger.sc = spark.sparkContext
    import temporalvault_spark.operators  # noqa: F401
    from temporalvault_spark.catalog import load_catalog

    run = Run(spark, ledger, args.seed, args.seconds, args.work)
    wl = _workload(args.workload, run)
    setup = []
    for i, d in enumerate(reps):
        with ledger.span("setup", rep=i) as s:
            with ledger.span("catalog.load"):
                load_catalog(spark, d)
            with ledger.span("catalog.temporal_records_fill"):
                spark.table("temporal_records").count()
        setup.append(s.dur)
    wl.prepare(reps[-1])
    phases["setup"] = time.time()
    res = wl.run()
    phases["run"] = time.time()
    rss = vmhwm_mb(os.getpid()) + vmhwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
    spark.stop()
    phases["stop"] = time.time()

    folded = None
    if args.event_log:
        folded = fold(ledger.spans, ledger.batches, read_event_logs(args.event_log))
        # each query's job count from the event log must equal the status
        # tracker's count for the same call
        for s in ledger.spans:
            if "tracker_jobs" in s.attrs:
                run.check(
                    s.attrs["tracker_jobs"] == folded[s.id]["jobs"],
                    f"{s.name}: event log {folded[s.id]['jobs']} jobs, "
                    f"tracker {s.attrs['tracker_jobs']}",
                )

    out = {
        "setup_s": median(setup),
        "setup_all_s": setup,
        "phases_s": {k: v - phases["start"] for k, v in phases.items()},
        "peak_rss_mb": rss,
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        **res,
    }
    if folded is not None:
        out["layers"] = layer_metrics(ledger, folded)
        out["detail"] = wl.detail(folded)
        ledger.dump(os.path.join(args.work, "spans.json"))
    with open(args.out, "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
