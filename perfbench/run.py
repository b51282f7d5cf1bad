"""The benchmark's one command.

    python3 perfbench/run.py --workload vault_mixed --seed 1 --seconds 8 --trace 0

Runs one workload in its own subprocess (``worker.py``) from the root of a
checkout, and prints, as the last line of stdout, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the workload runs
traced, with the Spark event log on, and the metrics are the per-layer ones.
The line before it holds the workload's own report (and, traced, its layer
ledger, with the tracing overhead when an untraced run of the same code,
workload and seed has been made in this checkout), by name and unit.

Every file a run writes stays under ``.perfbench_work/`` in the checkout,
which is removed at the end; the traced ledger and spans are kept in
``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, tail  # noqa: E402

# Driver heap for local mode, pinned below physical RAM (get_spark's own
# default of 16g is more than some hosts have). A fixed heap also keeps the
# JVM's peak RSS from following the host's memory size.
DRIVER_MEMORY = "2g"
# Whole-run limit: the contract's workloads must finish well inside 180 s;
# the full rosters, run by hand, get half an hour.
TIMEOUT_S = {"vault_mixed": 170, "curation": 170}
MANUAL_TIMEOUT_S = 1800


def worker_env(root: str, work: str, event_log: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": root,
            "TZ": "UTC",
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "PYTHONDONTWRITEBYTECODE": "1",
        }
    )
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)  # measure the engine's own dial
    submit = ["pyspark-shell"]
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        submit = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_log}",
            "--conf", "spark.eventLog.compress=false",
            *submit,
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit)
    return env


def run_worker(root: str, work: str, args, traced: bool, deadline: float) -> dict:
    """One workload in one subprocess; its output goes to our stderr."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    event_log = os.path.join(work, "eventlog") if traced else None
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--work", work, "--out", out,
    ]
    if event_log:
        cmd += ["--event-log", event_log]
    proc = subprocess.Popen(
        cmd, cwd=root, env=worker_env(root, work, event_log),
        stdout=sys.stderr, stderr=sys.stderr, start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        # the JVM and Python workers share the worker's process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"worker for {args.workload} failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def source_digest(root: str) -> str:
    """A hash of the engine's and the benchmark's sources, so a stored
    untraced result is reused only for the very same code."""
    h = hashlib.sha256()
    for top in ("temporalvault_spark", "perfbench"):
        for base, dirs, names in sorted(os.walk(os.path.join(root, top))):
            dirs.sort()
            for n in sorted(names):
                if n.endswith(".py"):
                    with open(os.path.join(base, n), "rb") as f:
                        h.update(n.encode() + f.read())
    return h.hexdigest()[:16]


def type_p50_geomean_ms(ops: list) -> float:
    """The geometric mean over op types of each type's median latency: every
    op type carries the same relative weight, so a 30% slower fast op moves
    it as much as a 30% slower slow one."""
    kinds = sorted({k for k, _ in ops})
    logs = [math.log(median([d for k, d in ops if k == kind])) for kind in kinds]
    return 1e3 * math.exp(sum(logs) / len(logs))


def end_to_end(r: dict) -> dict:
    return {
        "setup_s": {"value": r["setup_s"], "unit": "s"},
        "type_p50_geomean_ms": {"value": type_p50_geomean_ms(r["ops"]), "unit": "ms"},
        "ops_per_s": {"value": r["rate"]["ops"] / r["rate"]["seconds"], "unit": "1/s"},
        "disk_bytes_per_row": {"value": r["disk_bytes_per_row"], "unit": "B"},
    }


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith("_s_per_op"):
        return "s"
    if name.endswith("bytes_per_op"):
        return "B"
    return "count"


def report(r: dict) -> dict:
    """The workload's own metrics by name and unit, beside the contract's."""
    out = {
        "setup_s": {"value": r["setup_s"], "unit": "s"},
        "error_ratio": {"value": r["failed"] / max(1, r["attempted"]), "unit": "ratio"},
        "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
    }
    out.update(r["report"])
    lat = [d for _, d in r["ops"]]
    out["op_p50_ms"] = {"value": median(lat) * 1e3, "unit": "ms", "samples": len(lat)}
    t = tail(lat)
    if t:
        out["op_tail_ms"] = {"value": t[1] * 1e3, "unit": "ms", "percentile": t[0], "samples": t[2]}
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker (run_worker's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    started = time.time()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "temporalvault_spark")):
        raise SystemExit("run from the root of a temporalvault-spark checkout")
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    # untraced runs leave their result behind; a traced run of the same code,
    # workload and seed reports its tracing overhead against it
    stored = os.path.join(
        out_dir, f"plain-{args.workload}-{args.seed}-{args.seconds:g}-{source_digest(root)}.json"
    )
    deadline = started + TIMEOUT_S.get(args.workload, MANUAL_TIMEOUT_S)
    plain = None
    try:
        if args.trace:
            if os.path.exists(stored):
                with open(stored) as f:
                    plain = json.load(f)
            result = run_worker(root, work, args, True, deadline)
            shutil.copy(
                os.path.join(work, "spans.json"),
                os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"),
            )
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in result["layers"].items()}
        else:
            result = run_worker(root, work, args, False, deadline)
            with open(stored, "w") as f:
                json.dump(result, f)
            metrics = end_to_end(result)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rep = {"workload": args.workload, "seed": args.seed, "report": report(result),
           "phases_s": result["phases_s"]}
    if args.trace:
        rep["ledger"] = result["detail"]
        if plain is not None:
            # the extra cost of tracing, as a share of the untraced figure
            traced, base = end_to_end(result), end_to_end(plain)
            for k in ("setup_s", "type_p50_geomean_ms", "ops_per_s"):
                a, b = traced[k]["value"], base[k]["value"]
                share = (b / a if k == "ops_per_s" else a / b) - 1.0
                rep["ledger"][f"trace.overhead.{k}"] = share
        with open(os.path.join(out_dir, f"ledger-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({**rep, "layers": result["layers"], "errors": result["errors"]}, f, indent=1)
    print(json.dumps(rep))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )


if __name__ == "__main__":
    main()
