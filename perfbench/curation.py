"""Registry-roster and ingest-gate workloads, run in rounds.

Round 0 is the untimed warm-up: it checks every registry query against its
DuckDB oracle. A measured round is one micro-batch through
``multimodal_dedup_ingest_stream`` (when the workload has the gate) followed
by one pass over the registry queries, each built with ``QUERIES[q]`` and
executed through the noop sink as ``bench.py`` does. Measured rounds follow
until the gate's batches are used up and ``--seconds`` have passed. Every
document goes through a measured gate batch, so each run does the same gate
work whatever way its seed splits the documents; the first batch also
creates the four band indexes, which the later ones probe and append to.

``curation`` is the workload the benchmark's contract runs. The full rosters
(``roster_chains``, ``roster_oneplan``) and the gate alone (``gate_ingest``)
run the same way by name, for ledgers taken by hand.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from stats import median

CHAINS = [
    "ngram_pairs_stage", "dedup_substring_apply", "cluster_kmeans_lloyd",
    "dedup_multimodal_apply", "token_count_bpe2", "minhash_index_build",
    "dedup_incremental_probe", "bpe_train_merges_1k", "trade_edges_stage",
    "pagerank_trade_network", "rp_index_build", "dedup_rp_incremental_probe",
    "phash_index_build", "ivf_index_build", "ivfpq_index_build",
    "corpus_curate_end_to_end", "embed_curate_end_to_end",
]
ONEPLAN_TEMPORAL = [
    "asof_latest_per_key", "asof_all_versions", "rollback_state", "compare_diff",
    "compare_diff_all", "keys_alive_daily", "join_asof", "join_asof_tolerance",
    "join_asof_forward", "win_rolling_1h_by_time", "agg_groupby_multi", "agg_grouping_sets",
]
# the chain query beside the gate: a staged band-index build, one of the
# two queries whose job counts ROADMAP asks about (the other,
# pagerank_trade_network, runs in roster_chains; two chains and three gate
# batches do not fit one run's time budget)
CURATION = ["phash_index_build"]
GATE_BATCHES = 3

GATE_SCHEMA = "doc_id bigint, text string, image binary, audio binary, video binary"
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_gate.json")


def oneplan() -> list[str]:
    from bench import HEADLINE

    return ONEPLAN_TEMPORAL + [q for q in HEADLINE if q.startswith("tpch_")]


def gate_inputs(data_dir: str, seed: int, n_batches: int, out_dir: str) -> list[str]:
    """Documents with their synthetic payloads (the content the engine's
    ``synth_ppm_images``/``synth_wav_audio``/``synth_gif_videos`` give the
    same ids), assigned to micro-batch files by the seed."""
    from temporalvault_spark.operators.audio_fp import AUD_EVERY, AUD_OFFSET, _synth_wav
    from temporalvault_spark.operators.phash import IMG_EVERY, _synth_ppm
    from temporalvault_spark.operators.videohash import VID_EVERY, VID_OFFSET, _synth_gif

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    order = np.random.default_rng(seed).permutation(len(ids))
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for b, part in enumerate(np.array_split(order, n_batches)):
        bid = [ids[k] for k in sorted(part)]
        cols = {
            "doc_id": pa.array(bid, pa.int64()),
            "text": [texts[k] for k in sorted(part)],
            "image": pa.array([_synth_ppm(i) if i % IMG_EVERY == 0 else None for i in bid], pa.binary()),
            "audio": pa.array(
                [_synth_wav(i) if i % AUD_EVERY == AUD_OFFSET else None for i in bid], pa.binary()
            ),
            "video": pa.array(
                [_synth_gif(i) if i % VID_EVERY == VID_OFFSET else None for i in bid], pa.binary()
            ),
        }
        path = os.path.join(out_dir, f"b{b:03d}.parquet")
        pq.write_table(pa.table(cols), path)
        paths.append(path)
    return paths


def _tree(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def _listing(path: str) -> tuple[dict, set]:
    """Every file under ``path`` with its (size, mtime), and every directory."""
    files, dirs = {}, set()
    for base, ds, names in os.walk(path):
        dirs.update(os.path.join(base, d) for d in ds)
        for n in names:
            st = os.stat(os.path.join(base, n))
            files[os.path.join(base, n)] = (st.st_size, st.st_mtime_ns)
    return files, dirs


class Rounds:
    def __init__(self, name: str, run, queries: list[str], gate: bool):
        self.name = name
        self.ctx = run
        self.queries = queries
        self.gate = gate
        self.ops: list[tuple[str, float, int]] = []
        self.progress: dict[int, dict] = {}

    @classmethod
    def named(cls, name: str, run) -> "Rounds":
        rosters = {
            "curation": (CURATION, True),
            "roster_chains": (CHAINS, False),
            "roster_oneplan": (oneplan(), False),
            "gate_ingest": ([], True),
        }
        if name not in rosters:
            raise SystemExit(f"unknown workload {name!r}")
        queries, gate = rosters[name]
        return cls(name, run, queries, gate)

    def prepare(self, data_dir: str) -> None:
        self.data_dir = data_dir

    # -- gate ----------------------------------------------------------------

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress[p.batchId] = {
                    "trigger_s": p.durationMs.get("triggerExecution", 0) / 1e3,
                    "rows": p.numInputRows,
                }

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.ctx.spark.streams.addListener(Progress())

    def _gate_batch(self, b: int, op: int):
        from temporalvault_spark.streaming import multimodal_dedup_ingest_stream

        spark, ledger = self.ctx.spark, self.ctx.ledger
        os.rename(self.pending[b], os.path.join(self.live, os.path.basename(self.pending[b])))
        stream = (
            spark.readStream.option("maxFilesPerTrigger", 1).schema(GATE_SCHEMA).parquet(self.live)
        )
        with ledger.span("gate.batch", op=op, measured=True, batch=b) as s:
            multimodal_dedup_ingest_stream(stream, self.index_paths, self.accepted, self.checkpoint)
        deadline = time.time() + 10
        while b not in self.progress and time.time() < deadline:
            time.sleep(0.05)  # listener events arrive asynchronously
        ledger.bind_batch(b, s)
        return s

    # -- queries -------------------------------------------------------------

    def _query(self, q: str, op: int):
        from temporalvault_spark.registry import QUERIES

        ledger = self.ctx.ledger
        with ledger.span(f"chains.{q}", op=op, measured=True, query=q) as s:
            with ledger.span(f"chains.{q}.build"):
                df = QUERIES[q](self.ctx.spark, self.data_dir)
            with ledger.span(f"chains.{q}.exec"):
                df.write.format("noop").mode("overwrite").save()
        if ledger.sc is not None:
            s.attrs["tracker_jobs"] = sum(
                len(ledger.group_jobs(x)) for x in ledger.spans if x.id == s.id or x.parent == s.id
            )
        # drop the query's frames so checkpoint blocks are released before
        # the next query (bench.py does the same)
        df = None
        gc.collect()
        return s

    def _check_queries(self) -> None:
        from temporalvault_spark.registry import ORACLES, QUERIES
        from tests.oracle_check import compare, duckdb_conn

        con = duckdb_conn(self.data_dir)
        for q in self.queries:
            with self.ctx.ledger.span(f"check.{q}"):
                try:
                    ok, msg = compare(QUERIES[q](self.ctx.spark, self.data_dir), con, ORACLES[q])
                except Exception:  # noqa: BLE001
                    self.ctx.op_failed(f"oracle {q}")
                    continue
            self.ctx.check(ok, f"{q}: {msg}")
        con.close()

    # -- the loop --------------------------------------------------------------

    def run(self) -> dict:
        from temporalvault_spark.staging import staging_root

        run = self.ctx
        if self.gate:
            g = os.path.join(run.work, "gate")
            self.pending = gate_inputs(self.data_dir, run.seed, GATE_BATCHES, f"{g}/pending")
            self.live = f"{g}/live"
            os.makedirs(self.live)
            self.accepted, self.checkpoint = f"{g}/accepted", f"{g}/checkpoint"
            self.index_paths = {k: f"{g}/idx_{k}" for k in ("text", "image", "audio", "video")}
            self._listen()
        self._check_queries()

        stage = staging_root(run.spark)
        before_files, before_dirs = _listing(stage)
        op, b, passes = 1, 0, []
        t0 = time.perf_counter()
        while True:
            if self.gate and b < GATE_BATCHES:
                try:
                    s = self._gate_batch(b, op)
                    self.ops.append(("gate", s.dur, s.id))
                except Exception:  # noqa: BLE001
                    run.op_failed("gate batch")
                b, op = b + 1, op + 1
            p0 = time.perf_counter()
            for q in self.queries:
                try:
                    s = self._query(q, op)
                    self.ops.append((q, s.dur, s.id))
                except Exception:  # noqa: BLE001
                    run.op_failed(f"query {q}")
                op += 1
            if self.queries:
                passes.append(time.perf_counter() - p0)
            done_gate = not self.gate or b >= GATE_BATCHES
            if done_gate and (not self.queries or time.perf_counter() - t0 >= run.seconds):
                break
        window = time.perf_counter() - t0
        # a diff of the staging root's listing: files new or rewritten in
        # the measured window, and directories created in it
        after_files, after_dirs = _listing(stage)
        self.staging = {
            "bytes": sum(v[0] for k, v in after_files.items() if before_files.get(k) != v),
            "dirs": len(after_dirs - before_dirs),
        }

        report: dict = {}
        lat = [d for _, d, _ in self.ops]
        self.passes = len(passes)
        if passes:
            report["pass_s"] = {"value": median(passes), "unit": "s", "passes": len(passes)}
        disk_per_row = self.staging["bytes"] / max(1, len(lat))
        if self.gate:
            docs = self._check_gate()
            gate_ops = [d for k, d, _ in self.ops if k == "gate"]
            measured = [self.progress[i] for i in range(GATE_BATCHES) if i in self.progress]
            report["gate_docs_per_s"] = {
                "value": sum(m["rows"] for m in measured) / sum(gate_ops), "unit": "1/s"
            }
            report["gate_batch_p50_s"] = {
                "value": median([m["trigger_s"] for m in measured]), "unit": "s"
            }
            report["gate_accepted"] = {"value": self.accepted_n, "unit": "count",
                                       "digest": self.digest,
                                       "digest_checked": self.digest_checked}
            stored = [*self.index_paths.values(), self.accepted]
            disk_per_row = sum(_tree(p)[1] for p in stored) / docs
        return {
            "ops": [[k, d] for k, d, _ in self.ops],
            "rate": {"ops": len(lat), "seconds": window},
            "disk_bytes_per_row": disk_per_row,
            "report": report,
        }

    def _check_gate(self) -> int:
        """Every input doc reached a verdict, accepted ids are distinct input
        ids, nothing was quarantined, and the accepted set matches the one
        recorded for this seed. A seed with no recorded set is reported
        (``digest_checked`` false in the report), not failed."""
        run = self.ctx
        inputs = set()
        for p in self.pending:
            moved = os.path.join(self.live, os.path.basename(p))
            inputs.update(pq.read_table(moved, columns=["doc_id"]).column("doc_id").to_pylist())
        seen = sum(self.progress.get(i, {}).get("rows", 0) for i in range(GATE_BATCHES))
        run.check(seen == len(inputs), f"gate saw {seen} of {len(inputs)} docs")
        acc = [r[0] for r in run.spark.read.parquet(self.accepted).select("doc_id").collect()]
        run.check(len(acc) == len(set(acc)), "gate accepted a doc twice")
        run.check(set(acc) <= inputs, "gate accepted a doc it was not given")
        quarantine = os.path.join(self.accepted, "_quarantine")
        run.check(not os.path.isdir(quarantine), "gate quarantined a payload")
        digest = hashlib.sha256(json.dumps(sorted(acc)).encode()).hexdigest()
        self.accepted_n = len(acc)
        self.accepted_ratio = len(acc) / max(1, len(inputs))
        self.digest = digest
        with open(EXPECTED) as f:
            want = json.load(f).get(str(run.seed))
        self.digest_checked = want is not None
        if want is not None:
            run.check(digest == want, f"gate accepted set differs for seed {run.seed}")
        return len(inputs)

    def detail(self, folded: dict) -> dict:
        spans = self.ctx.ledger.spans
        out: dict = {}
        qspans = [s for s in spans if s.attrs.get("query")]
        for q in self.queries:
            ss = [s for s in qspans if s.attrs["query"] == q]
            out[f"chains.{q}.jobs"] = median([folded[s.id]["jobs"] for s in ss])
            out[f"chains.{q}.tracker_jobs"] = median([s.attrs.get("tracker_jobs", 0) for s in ss])
            for part in ("build", "exec"):
                parts = [x for x in spans if x.name == f"chains.{q}.{part}" and x.parent in {s.id for s in ss}]
                out[f"chains.{q}.{part}_s"] = median([p.dur for p in parts])
            for k in ("tasks", "in_job_s", "driver_gap_s", "executor_cpu_s", "python_wait_s"):
                out[f"chains.{q}.{k}"] = median([folded[s.id][k] for s in ss])
        if self.queries:
            out["chains.staging_bytes_written"] = self.staging["bytes"]
            out["chains.staging_dirs_created"] = self.staging["dirs"]
            # per timed pass over the roster
            roster = [folded[s.id] for s in qspans]
            for k in ("jobs", "stages", "tasks", "in_job_s", "driver_gap_s", "executor_run_s",
                      "executor_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
                      "python_wait_s"):
                out[f"{self.name}.{k}"] = sum(r[k] for r in roster) / self.passes
        if self.gate:
            gs = [s for s in spans if s.name == "gate.batch" and s.attrs.get("measured")]
            n = max(1, len(gs))
            f = [folded[s.id] for s in gs]
            out["gate.batches"] = len(gs)
            out["gate.jobs_per_batch"] = sum(x["jobs"] for x in f) / n
            for k in ("in_job_s", "driver_gap_s", "executor_cpu_s", "python_wait_s",
                      "shuffle_write_bytes"):
                out[f"gate.{k}"] = sum(x[k] for x in f) / n
            files = size = 0
            for p in self.index_paths.values():
                fi, si = _tree(p)
                files, size = files + fi, size + si
            out["gate.index_files"] = files
            out["gate.index_bytes"] = size
            out["gate.accepted_ratio"] = self.accepted_ratio
        return out
