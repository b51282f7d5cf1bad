"""The ``vault_mixed`` workload: the paper's own surface in a closed loop.

One client thread drives a ``TemporalVault`` seeded through ``record_bulk``
from the catalog's ``temporal_records``. Ops run in blocks of 10 in a fixed
order (reads: query 3, state_at 2, compare 2; writes: record 2, record_bulk
of 500 rows with a stage tag 1); the seed picks every key, timestamp and
payload. Keys follow a Zipf law and 10% of records are backdated into the
seeded range. Two of a block's three queries use a timestamp drawn from
eight hot values, the second repeating the first, so the hot set fits the
vault's 32-entry result cache and the repeat can hit it. Read timestamps
are drawn inside fixed windows: queries and the first state_at in the
middle of the seeded month, the second state_at after the snapshot time, so
each op reads about as many partitions, by the same code path, whatever the
seed. Maintenance runs by op count: a snapshot after the block's bulk write,
a compaction at its end, and one rollback after the last block (outside the
measured window). A
Python model of every key's versions checks each reply outside the timed
region.
"""

from __future__ import annotations

import json
import os
import random
import time
from collections import defaultdict
from datetime import datetime, timedelta

import pyarrow.parquet as pq

from stats import median

# (op, read timestamp: "hot" draws a hot value, "again" repeats the last
# one, "mid" draws from the middle window, "late" from after the snapshot).
# The window opens with the three-sample op type, so the first, coldest op
# falls outside the median of its type.
BLOCK = [
    ("query", "hot"), ("query", "again"), ("state_at", "mid"), ("compare", None),
    ("record_bulk", None), ("record", None), ("state_at", "late"), ("query", "mid"),
    ("compare", None), ("record", None),
]
OPS = ("record", "record_bulk", "state_at", "query", "compare")
SNAPSHOT_AFTER = 5
BULK_ROWS = 500
HOT_TIMES = 8
BACKDATED = 0.10
ZIPF_S = 1.1

RANGE_LO = datetime(2024, 1, 1)
RANGE_HI = datetime(2024, 1, 31)
SNAPSHOT_TS = datetime(2024, 1, 27)
ROLLBACK_TS = datetime(2024, 1, 29)
FINAL_TS = datetime(2024, 2, 1)
# the read windows: an as-of read at T scans the partitions up to T, and a
# state_at after the snapshot reads the snapshot and the log tail
MID_LO, MID_HI = datetime(2024, 1, 12), datetime(2024, 1, 20)
LATE_LO, LATE_HI = datetime(2024, 1, 27, 1), FINAL_TS


class Model:
    """Every key's versions as (version_num, ts, data), with the vault's
    version rules."""

    def __init__(self):
        self.rows: dict[str, list[tuple[int, datetime, str]]] = defaultdict(list)

    def latest(self, key: str) -> int:
        return max((r[0] for r in self.rows[key]), default=0)

    def record(self, key: str, ts: datetime, data: str) -> int:
        vn = self.latest(key) + 1
        self.rows[key].append((vn, ts, data))
        return vn

    def bulk(self, batch: list[tuple[str, datetime, str]]) -> None:
        by_key = defaultdict(list)
        for key, ts, data in batch:
            by_key[key].append((ts, data))
        for key, items in by_key.items():
            base = self.latest(key)
            for i, (ts, data) in enumerate(sorted(items), start=1):
                self.rows[key].append((base + i, ts, data))

    def at(self, key: str, t: datetime):
        """(version_num, data) of the key's newest version at ``t``."""
        best = max(((r[0], r[1], r[2]) for r in self.rows[key] if r[1] <= t), default=None)
        return (best[0], best[2]) if best else None

    def state(self, t: datetime) -> dict[str, tuple[int, str]]:
        out = {}
        for key in self.rows:
            v = self.at(key, t)
            if v is not None:
                out[key] = v
        return out

    def versions_upto(self, t: datetime) -> int:
        return sum(1 for rows in self.rows.values() for r in rows if r[1] <= t)

    def rollback(self, t: datetime) -> tuple[int, list[str]]:
        n = 0
        keys = []
        for key, rows in self.rows.items():
            late = [r for r in rows if r[1] > t]
            if not late:
                continue
            n += len(late)
            keys.append(key)
            asof = self.at(key, t)
            kept = [r for r in rows if r[1] <= t]
            if asof is not None:
                kept += [(asof[0], r[1], asof[1]) for r in late]
            self.rows[key] = kept
        return n, sorted(keys)

    def total(self) -> int:
        return sum(len(v) for v in self.rows.values())


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


class VaultMix:
    def __init__(self, run):
        self.ctx = run
        self.rng = random.Random(run.seed)
        self.ops: list[tuple[str, float, int]] = []
        self.maint: list[tuple[str, float, int]] = []
        self.files_max = 0
        self.user_bytes = 0

    def prepare(self, data_dir: str) -> None:
        """Seed the vault from the catalog, once, after the timed set-ups."""
        from temporalvault_spark.vault import TemporalVault

        self.data_dir = data_dir
        self.vault = TemporalVault(self.ctx.spark, os.path.join(self.ctx.work, "vault"))
        with self.ctx.ledger.span("vault.seed") as s:
            self.seeded = self.vault.record_bulk(
                self.ctx.spark.table("temporal_records").select("record_id", "data", "ts")
            )
        self.seed_s = s.dur

    # -- inputs ------------------------------------------------------------

    def _seed_model(self) -> Model:
        ev = pq.read_table(
            os.path.join(self.data_dir, "events.parquet"), columns=["user_id", "props", "ts"]
        ).to_pydict()
        m = Model()
        m.bulk(
            [
                (str(u), ts.replace(microsecond=0), p)
                for u, p, ts in zip(ev["user_id"], ev["props"], ev["ts"])
            ]
        )
        self.user_bytes = sum(len(k) + len(d) for k, rows in m.rows.items() for _, _, d in rows)
        return m

    def _uniform_ts(self, lo=RANGE_LO, hi=RANGE_HI) -> datetime:
        return lo + timedelta(seconds=self.rng.randrange(int((hi - lo).total_seconds())))

    def _key(self) -> str:
        return self.rng.choices(self.keys, weights=self.weights)[0]

    # -- the loop ------------------------------------------------------------

    def _op(self, kind: str, i: int, model: Model, when=None) -> None:
        """Run one op inside a span, then check its reply against the model."""
        v, run, rng = self.vault, self.ctx, self.rng
        ledger = run.ledger
        try:
            if kind == "record":
                key = self._key()
                if rng.random() < BACKDATED:
                    ts = self._uniform_ts()
                else:
                    self.clock += timedelta(seconds=1)
                    ts = self.clock
                data = json.dumps({"k": rng.randrange(100), "op": i})
                with ledger.span("vault.record", op=i, measured=True) as s:
                    row = v.record(key, data, ts)
                run.check(row["version"] == f"v{model.record(key, ts, data)}", f"record {key}")
                self.user_bytes += len(key) + len(data)
            elif kind == "record_bulk":
                batch = [
                    (self._key(), self._uniform_ts(), json.dumps({"bulk": i, "row": j}))
                    for j in range(BULK_ROWS)
                ]
                df = run.spark.createDataFrame(batch, "record_id string, ts timestamp, data string")
                with ledger.span("vault.record_bulk", op=i, measured=True) as s:
                    n = v.record_bulk(df, stage_tag=f"b{i}")
                model.bulk(batch)
                run.check(n == BULK_ROWS, f"record_bulk returned {n}")
                self.bulk_rows += BULK_ROWS
                self.user_bytes += sum(len(k) + len(d) for k, _, d in batch)
            elif kind == "state_at":
                lo, hi = (MID_LO, MID_HI) if when == "mid" else (LATE_LO, LATE_HI)
                t = self._uniform_ts(lo, hi)
                with ledger.span("vault.state_at", op=i, measured=True) as s:
                    n = v.state_at(t).count()
                run.check(n == len(model.state(t)), f"state_at {t} rows {n}")
                s.attrs["rows"] = n
            elif kind == "query":
                if when == "hot":
                    self.last_hot = rng.choice(self.hot)
                t = self.last_hot if when in ("hot", "again") else self._uniform_ts(MID_LO, MID_HI)
                with ledger.span("vault.query", op=i, measured=True) as s:
                    n = v.query(t).count()
                run.check(n == model.versions_upto(t), f"query {t} rows {n}")
            elif kind == "compare":
                key = self._key()
                a, b = sorted((self._uniform_ts(), self._uniform_ts(RANGE_LO, FINAL_TS)))
                with ledger.span("vault.compare", op=i, measured=True) as s:
                    out = v.compare(key, a, b)
                want = [model.at(key, t) for t in (a, b)]
                got = [out["start_version"], out["end_version"]]
                run.check(
                    got == [f"v{w[0]}" if w else None for w in want], f"compare {key} {got}"
                )
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            run.op_failed(f"vault.{kind}")
            return
        self.ops.append((kind, s.dur, s.id))
        self.files_max = max(self.files_max, _dir_stats(v.records_path)[0])

    def _maintain(self, kind: str, i: int, model: Model) -> None:
        v, run = self.vault, self.ctx
        try:
            with run.ledger.span(f"vault.{kind}", op=i, measured=True, maint=True) as s:
                if kind == "snapshot":
                    v.snapshot(SNAPSHOT_TS)
                elif kind == "compact":
                    out = v.compact()
                else:
                    out = v.rollback(ROLLBACK_TS)
            if kind == "compact":
                run.check(out["files_after"] <= out["files_before"], f"compact {out}")
            elif kind == "rollback":
                n, keys = model.rollback(ROLLBACK_TS)
                run.check(
                    (out["n_affected"], sorted(out["affected_keys"])) == (n, keys),
                    f"rollback audit {out['n_affected']} != {n}",
                )
        except Exception:  # noqa: BLE001
            run.op_failed(f"vault.{kind}")
            return
        self.maint.append((kind, s.dur, s.id))

    def run(self) -> dict:
        run = self.ctx
        model = self._seed_model()
        run.check(self.seeded == model.total(), f"seeded {self.seeded} != {model.total()}")
        self.keys = sorted(model.rows)
        order = self.keys[:]
        self.rng.shuffle(order)
        rank = {k: r for r, k in enumerate(order, start=1)}
        self.weights = [1.0 / rank[k] ** ZIPF_S for k in self.keys]
        self.hot = [self._uniform_ts(MID_LO, MID_HI) for _ in range(HOT_TIMES)]
        self.last_hot = self.hot[0]
        self.clock = RANGE_HI
        self.bulk_rows = 0

        i = 0
        t0 = time.perf_counter()
        while True:
            for j, (kind, when) in enumerate(BLOCK, start=1):
                self._op(kind, i, model, when)
                i += 1
                if j == SNAPSHOT_AFTER:
                    self._maintain("snapshot", i, model)
            self._maintain("compact", i, model)
            if time.perf_counter() - t0 >= run.seconds:
                break
        # the window ends with the last whole block, so ops_per_s does not
        # depend on how many blocks fit; the rollback still counts in maint_s
        window = time.perf_counter() - t0
        self._maintain("rollback", i, model)

        final = {
            r["record_id"]: (r["version_num"], r["data"])
            for r in self.vault.state_at(FINAL_TS).select("record_id", "version_num", "data").collect()
        }
        run.check(final == model.state(FINAL_TS), "final state_at differs from the model")
        files, size = _dir_stats(self.vault.records_path)
        self.files_max = max(self.files_max, files)
        self.size = size

        lat = [d for _, d, _ in self.ops]
        per = {k: [d for kk, d, _ in self.ops if kk == k] for k in OPS}
        report = {
            "vault_ops_per_s": {"value": len(lat) / window, "unit": "1/s"},
            "maint_s": {"value": sum(d for _, d, _ in self.maint), "unit": "s"},
            "seed_s": {"value": self.seed_s, "unit": "s", "rows": self.seeded},
            "vault_bytes_per_version": {"value": size / model.total(), "unit": "B"},
        }
        if per["record_bulk"]:
            report["bulk_rows_per_s"] = {
                "value": self.bulk_rows / sum(per["record_bulk"]), "unit": "1/s"
            }
        for k in ("record", "state_at", "query", "compare"):
            report[f"{k}_p50_ms"] = {"value": median(per[k]) * 1e3, "unit": "ms"}
        return {
            "ops": [[k, d] for k, d, _ in self.ops],
            "rate": {"ops": len(lat), "seconds": window},
            "disk_bytes_per_row": size / model.total(),
            "report": report,
        }

    def detail(self, folded: dict) -> dict:
        """The vault's own layer metrics from the traced run."""
        out = {}
        spans = self.ctx.ledger.spans
        for kind in ("record", "record_bulk", "state_at", "query", "compare", "snapshot",
                     "compact", "rollback"):
            ss = [s for s in spans if s.name == f"vault.{kind}" and s.attrs.get("measured")]
            n = len(ss)
            out[f"vault.{kind}.calls"] = n
            out[f"vault.{kind}.jobs_per_call"] = (
                sum(folded[s.id]["jobs"] for s in ss) / n if n else 0.0
            )
            out[f"vault.{kind}.self_s"] = sum(folded[s.id]["self_s"] for s in ss)
        m = self.vault.metrics
        hits = m.get("query_cache_hit", {}).get("count", 0)
        misses = m.get("query", {}).get("count", 0)
        out["vault.query_cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
        out["vault.records_files_max"] = self.files_max
        out["vault.bytes_written_per_user_byte"] = self.size / max(1, self.user_bytes)
        sa = [s for s in spans if s.name == "vault.state_at" and s.attrs.get("measured")]
        rows = sum(s.attrs.get("rows", 0) for s in sa)
        out["vault.state_at.rows_read_per_row"] = (
            sum(folded[s.id]["records_read"] for s in sa) / rows if rows else 0.0
        )
        return out
