"""table_dml: a long-lived writer on one partitioned manifest table.

Each round runs one statement of each kind (upsert, conditional MERGE,
UPDATE, DELETE, and a BEGIN..COMMIT script through the SQL router),
reads the new version after every commit, and drains the change feed
with ``Trigger.AvailableNow`` from its checkpoint. No streaming query
runs while a commit or read is timed. Every read, every drain and the
final table are checked against a replay of the same statements on a
plain Python model.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from etl_stocks_with_sentiment_analysis_spark.operators import sinks, sqldml
from etl_stocks_with_sentiment_analysis_spark.streaming import source

from . import gen

KEYS = ["part", "id"]
SQL_NAME = "bench.dml"
# Timed rounds per run, whatever ``--seconds`` says: a fixed count keeps
# the work, and so space_amp, the same on every host. The first round
# runs cold; the median over three discards it.
ROUNDS = 3
DRAIN_TIMEOUT_S = 120
# The table keeps its last three versions readable and the change feed
# diffs each commit against the one before it, so a consumer may fall at
# most two versions behind. A round publishes six versions (the
# transaction one per statement kind, two here), so it drains three
# times, each after two versions.
DRAIN_AFTER = ("merge", "delete", "txn")


def _sql_value(v) -> str:
    return f"'{v}'" if isinstance(v, str) else str(v)


def _part_aggregates(model: dict) -> dict[int, tuple]:
    out: dict[int, list] = {}
    for row in model.values():
        a = out.setdefault(row[1], [0, 0, 0, 0])
        a[0] += 1
        a[1] += row[3]
        a[2] += row[4]
        a[3] += row[6]
    return {p: tuple(a) for p, a in out.items()}


def _diff(before: dict, after: dict) -> dict[str, int]:
    """Change-feed rows one commit should produce."""
    ins = sum(1 for k in after if k not in before)
    dele = sum(1 for k in before if k not in after)
    upd = sum(1 for k, r in after.items() if k in before and before[k] != r)
    return {
        "insert": ins, "delete": dele,
        "update_preimage": upd, "update_postimage": upd,
    }


class TableDml:
    def __init__(self, spark, rec, work: str, seed: int):
        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed
        self.plan = gen.DmlPlan(seed)
        self.model: dict[int, tuple] = {}
        self.problems: dict[str, str | None] = {}
        self.expected_cdf: dict[str, int] = {}
        self.cycle_walls: list[float] = []
        self.freshness_ms: list[float] = []
        self.drained_rows: list[int] = []
        # (operation, last version it covers, change rows the model expects)
        self.drains: list[tuple[str, int, dict[str, int]]] = []
        self.n_ops = 0

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        """Seed the table and bind it for SQL and streaming. There is no
        warm-up round: the first timed round pays the cold start."""
        spark = self.spark
        self.target = os.path.join(self.work, "table", "dml")
        self.cdf_out = os.path.join(self.work, "cdf_out")
        self.cdf_ck = os.path.join(self.work, "cdf_ck")
        self.written = [self.target]
        t0 = time.time()
        rows = self.plan.seed_rows()
        for r in rows:
            self.model[r[0]] = r
        sinks.upsert(spark, self.target, self._frame(rows), KEYS, partition_col="part")
        sqldml.bind_sql_table(spark, SQL_NAME, self.target, register_view=False)
        source.register_manifest_stream_source(spark)
        # the change feed starts at the first round's first commit
        self.starting_version = sinks._latest_manifest(self.target)[0] + 1
        self.setup_walls = {"seed_s": time.time() - t0}

    def _frame(self, rows: list[tuple]):
        return self.spark.createDataFrame(rows, gen.SCHEMA_DDL)

    # -- rounds ------------------------------------------------------------

    def run(self, seconds: float) -> None:
        for r in range(1, ROUNDS + 1):
            self.rec.cycle = r
            self._round(r)
            self.cycle_walls.append(self.rec.sum(cycle=r))
        self.rec.cycle = None

    def _round(self, r: int) -> None:
        stmts = self.plan.round(r, self.model)
        acks = []
        for st in stmts:
            before = dict(self.model)
            want = gen.apply(self.model, st)
            got = self._execute(st)
            acks.append(time.time())
            op = f"{st.kind}.{r}"
            if got is not None and got != want["updated" if st.kind == "update" else "deleted"]:
                self.problems[op] = f"affected {got} rows, model says {want}"
            for k, v in _diff(before, self.model).items():
                self.expected_cdf[k] = self.expected_cdf.get(k, 0) + v
            self._read(f"read.{op}")
            if st.kind in DRAIN_AFTER:
                with self.rec.span("streaming", "drain"):
                    end = self._drain()
                done = time.time()
                self.freshness_ms += [(done - a) * 1000.0 for a in acks]
                acks = []
                want = {k: v for k, v in self.expected_cdf.items() if v}
                self.drains.append((f"drain.{st.kind}.{r}", end, want))
                self.expected_cdf = {}

    def _read(self, op: str) -> None:
        """Read the new version: per-partition aggregates over every row."""
        with self.rec.span("table", "read", "read"):
            got = (
                sinks.read_manifest_table(self.spark, self.target)
                .groupBy("part")
                .agg(F.count(F.lit(1)), F.sum("qty"), F.sum("cents"), F.sum("ver"))
                .collect()
            )
        self.n_ops += 1
        if {row[0]: tuple(row[1:]) for row in got} != _part_aggregates(self.model):
            self.problems[op] = "aggregates differ from the model"

    def _execute(self, st: gen.Statement) -> int | None:
        spark, rec, t = self.spark, self.rec, self.target
        self.n_ops += 1
        if st.kind in ("upsert", "merge"):
            with rec.span("table", st.kind, "write", "construct"):
                df = self._frame(st.rows)
            with rec.span("table", st.kind, "write"):
                if st.kind == "upsert":
                    sinks.upsert(spark, t, df, KEYS, partition_col="part")
                else:
                    sinks.merge_manifest_table(
                        spark, t, df, on=KEYS, when_matched="update",
                        matched_condition="s.ver > e.ver",
                        when_not_matched="insert", partition_col="part",
                    )
            return None
        if st.kind == "update":
            with rec.span("table", "update", "write"):
                return sinks.update_manifest_table(
                    spark, t, {"qty": "qty + 1", "ver": "ver + 1"},
                    f"part = {st.part} AND slot = {st.slot}",
                )
        if st.kind == "delete":
            with rec.span("table", "delete", "write"):
                return sinks.delete_from_manifest_table(
                    spark, t, f"part = {st.part} AND slot = {st.slot}"
                )
        values = ", ".join(
            "(" + ", ".join(_sql_value(v) for v in row) + ")" for row in st.rows
        )
        up, us = st.txn_update
        script = (
            f"BEGIN; "
            f"INSERT INTO {SQL_NAME} ({', '.join(gen.COLUMNS)}) VALUES {values}; "
            f"UPDATE {SQL_NAME} SET cents = cents + 1 WHERE part = {up} AND slot = {us}; "
            f"COMMIT"
        )
        with rec.span("table", "txn", "write"):
            sqldml.execute_sql_script(spark, script)
        return None

    # -- change feed -------------------------------------------------------

    def _drain(self) -> int:
        """Drain the change feed to the latest version; returns it."""
        q = (
            self.spark.readStream.format("manifest_stream")
            .option("path", self.target)
            .option("readChangeFeed", "true")
            .option("keyColumns", ",".join(KEYS))
            .option("startingVersion", str(self.starting_version))
            .load()
            .writeStream.format("parquet")
            .option("path", self.cdf_out)
            .option("checkpointLocation", self.cdf_ck)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise RuntimeError(f"change-feed drain exceeded {DRAIN_TIMEOUT_S} s")
        if q.exception() is not None:
            raise RuntimeError(f"change-feed drain failed: {q.exception()}")
        ends = [source._offset_version(p) for p in q.recentProgress]
        if not any(v is not None for v in ends):
            raise RuntimeError("change-feed drain ran no batch")
        return max(v for v in ends if v is not None)

    def _check_drains(self) -> dict[str, str | None]:
        """Each drain's change rows, by type, against the model; the sink
        is read once, after the timed phase."""
        counts = (
            self.spark.read.parquet(self.cdf_out)
            .groupBy("_commit_version", "_change_type").count().collect()
        )
        out: dict[str, str | None] = {}
        lo = self.starting_version - 1
        for op, hi, want in self.drains:
            got: dict[str, int] = {}
            for v, kind, n in counts:
                if lo < v <= hi:
                    got[kind] = got.get(kind, 0) + n
            self.drained_rows.append(sum(got.values()))
            out[op] = None if got == want else f"change feed {got}, model says {want}"
            lo = hi
        late = sum(n for v, _, n in counts if v > lo)
        out["drain.after_last"] = f"{late} change rows past the last drain" if late else None
        return out

    # -- checks and accounting ---------------------------------------------

    def check(self) -> dict[str, str | None]:
        rows = sinks.read_manifest_table(self.spark, self.target).toPandas()
        got = {
            int(r.id): (int(r.id), int(r.part), int(r.slot), int(r.qty),
                        int(r.cents), r.tag, int(r.ver))
            for r in rows.itertuples(index=False)
        }
        out = dict(self.problems)
        out.update(self._check_drains())
        out["final_table"] = (
            None if got == self.model and len(rows) == len(self.model)
            else f"final table differs from the model ({len(rows)} vs {len(self.model)} rows)"
        )
        return out

    def attempted(self) -> int:
        return self.n_ops
