"""daily_batch: one cold daily run over a generated day.

Ingest three tables through the manifest commit protocol, read the 12
dashboard views over the live tables, upsert the gold fact table,
build the ML feature matrix, run MinHash and cosine dedup, build the
ANN index into a fresh directory and probe it with a fixed number of
query batches. Every read is a ``toPandas`` a user of the view would
make; its output is checked after the timed phase.
"""

from __future__ import annotations

import os
import time

import duckdb
from pyspark.sql import functions as F

from etl_stocks_with_sentiment_analysis_spark import registry
from etl_stocks_with_sentiment_analysis_spark.llmdata import dedup, similarity
from etl_stocks_with_sentiment_analysis_spark.ml import features
from etl_stocks_with_sentiment_analysis_spark.operators import sinks
from etl_stocks_with_sentiment_analysis_spark.plans import panel, views
from tools.check_oracle import close_enough, frame_to_rows

from . import gen

K = 3  # neighbours per ANN query
NPROBE = 2
# queries use the engine's own scaled-integer vector encoding, so a
# change to it changes corpus and queries alike
_Q_SCALED = similarity._SCALED.replace("embedding", "e")
_Q_DOT = similarity._DOT.format(a=similarity._SCALED, b=similarity._SCALED).replace(
    "embedding", "e"
)


class DailyBatch:
    def __init__(self, spark, rec, work: str, seed: int):
        self.spark, self.rec, self.work, self.seed = spark, rec, work, seed
        self.outputs: dict[str, object] = {}

    def setup(self) -> None:
        self.day = os.path.join(self.work, "day")
        self.tables = gen.write_day(self.seed, self.day)
        self.queries = gen.query_batches(self.seed, self.tables)

    # -- the timed cycle ---------------------------------------------------

    def run(self, seconds: float) -> None:
        """Exactly one cold batch, however long ``seconds`` is: the
        reference runs its day as a fresh process too."""
        self.rec.cycle = 0
        t0 = time.time()
        self.cycle()
        self.cycle_walls = [time.time() - t0]
        self.rec.cycle = None

    def attempted(self) -> int:
        return len(self.rec.select(cycle=0, phase="action"))

    def cycle(self) -> None:
        spark, rec = self.spark, self.rec
        base = os.path.join(self.work, "tables")
        self.written = [
            os.path.join(base, t)
            for t in ("stock_prices", "grok_explanations", "volatility_predictions")
        ]
        with rec.span("table", "ingest", "write"):
            views.create_dashboard_views_on_manifest(spark, self.day, base)
        for view in views.DASHBOARD_VIEWS:
            with rec.span("plans", f"view.{view}", "read", "construct"):
                df = spark.sql(f"SELECT * FROM {view}")
            with rec.span("plans", f"view.{view}", "read"):
                self.outputs[f"view.{view}"] = df.toPandas()

        gold = os.path.join(base, "fct_prices_with_grok")
        self.written.append(gold)
        with rec.span("plans", "gold", "write", "construct"):
            fct = panel.fct_prices_with_grok(spark, self.day)
        with rec.span("table", "upsert.gold", "write"):
            sinks.upsert(spark, gold, fct, ["ticker", "date"])
        self.gold = gold

        with rec.span("ml", "feature_matrix", "read", "construct"):
            fm = features.feature_matrix(spark, self.day)
        with rec.span("ml", "feature_matrix", "read"):
            self.outputs["feature_matrix"] = fm.toPandas()

        for key, fn in (
            ("dedup.minhash", dedup.dedup_minhash_lsh),
            ("dedup.cosine", dedup.dedup_embedding_cosine),
        ):
            with rec.span("llmdata", key, "read", "construct"):
                df = fn(spark, self.day)
            with rec.span("llmdata", key, "read"):
                self.outputs[key] = df.toPandas()

        idx = os.path.join(self.work, "annidx")
        with rec.span("llmdata", "index.build", "other", "construct"):
            corpus = similarity._scaled_vectors(spark, self.day)
        with rec.span("llmdata", "index.build", "other"):
            similarity.build_ann_index(spark, corpus, idx)
        for b, batch in enumerate(self.queries):
            with rec.span("llmdata", "probe", "read", "construct"):
                q = spark.createDataFrame(
                    batch, "q_id BIGINT, e ARRAY<DOUBLE>"
                ).select(
                    "q_id", F.expr(_Q_SCALED).alias("qv"), F.expr(_Q_DOT).alias("qn")
                )
                res = similarity.probe_ann_index(spark, idx, q, nprobe=NPROBE, k=K)
            with rec.span("llmdata", "probe", "read"):
                self.outputs[f"probe.{b}"] = res.toPandas()

    # -- checks (untimed) --------------------------------------------------

    def check(self) -> dict[str, str | None]:
        """Operation name -> None when its output is right, else why not."""
        con = duckdb.connect()
        for name in self.tables:
            path = os.path.join(self.day, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        oracles = registry.all_oracles()
        out: dict[str, str | None] = {}

        def compare(op: str, got, sql: str) -> None:
            want = con.execute(sql).df()
            if sorted(got.columns) != sorted(want.columns):
                out[op] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
            elif len(got) != len(want):
                out[op] = f"rows {len(got)} != {len(want)}"
            elif not close_enough(frame_to_rows(got), frame_to_rows(want)):
                out[op] = "values differ from the DuckDB oracle"
            else:
                out.setdefault(op, None)

        for view, key in views.DASHBOARD_VIEWS.items():
            compare(f"view.{view}", self.outputs[f"view.{view}"], oracles[key])
        compare(
            "upsert.gold",
            sinks.read_manifest_table(self.spark, self.gold).toPandas(),
            panel.sql_with(
                *panel.PANEL_ENRICHED, panel.FCT_CTE, body="SELECT * FROM fct"
            ),
        )
        compare(
            "feature_matrix", self.outputs["feature_matrix"],
            oracles["ml_feature_matrix"],
        )
        compare("dedup.minhash", self.outputs["dedup.minhash"],
                oracles["dedup_minhash_lsh"])
        compare("dedup.cosine", self.outputs["dedup.cosine"],
                oracles["dedup_embedding_cosine"])
        for op, planted in (
            ("dedup.minhash", gen.planted_doc_pairs(self.tables)),
            ("dedup.cosine", gen.planted_vec_pairs(self.tables)),
        ):
            found = set(
                zip(self.outputs[op]["doc_a"], self.outputs[op]["doc_b"])
            )
            missing = [p for p in planted if p not in found]
            if missing:
                out[op] = f"{len(missing)} planted pairs not found"
        for b, batch in enumerate(self.queries):
            res = self.outputs[f"probe.{b}"]
            per_q = res.groupby("q_id").size()
            short = [
                q for q, _ in batch if per_q.get(q, 0) != K
            ]
            out[f"probe.{b}"] = (
                f"{len(short)} queries without {K} results" if short else None
            )
        return out

    def recall_at_k(self) -> float:
        """Share of queries whose own corpus source vector is among its
        k results (reported, not gated)."""
        ids = self.tables["embeddings"].column("vec_id").to_pylist()
        hit = total = 0
        for b, batch in enumerate(self.queries):
            res = self.outputs[f"probe.{b}"]
            got = res.groupby("q_id")["vec_id"].apply(set).to_dict()
            for q, _ in batch:
                total += 1
                hit += ids[gen.query_source(q)] in got.get(q, set())
        return hit / total
