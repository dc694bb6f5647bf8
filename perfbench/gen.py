"""Seed-invariant input generators for the two workloads.

Every count the engine's work depends on comes from a fixed schedule
indexed by row position, never from the random stream: rows per table,
which (ticker, date) cells exist, which orders are covered, which
documents and vectors are planted duplicates, how many queries each
probe batch holds, and, for the table workload, which rows each
statement matches. The seed only draws keys (spread so they stay
distinct) and values. Two seeds therefore give the engine the same
amount of work; one seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# daily_batch: one generated trading day's warehouse
# ---------------------------------------------------------------------------

# The reference's documented scale (SURVEY.md, section 6, "Dataset
# scale"): 5 tickers x 250 trading days, about 1,250 price rows, and
# 1,030 shipped explanation rows. One (ticker, date) cell is one order,
# so a day of 1,250 orders at five lines each is 6,250 lineitem rows,
# the size of the repo's sf0.001 fixture and a hundredth of the sf0.1
# bench target. Documents and vectors stand for the explanations, one
# each. The planted pairs and query batches have no source: they are
# sized to make every check meaningful.
N_TICKERS = 5
N_DAYS = 250
LINES_PER_CELL = 5  # one order per (ticker, date) cell, five lines each
N_DOCS = 1030
N_DOC_PAIRS = 40  # planted verbatim copies: doc 2k+1 repeats doc 2k
N_VECS = 1030
EMB_DIMS = 64
N_VEC_PAIRS = 40  # planted exact vector copies: vec 2k+1 repeats vec 2k
N_QUERY_BATCHES = 2
QUERIES_PER_BATCH = 25

_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
)
_VOCAB = np.array([f"w{i:03d}" for i in range(400)])
_LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _spread_keys(rng: np.random.Generator, n: int, stride: int) -> np.ndarray:
    """n distinct keys, one drawn inside each stride-wide slot."""
    return np.arange(n, dtype=np.int64) * stride + rng.integers(0, stride, n)


def day_tables(seed: int) -> dict[str, pa.Table]:
    """lineitem, orders, documents and embeddings for one daily batch."""
    rng = np.random.default_rng(seed)
    n_cells = N_TICKERS * N_DAYS
    # tickers keep a fixed parity (model_version is ticker % 2)
    tickers = 2 * (500 + _spread_keys(rng, N_TICKERS, 10)) + (
        np.arange(N_TICKERS) % 2
    )
    start = dt.date(1995, 1, 2) + dt.timedelta(days=int(rng.integers(0, 3000)))
    cell = np.arange(n_cells)
    cell_ticker = tickers[cell // N_DAYS]
    cell_day = cell % N_DAYS
    # orderkey % 5 selects explanation coverage: fixed by cell position
    orderkeys = 5 * _spread_keys(rng, n_cells, 4) + (cell % 5)

    # prices follow a per-ticker random walk so day-over-day moves
    # straddle the 2% / 5% class boundaries
    rets = rng.normal(0.0, 0.035, (N_TICKERS, N_DAYS))
    level = 50.0 * np.exp(np.cumsum(rets, axis=1)) * rng.uniform(
        0.5, 4.0, (N_TICKERS, 1)
    )
    n_lines = n_cells * LINES_PER_CELL
    line_cell = np.repeat(cell, LINES_PER_CELL)
    price = np.round(
        level.reshape(-1)[line_cell] * rng.uniform(0.97, 1.03, n_lines) * 100, 2
    )
    epoch = np.datetime64(start, "us")
    ship = epoch + cell_day[line_cell].astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": orderkeys[line_cell],
            "l_partkey": rng.integers(1, 2000, n_lines),
            "l_suppkey": cell_ticker[line_cell],
            "l_linenumber": (np.arange(n_lines) % LINES_PER_CELL + 1).astype(
                np.int32
            ),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n_lines) / 100.0,
            "l_tax": rng.integers(0, 9, n_lines) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_lines)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": orderkeys,
            "o_custkey": rng.integers(1, 1500, n_cells),
            "o_orderstatus": _STATUS[rng.integers(0, 3, n_cells)],
            "o_totalprice": np.round(rng.uniform(1e3, 5e5, n_cells), 2),
            "o_orderdate": pa.array(
                epoch + cell_day.astype("timedelta64[D]"), pa.timestamp("us")
            ),
            "o_orderpriority": _PRIORITY[rng.integers(0, 5, n_cells)],
        }
    )

    n_words = rng.integers(20, 60, N_DOCS)
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), n)]) for n in n_words]
    for k in range(N_DOC_PAIRS):
        texts[2 * k + 1] = texts[2 * k]
    documents = pa.table(
        {
            "doc_id": _spread_keys(rng, N_DOCS, 10),
            "text": texts,
            "lang": _LANGS[rng.integers(0, len(_LANGS), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    vecs = rng.normal(0.0, 0.125, (N_VECS, EMB_DIMS)).astype(np.float32)
    vecs[1 : 2 * N_VEC_PAIRS : 2] = vecs[0 : 2 * N_VEC_PAIRS : 2]
    embeddings = pa.table(
        {
            "vec_id": _spread_keys(rng, N_VECS, 10),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": (np.arange(N_VECS) % 10).astype(np.int32),
        }
    )
    return {
        "lineitem": lineitem,
        "orders": orders,
        "documents": documents,
        "embeddings": embeddings,
    }


def query_batches(seed: int, tables: dict[str, pa.Table]) -> list[list[tuple]]:
    """Probe batches of (q_id, vector): corpus vectors plus small noise,
    a fixed corpus position per query."""
    rng = np.random.default_rng(seed + 7919)
    emb = tables["embeddings"]
    vecs = np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
    n = N_QUERY_BATCHES * QUERIES_PER_BATCH
    src = query_source(np.arange(n))
    q = vecs[src] + rng.normal(0.0, 0.01, (n, EMB_DIMS))
    rows = [(int(i), [float(x) for x in q[i]]) for i in range(n)]
    return [
        rows[b * QUERIES_PER_BATCH : (b + 1) * QUERIES_PER_BATCH]
        for b in range(N_QUERY_BATCHES)
    ]


def query_source(q):
    """Corpus position of the vector query ``q`` was drawn near."""
    return (q * 17 + 3) % N_VECS


def planted_doc_pairs(tables: dict[str, pa.Table]) -> list[tuple[int, int]]:
    ids = tables["documents"].column("doc_id").to_pylist()
    return [(ids[2 * k], ids[2 * k + 1]) for k in range(N_DOC_PAIRS)]


def planted_vec_pairs(tables: dict[str, pa.Table]) -> list[tuple[int, int]]:
    ids = tables["embeddings"].column("vec_id").to_pylist()
    return [(ids[2 * k], ids[2 * k + 1]) for k in range(N_VEC_PAIRS)]


def write_day(seed: int, sf_dir: str) -> dict[str, pa.Table]:
    tables = day_tables(seed)
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return tables


# ---------------------------------------------------------------------------
# table_dml: statement schedule over one partitioned table
# ---------------------------------------------------------------------------

N_PARTS = 8
HOT = 0  # the hot partition every round touches
SEED_ROWS_PER_PART = 1000
N_SLOTS = 40  # slot = creation index % N_SLOTS; predicates select by slot
UPSERT_UPDATES = 100
UPSERT_INSERTS = 100
MERGE_MATCHED = 100  # half pass the `s.ver > e.ver` condition
MERGE_INSERTS = 100
TXN_INSERTS = 50

COLUMNS = ("id", "part", "slot", "qty", "cents", "tag", "ver")
SCHEMA_DDL = (
    "id BIGINT, part INT, slot INT, qty BIGINT, cents BIGINT, "
    "tag STRING, ver BIGINT"
)


@dataclass
class Statement:
    kind: str  # upsert | merge | update | delete | txn
    rows: list[tuple] | None = None  # incoming rows (upsert, merge, txn)
    part: int | None = None  # predicate partition (update, delete)
    slot: int | None = None
    txn_update: tuple[int, int] | None = None  # (part, slot)


class DmlPlan:
    """Generates each round's statements against a row model.

    The model is a dict id -> row tuple plus each row's creation index;
    which rows a statement picks depends only on creation indexes and
    the round number, so every seed matches the same number of rows.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.next_index = 0
        self.index_of: dict[int, int] = {}  # id -> creation index
        self.by_part: dict[int, list[int]] = {p: [] for p in range(N_PARTS)}

    def _new_rows(self, part: int, n: int, ver: int = 0) -> list[tuple]:
        out = []
        for _ in range(n):
            i = self.next_index
            self.next_index += 1
            key = i * 1000 + int(self.rng.integers(0, 1000))
            self.index_of[key] = i
            self.by_part[part].append(key)
            out.append(self._row(key, part, i % N_SLOTS, ver))
        return out

    def _row(self, key: int, part: int, slot: int, ver: int) -> tuple:
        return (
            key, part, slot,
            int(self.rng.integers(1, 1000)),
            int(self.rng.integers(100, 10**7)),
            f"t{int(self.rng.integers(0, 10**6)):06d}",
            ver,
        )

    def seed_rows(self) -> list[tuple]:
        rows = []
        for p in range(N_PARTS):
            rows += self._new_rows(p, SEED_ROWS_PER_PART)
        return rows

    def _pick(self, model: dict, part: int, n: int, offset: int) -> list[int]:
        """n live keys of ``part`` chosen by creation order."""
        live = [k for k in self.by_part[part] if k in model]
        live.sort(key=self.index_of.__getitem__)
        start = (offset * 37) % max(1, len(live) - n)
        return live[start : start + n]

    def round(self, r: int, model: dict) -> list[Statement]:
        """Statements of round ``r``; ``model`` is the live table before
        the round (id -> row tuple). Picks never overlap within a round's
        first two statements, so each statement's count is exact."""
        cold = 1 + r % (N_PARTS - 1)
        cold2 = 1 + (r + 3) % (N_PARTS - 1)
        upd_keys = self._pick(model, HOT, UPSERT_UPDATES, r)
        upsert = [
            self._row(k, HOT, model[k][2], model[k][6] + 1) for k in upd_keys
        ] + self._new_rows(HOT, UPSERT_INSERTS)
        m_keys = self._pick(model, cold, MERGE_MATCHED, r + 11)
        merge = [
            # even positions carry a newer version (updated), odd an
            # older one (kept): exactly half the matches update
            self._row(k, cold, model[k][2], model[k][6] + (1 if j % 2 == 0 else -1))
            for j, k in enumerate(m_keys)
        ] + self._new_rows(cold, MERGE_INSERTS, ver=1)
        return [
            Statement("upsert", rows=upsert),
            Statement("merge", rows=merge),
            Statement("update", part=cold2, slot=r % N_SLOTS),
            Statement("delete", part=HOT, slot=(r * 7 + 1) % N_SLOTS),
            Statement(
                "txn",
                rows=self._new_rows(cold2, TXN_INSERTS),
                txn_update=(cold, (r * 3 + 2) % N_SLOTS),
            ),
        ]


def apply(model: dict, st: Statement) -> dict[str, int]:
    """Replay one statement on the plain model; returns the row counts
    it should affect (inserted / updated / deleted)."""
    ins = upd = dele = 0
    if st.kind == "upsert":
        for row in st.rows:
            if row[0] in model:
                upd += 1
            else:
                ins += 1
            model[row[0]] = row
    elif st.kind == "merge":
        for row in st.rows:
            old = model.get(row[0])
            if old is None:
                ins += 1
                model[row[0]] = row
            elif row[6] > old[6]:
                upd += 1
                model[row[0]] = row
    elif st.kind == "update":
        for k, row in list(model.items()):
            if row[1] == st.part and row[2] == st.slot:
                model[k] = row[:3] + (row[3] + 1,) + row[4:6] + (row[6] + 1,)
                upd += 1
    elif st.kind == "delete":
        for k in [k for k, r in model.items() if r[1] == st.part and r[2] == st.slot]:
            del model[k]
            dele += 1
    elif st.kind == "txn":
        for row in st.rows:
            model[row[0]] = row
            ins += 1
        p, s = st.txn_update
        for k, row in list(model.items()):
            if row[1] == p and row[2] == s:
                model[k] = row[:4] + (row[4] + 1,) + row[5:]
                upd += 1
    else:
        raise ValueError(st.kind)
    return {"inserted": ins, "updated": upd, "deleted": dele}
