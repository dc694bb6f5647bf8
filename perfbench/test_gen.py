"""The generator gives every seed the same work.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os

import pyarrow.compute as pc
import pytest

from perfbench import gen

SEEDS = (1, 2, 3, 104)
ROUNDS = 6


def _day_counts(seed: int) -> dict:
    t = gen.day_tables(seed)
    li = t["lineitem"]
    cells = {
        (s, d)
        for s, d in zip(
            li.column("l_suppkey").to_pylist(), li.column("l_shipdate").to_pylist()
        )
    }
    covered = {
        (s, d)
        for s, d, o in zip(
            li.column("l_suppkey").to_pylist(),
            li.column("l_shipdate").to_pylist(),
            li.column("l_orderkey").to_pylist(),
        )
        if o % 5 < 4
    }
    texts = t["documents"].column("text").to_pylist()
    vecs = [tuple(v) for v in t["embeddings"].column("embedding").to_pylist()]
    return {
        "rows": {name: tab.num_rows for name, tab in t.items()},
        "cells": len(cells),
        "covered_cells": len(covered),
        "tickers_by_parity": sorted(
            s % 2 for s in set(li.column("l_suppkey").to_pylist())
        ),
        "doc_copies": len(texts) - len(set(texts)),
        "vec_copies": len(vecs) - len(set(vecs)),
        "planted": (len(gen.planted_doc_pairs(t)), len(gen.planted_vec_pairs(t))),
        "query_batches": [len(b) for b in gen.query_batches(seed, t)],
    }


def _dml_counts(seed: int) -> list:
    plan = gen.DmlPlan(seed)
    model = {r[0]: r for r in plan.seed_rows()}
    out = [len(model)]
    for r in range(ROUNDS):
        for st in plan.round(r, model):
            touched = {row[1] for row in st.rows or []}
            for p in (st.part, (st.txn_update or (None,))[0]):
                if p is not None:
                    touched.add(p)
            out.append((st.kind, sorted(touched), gen.apply(model, st)))
    return out


@pytest.mark.parametrize("seed", SEEDS[1:])
def test_day_counts_do_not_depend_on_seed(seed):
    assert _day_counts(seed) == _day_counts(SEEDS[0])


@pytest.mark.parametrize("seed", SEEDS[1:])
def test_statement_counts_do_not_depend_on_seed(seed):
    assert _dml_counts(seed) == _dml_counts(SEEDS[0])


def test_every_statement_does_work():
    for kind, _, counts in _dml_counts(SEEDS[0])[1:]:
        assert sum(counts.values()) > 0, kind


def test_seed_varies_keys_and_values():
    a, b = gen.day_tables(1), gen.day_tables(2)
    for name in a:
        assert not a[name].equals(b[name]), name
    pa_, pb = gen.DmlPlan(1), gen.DmlPlan(2)
    assert pa_.seed_rows() != pb.seed_rows()


def test_one_seed_gives_byte_identical_inputs(tmp_path):
    d1, d2 = tmp_path / "a", tmp_path / "b"
    t1 = gen.write_day(7, str(d1))
    gen.write_day(7, str(d2))
    names = sorted(os.listdir(d1))
    assert names == [f"{n}.parquet" for n in sorted(t1)]
    _, mismatch, errors = filecmp.cmpfiles(d1, d2, names, shallow=False)
    assert not mismatch and not errors
    assert gen.query_batches(7, t1) == gen.query_batches(7, gen.day_tables(7))
    p1, p2 = gen.DmlPlan(7), gen.DmlPlan(7)
    m1 = {r[0]: r for r in p1.seed_rows()}
    m2 = {r[0]: r for r in p2.seed_rows()}
    assert m1 == m2
    for r in range(ROUNDS):
        s1, s2 = p1.round(r, m1), p2.round(r, m2)
        assert s1 == s2
        for a, b in zip(s1, s2):
            gen.apply(m1, a)
            gen.apply(m2, b)


def test_keys_stay_distinct():
    t = gen.day_tables(5)
    for name, col in (("orders", "o_orderkey"), ("documents", "doc_id"),
                      ("embeddings", "vec_id")):
        c = t[name].column(col)
        assert pc.count_distinct(c).as_py() == len(c), name
