"""tools/scale_probe.py: the N-copy corpus keeps each copy's structure.

Builds a 2-copy corpus from the smoke scale and checks the properties
the probe's slots rely on: copied tables double and shared ones do not,
the id columns stay unique, the doc_id % 10 eval share and the
per-copy quality-gate count hold, and the two slots with the strictest
corpus assumptions still return rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import orderly_spark.queries  # noqa: F401
from orderly_spark.registry import REGISTRY
from orderly_spark.tables import load
from tools import scale_probe as P


@pytest.fixture(scope="module")
def derived(spark, sf_smoke, tmp_path_factory):
    if not os.path.isdir(sf_smoke):
        pytest.skip(f"{sf_smoke} absent")
    dst = str(tmp_path_factory.mktemp("x2"))
    P.gen(spark, sf_smoke, dst, copies=2)
    return sf_smoke, dst


def test_copied_tables_double_and_shared_tables_do_not(spark, derived):
    src, dst = derived
    for t in P.COPIED:
        assert load(spark, dst, t).count() == 2 * load(spark, src, t).count(), t
    for t in P.SHARED:
        assert load(spark, dst, t).count() == load(spark, src, t).count(), t


@pytest.mark.parametrize(
    "table,col",
    [("lineitem", "l_orderkey"), ("documents", "doc_id"), ("embeddings", "vec_id"), ("events", "event_id")],
)
def test_copy_ids_are_disjoint(spark, derived, table, col):
    src, dst = derived

    def distinct(d):
        return load(spark, d, table).select(col).distinct().count()

    assert distinct(dst) == 2 * distinct(src)


def test_eval_share_and_quality_gate_hold_per_copy(spark, derived):
    src, dst = derived

    def n_eval(d):
        return load(spark, d, "documents").filter(F.col("doc_id") % 10 == 9).count()

    assert n_eval(dst) == 2 * n_eval(src)
    (n_src,) = P.gate_passes_per_copy(spark, src)
    assert n_src > 0
    assert P.gate_passes_per_copy(spark, dst) == [n_src, n_src]


@pytest.mark.parametrize("slot", ["t_training_prep_pipeline", "c_clean_pipeline_fullscale"])
def test_slots_return_rows_on_derived_corpus(spark, derived, slot):
    _, dst = derived
    assert REGISTRY[slot].fn(spark, dst).count() > 0
