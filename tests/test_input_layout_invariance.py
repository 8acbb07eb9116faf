"""In-suite twin of the input-layout (--reshard) audit.

`scripts/layout_invariance_audit.py --reshard` proves the full catalog
invariant to the PHYSICAL input layout (multi-file directories, different
row order — the shape every real ingest writes, which the driver's
single-file testdata never exercises). This subset pins the
representative input-order-sensitive shapes in the default suite so a
regression trips in pytest instead of a manual audit run: survivor picks
(first/min-struct), sequence/window accumulations, packing cumsums,
candidate-set algorithms, and the streaming directory-source path that
the audit's first run caught returning EMPTY results.

Seeded-sampling queries are excluded by contract (per-partition seeds —
input layout is part of their determinism promise), as are
`approx_quantiles` (sketch merge order) and `scan_file_lineage` (the
physical file set IS the output); see the audit's _EXPECTED.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nyc_taxi_pyspark_spark.catalog import QUERIES  # noqa: E402
from nyc_taxi_pyspark_spark.catalog._cache import STATE  # noqa: E402
from scripts.layout_invariance_audit import _build_resharded, canon_hash  # noqa: E402

SF = "/root/testdata/sf0.001"

SUBSET = [
    "dedup_keep_first",  # min-struct survivor pick
    "dedup_distinct",  # row-set semantics under reordered input
    "text_chunk_dedup",  # min-(doc,pos) survivor over skewed chunk keys
    "events_sessionize",  # lag/cumsum windows fed by reordered scans
    "events_pattern_match",  # in-group struct sort fold
    "corpus_pack_bins",  # sharded packing cumsum
    "text_heavy_hitters",  # MG candidate sets vary with layout; exact
    # verify phase must erase that
    "text_near_dup_pairs",  # LSH band join + pair dedup
    "orders_incremental_kpis",  # split->merge partial states
    "window_topn_per_group",  # rank over partitioned window
    "histogram_equidepth",  # sketch-based cutpoints (deterministic merge)
    "stream_stateful_totals",  # directory-shaped streaming source
]


@pytest.fixture(scope="module")
def reshard_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("reshard"))
    _build_resharded(spark, SF, d)
    yield d
    STATE.invalidate()  # stops the streams this module started


@pytest.mark.parametrize("name", SUBSET)
def test_result_invariant_to_input_layout(spark, reshard_dir, name):
    fn = QUERIES[name]
    assert canon_hash(fn(spark, SF).toPandas()) == canon_hash(
        fn(spark, reshard_dir).toPandas()
    )
