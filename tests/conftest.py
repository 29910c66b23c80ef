from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_segments_tutorial_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")

# --- fast/slow tier (r17 VERDICT item 2) -------------------------------------
# The full suite (~1.5 h) no longer fits the driver's verify window, so
# `pytest tests/` (the driver's command) runs the FAST tier by default:
# the full 184-query DuckDB-oracle parity gate, the plan-hygiene pins,
# the reference-parity segmentation goldens, and the local==distributed
# trainer pins (~25 min). Everything else — multi-wave lifecycle
# replays, property-based sweeps, operator fixture batteries — carries
# the `slow` marker and runs with `pytest tests/ -m slow` (CI's deep
# tier; the per-change focused runs during a round cover the touched
# subsets). Marking is file-based with named exceptions so a new test
# in a slow file defaults to slow instead of silently bloating the
# driver tier.
SLOW_FILES = {
    "test_bpe.py",
    "test_corpus_stats_twins.py",
    "test_curation.py",
    "test_dsir.py",
    "test_incremental.py",
    "test_operators.py",
    "test_pretokenize.py",
    "test_properties.py",
    "test_quality_nb.py",
    "test_skew.py",
    "test_streaming.py",
    "test_tokenizer_scale.py",
    "test_unigram.py",
}
# kept in the FAST tier even though their file is slow: the r17-verdict
# bit-identity pins for the scale-adaptive local trainer gates
FAST_EXCEPTIONS = {
    "test_local_trainer_equals_distributed",
    # driver-side literal guard: no Spark job, milliseconds
    "test_adc_literal_rejects_non_finite_entries",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.fspath.basename in SLOW_FILES and not any(
            name in item.name for name in FAST_EXCEPTIONS
        ):
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": "/tmp/spark-warehouse-tests"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
