import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from beehive_data_etl_spark.session import get_spark  # noqa: E402
from beehive_data_etl_spark.sources.eventlog import generate_event_log  # noqa: E402

FIXTURE_ROOT = "/tmp/beehive_fixtures"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="beehive-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def smoke_log():
    """FIXTURES.md F2, smoke tier (cached across runs; generator is
    idempotent on its _meta.json)."""
    return generate_event_log(
        os.path.join(FIXTURE_ROOT, "f2_smoke"), n_docs=300, n_events=3000, n_files=8
    )


@pytest.fixture(scope="session")
def evolution_log():
    """FIXTURES.md F3: lang added + n_tok widened after op_sequence 1500."""
    return generate_event_log(
        os.path.join(FIXTURE_ROOT, "f3_evolution"),
        n_docs=300,
        n_events=3000,
        n_files=8,
        evolution_split=1500,
    )


@pytest.fixture(scope="session")
def skew_log():
    """Heavily skewed doc_ids (Zipf s=1.6) for the salting path (A8)."""
    return generate_event_log(
        os.path.join(FIXTURE_ROOT, "f2_skew"),
        n_docs=200,
        n_events=6000,
        n_files=6,
        zipf_s=1.6,
    )


@pytest.fixture(scope="session")
def patch_log():
    """Patch-envelope WAL (I/U/D + masked 'P' partial updates) for the
    per-cell replay path; cached like the other fixture logs."""
    from beehive_data_etl_spark.sources.eventlog import generate_patch_log

    return generate_patch_log(
        os.path.join(FIXTURE_ROOT, "f8_patch"), n_docs=300, n_events=3000, n_files=8
    )
