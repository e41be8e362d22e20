from __future__ import annotations

import sys
import uuid
import warnings
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ecommerce_data_pipeline_23a91a05i4_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest")
    yield s


@pytest.fixture
def jobs(spark):
    """``with jobs(group) as ids:`` collects the ids of the Spark jobs
    launched inside the block (``group`` names the block; a unique
    suffix keeps repeated names apart)."""
    sc = spark.sparkContext

    @contextmanager
    def collect(group: str):
        tag = f"{group}-{uuid.uuid4().hex}"
        ids: list[int] = []
        sc.setJobGroup(tag, group)
        try:
            yield ids
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(tag))
            sc.setJobGroup("", "")

    return collect


@pytest.fixture(scope="session")
def pipeline_base(spark, tmp_path_factory):
    """One small end-to-end pipeline run shared by the pipeline tests."""
    from ecommerce_data_pipeline_23a91a05i4_spark.pipeline import run_pipeline

    base = tmp_path_factory.mktemp("lakehouse")
    report = run_pipeline(
        spark, base, n_customers=60, n_products=40, n_transactions=300
    )
    return base, report


def pytest_collection_modifyitems(config, items):
    """Tag the measured slow tail (tests/slowtail.txt — nodeids whose
    call time exceeded 10 s in a full-suite run, 1890 s of the 2602 s
    total) with the ``slowtail`` marker.  pytest.ini deselects the
    marker by default so the driver-side run completes within its
    budget (VERDICT r12 next #7); sessions run the FULL suite with
    ``-m ""`` (and regenerate the list from ``--durations`` output when
    the shape shifts).  Data-driven on purpose: no per-test churn.  An
    entry that stops matching stops tagging, and is reported as a
    warning when its file was collected, so the list cannot go stale
    unseen."""
    listing = Path(__file__).with_name("slowtail.txt")
    if not listing.exists():
        return
    slow = {
        line.strip()
        for line in listing.read_text().splitlines()
        if line.strip()
    }
    for item in items:
        if item.nodeid in slow:
            item.add_marker(pytest.mark.slowtail)
    collected = {item.nodeid for item in items}
    files = {nodeid.split("::", 1)[0] for nodeid in collected}
    stale = sorted(
        n for n in slow - collected if n.split("::", 1)[0] in files
    )
    if stale:
        warnings.warn(
            pytest.PytestWarning(
                "tests/slowtail.txt entries that match no collected "
                "test: " + ", ".join(stale)
            )
        )
