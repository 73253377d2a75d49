from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_ext_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


def fuzz_seeds(*committed: int) -> list[int]:
    """Seed list for a randomized cross-engine sweep: the committed
    deterministic reproductions plus any session-only FRESH seeds from
    $SPARK_GRAFT_EXTRA_SEEDS (comma-separated ints). The per-round
    discipline — re-run every randomized family at fresh seeds in a
    throwaway session before driver contact — becomes

        SPARK_GRAFT_EXTRA_SEEDS=107,211,313 pytest tests/ -k <families>

    instead of hand-editing nine parametrize lists. A fresh-seed
    failure still gets minimized and its seed committed here."""
    extra = os.environ.get("SPARK_GRAFT_EXTRA_SEEDS", "")
    seeds = list(committed)
    for tok in extra.split(","):
        if not tok.strip():
            continue
        try:
            seeds.append(int(tok))
        except ValueError:
            pytest.exit(
                "SPARK_GRAFT_EXTRA_SEEDS must be comma-separated "
                f"integers; got {tok.strip()!r} in {extra!r}",
                returncode=4)
    return seeds


@pytest.fixture(scope="session")
def spark():
    s = get_spark("spark_ext_spark-tests", master="local[4]",
                  extra_conf={"spark.sql.shuffle.partitions": "4",
                              "spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` under a fresh job group and
    returns how many Spark jobs it launched — the latency floor of a
    small query, which job-floor guard tests pin."""
    sc = spark.sparkContext

    def run(fn) -> int:
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL
