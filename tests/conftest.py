from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from etl_hiscox_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture()
def persisted_rdd_ids(spark):
    """Function returning the ids of the RDDs a persist holds:
    ``caching.cached_rdd_ids`` minus the blocks of eager
    ``localCheckpoint`` cuts. A local checkpoint truncates lineage rather
    than caching it: unpersisting it would make any later read of the
    frame fail, so no release handle owns it, and the ContextCleaner
    reaps it once the plans that reference it are garbage-collected."""

    def ids() -> set:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        kept = set()
        for i in rdds.keySet().toArray():
            rdd = rdds.get(i)  # None when the cleaner reaped it meanwhile
            if rdd is not None and not rdd.rdd().isLocallyCheckpointed():
                kept.add(int(i))
        return kept

    return ids


@pytest.fixture()
def tmp_warehouse(tmp_path) -> str:
    return str(tmp_path / "warehouse")


# ---------------------------------------------------------------------------
# Reference-shaped fixtures (FIXTURES.md §1-3): raw CSVs with every
# violation / unnormalized-value class the cleaners and DQ engine must handle
# (tests/unit/test_ingestion.py:204-253, test_insurance_data_quality.py:372-385).
# ---------------------------------------------------------------------------

RAW_POLICIES_CSV = """policy_id,customer_id,policy_number,policy_type,premium_amount,deductible_amount,coverage_limit,start_date,end_date,policy_status,agent_id,created_at,updated_at
POL001,CUST001,HSX-AUTO-001,AUTO,1200.00,500.00,50000.00,2024-01-01,2024-12-31,ACTIVE,AGT001,2024-01-01 09:00:00,2024-01-01 09:00:00
  POL002  ,CUST002,HSX-HOME-002,home,"2,400.50",1000.00,120000.00,01/15/2024,2025-01-14,ACTIVE,AGT002,2024-01-15 10:00:00,2024-01-16 11:00:00
pol003,CUST003,HSX-LIFE-003,LIFE,3000.00,0.00,200000.00,2024/02/01,2026-01-31,ACTIVE,AGT001,2024-02-01 08:30:00,2024-02-01 08:30:00
POL004,CUST004,HSX-AUTO-004,AUTO,900.00,250.00,45000.00,2024-03-01,2024-09-27,PENDING,AGT003,2024-03-01 12:00:00,2024-03-01 12:00:00
POL005,CUST005,HSX-HEALTH-005,UNKNOWN,-500.00,100.00,30000.00,2024-04-01,invalid-date,ACTIVE,AGT002,2024-04-01 12:00:00,2024-04-01 12:00:00
POL001,CUST001,HSX-AUTO-001,AUTO,1250.00,500.00,50000.00,2024-01-01,2024-12-31,ACTIVE,AGT001,2024-01-01 09:00:00,2024-02-01 09:00:00
,CUST007,HSX-BIZ-007,BUSINESS,5000.00,2000.00,500000.00,2024-05-01,2025-04-30,ACTIVE,AGT004,2024-05-01 12:00:00,2024-05-01 12:00:00
"""

RAW_CLAIMS_CSV = """claim_id,policy_id,customer_id,claim_amount,claim_date,claim_type,claim_status,description,adjuster_id,settlement_amount,settlement_date,created_at,updated_at
CLM001,POL001,CUST001,15000.00,2024-01-15,AUTO,CLOSED,Rear-end collision,ADJ001,14000.00,2024-02-15,2024-01-15 09:30:00,2024-02-15 09:30:00
CLM002,POL002,CUST002,8000.00,2024-02-20,HOME,OPEN,Water damage,ADJ002,,,2024-02-20 10:00:00,2024-02-20 10:00:00
clm003,pol003,CUST003,"25,000.00",03/10/2024,LIFE,PENDING,Policy claim,ADJ001,,,2024-03-10 08:00:00,2024-03-10 08:00:00
CLM004,POL001,CUST001,2000.00,2024-04-05,AUTO,REJECTED,Minor scratch,ADJ003,0.00,2024-04-20,2024-04-05 12:00:00,2024-04-20 12:00:00
CLM001,POL001,CUST001,15000.00,2024-01-15,AUTO,CLOSED,Rear-end collision dup,ADJ001,14500.00,2024-02-16,2024-01-15 09:30:00,2024-02-16 09:30:00
"""


@pytest.fixture(scope="session")
def raw_csv_dir(tmp_path_factory) -> dict[str, str]:
    d = tmp_path_factory.mktemp("raw")
    claims = d / "claims.csv"
    policies = d / "policies.csv"
    claims.write_text(RAW_CLAIMS_CSV)
    policies.write_text(RAW_POLICIES_CSV)
    return {"claims": str(claims), "policies": str(policies)}
