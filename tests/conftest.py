from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this suite lives in, not whichever copy is on sys.path
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from gene_level_metadata_pipeline_spark.session import get_spark

    s = get_spark("tests")
    yield s
