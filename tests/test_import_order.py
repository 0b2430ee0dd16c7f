"""Importing any storm module first works: the registry and the report
import their constants from aos_spark.pipeline.jobs, so a cycle back into
either of them from jobs would break whichever module loads first."""

import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "first", ["aos_spark.pipeline.jobs", "aos_spark.queries", "aos_spark.report.assemble"]
)
def test_each_storm_module_imports_first(first):
    code = (
        f"import {first}\n"
        "import aos_spark.pipeline.jobs as j, aos_spark.queries as q, aos_spark.report.assemble as a\n"
        "assert j.FACILITY_KINDS is a.FACILITY_KINDS and q.ZONES is j.ZONES\n"
    )
    subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True)
