import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF001 = os.path.join(TESTDATA, "sf0.001")
SF01 = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    from words_in_context_spark.session import get_spark

    s = get_spark(cores=8, app_name="wics-tests", shuffle_partitions=8)
    yield s


def pytest_terminal_summary(terminalreporter):
    """Name every reference-fidelity gate this run skipped because the
    reference checkout (its source or its corpus) is absent, one line each,
    so a green run cannot hide them. Reporting only: nothing is skipped,
    unskipped or loosened here."""
    from tests.refshim import REF_PATH

    ref_dir = os.path.dirname(REF_PATH)
    gates = []
    for rep in terminalreporter.stats.get("skipped", []):
        reason = rep.longrepr[2] if isinstance(rep.longrepr, tuple) else ""
        if "reference" in reason:
            gates.append((rep.nodeid, reason.removeprefix("Skipped: ")))
    if not gates:
        return
    terminalreporter.section(
        f"reference-fidelity gates skipped ({ref_dir} incomplete)"
    )
    for nodeid, reason in gates:
        terminalreporter.write_line(f"SKIPPED GATE {nodeid}: {reason}")
