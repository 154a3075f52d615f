"""The 84 self-describing golden fixtures of the reference, run end-to-end
through the Spark engine (ref: test/integration_tests.js)."""

import glob
import os

import pytest

from shacl_js_spark.conformance import compare_reports, run_fixture

# the shacl-js source checkout, kept next to this repository
REF = os.path.normpath(
    os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, os.pardir, "reference")
)
CORE = sorted(glob.glob(os.path.join(REF, "test/data/core/**/*.ttl"), recursive=True))
if not CORE:
    pytest.skip(
        f"no shacl-js golden fixtures under {REF}/test/data/core (the shacl-js "
        "checkout is not next to this repository)",
        allow_module_level=True,
    )


@pytest.mark.parametrize("path", CORE, ids=lambda p: "/".join(p.split("/")[-2:]))
def test_core_fixture(spark, path):
    report, expected = run_fixture(spark, open(path).read())
    errors = compare_reports(report, expected)
    assert not errors, "\n".join(errors)
