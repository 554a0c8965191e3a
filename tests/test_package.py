"""Deploy-packaging tests (north rule: ship via spark-submit --py-files).

Covers the artifact itself without starting a JVM: the zip must be
self-sufficient (importable via zipimport with the repo stripped from the
path), contain every engine module, and exclude bytecode caches. The full
spark-submit smoke (`python tools/package.py --check`) exercises the same
artifact end-to-end and stays a manual/CI step because it boots a second
Spark distribution.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from package import build_zip  # noqa: E402


def test_zip_contains_engine_modules():
    out = build_zip()
    with zipfile.ZipFile(out) as z:
        names = set(z.namelist())
    # every .py under the package tree must ship
    expected = set()
    pkg = os.path.join(REPO, "datachecker_spark")
    for root, _dirs, files in os.walk(pkg):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                expected.add(
                    os.path.relpath(os.path.join(root, f), REPO).replace(
                        os.sep, "/"
                    )
                )
    assert expected, "package tree unexpectedly empty"
    assert expected <= names, f"missing from zip: {sorted(expected - names)}"
    assert not any("__pycache__" in n or n.endswith(".pyc") for n in names)


def test_zip_imports_standalone():
    """zipimport of the engine with the repo dir NOT on sys.path — exactly
    how an executor sees --py-files. Module-level imports (pyspark, numpy,
    pandas) resolve from site-packages; nothing may import from the repo
    checkout."""
    out = build_zip()
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import datachecker_spark.runner, datachecker_spark.constraints.fused, "
        "datachecker_spark.entry_queries_suite, datachecker_spark.streaming; "
        "from datachecker_spark.runner import SuiteConfig; "
        "print('ZIP_IMPORT_OK', SuiteConfig().drift)" % out
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        cwd="/tmp",  # away from the repo so '' on sys.path cannot mask the zip
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert "ZIP_IMPORT_OK True" in r.stdout, r.stdout + r.stderr[-2000:]
