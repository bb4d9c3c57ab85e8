"""On-disk compatibility: tables written by an earlier version of the
versioned layout read, export, diff and emit external SQL with the
results that version gave.

``tests/fixtures/versioned_compat/`` holds one tiny single table and
one tiny database whose history covers every manifest feature (bucket
stats, a Bloom column, a CHECK constraint, ADD / RENAME / DROP
COLUMN, a DV delete, a DV update, a stream marker), and
``expected.json``, the results the writing version gave. ``make.py``
next to them regenerates both (its docstring says how); the
observation code is shared, so the test recomputes exactly what the
fixture recorded.
"""

import importlib.util
import json
import os
import shutil

import pytest

from amaxa_spark.sources import catalog as C

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "versioned_compat")


def _make_module():
    spec = importlib.util.spec_from_file_location(
        "versioned_compat_make", os.path.join(FIXTURE, "make.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("layout", ["table", "db"])
def test_reads_tables_written_by_the_earlier_version(spark, tmp_path, layout):
    with open(os.path.join(FIXTURE, "expected.json")) as f:
        want = json.load(f)[layout]
    # a copy: the committed fixture must stay byte-identical
    root = str(tmp_path / layout)
    shutil.copytree(os.path.join(FIXTURE, layout), root)
    got = _make_module().observe(
        spark, C, root, layout == "db", want["tokens"], str(tmp_path / "scratch")
    )
    got = json.loads(json.dumps(got, sort_keys=True, default=str))
    for key in sorted(want):
        assert got[key] == want[key], key
