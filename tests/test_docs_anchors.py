"""Doc-anchor freshness gate (VERDICT r7 next-round #6).

Every ``file.py`` / ``file.py:N`` / ``file.py::symbol`` mention in the
maintained docs must still resolve against the working tree — stale
anchors cost the next zero-memory session real time chasing moved code.
The README's "Knobs" list must name exactly the ``SPARK_GRAFT_*``
variables the package mentions. No Spark needed; this is pure
filesystem.
"""

import collections
import pathlib
import re
import sys

REPO = pathlib.Path(__file__).parent.parent
sys.path.insert(0, str(REPO / "scripts"))
_KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def test_doc_anchors_resolve():
    from check_anchors import check_all

    problems = check_all()
    assert not problems, "\n".join(problems)


def test_readme_knob_inventory_matches_package():
    """One README line per knob: the set of ``SPARK_GRAFT_*`` names in the
    package source equals the set in README's "Knobs" section, and each
    name appears there exactly once."""
    in_package = {
        name
        for f in (REPO / "dask_hivemetastore_spark").rglob("*.py")
        for name in _KNOB.findall(f.read_text())
    }
    readme = (REPO / "README.md").read_text()
    section = readme.split("\n## Knobs\n", 1)[1].split("\n## ", 1)[0]
    counts = collections.Counter(_KNOB.findall(section))
    assert set(counts) == in_package
    assert all(n == 1 for n in counts.values()), counts
