"""``scripts/scale_probe.py`` keeps exactly the modes the docs cite as
evidence: every ``scale_probe.py <mode>`` in README.md, RUNBOOK.md or
the package names a mode in its ``MODES`` table, and every mode there
is cited somewhere. No Spark session is started."""

from __future__ import annotations

import re
from pathlib import Path

from scale_probe import MODES

ROOT = Path(__file__).resolve().parents[1]
CITATION = re.compile(r"scale_probe\.py\s+(\w+)")


def _citations() -> dict[str, set[str]]:
    files = [ROOT / "README.md", ROOT / "RUNBOOK.md"]
    files += sorted((ROOT / "big_data_song_recommendation_spark").rglob("*.py"))
    cited: dict[str, set[str]] = {}
    for path in files:
        for mode in CITATION.findall(path.read_text()):
            cited.setdefault(mode, set()).add(str(path.relative_to(ROOT)))
    return cited


def test_every_cited_probe_mode_exists():
    missing = {m: sorted(f) for m, f in _citations().items() if m not in MODES}
    assert not missing, f"cited scale_probe.py modes not in MODES: {missing}"


def test_every_probe_mode_is_cited():
    uncited = sorted(set(MODES) - set(_citations()))
    assert not uncited, f"scale_probe.py modes no doc cites: {uncited}"
