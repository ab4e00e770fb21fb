"""Every eager driver fetch states its size bound.

A ``collect``/``first``/``take``/``head``/``count()``/``toPandas``/
``approxQuantile`` call brings data or a job result to the driver; the
driver must hold all of it, so each site carries a ``# bound: ...``
comment on its line or the line above.  ``MODULES`` lists the modules
held to the rule so far; it widens until it covers the package."""

from __future__ import annotations

import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "kusuma_metamorph_etl_spark"

MODULES = (
    "operators/dedup.py",
    "operators/graph.py",
    "operators/partitioning.py",
    "operators/sampling.py",
    "operators/similarity.py",
    "operators/windows.py",
    "plans/quality.py",
    "sources/sinks.py",
    "streaming/sink.py",
    "streaming/stateful.py",
)

FETCH = re.compile(
    r"\.(collect|first|count|toPandas)\(\)|\.(take|head|approxQuantile)\("
)


def test_every_eager_fetch_states_its_bound():
    offenders = []
    for module in MODULES:
        lines = (PACKAGE / module).read_text().splitlines()
        for i, line in enumerate(lines):
            code = line.split("#", 1)[0]
            if not FETCH.search(code):
                continue
            above = lines[i - 1].strip() if i else ""
            if "# bound:" not in line and not above.startswith("# bound:"):
                offenders.append(f"{module}:{i + 1}: {line.strip()}")
    assert not offenders, "\n".join(offenders)
