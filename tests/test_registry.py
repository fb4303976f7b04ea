"""Registry contract: the registered key set is the SURVEY.md §2 inventory."""

from __future__ import annotations

from recommendersystems_bigdata_spark import registry


def test_survey_inventory_matches_registry():
    """SURVEY.md §2 is the binding contract: the set of `q_*` keys named in
    the first column of its inventory rows must equal the registry key set
    exactly — a key registered without an inventory row (round 7's eight
    tail additions) or an inventory row whose operator was never
    registered both fail here."""
    import os
    import re

    registry.load_all()
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md"
    )
    with open(path, encoding="utf-8") as fh:
        text = fh.read()
    section2 = text.split("## §2")[1].split("## §3")[0]
    survey_keys: set[str] = set()
    for line in section2.splitlines():
        if line.startswith("|"):
            survey_keys.update(re.findall(r"`(q_\w+)`", line.split("|")[1]))
    assert survey_keys == set(registry.QUERIES), (
        f"SURVEY-only: {sorted(survey_keys - set(registry.QUERIES))}; "
        f"registry-only: {sorted(set(registry.QUERIES) - survey_keys)}"
    )
