"""COVERAGE.md / SURVEY.md name consistency with the registry.

The coverage docs are the judge's line-by-line map; a renamed or
deleted operator whose doc row lingers would claim capability that
no longer exists. Every backticked q_/p_/la_ name in the docs must
be a registered query, and every registered query must appear in
COVERAGE.md at least once."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _registry() -> set[str]:
    import sys

    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as e

    return set(e.queries())


def _doc_names(text: str) -> set[str]:
    # backticked registry-style names; strip non-name punctuation
    found = set()
    for m in re.findall(r"`((?:q|p|la)_[a-z0-9_]+)`", text):
        found.add(m)
    return found


# doc names that are deliberately not registry queries: bench-only
# timing keys referenced for context
_NON_REGISTRY_OK = {"la_inverse_2048", "la_generate_2048"}


def test_coverage_names_exist_in_registry():
    reg = _registry()
    cov = _doc_names((ROOT / "COVERAGE.md").read_text())
    unknown = sorted(cov - reg - _NON_REGISTRY_OK)
    assert not unknown, f"COVERAGE.md cites unregistered names: {unknown}"


def test_every_registered_query_is_documented():
    reg = _registry()
    text = (ROOT / "COVERAGE.md").read_text()
    # documented = mentioned anywhere as a WHOLE name (tables cite
    # some names in prose without backticks, e.g. the TPC-H row) —
    # word boundaries so q_funnel is not satisfied by
    # q_funnel_time_to_convert
    missing = sorted(
        n for n in reg
        if not re.search(rf"\b{re.escape(n)}\b", text)
    )
    assert not missing, f"registered but undocumented in COVERAGE.md: {missing}"


def test_survey_names_exist_in_registry():
    reg = _registry()
    srv = _doc_names((ROOT / "SURVEY.md").read_text())
    unknown = sorted(srv - reg)
    assert not unknown, f"SURVEY.md cites unregistered names: {unknown}"


def test_documented_scripts_exist():
    # a deleted script must not stay documented as a way to run things
    docs = ("README.md", ".claude/skills/verify/SKILL.md")
    missing = sorted(
        f"{doc}: {path}"
        for doc in docs
        for path in set(re.findall(r"scripts/[\w./-]*\w",
                                   (ROOT / doc).read_text()))
        if not (ROOT / path).exists()
    )
    assert not missing, f"docs name scripts that do not exist: {missing}"
