"""Every benchmark artifact the reference documents cite exists on disk:
a reader following a citation must not land on a missing file.

The reference documents are the ones that cite ``BENCH/*.json`` records
as evidence for a measured claim. Review, planning and change records
are not scanned: they quote a stale path when they report it."""

from __future__ import annotations

import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE_DOCS = ["README.md", "SURVEY.md", "BASELINE.md", "FIXTURES.md",
                  "TESTDATA.md", "BENCH/BASELINE.md"]
#: ``BENCH/<name>.json``, not a prefix of ``.jsonl``
_CITATION = re.compile(r"BENCH/[\w./-]+?\.json(?![\w])")


def _citations(doc: str) -> list[tuple[int, str]]:
    with open(os.path.join(ROOT, doc), encoding="utf-8") as f:
        return [(n, m.group(0)) for n, line in enumerate(f, 1)
                for m in _CITATION.finditer(line)]


@pytest.mark.parametrize("doc", REFERENCE_DOCS)
def test_cited_bench_artifacts_exist(doc):
    missing = [f"{doc}:{n} {path}" for n, path in _citations(doc)
               if not os.path.exists(os.path.join(ROOT, path))]
    assert not missing, missing


def test_citation_pattern():
    line = "see BENCH/a_b.json and BENCH/c.jsonl, (BENCH/d-1.json)."
    assert [m.group(0) for m in _CITATION.finditer(line)] == \
        ["BENCH/a_b.json", "BENCH/d-1.json"]
    # the scan reaches real citations
    assert any(_citations(d) for d in REFERENCE_DOCS)
