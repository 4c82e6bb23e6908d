"""Tests of the benchmark's own generator and checks (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402

TINY = {"crawl_clean": 600, "crawl_dirty": 300, "json_deep": 400}


@pytest.fixture(scope="module", params=gen.WORKLOADS)
def tiny(request):
    return gen.generate(request.param, 5, TINY[request.param])


def test_generator_is_deterministic_per_seed():
    for w in gen.WORKLOADS:
        a = gen.digest(gen.generate(w, 3, 200))
        assert a == gen.digest(gen.generate(w, 3, 200))
        assert a != gen.digest(gen.generate(w, 4, 200))


def _brute_force(inputs) -> tuple[Counter, int, int, int]:
    """Recount every planted fact row by row, without the flags."""
    validator = check.draft4_validator(inputs.schema)
    per_key = Counter()
    for row in inputs.pages.to_pylist():
        for kw, ip, _ in check.draft4_violations(validator, check.document(row)):
            per_key[kw, ip] += 1
    urls = Counter(inputs.pages.column("url").to_pylist())
    dups = sum(1 for c in urls.values() if c > 1)
    orphans = sum(1 for u in inputs.links.column("src_url").to_pylist() if u not in urls)
    residual = 0
    if inputs.workload == "json_deep":
        for raw in inputs.pages.column("doc").to_pylist():
            node, depth, mixed = (json.loads(raw) if raw else None), -1, False
            while node is not None:
                depth += 1
                mixed |= any(not isinstance(t, str) for t in node.get("tags", []))
                node = node.get("child")
            residual += depth > gen.UNROLL_DEPTH or mixed
    return per_key, dups, orphans, residual


def test_planted_expectations_equal_brute_force_recount(tiny):
    per_key, dups, orphans, residual = _brute_force(tiny)
    assert per_key == tiny.expected
    assert (dups, orphans, residual) == (tiny.duplicate_keys, tiny.orphans,
                                         tiny.residual_rows)
    # the tiny inputs still plant every kind of defect they can
    assert len(tiny.expected) >= 6 and tiny.orphans > 0


def test_document_maps_null_to_absent_and_drops_binary():
    row = {"url": "https://a.example/x", "warc_ts": None, "html": b"<p>",
           "text": None, "lang": "en", "meta": '{"tags": ["a", "a"]}', "part_id": 3}
    assert check.document(row) == {"url": "https://a.example/x", "lang": "en",
                                   "meta": {"tags": ["a", "a"]}}
    got = check.draft4_violations(check.draft4_validator(gen.PAGES_SCHEMA),
                                  check.document(row))
    assert sorted(got) == [("required", "$.text", "required"),
                           ("uniqueItems", "$.meta.tags", "uniqueItems")]


def test_draft4_mapping_follows_refs_and_paths():
    v = check.draft4_validator(gen.DOCS_SCHEMA)
    doc = {"url": "http://x", "host": "nope", "path": "/Abc/1",
           "doc": {"id": -1, "kind": "ok", "tags": ["a", 7],
                   "child": {"kind": "9x", "child": {"id": "3", "kind": "b",
                                                    "tags": ["c", "c"]}}}}
    assert sorted(check.draft4_violations(v, doc)) == sorted([
        ("pattern", "$.url", "pattern"),
        ("enum", "$.host", "enum"),
        ("pattern", "$.path", "pattern"),
        ("minimum", "$.doc.id", "minimum"),
        ("required", "$.doc.child.id", "required"),
        ("pattern", "$.doc.child.kind", "pattern"),
        ("type", "$.doc.child.child.id", "type"),
        ("uniqueItems", "$.doc.child.child.tags", "uniqueItems"),
    ])
    assert check.draft4_violations(v, {"url": "https://x", "host": gen.HOSTS[7],
                                       "doc": {"id": 0, "kind": "a"}}) == []
    # a mixed tags array breaks no keyword of the node schema
    assert check.draft4_violations(v, {"url": "https://x", "host": gen.HOSTS[7],
                                       "doc": {"id": 0, "kind": "a",
                                               "tags": ["a", 7]}}) == []


# -- the checks reject perturbed outputs -----------------------------------


def _engine_like_output(inputs, out_dir: str):
    """What a correct run_validation writes for ``inputs`` (violations,
    verdicts, lineage) and its RunResult, built from jsonschema."""
    validator = check.draft4_validator(inputs.schema)
    rows = []
    for row in inputs.pages.to_pylist():
        for kw, ip, last in check.draft4_violations(validator, check.document(row)):
            rows.append({"url": row["url"], "partition_id": str(row["part_id"]),
                         "keyword": kw, "instance_path": ip,
                         "schema_path": f"x#/definitions/n/{last}"})
    urls = Counter(inputs.pages.column("url").to_pylist())
    n_global = 0
    if inputs.workload == "crawl_clean":
        for u, c in urls.items():
            if c > 1:
                rows.append({"url": u, "partition_id": check.GLOBAL, "keyword": "unique",
                             "instance_path": "$.url", "schema_path": "#/c/unique/url"})
                n_global += 1
        for u in inputs.links.column("src_url").to_pylist():
            if u not in urls:
                rows.append({"url": u, "partition_id": check.GLOBAL,
                             "keyword": "ref_integrity", "instance_path": "$.src_url",
                             "schema_path": "#/c/fk/src_url->url"})
                n_global += 1
    viol = pa.Table.from_pylist(rows)
    parts = list(range(inputs.n_parts))
    per_part = Counter(r["partition_id"] for r in rows)
    sizes = Counter(inputs.pages.column("part_id").to_pylist())
    verd = os.path.join(out_dir, "verdicts", "batch=b0")
    lin = os.path.join(out_dir, "lineage")
    os.makedirs(verd)
    os.makedirs(lin)
    pq.write_table(pa.Table.from_pylist([
        {"run_id": "bench", "partition_id": str(p), "rows": sizes[p],
         "violation_rows": per_part[str(p)], "passed": per_part[str(p)] == 0}
        for p in parts]), os.path.join(verd, "part-0.parquet"))
    pq.write_table(pa.Table.from_pylist([
        {"run_id": "bench", "part_id": p, "status": "done"} for p in parts]),
        os.path.join(lin, "part-0.parquet"))
    result = SimpleNamespace(rows=inputs.n_rows, violation_rows=len(rows) - n_global,
                             global_violations=n_global)
    return viol, result, parts


def _all_checks(inputs, viol, result, out_dir, parts) -> dict[str, list[str]]:
    return {
        "planted": check.check_planted(viol, inputs,
                                       inputs.workload == "crawl_clean"),
        "sample": check.check_sample(viol, inputs.pages.to_pylist(), inputs.schema),
        "properties": check.check_properties(result, inputs.n_rows, inputs.n_rows,
                                             out_dir, viol, parts, "bench"),
    }


def _first_per_row(viol: pa.Table) -> int:
    return pc.index(viol.column("partition_id"), check.per_row(viol)
                    .column("partition_id")[0]).as_py()


def test_checks_accept_the_correct_output(tiny, tmp_path):
    viol, result, parts = _engine_like_output(tiny, str(tmp_path))
    assert _all_checks(tiny, viol, result, str(tmp_path), parts) == {
        "planted": [], "sample": [], "properties": []}


@pytest.mark.parametrize("perturb", ["drop", "duplicate", "relabel"])
def test_checks_reject_a_perturbed_violation_row(tiny, tmp_path, perturb):
    viol, result, parts = _engine_like_output(tiny, str(tmp_path))
    i = _first_per_row(viol)
    rows = viol.to_pylist()
    if perturb == "drop":
        del rows[i]
    elif perturb == "duplicate":
        rows.insert(i, dict(rows[i]))
    else:
        rows[i]["keyword"] = "maxLength" if rows[i]["keyword"] != "maxLength" else "enum"
    bad = pa.Table.from_pylist(rows, schema=viol.schema)
    got = _all_checks(tiny, bad, result, str(tmp_path), parts)
    assert got["planted"] and got["sample"]
    if perturb != "relabel":  # a relabel keeps every per-partition count
        assert got["properties"]
    assert check.violation_digest(bad) != check.violation_digest(viol)


def test_properties_reject_a_wrong_row_count(tiny, tmp_path):
    viol, result, parts = _engine_like_output(tiny, str(tmp_path))
    result.rows += 1
    assert check.check_properties(result, tiny.n_rows, tiny.n_rows, str(tmp_path),
                                  viol, parts, "bench")
    result.rows -= 1
    assert check.check_properties(result, tiny.n_rows, tiny.n_rows - 1, str(tmp_path),
                                  viol, parts, "bench")


def test_digest_ignores_row_order(tiny, tmp_path):
    viol, _, _ = _engine_like_output(tiny, str(tmp_path))
    shuffled = viol.take(pa.array(list(range(viol.num_rows))[::-1]))
    assert check.violation_digest(shuffled) == check.violation_digest(viol)
