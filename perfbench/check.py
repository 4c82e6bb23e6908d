"""Correctness checks for the run_validation benchmark.

Every check compares the engine's written outputs with answers computed
without the engine: the generator's own defect flags, jsonschema's
Draft4Validator on a seeded sample of rows, and plain counts of the
written tables. Each check returns a list of error strings; an empty
list means the check passed.
"""

from __future__ import annotations

import ast
import datetime as dt
import hashlib
import json
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from jsonschema import Draft4Validator, FormatChecker

GLOBAL = "__global__"
VIOLATION_KEY = ["url", "partition_id", "keyword", "instance_path", "schema_path"]


def read_table(path: str, partitioned: bool = True) -> pa.Table:
    """A written output table (hive ``batch=`` directories, or flat)."""
    if not os.path.isdir(path):
        return pa.table({})
    return ds.dataset(path, format="parquet",
                      partitioning="hive" if partitioned else None).to_table()


def per_row(viol: pa.Table) -> pa.Table:
    return viol.filter(pc.not_equal(viol.column("partition_id"), GLOBAL))


def keyword_counts(viol: pa.Table) -> Counter:
    """(keyword, instance_path) -> rows."""
    return Counter(zip(viol.column("keyword").to_pylist(),
                       viol.column("instance_path").to_pylist()))


def violation_digest(viol: pa.Table) -> str:
    """Order-insensitive sha256 of the violation multiset."""
    if viol.num_rows == 0:
        return hashlib.sha256(b"").hexdigest()
    joined = pc.binary_join_element_wise(
        *[pc.fill_null(viol.column(c).cast(pa.string()), "\x00")
          for c in VIOLATION_KEY], "\x1f")
    rows = pc.sort_indices(joined)
    return hashlib.sha256(
        "\n".join(joined.take(rows).to_pylist()).encode()).hexdigest()


def check_planted(viol: pa.Table, inputs, global_constraints: bool,
                  plain_duplicates: int | None = None,
                  plain_orphans: int | None = None) -> list[str]:
    """(a) per-(keyword, instance_path) counts equal the generator's
    flag sums; uniqueness and referential counts equal the generator's
    and plain Spark's."""
    errors = []
    got = keyword_counts(per_row(viol))
    if got != inputs.expected:
        diff = {k: (got.get(k, 0), inputs.expected.get(k, 0))
                for k in set(got) | set(inputs.expected)
                if got.get(k, 0) != inputs.expected.get(k, 0)}
        errors.append(f"per-row violation counts (engine, planted): {diff}")
    glob = keyword_counts(viol.filter(pc.equal(viol.column("partition_id"), GLOBAL)))
    want = Counter()
    if global_constraints:
        want["unique", "$.url"] = inputs.duplicate_keys
        want["ref_integrity", "$.src_url"] = inputs.orphans
    if +glob != +want:
        errors.append(f"global violations {dict(glob)} != planted {dict(want)}")
    if plain_duplicates is not None and plain_duplicates != inputs.duplicate_keys:
        errors.append(f"plain groupBy duplicates {plain_duplicates} != "
                      f"planted {inputs.duplicate_keys}")
    if plain_orphans is not None and plain_orphans != inputs.orphans:
        errors.append(f"plain left-anti orphans {plain_orphans} != "
                      f"planted {inputs.orphans}")
    return errors


# -- (b) sampled draft-4 check -------------------------------------------


def document(row: dict) -> dict:
    """A table row as the JSON document the schema describes: SQL NULL
    is an absent property, JSON-text columns are parsed, timestamps are
    RFC 3339 strings, binary columns are not part of the document."""
    out = {}
    for k, v in row.items():
        if v is None or isinstance(v, bytes) or k == "part_id":
            continue
        if k in ("meta", "doc"):
            v = json.loads(v)
        elif isinstance(v, dt.datetime):
            v = v.astimezone(dt.timezone.utc).isoformat()
        out[k] = v
    return out


def _ipath(parts) -> str:
    return "$" + "".join(f"[{p}]" if isinstance(p, int) else f".{p}" for p in parts)


def draft4_violations(validator: Draft4Validator, doc: dict) -> list[tuple]:
    """(keyword, instance_path, last schema_path segment) per error, in
    the engine's conventions: ``required`` points at the missing
    property, array indices are ``[i]``."""
    out = []
    for err in validator.iter_errors(doc):
        ip = _ipath(err.absolute_path)
        if err.validator == "required":
            prop = ast.literal_eval(err.message.removesuffix(" is a required property"))
            ip = f"{ip}.{prop}"
        out.append((err.validator, ip, str(err.schema_path[-1])))
    return out


def draft4_validator(schema: dict) -> Draft4Validator:
    return Draft4Validator(schema, format_checker=FormatChecker())


def sample_rows(pages: pa.Table, seed: int, k: int) -> list[dict]:
    """A seeded sample of urls, with every input row carrying one of
    them (a duplicated url's violations merge under one key)."""
    urls = pages.column("url")
    picked = random.Random(seed).sample(range(pages.num_rows), min(k, pages.num_rows))
    keys = pa.array(sorted(set(urls.take(pa.array(picked)).to_pylist())))
    return pages.filter(pc.is_in(urls, value_set=keys)).to_pylist()


def check_sample(viol: pa.Table, rows: list[dict], schema: dict) -> list[str]:
    """(b) the (url, keyword, instance_path, schema keyword) multiset of
    the sampled rows equals jsonschema's."""
    validator = draft4_validator(schema)
    want = Counter()
    for row in rows:
        for kw, ip, last in draft4_violations(validator, document(row)):
            want[row["url"], kw, ip, last] += 1
    urls = pa.array(sorted({r["url"] for r in rows}), pa.string())
    mine = per_row(viol)
    mine = mine.filter(pc.is_in(mine.column("url"), value_set=urls))
    got = Counter(
        (u, kw, ip, sp.rsplit("/", 1)[-1])
        for u, kw, ip, sp in zip(*(mine.column(c).to_pylist() for c in
                                   ("url", "keyword", "instance_path", "schema_path"))))
    if got != want:
        extra, missing = got - want, want - got
        return [f"draft-4 sample of {len(rows)} rows: engine-only "
                f"{list(extra.items())[:5]}, jsonschema-only {list(missing.items())[:5]}"]
    return []


# -- (c) properties of one run's outputs ---------------------------------


def check_properties(result, n_rows: int, spark_rows: int | None, out_dir: str,
                     viol: pa.Table, parts: list[int], run_id: str) -> list[str]:
    errors = []
    if result.rows != n_rows or (spark_rows is not None and spark_rows != n_rows):
        errors.append(f"RunResult.rows {result.rows}, input count {spark_rows}, "
                      f"generated {n_rows}")
    rows_viol = per_row(viol)
    if result.violation_rows != rows_viol.num_rows:
        errors.append(f"RunResult.violation_rows {result.violation_rows} != "
                      f"{rows_viol.num_rows} written")
    n_global = viol.num_rows - rows_viol.num_rows
    if result.global_violations != n_global:
        errors.append(f"RunResult.global_violations {result.global_violations} "
                      f"!= {n_global} written")

    verd = read_table(os.path.join(out_dir, "verdicts")).to_pylist()
    if sum(v["rows"] for v in verd) != n_rows:
        errors.append(f"verdict rows sum {sum(v['rows'] for v in verd)} != {n_rows}")
    written = Counter(rows_viol.column("partition_id").to_pylist())
    if sorted(v["partition_id"] for v in verd) != sorted(str(p) for p in parts):
        errors.append("verdicts do not hold one row per partition")
    for v in verd:
        n = written.get(v["partition_id"], 0)
        if v["violation_rows"] != n or v["passed"] != (n == 0):
            errors.append(f"verdict {v} disagrees with {n} written violations")

    lin = read_table(os.path.join(out_dir, "lineage"), partitioned=False).to_pylist()
    done = Counter(r["part_id"] for r in lin
                   if r["status"] == "done" and r["run_id"] == run_id)
    if done != Counter(parts):
        errors.append(f"lineage done rows per partition {dict(done)}")
    return errors
