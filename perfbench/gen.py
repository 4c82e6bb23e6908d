"""Seeded inputs for the run_validation benchmark.

The benchmark owns its generator and its schemas: nothing here imports
the engine, so a change to the engine's own fixture generator or schema
constants cannot silently change what the benchmark measures.

Every workload is a function of ``(workload, seed, n_rows)`` only. Rows
are built with numpy's PCG64 stream and pyarrow compute kernels, and
every planted defect is recorded as a flag while it is planted. The
expected violation counts per ``(keyword, instance_path)`` are sums of
those flags, never a re-validation of the rows.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORKLOADS = ("crawl_clean", "crawl_dirty", "json_deep")

#: rows per workload in a benchmark run (README: "Inputs")
SIZES = {"crawl_clean": 40_000, "crawl_dirty": 40_000, "json_deep": 16_000}
#: partition directories per workload (one parquet file each)
N_PARTS = {"crawl_clean": 16, "crawl_dirty": 16, "json_deep": 8}

LANGS = ["en", "zh", "es", "de", "fr", "ja", "ru", "pt", "it", "nl"]
_LANG_P = np.array([400, 150, 120, 100, 80, 55, 40, 30, 17, 8], dtype=float) / 1000

_VOCAB = (
    "the of data web page crawl text spark scale table index fast slow "
    "query join merge sort hash scan filter group count value key row "
    "column batch stream node edge graph link href title body head meta "
    "content language token word char byte block file part run pass check "
    "café naïve über straße façade smörgåsbord"
).split()

#: texts under 20 code points; the last two are 20+ UTF-8 bytes, so a
#: byte-length minLength would wrongly pass them
_SHORT_TEXTS = ["short", "tiny text", "ok", "ääääääääääää", "日本語のテキスト"]

PAGES_SCHEMA = {
    "id": "pages",
    "type": "object",
    "required": ["url", "text", "lang"],
    "properties": {
        "url": {"type": "string", "pattern": "^https?://",
                "minLength": 10, "maxLength": 2048},
        "text": {"type": "string", "minLength": 20},
        "lang": {"enum": LANGS},
        "warc_ts": {"type": "string", "format": "date-time"},
        "meta": {"$ref": "#/definitions/meta"},
    },
    "definitions": {
        "meta": {
            "type": "object",
            "properties": {
                "tags": {"type": "array", "items": {"type": "string"},
                         "uniqueItems": True},
                "parent": {"$ref": "#/definitions/meta"},
            },
        }
    },
}

#: json_deep: a host enum past the 1024-literal inline limit (broadcast
#: hash-set tier) and a path pattern Java rejects but RE2 accepts. The
#: path pattern has no ``$``: RE2's ``$`` disagrees with Python's on a
#: trailing newline (see CHANGES.md, FOUND regex_triage).
HOSTS = [f"h{k:04d}.example.net" for k in range(1500)]
PATH_PATTERN = "^/(?P<sec>[a-z]+)/[0-9]+"
_SECTIONS = ["news", "docs", "blog", "wiki", "shop", "about"]

DOCS_SCHEMA = {
    "id": "docs",
    "type": "object",
    "required": ["url", "host", "doc"],
    "properties": {
        "url": {"type": "string", "pattern": "^https://"},
        "host": {"enum": HOSTS},
        "path": {"type": "string", "pattern": PATH_PATTERN},
        "doc": {"$ref": "#/definitions/node"},
    },
    "definitions": {
        "node": {
            "type": "object",
            "required": ["id", "kind"],
            "properties": {
                "id": {"type": "integer", "minimum": 0, "maximum": 1000000},
                "kind": {"pattern": "^[a-z]+"},
                "tags": {"uniqueItems": True},
                "child": {"$ref": "#/definitions/node"},
            },
        }
    },
}

#: the engine's Variant unroll depth: a doc whose ``child`` chain has
#: more than this many links is validated by the residual Arrow job
UNROLL_DEPTH = 3
#: share of docs per child-chain length; lengths 4..6 (20 %) go past it
DEPTH_MIX = {0: 0.20, 1: 0.25, 2: 0.20, 3: 0.15, 4: 0.10, 5: 0.06, 6: 0.04}


@dataclass(frozen=True)
class Rates:
    """Per-row defect probabilities of the crawl workloads."""

    dup_url: float
    bad_scheme: float
    text_short: float
    text_null: float
    lang_bad: float
    lang_null: float
    meta_dup: float
    meta_parent_dup: float
    meta_array: float


CRAWL_RATES = {
    "crawl_clean": Rates(0.005, 0.005, 0.01, 0.01, 0.01, 0.005, 0.01, 0.005, 0.005),
    "crawl_dirty": Rates(0.0, 0.20, 0.15, 0.10, 0.20, 0.05, 0.15, 0.10, 0.05),
}
#: json_deep per-row / per-node defect probabilities
DOC_ROW_RATES = {"bad_url": 0.01, "host_rogue": 0.02, "host_null": 0.01,
                 "path_bad": 0.02, "path_null": 0.01, "doc_null": 0.005}
NODE_DEFECTS = ("id_missing", "id_string", "id_negative", "id_huge",
                "kind_bad", "tags_dup", "tags_mixed")
#: a number among the string tags breaks no keyword, but the Variant tier
#: cannot classify the mixed array, so the whole doc goes to the residual
MIXED_TAGS = NODE_DEFECTS.index("tags_mixed") + 1
NODE_DEFECT_RATE = 0.015  # per node and per defect kind


@dataclass
class Inputs:
    """One workload's generated tables plus what the generator knows
    about them."""

    workload: str
    seed: int
    pages: pa.Table
    links: pa.Table
    schema: dict
    #: planted per-row violations: (keyword, instance_path) -> count
    expected: Counter = field(default_factory=Counter)
    #: distinct urls present more than once
    duplicate_keys: int = 0
    #: links rows whose src_url has no page
    orphans: int = 0
    #: rows the engine must route to the residual Arrow job
    residual_rows: int = 0

    @property
    def n_rows(self) -> int:
        return self.pages.num_rows

    @property
    def n_parts(self) -> int:
        return N_PARTS[self.workload]


def _rng(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([seed, WORKLOADS.index(workload)])


def _bucket(rng: np.random.Generator, n: int, edges: np.ndarray) -> np.ndarray:
    """Categorical draw over cumulative ``edges``: state k (1-based) with
    the mass between edges k-1 and k, state 0 with the rest."""
    k = np.searchsorted(edges, rng.random(n), side="right")
    return np.where(k < len(edges), k + 1, 0)


def _strs(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


def generate(workload: str, seed: int, n_rows: int | None = None) -> Inputs:
    """The inputs of one workload; ``n_rows`` overrides its size."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    n = SIZES[workload] if n_rows is None else n_rows
    if workload == "json_deep":
        return _gen_docs(workload, seed, n)
    return _gen_crawl(workload, seed, n)


def _gen_crawl(workload: str, seed: int, n: int) -> Inputs:
    rng = _rng(workload, seed)
    r = CRAWL_RATES[workload]
    ids = np.arange(n, dtype=np.int64)

    # url: a planted duplicate re-emits the url of an earlier row, so a
    # url is a function of its source id and never collides by accident
    dup = rng.random(n) < r.dup_url
    back = rng.integers(1, 50, n)
    src = np.where(dup & (ids >= back), ids - back, ids)
    bad_scheme_id = rng.random(n) < r.bad_scheme
    host_id = np.floor(rng.random(n) ** 3 * 1000).astype(np.int64)
    scheme = np.where(bad_scheme_id, "htp", "https")
    url_by_id = pc.binary_join_element_wise(
        pa.array(scheme), "://host", _strs(host_id), ".example.com/p/",
        _strs(ids), "")
    url = url_by_id.take(pa.array(src))
    _, counts = np.unique(src, return_counts=True)

    # text: drawn from a seeded pool of 20..120-word texts; defects swap
    # in a sub-20-code-point text or NULL
    pool = [" ".join(rng.choice(_VOCAB, int(k)))
            for k in rng.integers(20, 121, 1024)]
    text = pa.array(pool).take(pa.array(rng.integers(0, len(pool), n)))
    text_state = _bucket(rng, n, np.cumsum([r.text_short, r.text_null]))
    short = pa.array(_SHORT_TEXTS).take(
        pa.array(rng.integers(0, len(_SHORT_TEXTS), n)))
    text = pc.if_else(pa.array(text_state == 1), short, text)
    text = pc.if_else(pa.array(text_state == 2), pa.scalar(None, pa.string()), text)

    lang_state = _bucket(rng, n, np.cumsum([r.lang_bad, r.lang_null]))
    lang = pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=_LANG_P)])
    lang = pc.if_else(pa.array(lang_state == 1), "xx", lang)
    lang = pc.if_else(pa.array(lang_state == 2), pa.scalar(None, pa.string()), lang)

    ts = (np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
          + rng.integers(0, 365 * 86400, n) * 1_000_000)
    ts_null = rng.random(n) < 0.002
    warc_ts = pa.array(ts, type=pa.timestamp("us", tz="UTC"), mask=ts_null)

    meta_state = _bucket(rng, n, np.cumsum(
        [r.meta_dup, r.meta_parent_dup, r.meta_array]))
    t1 = rng.integers(0, 40, n)
    t2 = (t1 + rng.integers(1, 40, n)) % 40  # distinct from t1
    meta = [_meta_json(int(s), _VOCAB[a], _VOCAB[b])
            for s, a, b in zip(meta_state, t1, t2)]

    html = pc.cast(pc.binary_join_element_wise(
        "<html><head><title>", pc.fill_null(lang, ""), "</title></head><body>",
        pc.fill_null(text, ""), "</body></html>", ""), pa.binary())
    part = rng.integers(0, N_PARTS[workload], n).astype(np.int32)

    pages = pa.table({
        "url": url, "warc_ts": warc_ts, "html": html, "text": text,
        "lang": lang, "meta": pa.array(meta, pa.string()),
        "part_id": pa.array(part),
    })
    exp = Counter()
    exp["pattern", "$.url"] = int(bad_scheme_id[src].sum())
    exp["minLength", "$.text"] = int((text_state == 1).sum())
    exp["required", "$.text"] = int((text_state == 2).sum())
    exp["enum", "$.lang"] = int((lang_state == 1).sum())
    exp["required", "$.lang"] = int((lang_state == 2).sum())
    exp["uniqueItems", "$.meta.tags"] = int((meta_state == 1).sum())
    exp["uniqueItems", "$.meta.parent.tags"] = int((meta_state == 2).sum())
    exp["type", "$.meta"] = int((meta_state == 3).sum())
    links, orphans = _links(rng, url, n)
    return Inputs(workload, seed, pages, links, PAGES_SCHEMA,
                  +exp, int((counts > 1).sum()), orphans, 0)


def _meta_json(state: int, a: str, b: str) -> str:
    if state == 3:  # an array where the schema wants an object
        return json.dumps([a, b])
    tags = [a, a] if state == 1 else [a, b]
    parent = [b, b] if state == 2 else [b]
    return json.dumps({"tags": tags, "parent": {"tags": parent}},
                      ensure_ascii=False)


def _links(rng: np.random.Generator, url: pa.Array, n: int) -> tuple[pa.Table, int]:
    """Child table: src_url -> pages.url with 1 % orphans (urls on a
    host no page has)."""
    m = max(n // 2, 1)
    orphan = rng.random(m) < 0.01
    src = url.take(pa.array(rng.integers(0, n, m)))
    orphan_url = pc.binary_join_element_wise(
        "https://orphan", _strs(np.arange(m)), ".example.org/", "")
    src = pc.if_else(pa.array(orphan), orphan_url, src)
    dst = url.take(pa.array(rng.integers(0, n, m)))
    return pa.table({"src_url": src, "dst_url": dst}), int(orphan.sum())


def _gen_docs(workload: str, seed: int, n: int) -> Inputs:
    rng = _rng(workload, seed)
    ids = np.arange(n, dtype=np.int64)
    exp = Counter()

    bad_url = rng.random(n) < DOC_ROW_RATES["bad_url"]
    url = pc.binary_join_element_wise(
        pa.array(np.where(bad_url, "http", "https")), "://site",
        _strs(ids % 97), ".example.org/doc/", _strs(ids), "")
    exp["pattern", "$.url"] = int(bad_url.sum())

    host_state = _bucket(rng, n, np.cumsum(
        [DOC_ROW_RATES["host_rogue"], DOC_ROW_RATES["host_null"]]))
    host_idx = np.floor(rng.random(n) ** 2 * len(HOSTS)).astype(np.int64)
    host = pa.array(HOSTS).take(pa.array(host_idx))
    rogue = pc.binary_join_element_wise(
        "rogue", _strs(host_idx), ".example.invalid", "")
    host = pc.if_else(pa.array(host_state == 1), rogue, host)
    host = pc.if_else(pa.array(host_state == 2), pa.scalar(None, pa.string()), host)
    exp["enum", "$.host"] = int((host_state == 1).sum())
    exp["required", "$.host"] = int((host_state == 2).sum())

    path_state = _bucket(rng, n, np.cumsum(
        [DOC_ROW_RATES["path_bad"], DOC_ROW_RATES["path_null"]]))
    sec = np.array(_SECTIONS)[rng.integers(0, len(_SECTIONS), n)]
    sec = np.where(path_state == 1, np.char.capitalize(sec), sec)
    path = pc.binary_join_element_wise(
        "/", pa.array(sec), "/", _strs(rng.integers(0, 10_000, n)), "")
    path = pc.if_else(pa.array(path_state == 2), pa.scalar(None, pa.string()), path)
    exp["pattern", "$.path"] = int((path_state == 1).sum())

    depths = rng.choice(list(DEPTH_MIX), n, p=list(DEPTH_MIX.values()))
    doc_null = rng.random(n) < DOC_ROW_RATES["doc_null"]
    exp["required", "$.doc"] = int(doc_null.sum())
    # per-node draws, in row-major node order
    n_nodes = int((depths + 1).sum())
    defect = _bucket(rng, n_nodes, np.cumsum([NODE_DEFECT_RATE] * len(NODE_DEFECTS)))
    node_ids = rng.integers(0, 1_000_001, n_nodes)
    kinds = rng.integers(0, len(_VOCAB) - 6, n_nodes)  # ASCII words only
    n_tags = rng.integers(1, 4, n_nodes)
    tag0 = rng.integers(0, 40, n_nodes)

    docs: list[str | None] = []
    residual = 0
    k = 0
    for i in range(n):
        d = int(depths[i])
        if doc_null[i]:
            docs.append(None)
            k += d + 1
            continue
        node: dict | None = None
        mixed = False
        for level in range(d, -1, -1):  # innermost first
            node, kind = _doc_node(node, int(defect[k + level]),
                                   int(node_ids[k + level]), int(kinds[k + level]),
                                   int(n_tags[k + level]),
                                   int(tag0[k + level]))
            if kind is not None:
                exp[kind[0], "$.doc" + ".child" * level + kind[1]] += 1
            mixed |= int(defect[k + level]) == MIXED_TAGS
        k += d + 1
        residual += bool(d > UNROLL_DEPTH or mixed)
        docs.append(json.dumps(node, separators=(",", ":")))

    part = rng.integers(0, N_PARTS[workload], n).astype(np.int32)
    pages = pa.table({
        "url": url, "host": host, "path": path,
        "doc": pa.array(docs, pa.string()), "part_id": pa.array(part),
    })
    links, orphans = _links(rng, url, n)
    return Inputs(workload, seed, pages, links, DOCS_SCHEMA, +exp, 0,
                  orphans, residual)


def _doc_node(child: dict | None, defect: int, node_id: int, kind_i: int,
              n_tags: int, tag0: int
              ) -> tuple[dict, tuple[str, str] | None]:
    """One ``node`` object and the (keyword, relative path) of the
    defect planted in it, if any."""
    tags: list = [_VOCAB[(tag0 + j) % 40] for j in range(n_tags)]
    node: dict = {"id": node_id, "kind": _VOCAB[kind_i], "tags": tags}
    name = NODE_DEFECTS[defect - 1] if defect else None
    planted: tuple[str, str] | None = None
    if name == "id_missing":
        del node["id"]
        planted = ("required", ".id")
    elif name == "id_string":
        node["id"] = str(node_id)
        planted = ("type", ".id")
    elif name == "id_negative":
        node["id"] = -1 - node_id
        planted = ("minimum", ".id")
    elif name == "id_huge":
        node["id"] = 1_000_001 + node_id
        planted = ("maximum", ".id")
    elif name == "kind_bad":
        node["kind"] = f"9{node['kind']}"
        planted = ("pattern", ".kind")
    elif name == "tags_dup":
        node["tags"] = tags + [tags[0]]
        planted = ("uniqueItems", ".tags")
    elif name == "tags_mixed":
        node["tags"] = tags + [node_id]
    if child is not None:
        node["child"] = child
    return node, planted


def write(inputs: Inputs, root: str) -> dict[str, str]:
    """Write ``pages`` as one parquet file per ``part_id=<k>`` directory
    and ``links`` as one plain file. Returns the two table paths."""
    pages_dir = os.path.join(root, "pages")
    links_dir = os.path.join(root, "links")
    os.makedirs(links_dir)
    part = inputs.pages.column("part_id")
    body = inputs.pages.drop_columns(["part_id"])
    for p in range(inputs.n_parts):
        d = os.path.join(pages_dir, f"part_id={p}")
        os.makedirs(d)
        pq.write_table(body.filter(pc.equal(part, p)),
                       os.path.join(d, "part-0.parquet"))
    pq.write_table(inputs.links, os.path.join(links_dir, "part-0.parquet"))
    return {"pages": pages_dir, "links": links_dir}


def digest(inputs: Inputs) -> str:
    """sha256 over both tables' values and the expectations."""
    h = hashlib.sha256()
    for t in (inputs.pages, inputs.links):
        for name in t.column_names:
            h.update(name.encode())
            h.update(repr(t.column(name).to_pylist()).encode())
    h.update(repr(sorted(inputs.expected.items())).encode())
    h.update(repr((inputs.duplicate_keys, inputs.orphans,
                   inputs.residual_rows)).encode())
    return h.hexdigest()
