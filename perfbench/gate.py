"""Correctness gate for the benchmark: seeded inputs, the reference-semantics
oracle, order-independent digests and per-seed records.

Everything here runs in the benchmark's own process, outside the timed
regions.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow.parquet as pq

# doc_id prefix -> entity type, as the generator names its documents
# (``<prefix>-<n>``); docs.parquet carries no etype column, the flat
# doc_spans twin that does is only written at scale <= 200.
ETYPE = {"aop": "aop", "ke": "ke", "ker": "ker", "stressor": "stressor",
         "chem": "chemical", "tax": "taxonomy", "bp": "bioprocess",
         "bo": "bioobject", "ba": "bioaction"}

GRAPHS = ("main", "enriched", "genes")


def load_spans(corpus_dir: str) -> list[dict]:
    """Span rows in the oracle's shape, read from docs.parquet."""
    t = pq.read_table(os.path.join(corpus_dir, "docs.parquet"),
                      columns=["doc_id", "spans"])
    rows = []
    for doc_id, spans in zip(t.column("doc_id").to_pylist(),
                             t.column("spans").to_pylist()):
        etype = ETYPE[doc_id.rsplit("-", 1)[0]]
        for s in spans:
            rows.append({"doc_id": doc_id, "etype": etype, **s})
    return rows


def load_dims(corpus_dir: str) -> dict:
    """Dimension tables in the plain-Python shapes the oracle takes."""
    def rows(name, cols):
        t = pq.read_table(os.path.join(corpus_dir, f"{name}.parquet"),
                          columns=cols)
        return list(zip(*(t.column(c).to_pylist() for c in cols)))

    chem = pq.read_table(os.path.join(corpus_dir, "chem_xref_dim.parquet"))
    chem_cols = [c for c in chem.column_names if c != "cas"]
    return {
        "hgnc": rows("hgnc_dim",
                     ["hgnc_id", "symbol", "name", "prev_symbols", "aliases"]),
        "gene_xref": {h: (e, en, u) for h, e, en, u in rows(
            "gene_xref_dim", ["hgnc_id", "entrez", "ensembl", "uniprot"])},
        "chem_xref": {r["cas"]: {c: r[c] for c in chem_cols}
                      for r in chem.to_pylist()},
        "promapping": rows("promapping_dim", ["pr_id", "target"]),
    }


def expected_triples(corpus_dir: str) -> set:
    """The flag-off triple set of the pure-Python reference semantics."""
    from aopwiki_spark.refsemantics.triples_oracle import expected_triples
    return expected_triples(load_spans(corpus_dir), load_dims(corpus_dir))


def digest(rows) -> str:
    """Order-independent digest of an iterable of string tuples: the sum of
    64-bit row hashes, so any dropped, added or altered row changes it."""
    total = 0
    for r in rows:
        h = hashlib.blake2b("\x1f".join(map(str, r)).encode(), digest_size=8)
        total = (total + int.from_bytes(h.digest(), "little")) % (1 << 64)
    return f"{total:016x}"


def corpus_digest(corpus_dir: str) -> str:
    """Digest of the generated documents (doc id, span kind, offset, text)."""
    return digest((r["doc_id"], r["kind"], r["offset"], r["text"])
                  for r in load_spans(corpus_dir))


def read_triples(out_dir: str) -> set:
    """The runner's output table as a set of (graph, subj, pred, obj)."""
    got = set()
    for g in GRAPHS:
        path = os.path.join(out_dir, "triples", f"graph={g}")
        if not os.path.isdir(path):
            continue
        t = pq.read_table(path, columns=["subj", "pred", "obj"])
        got.update(zip([g] * t.num_rows, t.column("subj").to_pylist(),
                       t.column("pred").to_pylist(),
                       t.column("obj").to_pylist()))
    return got


def check_counts(out_dir: str, triples: set, reported: dict | None
                 ) -> list[str]:
    """Failure messages unless every graph's table holds distinct rows and
    the per-graph counts the runner reported equal the table's."""
    rows = {g: 0 for g in GRAPHS}
    for g in GRAPHS:
        path = os.path.join(out_dir, "triples", f"graph={g}")
        if os.path.isdir(path):
            rows[g] = pq.ParquetDataset(path).read(columns=["subj"]).num_rows
    distinct = build_summary(triples)["graphs"]
    errs = []
    if rows != distinct:
        errs.append(f"duplicate rows: {rows} rows, {distinct} distinct")
    if reported is not None and {g: reported.get(g, 0) for g in GRAPHS} \
            != distinct:
        errs.append(f"runner reported {reported}, table holds {distinct}")
    return errs


def build_summary(triples: set) -> dict:
    counts = {g: 0 for g in GRAPHS}
    for t in triples:
        counts[t[0]] += 1
    return {"graphs": counts, "digest": digest(triples)}


def check_build(triples: set, expected: set, recorded: dict | None
                ) -> list[str]:
    """Failure messages for one build output (empty when it passes): every
    oracle triple present, every graph non-empty, and per-graph counts and
    digest equal to those recorded for the same corpus, when recorded."""
    errs = []
    missing = expected - triples
    if missing:
        errs.append(f"{len(missing)} oracle triples missing, e.g. "
                    f"{sorted(missing)[:3]}")
    summary = build_summary(triples)
    empty = [g for g, n in summary["graphs"].items() if n == 0]
    if empty:
        errs.append(f"empty graphs {empty}")
    if recorded is not None and recorded != summary:
        errs.append(f"output {summary} differs from recorded {recorded}")
    return errs


def query_summary(rows) -> dict:
    return {"rows": len(rows), "digest": digest(tuple(r) for r in rows)}


class Records:
    """Outputs per (workload, scale, seed), recorded by the first passing
    run that saw the seed; later runs on the same checkout must reproduce
    them."""

    def __init__(self, path: str):
        self.path = path
        self.data = {}
        if os.path.exists(path):
            with open(path) as fh:
                self.data = json.load(fh)

    def entry(self, key: str, default: dict) -> dict:
        return self.data.setdefault(key, default)

    def save(self):
        tmp = f"{self.path}.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(self.data, fh, indent=1, sort_keys=True)
        os.replace(tmp, self.path)
