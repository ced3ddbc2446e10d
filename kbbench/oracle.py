"""Expected outputs for the benchmark's output checks.

Every check compares a row count plus an order-insensitive value hash.
The canonical row form is ``scripts/check_contract.py``'s ``canon_rows``
(imported, not copied), so the benchmark and the contract gate agree on
what "equal" means.

- ``kb_build``: the KB ``triples`` table's (subj, pred, obj,
  n_occurrences) against the ``kg_triples`` DuckDB oracle from kbspark's
  contract registry, run over the same generated file.
- ``dedup``: MinHash-LSH pairs against a DuckDB replay of the signature,
  banding and exact-Jaccard pipeline; SimHash pairs against a brute-force
  all-pairs NumPy replay (exact: 4 blocks make Hamming <= 3 pigeonhole
  complete).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _check_contract():
    """The repo's ``scripts/check_contract.py``, loaded once as a module."""
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(ROOT, "scripts", "check_contract.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def digest(cols, rows) -> dict:
    """Row count + sha256 of the canonical (sorted, column-ordered) rows."""
    canon = _check_contract().canon_rows(list(cols), list(rows))
    h = hashlib.sha256()
    for r in canon:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return {"rows": len(canon), "sha256": h.hexdigest()}


def digest_pandas(pdf) -> dict:
    return digest(pdf.columns, pdf.itertuples(index=False, name=None))


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_LSH_PAIRS_SQL = """
WITH sh AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(
           RANGE(1, GREATEST(LEN(words) - 1, 1)),
           i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]
         )) AS shingles
  FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS words
        FROM documents)
  WHERE LEN(words) >= 3
),
hashed AS (
  SELECT doc_id, h, MIN(MD5(CAST(h AS VARCHAR) || ':' || shingle)) AS m
  FROM (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh),
       (SELECT UNNEST(RANGE(0, 8)) AS h)
  GROUP BY doc_id, h
),
bands AS (
  SELECT doc_id, h // 4 AS band_id, STRING_AGG(m, '|' ORDER BY h) AS band_key
  FROM hashed GROUP BY doc_id, h // 4
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
),
jac AS (
  SELECT p.doc_a, p.doc_b,
         ROUND(LEN(LIST_INTERSECT(sa.shingles, sb.shingles)) * 1.0 /
               LEN(LIST_DISTINCT(sa.shingles || sb.shingles)), 6) AS jaccard
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.doc_a
  JOIN sh sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= 0.5
"""


def _duck(sf_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET memory_limit = '2GB'")
    con.execute("SET enable_progress_bar = false")
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    return con


def _duck_digest(con, sql: str) -> dict:
    res = con.execute(sql)
    return digest([d[0] for d in res.description], res.fetchall())


def simhash_pairs(texts, doc_ids, max_hamming: int = 3):
    """All (doc_a, doc_b, hamming) with doc_a < doc_b and Hamming distance
    <= ``max_hamming`` between 64-bit SimHash signatures: bit b of
    md5(token) votes +1/-1 per token occurrence, the signature bit is the
    sign of the vote sum (kbspark.textops.simhash64's definition)."""
    tok_id: dict[str, int] = {}
    doc_of, tok_of = [], []
    for d, text in enumerate(texts):
        for t in text.strip().split():
            doc_of.append(d)
            tok_of.append(tok_id.setdefault(t, len(tok_id)))
    bits = np.zeros((len(tok_id), 64), dtype=np.int64)
    for t, i in tok_id.items():
        hx = hashlib.md5(t.encode()).hexdigest()
        for b in range(64):
            bits[i, b] = (int(hx[b // 4], 16) >> (b % 4)) & 1
    doc_of = np.asarray(doc_of)
    tok_of = np.asarray(tok_of)
    n = len(texts)
    total = np.bincount(doc_of, minlength=n)
    set_bits = np.stack(
        [np.bincount(doc_of, weights=bits[tok_of, b], minlength=n)
         for b in range(64)], axis=1,
    )
    sig = (2 * set_bits > total[:, None]).astype(np.uint64)
    packed = (sig << np.arange(64, dtype=np.uint64)).sum(axis=1,
                                                         dtype=np.uint64)
    popcount8 = np.array([bin(i).count("1") for i in range(256)],
                         dtype=np.int64)
    ids = np.asarray(doc_ids)
    out = []
    for a in range(n - 1):
        x = np.bitwise_xor(packed[a], packed[a + 1:])
        ham = popcount8[x.view(np.uint8).reshape(-1, 8)].sum(axis=1)
        for j in np.nonzero(ham <= max_hamming)[0]:
            out.append((int(ids[a]), int(ids[a + 1 + j]), int(ham[j])))
    return out


def expected(workload: str, sf_dir: str, threads: int) -> dict:
    """{output name: digest} the workload's job must reproduce."""
    if workload == "kb_build":
        from kbspark.contract import CONTRACT_ORACLES

        con = _duck(sf_dir, threads)
        return {"triples": _duck_digest(con, CONTRACT_ORACLES["kg_triples"])}
    if workload == "dedup":
        import pyarrow.parquet as pq

        con = _duck(sf_dir, threads)
        docs = pq.read_table(f"{sf_dir}/documents.parquet",
                             columns=["doc_id", "text"]).to_pydict()
        sim = simhash_pairs(docs["text"], docs["doc_id"])
        return {
            "minhash-lsh": _duck_digest(con, _LSH_PAIRS_SQL),
            "simhash": digest(["doc_a", "doc_b", "hamming"], sim),
        }
    raise ValueError(f"unknown workload: {workload}")
