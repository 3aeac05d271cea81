"""Seeded input generator for the benchmark.

Every table the workloads read is drawn here from ``--seed`` alone, in the
layout of the engine's parquet fixtures (one ``<table>.parquet`` file per
table, same column names and types), so the engine sees only generated
inputs. The same seed gives byte-identical files. A different seed changes
ids, row order, values and salts, but not row counts or how many duplicates
are planted.

Sizes follow the fixture scale factor ``sf``: ``lineitem`` has ``6e6 * sf``
rows, ``events`` ``1e6 * sf``, ``documents`` ``5e4 * sf`` and so on.

``salted_corpus`` derives one copy of ``documents``/``embeddings`` per timed
pass: every token goes through the same letter substitution and the ids are
permuted, so duplicate density, token lengths and sizes stay fixed while the
directory (and hence every cache keyed by it) is new.
"""

from __future__ import annotations

import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH = np.datetime64("1970-01-01", "D")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
# Document vocabulary; "the" and "a" are the stopwords the quality filter
# counts, so salting leaves them alone.
DOC_WORDS = (
    "the a key agg row scan slow fast table value part hash merge batch spark"
    " line sort window order data column join small customer query big filter"
    " group stream vector"
).split()
EMBED_DIM = 64

def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    us = days_from_epoch.astype(np.int64) * _DAY_US
    return pa.array(us, type=pa.timestamp("us"))


def _day(iso: str) -> int:
    return int((np.datetime64(iso, "D") - _EPOCH).astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(values)
    ).cast(pa.string())


def _numbered(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}{k:09d}" for k in keys.tolist()])


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The TPC-H-shaped star schema at scale ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = rng.permutation(n_cust).astype(np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _numbered("Customer#", ck),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    sk = rng.permutation(n_supp).astype(np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _numbered("Supplier#", sk),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = rng.permutation(n_part).astype(np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    ok = rng.permutation(n_ord).astype(np.int64)
    d0, d1 = _day("1995-01-01"), _day("2001-08-01")
    out["orders"] = pa.table(
        {
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(rng.integers(d0, d1 + 1, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    s0, s1 = _day("1995-01-02"), _day("2001-11-04")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(rng.integers(s0, s1 + 1, n_line)),
        }
    )
    return out


def events_table(sf: float, seed: int) -> pa.Table:
    """Click-stream events over 30 days, event ids in time order."""
    rng = np.random.default_rng([seed, 2])
    n, n_users = int(1_000_000 * sf), max(int(15_000 * sf), 10)
    t0 = _day("2024-01-01") * _DAY_US
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]),
        }
    )


def base_corpus(sf: float, seed: int) -> tuple[list[list[int]], np.ndarray, pa.Table]:
    """Unsalted corpus: token-id lists per document (into ``DOC_WORDS``),
    the document attribute columns, and the embeddings table.

    1% of documents are replaced by an exact copy of another document and
    5% by a near copy (about one token in ten replaced); 2% of vectors are
    replaced by a noisy copy of another vector. How many copies are planted
    depends on ``sf`` only, not on the seed."""
    rng = np.random.default_rng([seed, 3])
    n_docs = int(50_000 * sf)
    weights = 1.0 / np.arange(1, len(DOC_WORDS) + 1) ** 0.6
    weights /= weights.sum()
    docs: list[list[int]] = []
    for _ in range(n_docs):
        docs.append(rng.choice(len(DOC_WORDS), size=int(rng.integers(8, 90)), p=weights).tolist())
    n_exact, n_near = n_docs // 100, n_docs // 20
    targets = rng.choice(n_docs, size=n_exact + n_near, replace=False)
    for j, t in enumerate(targets.tolist()):
        src = docs[int(rng.integers(0, n_docs))]
        copy = list(src)
        if j >= n_exact:
            for pos in rng.choice(len(copy), size=max(1, len(copy) // 10), replace=False):
                copy[int(pos)] = int(rng.integers(0, len(DOC_WORDS)))
        docs[t] = copy
    attrs = np.stack(
        [
            rng.choice(len(LANGS), size=n_docs, p=LANG_P),
            np.arange(n_docs) % 20,
        ]
    )
    n_vec = int(20_000 * sf)
    vec = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32) * 0.12
    n_dup = n_vec // 50
    src = rng.integers(0, n_vec, n_dup)
    dst = rng.choice(n_vec, size=n_dup, replace=False)
    vec[dst] = vec[src] + rng.standard_normal((n_dup, EMBED_DIM)).astype(np.float32) * 0.06
    emb = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return docs, attrs, emb


def _cipher(rng: np.random.Generator) -> dict[int, int]:
    """A letter substitution that fixes the letters of the stopwords, so
    "the" and "a" stay stopwords and no other word becomes one."""
    keep = set("thea")
    free = [c for c in string.ascii_lowercase if c not in keep]
    perm = rng.permutation(len(free))
    return str.maketrans({c: free[i] for c, i in zip(free, perm)})


def salted_corpus(base, seed: int, copy: int) -> dict[str, pa.Table]:
    """Copy ``copy`` of the corpus: salted tokens, permuted ids."""
    docs, attrs, emb = base
    rng = np.random.default_rng([seed, 4, copy])
    table = _cipher(rng)
    words = [w.translate(table) for w in DOC_WORDS]
    texts = [" ".join(words[t] for t in d) for d in docs]
    doc_ids = rng.permutation(len(docs)).astype(np.int64)
    order = rng.permutation(len(docs))
    documents = pa.table(
        {
            "doc_id": doc_ids,
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in attrs[0].tolist()]),
            "source": pa.array([f"src{i}" for i in attrs[1].tolist()]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    ).take(order)
    # Per-dimension sign flips keep every cosine exactly.
    signs = np.where(rng.random(EMBED_DIM) < 0.5, -1.0, 1.0).astype(np.float32)
    vec = emb.column("embedding").combine_chunks().flatten().to_numpy().reshape(-1, EMBED_DIM)
    n_vec = len(vec)
    vec_ids = rng.permutation(n_vec).astype(np.int64)
    embeddings = pa.table(
        {
            "vec_id": vec_ids,
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array((vec * signs).ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": emb.column("label"),
        }
    ).take(rng.permutation(n_vec))
    return {"documents": documents, "embeddings": embeddings}


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> int:
    """Write each table as ``<out_dir>/<name>.parquet``; returns total rows."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        _write(os.path.join(out_dir, f"{name}.parquet"), t)
    return sum(t.num_rows for t in tables.values())


# ---------------------------------------------------------------------------
# MapReduce text input
# ---------------------------------------------------------------------------


def mr_vocabulary(seed: int, size: int = 50_000) -> list[str]:
    rng = np.random.default_rng([seed, 5])
    letters = np.array(list(string.ascii_lowercase))
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = int(rng.integers(2, 11))
        w = "".join(letters[rng.integers(0, 26, n)])
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def mr_text_files(out_dir: str, seed: int, n_files: int, lines_per_file: int) -> list[str]:
    """Zipf-distributed prose in the reference's input format: plain
    newline-delimited lines of words with commas, periods and quotes.
    Returns the file paths."""
    rng = np.random.default_rng([seed, 6])
    vocab = mr_vocabulary(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for f in range(n_files):
        lens = rng.integers(6, 19, lines_per_file)
        ranks = (rng.zipf(1.15, size=int(lens.sum())) - 1) % len(vocab)
        punct = rng.random(int(lens.sum()))
        lines = []
        pos = 0
        for n in lens.tolist():
            ws = []
            for k in range(pos, pos + n):
                w = vocab[ranks[k]]
                p = punct[k]
                if p < 0.06:
                    w += ","
                elif p < 0.09:
                    w += "."
                elif p < 0.10:
                    w = f'"{w}"'
                elif p < 0.11:
                    w = f"'{w}'"
                ws.append(w)
            pos += n
            lines.append(" ".join(ws))
        path = os.path.join(out_dir, f"input{f + 1}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        paths.append(path)
    return paths
