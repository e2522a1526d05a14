"""Seeded input generators and their independent models.

Every input the benchmark hands to the engine is made here from one
``numpy.random.Generator``; the engine sees only the files written.
The same seed always yields the same bytes. The model functions
(``*_model``) recompute, without any codec code, what a lossless decode
of the program's encoders must return, so the media check does not
trust the encoder it is checking.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
BRANDS = [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)]


def write_parquet(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def star_schema(rng: np.random.Generator, out_dir: str, scale: float) -> dict:
    """TPC-H-shaped star schema (no timestamp columns) at ``scale``
    (1.0 = 6M lineitems). Returns {table: row count}."""
    n_cust = max(60, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(80, int(200_000 * scale))
    n_ord = max(300, int(1_500_000 * scale))
    nations = [f"NATION{i:02d}" for i in range(25)]
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": REGIONS,
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": nations,
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
        "part": {
            "p_partkey": np.arange(1, n_part + 1, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(1, n_part + 1)],
            "p_brand": rng.choice(BRANDS, n_part),
            "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(rng.uniform(900.0, 2100.0, n_part), 2),
        },
    }
    okeys = np.arange(1, n_ord + 1, dtype=np.int64) * 4
    tables["orders"] = {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n_ord), 2),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)
    tables["lineitem"] = {
        "l_orderkey": np.repeat(okeys, per_order),
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": np.concatenate(
            [np.arange(1, k + 1) for k in per_order]
        ).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
    }
    for name, cols in tables.items():
        write_parquet(f"{out_dir}/{name}.parquet", cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}


# ---- documents --------------------------------------------------------

# stopwords common to every English list, the Gopher rules' included
STOPWORDS = ["the", "and", "of", "to"]
# content words long enough to keep mean word length inside the gate
_SYLLABLES = ["ka", "lo", "mer", "tin", "sal", "ve", "dor", "pru", "qua", "zen",
              "fi", "ro", "bal", "te", "nu", "gos", "hy", "wex", "ja", "cor"]


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(_SYLLABLES, k)))
    return np.array(sorted(words))


def documents(rng: np.random.Generator, out_dir: str, n_docs: int) -> dict:
    """Raw documents with planted structure for each funnel stage:
    ~5 % too short for the quality gate, ~8 % exact copies, ~12 %
    near-copies (a few words swapped), and an eval set whose passages
    are copied into ~3 % of the documents. Writes ``documents.parquet``
    and ``eval.parquet``.

    Every word is alphabetic, 2 to 9 letters long, and every document
    holds at least six stopwords, so the Gopher quality gate keeps
    exactly the documents of 50 words or more. Returns the funnel
    counts that follow from that: {"quality_gate": n, "exact_dedup": n}."""
    vocab = _vocab(rng, 600)

    def fresh(n_words: int) -> list[str]:
        words = list(rng.choice(vocab, n_words))
        for pos in rng.choice(n_words, 6, replace=False):
            words[pos] = str(rng.choice(STOPWORDS))
        return words

    # copies are only ever made of originals, so every duplicate family
    # is a star of diameter <= 2 and the near-dedup connected components
    # converge in the same number of rounds for every seed
    texts: list[list[str]] = []
    originals: list[int] = []
    for _ in range(n_docs):
        r = rng.random()
        if r < 0.05:
            texts.append(fresh(int(rng.integers(10, 40))))
        elif r < 0.13 and originals:
            texts.append(list(texts[int(rng.choice(originals))]))
        elif r < 0.25 and originals:
            src = list(texts[int(rng.choice(originals))])
            for pos in rng.choice(len(src), 3, replace=False):
                src[pos] = str(rng.choice(vocab))
            texts.append(src)
        else:
            originals.append(len(texts))
            texts.append(fresh(int(rng.integers(60, 240))))
    n_eval = max(2, n_docs // 100)
    eval_texts = [" ".join(fresh(20)) for _ in range(n_eval)]
    for i in rng.choice(n_docs, 3 * n_eval, replace=False):
        passage = eval_texts[int(rng.integers(0, n_eval))].split(" ")
        at = int(rng.integers(0, len(texts[i]) + 1))
        texts[i] = texts[i][:at] + passage + texts[i][at:]
    ids = rng.permutation(np.arange(n_docs, dtype=np.int64) * 3 + 1)
    write_parquet(
        f"{out_dir}/documents.parquet",
        {"doc_id": ids, "text": [" ".join(t) for t in texts]},
    )
    write_parquet(
        f"{out_dir}/eval.parquet",
        {"doc_id": np.arange(n_eval, dtype=np.int64), "text": eval_texts},
    )
    kept = [" ".join(t) for t in texts if len(t) >= 50]
    return {"quality_gate": len(kept), "exact_dedup": len(set(kept))}


# ---- versioned upserts ------------------------------------------------

def orders(rng: np.random.Generator, path: str, n: int) -> np.ndarray:
    """The versioned table's initial rows; returns their keys."""
    cols = {
        "o_orderkey": np.arange(1, n + 1, dtype=np.int64) * 4,
        "o_custkey": rng.integers(1, 10_000, n).astype(np.int64),
        "o_orderstatus": rng.choice(STATUSES, n),
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }
    write_parquet(path, cols)
    return cols["o_orderkey"]


def upsert_batch(
    rng: np.random.Generator, live_keys: np.ndarray, next_key: int, n: int
) -> tuple[dict, int]:
    """One change batch over the orders schema: ~60 % updates of live
    keys, ~20 % deletes (``o_orderstatus = 'D'`` marks a delete) and
    ~20 % inserts of new keys. Returns (columns, next unused key)."""
    n_upd = int(n * 0.6)
    n_del = int(n * 0.2)
    n_ins = n - n_upd - n_del
    old = rng.choice(live_keys, n_upd + n_del, replace=False)
    new = np.arange(next_key, next_key + n_ins, dtype=np.int64) * 4 + 2
    keys = np.concatenate([old, new]).astype(np.int64)
    status = np.array(
        list(rng.choice(STATUSES, n_upd)) + ["D"] * n_del
        + list(rng.choice(STATUSES, n_ins))
    )
    cols = {
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, 10_000, n).astype(np.int64),
        "o_orderstatus": status,
        "o_totalprice": np.round(rng.uniform(850.0, 550_000.0, n), 2),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }
    return cols, next_key + n_ins


# ---- media --------------------------------------------------------------

def media_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    return np.sort(rng.choice(1 << 40, n, replace=False)).astype(np.int64)


def _sha(key: str) -> bytes:
    return hashlib.sha256(key.encode()).digest()


def png_model(d: int) -> bytes:
    """Decoded 8-bit grey pixels: row i = sha256('d:r{i}')[:W]."""
    w, h = 16 + (d % 4) * 4, 12 + (d % 3) * 6
    return b"".join(_sha(f"{d}:r{i}")[:w] for i in range(h))


def gif_model(d: int) -> bytes:
    """Decoded RGB pixels: each grey palette index tripled."""
    w, h = 16 + (d % 4) * 4, 12 + (d % 3) * 6
    grey = np.frombuffer(
        b"".join(_sha(f"{d}:g{i}")[:w] for i in range(h)), dtype=np.uint8
    )
    return np.repeat(grey, 3).tobytes()


def flac_model(d: int) -> bytes:
    """Decoded mono int16 LE samples: block j = sha256('d:a{j}')."""
    return b"".join(_sha(f"{d}:a{j}") for j in range(6 + d % 4))


def jpeg_model(d: int) -> bytes:
    """Quantized zigzag coefficients (int16 LE) of the grey baseline
    stream: block b from sha256('d:j{b}'), DC = byte0 % 32 - 16, AC k
    = byte((7k+3) % 32) % 15 - 7 where (byte(k % 32) + k) % 5 == 0."""
    out = []
    for b in range((1 + d % 2) * (1 + d % 3)):
        dig = _sha(f"{d}:j{b}")
        co = [0] * 64
        co[0] = dig[0] % 32 - 16
        for k in range(1, 64):
            if (dig[k % 32] + k) % 5 == 0:
                co[k] = dig[(k * 7 + 3) % 32] % 15 - 7
        out.append(np.array(co, dtype="<i2").tobytes())
    return b"".join(out)


MEDIA_MODELS = {
    "png": png_model,
    "jpeg": jpeg_model,
    "gif": gif_model,
    "flac": flac_model,
}
