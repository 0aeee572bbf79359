"""Seeded input generators for the benchmark workloads.

Every input is a pure function of the benchmark's ``--seed``. Sizes are
fixed per workload; the seed changes content only, so runs with
different seeds do the same amount of work:

* document corpora come from ``sources.corpus.generate_doc`` and are
  written as parquet in the packaged job's input shape
  (``doc_id, spans_json, n_in_spans``, as ``corpus.docs_df`` emits);
* book-length documents are picked by span-count stratum, with a fixed
  number above the salting threshold, so every seed gets the same size
  profile and salts the same number of books;
* the query tables mirror the column shapes of the repository's TPC-H-like
  test tables (TESTDATA.md) plus ``documents``/``embeddings``/``events``;
* the dedup corpus is ``sources.corpus.adversarial_corpus`` with
  seed-relabelled doc ids and seed-renamed unique-doc tokens.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: generate_doc draws its first random number to decide whether a doc is
#: a 50-200-page book (1% of docs); peeking the same draw finds book
#: indices without generating the ~100x larger docs that are not picked
BOOK_RATE = 0.01
#: books are drawn one per span-count stratum of this many candidates
BOOK_STRATUM = 4
#: share of the drawn books above ``GIANT_THRESHOLD_SPANS``, about that of
#: the generator's books (268 of 700 at seed 42); fixed, so that every seed
#: salts the same number of books and the salt path costs the same
SALTED_BOOK_SHARE = 0.38
#: parquet files per document corpus (one scan task each)
CORPUS_FILES = 8


def _is_book(index: int, seed: int) -> bool:
    return random.Random((seed << 20) ^ index).random() < BOOK_RATE


def _stratified_books(seed: int, n_books: int) -> list[dict]:
    """``n_books`` book documents, ``round(SALTED_BOOK_SHARE * n_books)`` of
    them above ``GIANT_THRESHOLD_SPANS``. Each side is drawn one per
    span-count stratum of its candidates, the first book indices that give
    each side at least ``BOOK_STRATUM`` candidates per book."""
    from jochre3_ocr_spark.plans.pipeline import GIANT_THRESHOLD_SPANS
    from jochre3_ocr_spark.sources.corpus import generate_doc

    n_big = round(SALTED_BOOK_SHARE * n_books)
    small, big, i = [], [], 0
    while len(small) < BOOK_STRATUM * (n_books - n_big) or len(big) < BOOK_STRATUM * n_big:
        if _is_book(i, seed):
            d = generate_doc(i, seed)
            (big if len(d["spans"]) > GIANT_THRESHOLD_SPANS else small).append(d)
        i += 1
    rng = random.Random(seed)
    picked = []
    for pool, n in ((small, n_books - n_big), (big, n_big)):
        pool.sort(key=lambda d: len(d["spans"]))
        stratum = len(pool) // n if n else 0
        picked += [pool[k * stratum + rng.randrange(stratum)] for k in range(n)]
    return picked


def _normal_docs(seed: int, n_docs: int) -> list[dict]:
    from jochre3_ocr_spark.sources.corpus import generate_doc

    docs, i = [], 0
    while len(docs) < n_docs:
        if not _is_book(i, seed):
            docs.append(generate_doc(i, seed))
        i += 1
    return docs


def _write_docs(docs: list[dict], path: str) -> None:
    """Write ``docs`` as ``CORPUS_FILES`` parquet files of about equal span
    totals (largest doc first into the lightest file), doc-id order inside
    each file. Every seed then gets the same task-size profile, so the
    seed changes content and not which file straggles."""
    from jochre3_ocr_spark.plans.pipeline import _tuples_to_json

    os.makedirs(path)
    files: list[list[dict]] = [[] for _ in range(CORPUS_FILES)]
    load = [0] * CORPUS_FILES
    for d in sorted(docs, key=lambda d: (-len(d["spans"]), d["doc_id"])):
        f = load.index(min(load))
        files[f].append(d)
        load[f] += len(d["spans"])
    for f, part in enumerate(files):
        part.sort(key=lambda d: d["doc_id"])
        table = pa.table(
            {
                "doc_id": pa.array([d["doc_id"] for d in part], pa.string()),
                "spans_json": pa.array(
                    [_tuples_to_json(d["spans"]) for d in part], pa.string()
                ),
                "n_in_spans": pa.array(
                    [len(d["spans"]) for d in part], pa.int32()
                ),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def _doc_props(docs: list[dict], n_books: int) -> dict:
    from jochre3_ocr_spark.plans.pipeline import GIANT_THRESHOLD_SPANS

    spans = [len(d["spans"]) for d in docs]
    salted = sum(1 for n in spans if n > GIANT_THRESHOLD_SPANS)
    return {
        "docs": len(docs),
        "spans": sum(spans),
        "spans_per_doc": round(sum(spans) / len(docs), 1),
        "giant_share": round(n_books / len(docs), 4),
        "salted_share": round(salted / len(docs), 4),
        "salted_docs": salted,
    }


def write_corpus(path: str, seed: int, n_normal: int, n_books: int) -> tuple[list[dict], dict]:
    """Interleaved text + media corpus: ``n_normal`` 1-4-page docs plus
    ``n_books`` stratified 50-200-page docs. Returns (docs, properties)."""
    docs = _normal_docs(seed, n_normal) + (
        _stratified_books(seed, n_books) if n_books else []
    )
    _write_docs(docs, path)
    return docs, _doc_props(docs, n_books)


# ------------------------------------------------------ driver-query tables
#: the test tables' document vocabulary (TESTDATA.md): 30 equally likely words;
#: "the" and "a" are text_quality's stopwords
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _days(rng, start: str, n_days: int, size: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def write_driver_tables(path: str, seed: int, sf: float) -> dict:
    """The ten tables ``__spark_entry__`` registers, at scale ``sf``
    (lineitem = 6M x sf rows, documents = 50k x sf). Returns row counts."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_docs = int(6_000_000 * sf), int(50_000 * sf)
    n_emb, n_ev = int(20_000 * sf), int(1_000_000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["red", "blue", "hot", "large", "small", "green", "cold", "dark"], n_part),
                    rng.choice(["ring", "bolt", "nut", "gear", "pipe", "rod", "cap", "pin"], n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO", "MEDIUM"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", 2400, n_li),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    }

    # documents: 10-100 words from DOC_WORDS; 5% are a copy of an earlier
    # doc with " dup" appended (the near-duplicate rows the dedup queries find)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(DOC_WORDS, int(rng.integers(10, 101)))))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }

    os.makedirs(path)
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


# ------------------------------------------------------------ dedup corpus
def write_dedup_corpus(
    spark, path: str, seed: int, n_total: int, n_exact: int, n_near: int
) -> dict:
    """``adversarial_corpus`` with doc ids relabelled by a seeded affine
    permutation of the index and unique-doc tokens renamed per seed, so
    the closed-form cluster structure holds for every seed."""
    from pyspark.sql import functions as F

    from jochre3_ocr_spark.sources.corpus import adversarial_corpus

    rng = random.Random(seed)
    mult = rng.randrange(1, n_total)
    while np.gcd(mult, n_total) != 1:
        mult += 1
    shift = rng.randrange(n_total)
    tag = f"w{rng.randrange(10_000):04d}x"
    docs = adversarial_corpus(
        spark, n_total, n_exact, n_near,
        partitions=spark.sparkContext.defaultParallelism * 4,
    )
    index = F.substring("doc_id", 2, 7).cast("long")
    relabelled = docs.select(
        F.format_string("d%07d", (index * mult + shift) % n_total).alias("doc_id"),
        F.regexp_replace("text", r"\bw(\d)", tag + "$1").alias("text"),
    )
    relabelled.write.parquet(path)
    return {
        "docs": n_total,
        "exact_dup_docs": n_exact,
        "near_dup_docs": n_near,
        "unique_docs": n_total - n_exact - n_near,
        "expected_keep": n_total - (n_exact - 1) - (n_near - 1),
    }
