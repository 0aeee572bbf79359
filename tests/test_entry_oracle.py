"""Replicates the driver's correctness gate locally: run every
queries() entry on Spark and its oracle_sql() on DuckDB at sf0.001 and
compare row count, column names, and order-insensitive values.
scripts/oracle_sweep.py runs the same compare, with exact float repr,
at any scale factor."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def duck_connect(sf_dir: str = SF_DIR):
    """A DuckDB connection with a view over ``sf_dir`` per ``TABLES`` entry."""
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return f"{v:.9g}"
    return str(v)


def _norm_rows(cols, rows, norm_cell=_norm_cell):
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(
        tuple(norm_cell(r[i]) for i in order) for r in rows
    )
    return sorted(cols), out


def mismatch(name, sdf, ddf, norm_cell=_norm_cell):
    """Why the Spark result ``sdf`` differs from the DuckDB result
    ``ddf`` (a pandas frame) under ``norm_cell``, or None if it does not."""
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    drows = [tuple(r) for r in ddf.itertuples(index=False)]
    dcols = list(ddf.columns)

    if len(srows) != len(drows):
        return f"{name}: row count {len(srows)} != {len(drows)}"

    # dtype-kind parity: a DuckDB HUGEINT (sum of INTEGER) surfaces as
    # float64 in pandas and hash-mismatches the driver even when values
    # are equal (round-1 artifact on token_stats/sessions) — cast to
    # BIGINT in the oracle SQL when this fires.
    spark_types = dict(sdf.dtypes)
    for c in dcols:
        dk = ddf[c].dtype.kind
        sk = spark_types.get(c, "?")
        s_int = sk in ("bigint", "int", "smallint", "tinyint")
        s_float = sk in ("double", "float")
        if (dk == "f" and s_int) or (dk == "i" and s_float):
            return (
                f"{name}.{c}: spark dtype {sk} vs duckdb pandas kind {dk} — "
                f"add an explicit CAST in the oracle SQL"
            )

    s_cols, s_norm = _norm_rows(scols, srows, norm_cell)
    d_cols, d_norm = _norm_rows(dcols, drows, norm_cell)
    if s_cols != d_cols:
        return f"{name}: columns {s_cols} != {d_cols}"
    mism = [i for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b]
    if mism:
        return (
            f"{name}: {len(mism)} mismatched rows; first: "
            f"{s_norm[mism[0]]} != {d_norm[mism[0]]}"
        )
    return None


QUERY_NAMES = sorted(set(entry_mod.oracle_sql()) & set(entry_mod.queries()))


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, name):
    sdf = entry_mod.queries()[name](spark, SF_DIR)
    ddf = duck_connect().execute(entry_mod.oracle_sql()[name]).fetch_df()
    msg = mismatch(name, sdf, ddf)
    assert msg is None, msg


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_rows_only_queries(spark):
    only_rows = set(entry_mod.queries()) - set(entry_mod.oracle_sql())
    for name in only_rows:
        df = entry_mod.queries()[name](spark, SF_DIR)
        assert df.count() > 0, name


def test_eval_bow_cosine_is_textbook_cosine(spark):
    """bow_cosine is dot(p, g) / (|p| · |g|) over the token counts of
    each (pred, gold) pair — checked on a few rows against Python."""
    from collections import Counter

    import pyarrow.parquet as pq

    docs = pq.read_table(
        f"{SF_DIR}/documents.parquet", columns=["doc_id", "text"]
    ).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    got = (
        entry_mod.queries()["eval_text_metrics"](spark, SF_DIR)
        .orderBy("doc_id")
        .limit(8)
        .collect()
    )
    assert len(got) == 8
    for row in got:
        p = Counter(t for t in text[row.doc_id].split(" ") if t)
        g = Counter(t for t in text[row.doc_id + 1].split(" ") if t)
        dot = sum(c * g[t] for t, c in p.items())
        norms = math.sqrt(sum(c * c for c in p.values())) * math.sqrt(
            sum(c * c for c in g.values())
        )
        assert abs(row.bow_cosine - dot / norms) <= 5.1e-5, row
