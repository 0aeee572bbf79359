"""The benchmark's workloads. Each one prepares its seeded input untimed,
runs one measured repetition per ``rep`` call and checks outputs after
the timed section. A failed check counts failed operations; it never
raises.

``rep`` opens the traced spans of one repetition through
``bench.tracer``; a disabled tracer makes them free.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import random
import time

from pyspark.sql import functions as F

import inputs


class Workload:
    name: str
    #: measured repetitions a run makes at least
    min_reps = 2

    def warm(self, bench, out: str) -> None:
        """One untimed repetition."""
        self.rep(bench, out)

    def wrap_layers(self, bench) -> None:
        """Traced runs only: extra span boundaries inside the program."""

    def layer_metrics(self, bench, out: str) -> dict:
        """Traced runs only: this workload's own per-layer metrics, given
        the output directory of a traced repetition."""
        return {}


# ------------------------------------------------------------- extraction
class Extraction(Workload):
    """``plans.pipeline.run_job`` (fresh output, partition metrics on) over
    a seeded parquet corpus."""

    #: a repetition is ~4-8 s; the median of three outvotes one slowed by the host
    min_reps = 3
    check_sample = 24
    #: input spans the driver-side kernel timing covers
    kernel_sample_spans = 60_000

    def __init__(self, name: str, n_normal: int, n_books: int):
        self.name = name
        self.n_normal = n_normal
        self.n_books = n_books

    def prepare(self, bench) -> dict:
        self.input = os.path.join(bench.work, "input")
        self.docs, props = inputs.write_corpus(
            self.input, bench.seed, self.n_normal, self.n_books
        )
        return props

    def rep(self, bench, out: str) -> int:
        from jochre3_ocr_spark.plans import pipeline

        tracer = bench.tracer
        with tracer.span("pipeline.run_job"):
            tracer.phase("pipeline.resume")
            n = pipeline.run_job(
                bench.spark,
                self.input,
                os.path.join(out, "docs"),
                bench.lexicon_words,
                metrics_path=os.path.join(out, "metrics"),
            )
        return n

    def wrap_layers(self, bench) -> None:
        """Mark run_job's phases at the module functions
        it calls, so plan construction, the write action and the metrics
        epilogue get their own spans and job groups."""
        from jochre3_ocr_spark.plans import pipeline

        tracer = bench.tracer
        extract = pipeline.extract_with_salting
        write_metrics = pipeline.write_partition_metrics

        def traced_extract(*args, **kwargs):
            tracer.phase("pipeline.plan")
            out = extract(*args, **kwargs)
            tracer.phase("pipeline.action")
            return out

        def traced_write_metrics(*args, **kwargs):
            tracer.phase("pipeline.epilogue")
            return write_metrics(*args, **kwargs)

        pipeline.extract_with_salting = traced_extract
        pipeline.write_partition_metrics = traced_write_metrics

    def check(self, bench, outs: list[str]) -> tuple[int, int, dict]:
        """Per repetition: one row per input doc, distinct doc ids, no
        error rows; on a seeded sample (salted books included) spans,
        text and processed_text equal ``kernel.process_document``."""
        from jochre3_ocr_spark.functions.lexicon import Lexicon
        from jochre3_ocr_spark.operators.kernel import process_document
        from jochre3_ocr_spark.plans.pipeline import GIANT_THRESHOLD_SPANS

        spark = bench.spark
        n_in = len(self.docs)
        attempted = failed = 0
        detail = {}
        for out in outs:
            row = (
                spark.read.parquet(os.path.join(out, "docs"))
                .agg(
                    F.count("*").alias("rows"),
                    F.countDistinct("doc_id").alias("ids"),
                    F.sum((F.col("status") != "ok").cast("int")).alias("errors"),
                )
                .first()
            )
            bad = abs(row["rows"] - n_in) + (row["rows"] - row["ids"]) + (row["errors"] or 0)
            attempted += n_in
            failed += min(n_in, bad)
            detail = {"rows": row["rows"], "distinct": row["ids"], "errors": row["errors"] or 0}

        rng = random.Random(bench.seed)
        big = [d for d in self.docs if len(d["spans"]) > GIANT_THRESHOLD_SPANS]
        sample = {d["doc_id"]: d for d in rng.sample(big, min(len(big), 4))}
        for d in rng.sample(self.docs, self.check_sample):
            sample.setdefault(d["doc_id"], d)
        got = {
            r["doc_id"]: r
            for r in spark.read.parquet(os.path.join(outs[-1], "docs"))
            .where(F.col("doc_id").isin(list(sample)))
            .select("doc_id", "spans_json", "text", "processed_text")
            .collect()
        }
        lex = Lexicon.from_words(bench.lexicon_words)
        mismatched = 0
        for doc_id, d in sample.items():
            exp = process_document(doc_id, d["spans"], lex)
            g = got.get(doc_id)
            if (
                g is None
                or [tuple(s[k] for k in ("kind", "text", "media_ref", "offset"))
                    for s in json.loads(g["spans_json"])]
                != [tuple(s) for s in exp["spans"]]
                or g["text"] != exp["text"]
                or g["processed_text"] != exp["processed_text"]
            ):
                mismatched += 1
        detail["sample_docs"] = len(sample)
        detail["sample_mismatches"] = mismatched
        return attempted, failed + mismatched, detail

    def layer_metrics(self, bench, out: str) -> dict:
        """Per-stage kernel cost, timed in the driver on a seeded sample of
        this workload's own docs: parse, guess, ALTO rules, flatten, plus
        the JSON span codec both ways, in microseconds per input span; and
        the kernel seconds one repetition's docs cost at that rate."""
        from jochre3_ocr_spark.functions.lexicon import Lexicon
        from jochre3_ocr_spark.operators import alto_rules
        from jochre3_ocr_spark.operators.guesser import guess_document, identity_topk
        from jochre3_ocr_spark.operators.spantree import flatten, parse_spans
        from jochre3_ocr_spark.plans.pipeline import _spans_json_to_tuples, _tuples_to_json
        from jochre3_ocr_spark.schema import PipelineConfig

        rng = random.Random(bench.seed + 1)
        docs = rng.sample(self.docs, len(self.docs))
        lex = Lexicon.from_words(bench.lexicon_words)
        cfg = PipelineConfig()
        t = dict.fromkeys(("parse", "guess", "rules", "flatten", "codec"), 0.0)
        spans_total = 0
        clock = time.perf_counter
        for d in docs:
            if spans_total >= self.kernel_sample_spans:
                break
            spans_total += len(d["spans"])
            encoded = _tuples_to_json(d["spans"])
            t0 = clock()
            spans = _spans_json_to_tuples(encoded)
            t1 = clock()
            doc = parse_spans(d["doc_id"], spans)
            t2 = clock()
            guess_document(doc, lex, cfg, identity_topk)
            t3 = clock()
            alto_rules.simplify_contents(doc)
            if cfg.add_hyphen_element:
                alto_rules.add_hyphen_rule(doc)
            alto_rules.punctuation_split_rule(doc)
            alto_rules.reverse_number_rule(doc)
            if cfg.remove_glyphs:
                alto_rules.glyph_remover(doc)
            alto_rules.add_alternatives_rule(doc, lex)
            t4 = clock()
            out = flatten(doc, remove_glyphs=cfg.remove_glyphs)
            t5 = clock()
            _tuples_to_json(out)
            t6 = clock()
            t["codec"] += (t1 - t0) + (t6 - t5)
            t["parse"] += t2 - t1
            t["guess"] += t3 - t2
            t["rules"] += t4 - t3
            t["flatten"] += t5 - t4
        per_span = {k: v / spans_total * 1e6 for k, v in t.items()}
        corpus_spans = sum(len(d["spans"]) for d in self.docs)
        return {
            **{f"kernel.{k}_us_per_span": v for k, v in per_span.items()},
            "kernel_s_per_rep": sum(per_span.values()) * corpus_spans / 1e6,
        }


# -------------------------------------------------------- driver queries
HEADLINE = (
    "extract_yiddish_corpus",
    "extract_processed_text",
    "extract_span_stats",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q_window_top_lineitems",
    "dedup_minhash_signature",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_cosine_topk",
    "text_quality",
)


def _norm_cell(v):
    # as tests/test_entry_oracle.py normalises Spark and DuckDB cells
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0
        return f"{v:.9g}"
    return str(v)


def _norm_rows(cols, rows):
    cols = list(cols)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _last_place(v: float) -> float:
    """One unit in the last decimal place ``repr`` shows."""
    text = repr(v)
    if "e" in text or "." not in text:
        return abs(v) * 1e-15
    return 10.0 ** -len(text.split(".")[1])


def _rounding_flips(cols, rows, dcols, drows) -> int | None:
    """Cells where the two engines' results differ by one unit in the
    column's last rounded place, every other cell equal: a sum of doubles,
    accumulated in another order, landing on the other side of a
    ``round(x, n)`` boundary. None when the results differ otherwise."""
    if sorted(cols) != sorted(dcols) or len(rows) != len(drows):
        return None
    names = sorted(cols)
    rows = [tuple(r[cols.index(c)] for c in names) for r in rows]
    drows = [tuple(r[dcols.index(c)] for c in names) for r in drows]
    key = lambda r: tuple(_norm_cell(v) for v in r if not isinstance(v, float))  # noqa: E731
    rows, drows = sorted(rows, key=key), sorted(drows, key=key)
    # the finest decimal place a column shows is the place it was rounded to
    unit = [
        min((_last_place(r[i]) for r in rows + drows if isinstance(r[i], float)), default=0.0)
        for i in range(len(names))
    ]
    flips = 0
    for a, b in zip(rows, drows):
        for i, (x, y) in enumerate(zip(a, b)):
            if _norm_cell(x) == _norm_cell(y):
                continue
            if not (isinstance(x, float) and isinstance(y, float)):
                return None
            if abs(x - y) > unit[i] * (1 + 1e-6):
                return None
            flips += 1
    return flips


class DriverQueries(Workload):
    """The 11 ``bench.py`` headline ``queries()``, one pass per rep, each
    query's result written to the noop sink as ``bench.py`` does."""

    name = "driver_queries"
    #: the first measured pass still runs ~15% slower than later ones; with
    #: three passes the median skips it however many passes fit in
    #: ``--seconds``
    min_reps = 3

    def __init__(self, sf: float):
        self.sf = sf

    def prepare(self, bench) -> dict:
        self.sf_dir = os.path.join(bench.work, "tables")
        rows = inputs.write_driver_tables(self.sf_dir, bench.seed, self.sf)
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.tables = __spark_entry__.TABLES
        return {"sf": self.sf, "docs": rows["documents"], "rows": rows}

    def rep(self, bench, out: str) -> int:
        tracer = bench.tracer
        for q in HEADLINE:
            with tracer.span(f"queries.{q}"):
                tracer.phase("pipeline.plan")
                df = self.queries[q](bench.spark, self.sf_dir)
                tracer.phase("spark.action")
                df.write.format("noop").mode("overwrite").save()
        return len(HEADLINE)

    def warm(self, bench, out: str) -> None:
        """The untimed warm pass collects every result for the check."""
        self.results = {}
        for q in HEADLINE:
            df = self.queries[q](bench.spark, self.sf_dir)
            self.results[q] = (df.columns, [tuple(r) for r in df.collect()])

    def check(self, bench, outs: list[str]) -> tuple[int, int, dict]:
        """Each query's warm-pass result equals its ``oracle_sql()`` DuckDB
        twin under the normalisation of ``tests/test_entry_oracle.py``,
        except for rounding flips (see ``_rounding_flips``), which are
        reported and not failed. The measured passes run the same
        deterministic queries, so a query that mismatches counts as failed
        in the warm pass and in every measured pass."""
        import duckdb

        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        bad, flipped = [], {}
        for q in HEADLINE:
            cols, rows = self.results[q]
            ddf = con.execute(self.oracles[q]).fetch_df()
            drows = [tuple(r) for r in ddf.itertuples(index=False)]
            if rows and _norm_rows(cols, rows) == _norm_rows(ddf.columns, drows):
                continue
            flips = _rounding_flips(cols, rows, list(ddf.columns), drows) if rows else None
            if flips is None:
                bad.append(q)
            else:
                flipped[q] = flips
        con.close()
        passes = 1 + len(outs)
        detail = {"mismatched": bad, "rounding_flips": flipped}
        return len(HEADLINE) * passes, len(bad) * passes, detail


# ------------------------------------------------------------ corpus dedup
class CorpusDedup(Workload):
    """``operators.dedup.dedup_corpus`` over the adversarial corpus, the
    verdicts written to parquet."""

    name = "corpus_dedup"
    min_reps = 3

    def __init__(self, n_total: int, n_exact: int, n_near: int):
        self.n_total, self.n_exact, self.n_near = n_total, n_exact, n_near

    def prepare(self, bench) -> dict:
        self.input = os.path.join(bench.work, "corpus")
        self.props = inputs.write_dedup_corpus(
            bench.spark, self.input, bench.seed, self.n_total, self.n_exact, self.n_near
        )
        return self.props

    def rep(self, bench, out: str) -> int:
        from jochre3_ocr_spark.operators.dedup import dedup_corpus

        tracer = bench.tracer
        with tracer.span("dedup.dedup_corpus"):
            tracer.phase("sources.read")
            docs = bench.spark.read.parquet(self.input)
            tracer.phase("pipeline.plan")
            verdicts = dedup_corpus(docs)
            tracer.phase("spark.action")
            verdicts.write.parquet(os.path.join(out, "verdicts"))
        return self.n_total

    def check(self, bench, outs: list[str]) -> tuple[int, int, dict]:
        """Closed form: one verdict per doc, keep count
        n_total - (n_exact - 1) - (n_near - 1), exactly two clusters
        larger than 2, of sizes n_exact and n_near."""
        attempted = failed = 0
        detail = {}
        for out in outs:
            v = bench.spark.read.parquet(os.path.join(out, "verdicts"))
            row = v.agg(
                F.count("*").alias("rows"),
                F.countDistinct("doc_id").alias("ids"),
                F.sum(F.col("keep").cast("int")).alias("keeps"),
            ).first()
            big = sorted(
                r["n"]
                for r in v.groupBy("cluster_id").agg(F.count("*").alias("n"))
                .where("n > 2").collect()
            )
            keep_err = abs(row["keeps"] - self.props["expected_keep"])
            cluster_err = sum(
                abs(a - b)
                for a, b in itertools.zip_longest(
                    big, sorted([self.n_exact, self.n_near]), fillvalue=0
                )
            )
            bad = abs(row["rows"] - self.n_total) + (row["rows"] - row["ids"]) + keep_err + cluster_err
            attempted += self.n_total
            failed += min(self.n_total, bad)
            detail = {"rows": row["rows"], "keeps": row["keeps"], "big_clusters": big}
        return attempted, failed, detail

    def layer_metrics(self, bench, out: str) -> dict:
        """Representatives after the exact collapse,
        LSH candidate pairs over them, and the share of those pairs whose
        two docs end in the same final cluster."""
        from jochre3_ocr_spark.operators.dedup import minhash_lsh_candidates

        spark = bench.spark
        docs = spark.read.parquet(self.input)
        reps = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        n_reps = reps.count()
        pairs = minhash_lsh_candidates(reps.select("doc_id", "text"), "doc_id", "text")
        pairs = pairs.select("doc1", "doc2").persist()
        n_pairs = pairs.count()
        clusters = spark.read.parquet(os.path.join(out, "verdicts")).select("doc_id", "cluster_id")
        useful = (
            pairs.join(clusters.withColumnRenamed("doc_id", "doc1").withColumnRenamed("cluster_id", "c1"), "doc1")
            .join(clusters.withColumnRenamed("doc_id", "doc2").withColumnRenamed("cluster_id", "c2"), "doc2")
            .where("c1 = c2")
            .count()
        )
        pairs.unpersist()
        return {
            "dedup.reps": n_reps,
            "dedup.candidate_pairs": n_pairs,
            "dedup.useful_pair_frac": useful / n_pairs if n_pairs else 0.0,
        }


def all_workloads() -> dict:
    return {
        w.name: w
        for w in (
            Extraction("corpus_extract", n_normal=1000, n_books=10),
            Extraction("books_salted", n_normal=0, n_books=40),
            DriverQueries(sf=0.005),
            CorpusDedup(n_total=6_000, n_exact=600, n_near=150),
        )
    }
