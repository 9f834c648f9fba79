"""The workloads: their inputs, warm-up, timed call and correctness check.

A timed call is what a user of the system runs once per batch:

* fresh_articles — ``goose_spark.job.run_job_df`` over a first crawl, from
  the page scan until extracted rows, METRICS and checkpoint are written;
* neardup_corpus — the five near-duplicate probes of
  ``__spark_entry__.queries()``, each forced to full evaluation by an
  aggregate over all its output columns.

Each call returns the docs it attempted and how many of them were wrong,
missing, duplicated or timed out (or every doc, when the call raised).
"""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import math
import numbers
import os
import shutil
import statistics
import sys
import time
import uuid

import pandas as pd
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen
import tracing

# Input sizes per timed call: one call of each takes 6-8 s on local[4].
FRESH_DOCS = 600
NEARDUP_DOCS, NEARDUP_VECS, NEARDUP_BLOCK = 400, 320, 120
NEARDUP_WARMUP = (100, 80, 30)  # docs, vectors, block of its warm-up corpus
CALIBRATION_DOCS = 24
REPLAY_DOCS = 250  # pages replayed single-core by a traced fresh_articles run
WARMUP_SEED = "warmup"  # inputs of the untimed warm-up batch

# probe → (module, the oracle_sql() entry it is checked against). The
# oracle texts are read from their modules: oracle_sql() itself also
# renders oracles that read the repo's fixture directory.
NEARDUP_QUERIES = {
    "q_minhash_pairs": ("goose_spark.textops", "ORACLE_MINHASH_PAIRS"),
    "q_simhash_pairs": ("goose_spark.textops", "ORACLE_SIMHASH_PAIRS"),
    "q_ngram_jaccard": ("goose_spark.textops", "ORACLE_NGRAM_JACCARD"),
    "q_semdedup": ("goose_spark.ann", "ORACLE_SEMDEDUP"),
    "q_embed_neardup": ("goose_spark.ann", "ORACLE_EMBED_NEARDUP"),
}


@dataclasses.dataclass
class Call:
    """Outcome of one timed call: the docs (and input MB) it processed, the
    docs or pairs it checked and how many of them were wrong."""

    docs: int
    mb: float
    attempted: int
    failed: int
    out: str | None = None  # output root to remove after the call
    queries: dict = dataclasses.field(default_factory=dict)  # probe → s, rows


def calibration_pages(cache: str) -> pd.DataFrame:
    """The fixed, seed-free page set of the single-core calibration."""
    built = gen.cached(cache, "calibration", lambda w: (
        gen.build_fresh_articles(w, "calibration", CALIBRATION_DOCS)))
    return pq.read_table(built["pages"]).to_pandas()


def calibrate(pages: pd.DataFrame, passes: int = 3) -> float:
    """Single-core extract_one docs/s over the calibration pages (median
    of `passes` passes)."""
    from gooselite import extract_one

    rows = list(zip(pages["html"], pages["lang"], pages["url"]))
    rates = []
    for _ in range(passes):
        t = time.perf_counter()
        for html, lang, url in rows:
            extract_one(html, None if pd.isna(lang) else lang, url)
        rates.append(len(rows) / (time.perf_counter() - t))
    return statistics.median(rates)


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ---------------------------------------------------------- fresh_articles
class FreshArticles:
    name = "fresh_articles"

    def __init__(self, cache: str, seed):
        self.cache = cache
        self.inputs = gen.cached(
            cache, f"{self.name}-{seed}",
            lambda w: gen.build_fresh_articles(w, seed, FRESH_DOCS))
        pages = pq.read_table(self.inputs["pages"], columns=["url", "html"])
        self.n_rows = pages.num_rows
        self.mb = sum(len(h) for h in pages["html"].to_pylist() if h) / 2**20
        self.expected = pq.read_table(
            self.inputs["expected"],
            columns=["url", "expected_text", "expected_title",
                     "expected_status"]).to_pandas().set_index("url")

    @classmethod
    def warmup(cls, spark, cache: str) -> None:
        """The untimed first batch: a seed-free input of the timed size."""
        from goose_spark import job as J

        pages = cls(cache, WARMUP_SEED).inputs["pages"]
        out = os.path.join(cache, "warmup-out")
        shutil.rmtree(out, ignore_errors=True)
        J.run_job_df(spark, J.read_pages(spark, pages), out, "warmup")
        shutil.rmtree(out, ignore_errors=True)

    def prepare(self, spark) -> None:
        """Nothing to do: the goldens come with the pages."""

    def call(self, spark, timer, tracer=None) -> Call:
        """One run_job_df batch into a fresh output root (empty
        checkpoint), then the check of what it wrote. The caller removes
        the root, detail["out"]."""
        from goose_spark import job as J

        out = os.path.join(self.cache, f"out-{uuid.uuid4().hex[:8]}")
        n = len(self.expected)
        try:
            with timer, _span(tracer, "goose_spark.job.run_job_df"):
                J.run_job_df(spark, J.read_pages(spark, self.inputs["pages"]),
                             out, "bench")
            failed = verify_fresh(out, self.expected)
        except Exception as exc:  # a failed action fails every doc
            print(f"perfbench: run_job_df failed: {exc!r}", file=sys.stderr)
            failed = n
        return Call(n, self.mb, n, failed, out=out)

    def layers(self, spark, tracer, call: Call, traced, untraced,
               nproc: int) -> dict:
        """Per-layer metrics: job phase times and counts, the gooselite
        stage replay and the udf pass. `traced` / `untraced` time the
        traced call and an untraced one of the same run."""
        from goose_spark import job as J

        out = call.out
        m = {}
        files = written = 0
        for sub in ("extracted", "metrics", "checkpoint"):
            f, b = _dir_stats(os.path.join(out, sub))
            files, written = files + f, written + b
        m["goose_spark.job.files_written"] = files
        m["goose_spark.job.bytes_written"] = written
        m["goose_spark.job.checkpoint_bytes"] = _dir_stats(
            os.path.join(out, "checkpoint"))[1]
        m["goose_spark.job.rows_committed"] = pq.read_table(
            os.path.join(out, "checkpoint"), columns=["url"]).num_rows

        path = self.inputs["pages"]
        for phase, build in (
                ("scan", lambda: J.read_pages(spark, path)),
                ("prepare", lambda: J.prepare(J.read_pages(spark, path))),
                ("extract", lambda: J.extract(J.prepare(J.read_pages(spark, path))))):
            with tracer.span(f"goose_spark.job.{phase}") as s:
                build().write.format("noop").mode("overwrite").save()
            m[f"goose_spark.job.{phase}_s"] = s["end"] - s["start"]
        m["goose_spark.job.commit_s"] = traced.wall_s - m["goose_spark.job.extract_s"]
        m["goose_spark.job.rows_scanned"] = self.n_rows
        m["goose_spark.job.rows_after_dedupe"] = J.dedupe_latest(
            J.read_pages(spark, path)).count()
        m["goose_spark.job.rows_after_resume"] = J.prepare(
            J.read_pages(spark, path)).count()

        pages = pq.read_table(path).to_pandas()
        sample = pages.iloc[::max(1, math.ceil(len(pages) / REPLAY_DOCS))]
        m.update(tracing.gooselite_pass(tracer, sample))
        m.update(tracing.udf_pass(tracer, sample, 4 * nproc,
                                  int(J.ARROW_MAX_RECORDS)))
        m["goose_spark.job.parallel_efficiency"] = (
            call.docs / untraced.wall_s
            / (nproc * m["gooselite.pipeline.docs_per_s_1core"]))
        return m


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all files) under path."""
    files = bytes_ = 0
    for root, _, names in os.walk(path):
        for n in names:
            bytes_ += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return files, bytes_


def _read_dir(path: str, columns: list[str]) -> pd.DataFrame:
    if not os.path.isdir(path):
        return pd.DataFrame(columns=columns)
    return (pads.dataset(path, format="parquet", partitioning="hive")
            .to_table(columns=columns).to_pandas())


def verify_fresh(out: str, expected: pd.DataFrame) -> int:
    """Wrong, missing and extra docs of one run_job_df output, plus every
    row METRICS or the checkpoint miscounts.

    `expected` is indexed by url with expected_text / expected_title /
    expected_status columns (the goldens of goose_spark.fixtures)."""
    got = _read_dir(os.path.join(out, "extracted"),
                    ["url", "cleaned_text", "title", "status"])
    counts = got["url"].value_counts()
    failed = int((counts - 1).sum())                    # duplicates
    failed += int((~counts.index.isin(expected.index)).sum())  # extras
    got = got.drop_duplicates("url").set_index("url")
    joined = expected.join(got, how="left")
    ok = ((joined["cleaned_text"] == joined["expected_text"])
          & (joined["title"] == joined["expected_title"])
          & (joined["status"] == joined["expected_status"]))
    failed += int((~ok).sum())                           # wrong or missing
    n = int(counts.sum())
    docs_in = _read_dir(os.path.join(out, "metrics"), ["docs_in"])["docs_in"]
    ckpt = _read_dir(os.path.join(out, "checkpoint"), ["url"])["url"]
    failed += abs(int(docs_in.sum()) - n)
    failed += abs(len(ckpt) - n) + int(len(ckpt) - ckpt.nunique())
    return failed


# ---------------------------------------------------------- neardup_corpus
def checksum(df):
    """(rows, sum of 40-bit row hashes, xor of row hashes) over every output
    column, cast to string so engines with different numeric types agree.
    Being an aggregate over all columns, it forces full evaluation."""
    from pyspark.sql import functions as F

    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\u0000"))
            for c in sorted(df.columns)]
    h = F.xxhash64(*cols)
    r = (df.select(h.alias("h"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col("h").bitwiseAND(F.lit((1 << 40) - 1))).alias("s"),
              F.bit_xor("h").alias("x"))
         .collect()[0])
    return (int(r["n"]), int(r["s"] or 0), int(r["x"] or 0))


def _oracle_rows(sf_dir: str, out: str) -> dict[str, str]:
    """DuckDB oracle rows of the five probes over the corpus, as parquet."""
    import importlib

    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        paths = {}
        for q, (module, oracle) in NEARDUP_QUERIES.items():
            sql = getattr(importlib.import_module(module), oracle)
            paths[q] = os.path.join(out, f"oracle-{q}.parquet")
            pq.write_table(con.execute(sql).fetch_arrow_table(), paths[q])
        return paths
    finally:
        con.close()


def _row_diff(a: pd.DataFrame, b: pd.DataFrame) -> int:
    """Size of the multiset symmetric difference of two row sets."""
    def rows(df):
        df = df[sorted(df.columns)]
        return collections.Counter(
            tuple(float(v) if isinstance(v, numbers.Real) else v for v in r)
            for r in df.itertuples(index=False))
    ra, rb = rows(a), rows(b)
    return sum(((ra - rb) + (rb - ra)).values())


class NeardupCorpus:
    name = "neardup_corpus"

    def __init__(self, cache: str, seed):
        self.cache = cache
        self.seed = seed
        self.inputs = gen.cached(
            cache, f"{self.name}-{seed}",
            lambda w: gen.build_neardup_corpus(
                w, seed, NEARDUP_DOCS, NEARDUP_VECS, NEARDUP_BLOCK))
        self.sf_dir = self.inputs["sf_dir"]
        docs = pq.read_table(self.inputs["documents"])
        emb = pq.read_table(self.inputs["embeddings"])
        self.n_docs = docs.num_rows + emb.num_rows
        self.mb = (sum(len(t.encode()) for t in docs["text"].to_pylist())
                   + emb.num_rows * gen.EMBED_DIM * 4) / 2**20
        self.oracle: dict[str, tuple] | None = None

    def prepare(self, spark) -> None:
        """Oracle rows (DuckDB) and their checksums, once per seed."""
        self.oracle_paths = gen.cached(
            self.cache, f"{self.name}-{self.seed}-oracle",
            lambda w: _oracle_rows(self.sf_dir, w))
        sums = gen.cached(
            self.cache, f"{self.name}-{self.seed}-oracle-checksums",
            lambda w: {q: list(checksum(spark.read.parquet(p)))
                       for q, p in self.oracle_paths.items()})
        self.oracle = {q: tuple(v) for q, v in sums.items()}

    @classmethod
    def warmup(cls, spark, cache: str) -> None:
        """The untimed first batch: the five probes over a small seed-free
        corpus. (A corpus of the timed size made the first timed call no
        faster and set-up ~7 s slower.)"""
        import __spark_entry__ as entry

        sf_dir = gen.cached(cache, f"{cls.name}-{WARMUP_SEED}", lambda w: (
            gen.build_neardup_corpus(w, WARMUP_SEED, *NEARDUP_WARMUP)))["sf_dir"]
        qs = entry.queries()
        for q in NEARDUP_QUERIES:
            checksum(qs[q](spark, sf_dir))

    def call(self, spark, timer, tracer=None) -> Call:
        """The five probes, each ending in an all-column checksum that is
        compared with the oracle's."""
        import __spark_entry__ as entry

        qs = entry.queries()
        got, queries = {}, {}
        with timer:
            for q, (module, _) in NEARDUP_QUERIES.items():
                t = time.perf_counter()
                try:
                    with _span(tracer, f"{module}.{q}"):
                        got[q] = checksum(qs[q](spark, self.sf_dir))
                except Exception as exc:
                    print(f"perfbench: {q} failed: {exc!r}", file=sys.stderr)
                    continue
                queries[q] = {"s": time.perf_counter() - t,
                              "rows": got[q][0], "module": module}
        attempted = failed = 0
        for q, want in self.oracle.items():
            attempted += want[0]
            if q not in got:
                failed += want[0]
            elif got[q] != want:
                rows = qs[q](spark, self.sf_dir).toPandas()
                oracle = pq.read_table(self.oracle_paths[q]).to_pandas()
                failed += max(1, _row_diff(rows, oracle))
        return Call(self.n_docs, self.mb, attempted, failed, queries=queries)

    def layers(self, spark, tracer, call: Call, traced, untraced,
               nproc: int) -> dict:
        """Per-layer metrics: each probe's time and output rows in the
        traced call."""
        m = {}
        for q, d in call.queries.items():
            m[f"{d['module']}.{q}_s"] = d["s"]
            m[f"{d['module']}.{q}.pairs_out"] = d["rows"]
        return m


WORKLOADS = {w.name: w for w in (FreshArticles, NeardupCorpus)}
