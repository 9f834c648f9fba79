"""The extraction operator: gooselite wrapped in one mapInPandas UDF.

SURVEY.md §2.5 / B17 — the entire Goose pipeline (A2–A16) is ONE scalar
operator from Spark's viewpoint: one Python invocation per Arrow batch
(BASELINE.json:6 "batch-parses html bytes ... inside a single pandas UDF,
no per-row Python dispatch"). Stopword tables and regexes are loaded at
module import — once per executor Python worker, not per batch.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from goose_spark.schema import EXTRACTED
from gooselite.config import DEFAULT_CONFIG, ExtractionConfig
from gooselite.pipeline import ExtractionTimeout, extract_one, timeout_result

_OUT_COLS = EXTRACTED.fieldNames()


def extract_batches(it: Iterator[pd.DataFrame],
                    config: ExtractionConfig = DEFAULT_CONFIG) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (url, warc_ts, html, lang, bucket) → EXTRACTED.

    Input batches are Arrow record batches sized by
    ``spark.sql.execution.arrow.maxBytesPerBatch`` /
    ``maxRecordsPerBatch`` (size-bucketed batching, SURVEY.md B16) so one
    batch never mixes 1 KB and 100 MB documents into an oversized
    allocation. partition_id comes from TaskContext for the per-partition
    lineage metrics (BASELINE.json:6).

    config rides the closure to every worker (bind it with
    functools.partial). Its doc_timeout_s is the per-document wall budget
    (SURVEY.md §4.2): a pathological page becomes a status='timeout' row,
    not a pinned task. It is SIGALRM-based, so it works in the Spark
    python worker's main thread and is off where signals are unavailable.
    """
    import gc
    import signal

    from pyspark import TaskContext  # import inside worker

    ctx = TaskContext.get()
    pid = ctx.partitionId() if ctx is not None else -1
    budget = config.doc_timeout_s
    # The handler raises only while a document is armed: an alarm landing
    # after extract_one returned (or between batches) is a no-op instead
    # of an exception that fails the whole Spark task.
    armed = False

    def _on_alarm(signum, frame):
        if armed:
            raise ExtractionTimeout()

    if budget > 0:
        try:
            prev_handler = signal.signal(signal.SIGALRM, _on_alarm)
        except (ValueError, OSError, AttributeError):
            budget = 0  # not the main thread / no SIGALRM on this platform

    # Cyclic-GC policy: extract_one dispose()s each DOM so refcounting
    # reclaims the bulk; threshold-triggered collections during the
    # million-allocation parse phase would re-walk every live container
    # (~30% slowdown, worse under 32 concurrent workers). Disable the
    # collector and run one collect per batch for detached-subtree scraps.
    # Spark reuses Python workers across tasks (spark.python.worker.reuse),
    # so the prior state — gc and the alarm handler — MUST be restored on
    # exit, including exceptional exit, or it leaks into every later task.
    gc_was_enabled = gc.isenabled()
    gc.disable()
    try:
        for pdf in it:
            rows = []
            for url, warc_ts, html, lang, bucket in zip(
                pdf["url"], pdf["warc_ts"], pdf["html"], pdf["lang"], pdf["bucket"]
            ):
                try:
                    if budget > 0:
                        signal.setitimer(signal.ITIMER_REAL, budget)
                        armed = True
                    r = extract_one(html, lang, url, config)
                    armed = False
                except ExtractionTimeout:  # the one-shot timer has fired
                    armed = False
                    r = timeout_result(html, lang, url, config)
                r["warc_ts"] = warc_ts
                r["partition_id"] = pid
                r["bucket"] = int(bucket) if pd.notna(bucket) else 0
                rows.append(r)
            out = pd.DataFrame(rows, columns=_OUT_COLS)
            gc.collect()
            yield out
    finally:
        if budget > 0:
            signal.setitimer(signal.ITIMER_REAL, 0.0)
            signal.signal(signal.SIGALRM, prev_handler)
        if gc_was_enabled:
            gc.enable()
