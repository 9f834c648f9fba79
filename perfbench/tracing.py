"""Spans around calls into the program's layers, and the layer passes that
record them.

Spans are recorded from outside the program: the benchmark wraps each call
into a public function. They stay in memory and are written out once, at
the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

import pandas as pd


class Tracer:
    """In-memory spans: (name, start, end, parent, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_s(self) -> dict[str, float]:
        """Self time per span name: duration minus the children's."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = (child.get(s["parent"], 0.0)
                                      + s["end"] - s["start"])
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            own = s["end"] - s["start"] - child.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --------------------------------------------------------------- gooselite
# Stage metric name → span names folded into it.
STAGES = {
    "gooselite.encoding.decode_ms": ("decode",),
    "gooselite.minidom.parse_ms": ("parse", "dispose"),
    "gooselite.metadata.metadata_ms": ("metadata", "top_node_image"),
    "gooselite.cleaner.clean_ms": ("clean",),
    "gooselite.scoring.best_node_ms": ("best_node",),
    "gooselite.scoring.post_cleanup_ms": ("post_cleanup",),
    "gooselite.metadata.links_ms": ("links",),
    "gooselite.formatter.format_ms": ("markdown", "format"),
}


def replay_extract_one(tr: Tracer, html, lang, url):
    """`gooselite.extract_one` with a span around each stage: the public
    functions, called in pipeline.py's order and with its early-outs.
    Returns the same dict as extract_one (parse_ms aside)."""
    from gooselite import pipeline as P
    from gooselite.cleaner import clean_document
    from gooselite.encoding import DecodeError, decode_html
    from gooselite.formatter import get_formatted_text
    from gooselite.markdown import to_markdown
    from gooselite.metadata import (
        extract_links, extract_tags, get_authors, get_canonical_link,
        get_meta_description, get_meta_keywords, get_meta_lang, get_movies,
        get_opengraph, get_publish_date, get_title, get_top_image,
        metadata_index, score_top_node_image)
    from gooselite.minidom import ParseError, dispose, parse_html
    from gooselite.scoring import calculate_best_node, post_cleanup
    from gooselite.stopwords_data import STOPWORDS
    from gooselite.text import resolve_language

    cfg = P.DEFAULT_CONFIG
    t0 = time.perf_counter()
    primary = cfg.target_language or lang
    fallback = not P._requested_lang_ok(primary)
    bytes_in = len(html) if html else 0
    if not html:
        return P._empty_result(url, P.STATUS_EMPTY, "no html bytes", 0,
                               resolve_language(primary), 0.0, fallback)
    try:
        with tr.span("decode"):
            text, _ = decode_html(html)
    except DecodeError as exc:
        return P._empty_result(url, P.STATUS_DECODE_ERROR, str(exc), bytes_in,
                               resolve_language(primary), 0.0, fallback)
    try:
        with tr.span("parse"):
            root = parse_html(text)
    except ParseError as exc:
        return P._empty_result(url, P.STATUS_PARSE_ERROR, str(exc), bytes_in,
                               resolve_language(primary), 0.0, fallback)
    try:
        with tr.span("metadata"):
            idx = metadata_index(root)
            title = get_title(root, idx)
            meta_description = get_meta_description(root, idx)
            meta_keywords = get_meta_keywords(root, idx)
            meta_lang = get_meta_lang(root, idx)
            canonical_link = get_canonical_link(root, url, idx)
            tags = extract_tags(root, idx) if cfg.enable_tags else []
            movies = get_movies(root, idx) if cfg.enable_videos else []
            publish_date = (get_publish_date(root, idx)
                            if cfg.enable_publish_date else None)
            top_image = (get_top_image(root, url, idx)
                         if cfg.enable_images else None)
            authors = get_authors(root, idx) if cfg.enable_authors else []
            opengraph = (sorted(f"{k}={v}"
                                for k, v in get_opengraph(root, idx).items())
                         if cfg.enable_opengraph else [])
        lang_fallback = False
        if P._requested_lang_ok(primary):
            effective_lang = primary.strip().lower()[:2]
        elif meta_lang and meta_lang in STOPWORDS:
            effective_lang = meta_lang
            lang_fallback = True
        else:
            effective_lang = resolve_language(primary)
            lang_fallback = True
        with tr.span("clean"):
            clean_document(root)
        with tr.span("best_node"):
            top_node = calculate_best_node(root, effective_lang)
        cleaned_text, markdown, links = "", None, []
        if top_node is not None:
            if cfg.enable_images and top_image is None:
                with tr.span("top_node_image"):
                    top_image = score_top_node_image(top_node, url)
            with tr.span("post_cleanup"):
                top_node = post_cleanup(top_node, effective_lang)
            if cfg.enable_links:
                with tr.span("links"):
                    links = extract_links(top_node, url)
            if cfg.enable_markdown:
                with tr.span("markdown"):
                    markdown = to_markdown(top_node, title)
            with tr.span("format"):
                cleaned_text = get_formatted_text(top_node, effective_lang)
        return {
            "url": url, "lang": effective_lang, "title": title,
            "cleaned_text": cleaned_text,
            "meta_description": meta_description,
            "meta_keywords": meta_keywords, "meta_lang": meta_lang,
            "canonical_link": canonical_link, "domain": P.get_domain(url),
            "tags": tags, "movies": movies, "publish_date": publish_date,
            "top_image": top_image, "authors": authors,
            "opengraph": opengraph, "links": links, "markdown": markdown,
            "lang_fallback": lang_fallback,
            "status": P.STATUS_OK if cleaned_text else P.STATUS_EMPTY,
            "err": None, "bytes_in": bytes_in,
            "parse_ms": (time.perf_counter() - t0) * 1000.0,
        }
    finally:
        with tr.span("dispose"):
            dispose(root)


def _without_parse_ms(r: dict) -> dict:
    return {k: v for k, v in r.items() if k != "parse_ms"}


def gooselite_pass(tr: Tracer, pages: pd.DataFrame) -> dict:
    """Single-core stage replay over `pages` (url, html, lang).

    Each doc runs through extract_one itself (timed, untraced) and through
    the span replay. Raises ValueError when the replay's output differs
    from extract_one's on any doc, or when the stage self-times cover less
    than 95% of the replay's wall time."""
    from gooselite import extract_one

    one_ms = []
    mismatched = []
    for url, html, lang in zip(pages["url"], pages["html"], pages["lang"]):
        lang = None if pd.isna(lang) else lang
        t = time.perf_counter()
        want = extract_one(html, lang, url)
        one_ms.append((time.perf_counter() - t) * 1000.0)
        with tr.span("extract_one"):
            got = replay_extract_one(tr, html, lang, url)
        if _without_parse_ms(got) != _without_parse_ms(want):
            mismatched.append(url)
    if mismatched:
        raise ValueError(f"trace rejected: stage replay differs from "
                         f"extract_one on {len(mismatched)} docs, e.g. "
                         f"{mismatched[0]}")
    own = tr.self_s()
    wall = tr.total_s("extract_one")
    stage_ms = {m: sum(own.get(n, 0.0) for n in names) * 1000.0
                for m, names in STAGES.items()}
    covered = sum(stage_ms.values()) / (wall * 1000.0)
    if covered < 0.95:
        raise ValueError(f"trace rejected: stage self-times cover "
                         f"{covered:.1%} of the replayed extract_one wall "
                         "time (< 95%)")
    total = sum(stage_ms.values())
    out = {}
    for m, ms in stage_ms.items():
        out[m] = ms
        out[m.removesuffix("_ms") + "_share"] = ms / total
    q = statistics.quantiles(one_ms, n=100)
    out["gooselite.pipeline.extract_one_ms.p50"] = statistics.median(one_ms)
    out["gooselite.pipeline.extract_one_ms.p99"] = q[98]
    out["gooselite.pipeline.docs_per_s_1core"] = len(one_ms) / (sum(one_ms) / 1000.0)
    out["trace.stage_coverage"] = covered
    return out


def udf_pass(tr: Tracer, pages: pd.DataFrame, partitions: int,
             max_records: int) -> dict:
    """goose_spark.udf.extract_batches in-process over the pages cut into
    `partitions` hash partitions and ≤ max_records-row batches, as the job's
    Arrow stage cuts them. Overhead = its wall time minus the extract_one
    time inside it (the parse_ms each output row carries)."""
    import gc
    import zlib

    import numpy as np

    from goose_spark.udf import extract_batches

    df = pages[["url", "warc_ts", "html", "lang"]].copy()
    n = df["html"].map(lambda h: len(h) if h else 0)
    df["bucket"] = np.where(n > 0, np.floor(np.log2(n.clip(lower=1))), 0).astype(int)
    part = df["url"].map(lambda u: zlib.crc32(u.encode())) % partitions
    batches = [g.iloc[i:i + max_records]
               for _, g in df.groupby(part, sort=True)
               for i in range(0, len(g), max_records)]
    # The batch loop runs one gc.collect() per batch. Freeze the objects this
    # process already holds, so that collection walks what a Spark Python
    # worker's would (the UDF's own garbage), not this process's whole heap.
    gc.freeze()
    try:
        with tr.span("goose_spark.udf.extract_batches") as s:
            outs = list(extract_batches(iter(batches)))
    finally:
        gc.unfreeze()
    wall_ms = (s["end"] - s["start"]) * 1000.0
    inner_ms = float(sum(o["parse_ms"].sum() for o in outs))
    return {"goose_spark.udf.batches": len(batches),
            "goose_spark.udf.batch_overhead_ms": wall_ms - inner_ms}


# --------------------------------------------------------- spark event log
_UDF_SCOPES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
               "BatchEvalPython", "FlatMapGroupsInPandas", "PythonMapInArrow")


def event_log_metrics(path: str, job_group: str) -> dict:
    """Task metrics of the jobs run under `job_group`, from an uncompressed
    Spark event log file."""
    with open(path) as f:
        events = [json.loads(line) for line in f]
    stages: set[int] = set()
    for e in events:
        if (e["Event"] == "SparkListenerJobStart"
                and (e.get("Properties") or {}).get("spark.jobGroup.id") == job_group):
            stages.update(e["Stage IDs"])
    udf_stages = set()
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            scopes = [json.loads(r["Scope"])["name"] for r in si["RDD Info"]
                      if r.get("Scope")]
            if si["Stage ID"] in stages and any(
                    s.startswith(_UDF_SCOPES) for s in scopes):
                udf_stages.add(si["Stage ID"])
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"
             and e["Stage ID"] in stages and e.get("Task Metrics")]
    udf_s = [(t["Task Info"]["Finish Time"] - t["Task Info"]["Launch Time"])
             / 1000.0 for t in tasks if t["Stage ID"] in udf_stages]
    m = [t["Task Metrics"] for t in tasks]
    mb = 2.0 ** 20
    return {
        "spark.udf_stage.tasks": len(udf_s),
        "spark.udf_stage.task_s.p50": statistics.median(udf_s) if udf_s else 0.0,
        "spark.udf_stage.task_s.max": max(udf_s, default=0.0),
        "spark.shuffle_write_mb": sum(
            x["Shuffle Write Metrics"]["Shuffle Bytes Written"] for x in m) / mb,
        "spark.shuffle_read_mb": sum(
            x["Shuffle Read Metrics"]["Remote Bytes Read"]
            + x["Shuffle Read Metrics"]["Local Bytes Read"] for x in m) / mb,
        "spark.spill_mb": sum(x["Memory Bytes Spilled"] + x["Disk Bytes Spilled"]
                              for x in m) / mb,
        "spark.jvm_gc_s": sum(x["JVM GC Time"] for x in m) / 1000.0,
    }
