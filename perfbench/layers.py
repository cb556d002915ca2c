"""Per-layer measurement for the traced run.

Three sources feed the per-layer metrics:

- spans recorded around the package calls of every traced operation
  (workloads.py);
- a layer probe on one seeded page slice of PROBE_PAGES pages: a scan-only
  job, ``extract_documents`` with no-op models and with the real
  ones, and single-threaded direct calls of the core model functions;
- the Spark event log, which only the traced run turns on: shuffle bytes,
  executor CPU and task skew per traced extract operation.

A traced run also runs one traced round of each other workload, so every
run reports every layer; a workload's own layers come mostly from its own
operations.
"""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq

import harness as H
import inputs as I

# pages of the probe slice: large enough that per-document work, not
# per-job overhead, dominates extract_documents (framework share below 1/2)
PROBE_PAGES = 12000
PROBE_DIRECT = 300   # pages of the probe slice timed by direct calls

# (name, unit, better) for every per-layer metric, in report order
PER_LAYER = [
    ("sources.pages.scan_ms", "ms", "lower"),
    ("operators.extraction.framework_ms", "ms", "lower"),
    ("operators.extraction.framework_share", "ratio", "lower"),
    ("core.html_extract.us_per_doc", "us", "lower"),
    ("core.ner.us_per_doc", "us", "lower"),
    ("core.ocr.us_per_doc", "us", "lower"),
    ("core.ocr.word_confidence_us_per_doc", "us", "lower"),
    ("spark.shuffle_bytes", "bytes", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("plans.lineage.write_ms", "ms", "lower"),
    ("plans.lineage.resume_ms", "ms", "lower"),
    ("plans.lineage.bytes_written", "bytes", "lower"),
    ("core.embedding.us_per_doc", "us", "lower"),
    ("plans.pipeline.build_embeddings_ms", "ms", "lower"),
    ("operators.dedup.exact_dedup_ms", "ms", "lower"),
    ("operators.dedup.simhash_ms", "ms", "lower"),
    ("plans.pipeline.corpus_stats_ms", "ms", "lower"),
    ("plans.pipeline.search_plan_ms", "ms", "lower"),
    ("core.embedding.query_us", "us", "lower"),
    ("operators.similarity.scan_topk_ms", "ms", "lower"),
    ("plans.pipeline.hydrate_ms", "ms", "lower"),
    ("docs.completed", "count", "higher"),
    ("docs.failed", "count", "lower"),
    ("entities.total", "count", "higher"),
    ("vectors.written", "count", "higher"),
    ("dedup.groups", "count", "higher"),
    ("vectors.scored", "count", "lower"),
]

# span name -> per-layer metric (median span duration)
SPAN_METRICS = {
    "plans.lineage.write": "plans.lineage.write_ms",
    "plans.lineage.resume": "plans.lineage.resume_ms",
    "plans.pipeline.build_embeddings": "plans.pipeline.build_embeddings_ms",
    "operators.dedup.exact_dedup": "operators.dedup.exact_dedup_ms",
    "operators.dedup.simhash": "operators.dedup.simhash_ms",
    "plans.pipeline.corpus_stats": "plans.pipeline.corpus_stats_ms",
    "plans.pipeline.search_plan": "plans.pipeline.search_plan_ms",
    "operators.similarity.scan_topk": "operators.similarity.scan_topk_ms",
}


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe(spark, seed: int, tracer: H.Tracer) -> None:
    """Scan, framework and direct-call layers on one seeded slice."""
    from pyspark.sql import functions as F

    from medical_vector_database_ocr_ner_spark.operators.extraction import (
        extract_documents,
    )
    from medical_vector_database_ocr_ner_spark.sources.pages import read_pages

    import noop_models

    path = I.make_pages(os.path.join(H.RUN_DIR, "probe-pages"), PROBE_PAGES,
                        I.slice_seed(seed, 999))
    spark.sparkContext.setJobGroup("probe", "probe")
    tracer.op_id = "probe"

    def timed(name, fn):
        with tracer.span(name):
            t0 = time.perf_counter()
            fn()
            return (time.perf_counter() - t0) * 1e3

    pages = read_pages(spark, path)
    tracer.value("sources.pages.scan_ms", timed("sources.pages.scan", lambda: pages.agg(
        F.count("*"), F.sum(F.length("html")), F.max("url"), F.max("warc_ts"),
        F.max("text"), F.max("lang")).collect()))
    # one untimed pass on a part of the slice first: whichever of the two
    # timed passes ran first otherwise paid for warming the Python workers
    _noop_write(extract_documents(pages.limit(2000)))
    frame = timed("operators.extraction.extract_documents[noop]",
                  lambda: _noop_write(extract_documents(pages, models=noop_models.seam())))
    full = timed("operators.extraction.extract_documents",
                 lambda: _noop_write(extract_documents(pages)))
    tracer.value("operators.extraction.framework_ms", frame)
    tracer.value("operators.extraction.framework_share", frame / full)
    direct_calls(pq.read_table(path).slice(0, PROBE_DIRECT), tracer)


def direct_calls(pages, tracer: H.Tracer) -> None:
    """Single-threaded CPU per document of each model layer, calling the
    core functions directly on the probe pages (one untimed pass first, so
    the embedding token cache is as warm as in a long-lived worker)."""
    from medical_vector_database_ocr_ner_spark.core import (
        create_document_text, embed_text, extract_entities, extract_main_content,
        mean_confidence, ocr_payload_pages, sniff_payload_kind, word_confidence,
    )

    clock = time.thread_time_ns
    for timed in (False, True):
        cpu = {"html": 0, "wc": 0, "ner": 0, "ocr": 0, "emb": 0}
        n = {"html": 0, "ocr": 0, "ner": 0}
        for html, lang in zip(pages.column("html").to_pylist(),
                              pages.column("lang").to_pylist()):
            kind = sniff_payload_kind(html)
            if kind == "html":
                t0 = clock()
                text = extract_main_content(html)
                t1 = clock()
                mean_confidence([word_confidence(w) for w in text.split()])
                t2 = clock()
                cpu["html"] += t1 - t0
                cpu["wc"] += t2 - t1
                n["html"] += 1
            elif kind in ("pdf", "image"):
                t0 = clock()
                text = "\n".join(p for p, _ in ocr_payload_pages(html))
                cpu["ocr"] += clock() - t0
                n["ocr"] += 1
            else:
                continue
            if not text:
                continue
            t0 = clock()
            ents = extract_entities(text)
            t1 = clock()
            embed_text(create_document_text(text, ents, {"lang": lang}))
            cpu["ner"] += t1 - t0
            cpu["emb"] += clock() - t1
            n["ner"] += 1
    tracer.value("core.html_extract.us_per_doc", cpu["html"] / n["html"] / 1e3)
    tracer.value("core.ocr.word_confidence_us_per_doc", cpu["wc"] / n["html"] / 1e3)
    tracer.value("core.ocr.us_per_doc", cpu["ocr"] / n["ocr"] / 1e3)
    tracer.value("core.ner.us_per_doc", cpu["ner"] / n["ner"] / 1e3)
    tracer.value("core.embedding.us_per_doc", cpu["emb"] / n["ner"] / 1e3)


def event_log(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Median over the given job groups of shuffle bytes written, executor
    CPU, and task skew (max/median task run time of the group's busiest
    stage), from the Spark event log."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    paths = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names
             if not n.startswith(".")]
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = g
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
    per_group: dict[str, dict] = {}
    for stage, ms in tasks.items():
        g = stage_group.get(stage)
        if g not in groups:
            continue
        acc = per_group.setdefault(g, {"shuffle": 0, "cpu": 0, "busiest": (0, 1.0)})
        run = [m.get("Executor Run Time", 0) for m in ms]
        acc["shuffle"] += sum((m.get("Shuffle Write Metrics") or {})
                              .get("Shuffle Bytes Written", 0) for m in ms)
        acc["cpu"] += sum(m.get("Executor CPU Time", 0) for m in ms) / 1e6
        if len(run) > 1 and sum(run) > acc["busiest"][0]:
            acc["busiest"] = (sum(run), max(run) / max(H.median(run), 1))
    if not per_group:
        return {}
    vals = list(per_group.values())
    return {"spark.shuffle_bytes": H.median([v["shuffle"] for v in vals]),
            "spark.executor_cpu_ms": H.median([v["cpu"] for v in vals]),
            "spark.task_skew": H.median([v["busiest"][1] for v in vals])}


def per_layer_metrics(tracer: H.Tracer, spark_stats: dict, first_counts: dict) -> dict:
    out: dict[str, float] = {}
    for span, metric in SPAN_METRICS.items():
        d = tracer.durations_ms(span)
        if d:
            out[metric] = H.median(d)
    hyd, scan = (tracer.durations_ms("plans.pipeline.search_collect"),
                 tracer.durations_ms("operators.similarity.scan_topk"))
    if hyd and scan:
        # a hydrated query runs the same scan plus the documents join
        out["plans.pipeline.hydrate_ms"] = H.median(hyd) - H.median(scan)
    for name, vals in tracer.values.items():
        out[name] = H.median(vals)
    out.update(spark_stats)
    out.update(first_counts)
    return out


def print_table(tracer: H.Tracer, metrics: dict, e2e: dict, base: dict | None) -> None:
    print(f"{'span':48s} {'n':>4s} {'p50 ms':>10s} {'total ms':>10s} {'self ms':>10s}")
    selfs = tracer.self_times_ms()
    for name in sorted({s["name"] for s in tracer.spans}):
        d = tracer.durations_ms(name)
        print(f"{name:48s} {len(d):4d} {H.median(d):10.1f} {sum(d):10.1f} "
              f"{selfs[name]:10.1f}")
    print()
    for name, unit, _ in PER_LAYER:
        v = metrics.get(name)
        print(f"{name:48s} {'' if v is None else f'{v:.6g}':>14s} {unit}")
    print()
    if base is None:
        print("tracing overhead: n/a, no untraced run of this workload in this checkout yet")
        return
    print(f"tracing overhead (this run / untraced run with seed {base['seed']} - 1):")
    for name, v in e2e.items():
        b = base["metrics"].get(name)
        print(f"  {name:24s} {f'{v / b - 1:+.2%}' if b else 'n/a'}")
