"""The three workloads. Each one has a set-up (input read or persist, and for
search a warm-up) and rounds of operations; every operation has an untimed
``prepare`` (input generation), a timed ``run`` that calls the package's
public functions, an untimed ``check`` of everything it produced, and a
``cleanup`` of its scratch files that runs whether or not it succeeded.

Spans are recorded here, around each call into the package; there are none
inside the program.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback

import pyarrow.parquet as pq

import checks as C
import harness as H
import inputs as I

# hits per query: the default k of search_topk and search_by_entities
TOP_K = 10


class Meter:
    """Wall time and process-tree CPU time of the timed parts of one
    operation; PSS is sampled only while a meter is open."""

    def __init__(self, pss: H.PssSampler | None):
        self.pss = pss
        self.wall = 0.0
        self.cpu = 0.0

    def __enter__(self):
        self._cpu0 = H.tree_cpu_s()
        if self.pss:
            self.pss.active.set()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall += time.perf_counter() - self._t0
        if self.pss:
            self.pss.active.clear()
        self.cpu += H.tree_cpu_s() - self._cpu0
        return False


class Workload:
    name = ""

    def __init__(self, spark, seed: int, tracer: H.Tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer

    def prepare_setup(self) -> None:
        """Untimed work before set-up: input generation, oracle loads."""

    def setup(self) -> list:
        """Timed set-up after session start; returns the warm-up ops."""
        return []

    def round(self, r: int) -> list:
        raise NotImplementedError

    def job_group(self, op_id: str) -> None:
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        self.tracer.op_id = op_id


# ---------------------------------------------------------------- extract


class ExtractOp:
    def __init__(self, wl: "Extract", j: int, n_pages: int = I.EXTRACT_PAGES):
        self.wl, self.j = wl, j
        self.pages = os.path.join(H.RUN_DIR, f"pages-{j}")
        self.out = os.path.join(H.RUN_DIR, f"extract-{j}")
        self.items = n_pages

    def prepare(self) -> None:
        I.make_pages(self.pages, self.items, I.slice_seed(self.wl.seed, self.j))
        self.expected = C.expected_pages(pq.read_table(self.pages, columns=["url", "html"]))

    def run(self, meter: Meter) -> None:
        from medical_vector_database_ocr_ner_spark.plans.lineage import run_with_lineage
        from medical_vector_database_ocr_ner_spark.sources.pages import read_pages

        wl, tr = self.wl, self.wl.tracer
        wl.job_group(f"extract-{self.j}")
        with tr.span("op.extract"):
            with meter, tr.span("plans.lineage.write"):
                run_with_lineage(wl.spark, read_pages(wl.spark, self.pages), self.out)
            self.before = C.tree_fingerprint(self.out)
            with meter, tr.span("plans.lineage.resume"):
                self.resume = run_with_lineage(
                    wl.spark, read_pages(wl.spark, self.pages), self.out)

    def check(self) -> dict:
        after = C.tree_fingerprint(self.out)
        counts = C.check_extract(
            self.expected, C.read_table(os.path.join(self.out, "documents"), hive=True),
            C.read_table(os.path.join(self.out, "manifest")), self.resume,
            self.before, after)
        self.wl.tracer.value("plans.lineage.bytes_written", C.tree_bytes(self.out))
        return counts

    def cleanup(self) -> None:
        shutil.rmtree(self.pages, ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)


class Extract(Workload):
    """The crawl job runs once per process (scripts/run_extraction.py: one
    session, one run_with_lineage call), so its set-up is the session start
    alone and the timed operation is the process's first call."""

    name = "extract"

    def round(self, r: int) -> list:
        return [ExtractOp(self, r + 1)]


# ---------------------------------------------------------------- index


class IndexOp:
    def __init__(self, wl: "Index", j: int):
        self.wl, self.j = wl, j
        self.slice = wl.corpus
        self.vec_out = os.path.join(H.RUN_DIR, f"vectors-{j}")

    def prepare(self) -> None:
        self.docs = C.read_table(os.path.join(self.slice, "documents"), hive=True)
        self.items = self.docs.num_rows

    def run(self, meter: Meter) -> None:
        from pyspark.sql import functions as F

        from medical_vector_database_ocr_ner_spark.operators.dedup import (
            exact_dedup, simhash,
        )
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            build_embeddings, corpus_stats,
        )

        wl, tr = self.wl, self.wl.tracer
        docs = wl.docs
        wl.job_group(f"index-{self.j}")
        with tr.span("op.index"), meter:
            with tr.span("plans.pipeline.build_embeddings"):
                build_embeddings(docs).write.parquet(self.vec_out)
            done = docs.where(F.col("status") == "completed")
            with tr.span("operators.dedup.exact_dedup"):
                self.dedup = [r.asDict() for r in
                              exact_dedup(done, "extracted_text", "url").collect()]
            with tr.span("operators.dedup.simhash"):
                self.simhash = [r.asDict() for r in
                                simhash(done, "extracted_text", "url", bits=60).collect()]
            with tr.span("plans.pipeline.corpus_stats"):
                self.stats = corpus_stats(docs).collect()[0].asDict()

    def check(self) -> dict:
        vectors = C.read_table(self.vec_out).select(["vec_id", "embedding"])
        return C.check_index(self.docs, vectors, self.dedup, self.simhash, self.stats)

    def cleanup(self) -> None:
        shutil.rmtree(self.vec_out, ignore_errors=True)


class Index(Workload):
    """The corpus build after extraction. Measured by traced runs only: the
    corpus documents get one index round there (README.md says why it is no
    timed workload)."""

    name = "index"
    corpus = I.SEARCH_DIR

    def setup(self) -> list:
        """Reads and persists the documents once: the four calls of an
        operation all read them, and the lineage output is thousands of
        small files."""
        from medical_vector_database_ocr_ner_spark.plans.lineage import read_documents

        self.job_group("index-setup")
        self.docs = read_documents(self.spark, self.corpus).persist()
        self.docs.count()
        return []

    def round(self, r: int) -> list:
        return [IndexOp(self, r + 1)]


# ---------------------------------------------------------------- search


class SearchOp:
    """One query, hydrated against the documents table as the reference's
    ``GET /search`` always does."""

    items = 1

    def __init__(self, wl: "Search", kind: str, scan_probe: bool = False):
        self.wl, self.kind, self.scan_probe = wl, kind, scan_probe

    def prepare(self) -> None:
        self.query = self.wl.queries.next(self.kind)
        self.text = " ".join(self.query)

    def plan(self, documents):
        from medical_vector_database_ocr_ner_spark.plans.pipeline import (
            search_by_entities, search_topk,
        )

        if self.kind == "terms":
            return search_topk(self.wl.vectors, self.text, TOP_K, documents=documents)
        return search_by_entities(self.wl.vectors, self.query, TOP_K, documents=documents)

    def run(self, meter: Meter) -> None:
        tr = self.wl.tracer
        with tr.span("op.search"), meter:
            with tr.span("plans.pipeline.search_plan"):
                df = self.plan(self.wl.docs)
            with tr.span("plans.pipeline.search_collect"):
                self.rows = [r.asDict() for r in df.collect()]

    def check(self) -> dict:
        wl = self.wl
        wl.oracle.check(self.text, TOP_K, self.rows, True)
        if wl.tracer.enabled:
            from medical_vector_database_ocr_ner_spark.core import embed_text

            t0 = time.thread_time_ns()
            embed_text(self.text)
            wl.tracer.value("core.embedding.query_us", (time.thread_time_ns() - t0) / 1e3)
        if wl.tracer.enabled and self.scan_probe:
            # the same query unhydrated, untimed: the scan-and-top-k layer
            # alone, so that hydration's share of the timed query shows.
            # First round only, to keep a traced run within its time limit.
            df = self.plan(None)
            with wl.tracer.span("operators.similarity.scan_topk"):
                rows = [r.asDict() for r in df.collect()]
            wl.oracle.check(self.text, TOP_K, rows, False)
        return {"vectors.scored": len(wl.oracle.ids)}

    def cleanup(self) -> None:
        pass


class Search(Workload):
    """One client in a closed loop: the next query is sent when the
    previous one has returned."""

    name = "search"
    corpus = I.SEARCH_DIR

    def prepare_setup(self) -> None:
        vec = C.read_table(os.path.join(self.corpus, "vectors"))
        docs = C.read_table(os.path.join(self.corpus, "documents"), hive=True,
                            columns=["content_hash", "url"])
        self.oracle = C.SearchOracle(vec, docs)
        self.queries = I.QueryStream(self.seed)

    def setup(self):
        from medical_vector_database_ocr_ner_spark.plans.lineage import read_documents

        self.job_group("search-setup")
        self.vectors = self.spark.read.parquet(
            os.path.join(self.corpus, "vectors")).persist()
        self.docs = read_documents(self.spark, self.corpus).persist()
        self.vectors.count()
        self.docs.count()
        # the warm-up is two passes of the query mix: the dot-product plan
        # keeps getting faster over its first 6-8 queries as the JVM
        # compiles it
        self.job_group("search-warm-up")
        warm = [SearchOp(self, kind) for kind in I.SEARCH_MIX * 2]
        done = []
        for op in warm:
            op.prepare()
            try:
                op.run(Meter(None))
            except Exception:
                # counted when the timed rounds fail the same way
                traceback.print_exc()
                continue
            done.append(op)
        return done

    def round(self, r: int) -> list:
        self.job_group(f"search-{r}")
        return [SearchOp(self, kind, scan_probe=r == 0) for kind in I.SEARCH_MIX]


WORKLOADS = {w.name: w for w in (Extract, Search)}
# rounds a traced run adds for the layers its own workload does not run
TRACE_ROUNDS = {w.name: w for w in (Extract, Index, Search)}
