"""Seeded inputs: page slices, search queries, and the cached corpus that
`search` and the index round read.

Page slices come from the package's own generator
(``sources.pages.generate_pages_parquet``); every slice of a run has its own
generator seed derived from the run seed, so no two operations see the same
pages. The corpus is the program's own output on a fixed corpus seed:
``operators.extraction.extract_documents`` documents and their
``build_embeddings`` vector table, which `search` queries and the traced
index round reads. It is rebuilt whenever a source file of the package (or
this file) changes, in a separate process, before the measured process
starts.

Run ``python3 perfbench/inputs.py`` to build the corpus by hand.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as H

# pages per extract operation. run_with_lineage runs at its default of 64
# buckets, where a process's first call costs 55-65 s at local[4] whether
# it gets 500 or 2,000 pages (64 tasks, each writing into up to 64 bucket
# directories); the benchmark's time budget holds no more
EXTRACT_PAGES = 500
SEARCH_PAGES = 8000        # pages behind the persisted search vector table
CORPUS_SEED = 7919

CORPUS_DIR = os.path.join(H.STATE, "corpus")


def slice_seed(run_seed: int, j: int) -> int:
    """Generator seed of slice ``j`` of a run; disjoint from CORPUS_SEED's."""
    return 1_000_003 * (run_seed + 1) + j


def make_pages(path: str, n_pages: int, seed: int) -> str:
    from medical_vector_database_ocr_ner_spark.sources.pages import (
        generate_pages_parquet,
    )

    shutil.rmtree(path, ignore_errors=True)
    return generate_pages_parquet(path, n_pages, seed=seed)


# ---------------------------------------------------------------- queries

_TERMS = (
    "metformin aspirin ibuprofen lisinopril amoxicillin omeprazole warfarin "
    "prednisone atorvastatin insulin diabetes hypertension asthma pneumonia "
    "arthritis bronchitis hepatitis migraine anemia influenza heart lung liver "
    "kidney chest spine stomach blood surgery biopsy mri dialysis patient "
    "prescribed diagnosed invoice hospital clinic contact unit complications "
    "care plan recovery family chart rounds"
).split()
_ENTITIES = (
    ["Metformin", "Aspirin", "Ibuprofen", "Lisinopril", "Amoxicillin",
     "Omeprazole", "Warfarin", "Prednisone", "Atorvastatin", "Insulin",
     "diabetes", "hypertension", "asthma", "pneumonia", "arthritis",
     "migraine", "anemia", "influenza", "heart", "lung", "liver", "kidney"]
    + [f"{a} {b}" for a in ("John", "Sarah", "Emily", "Michael", "Anna")
       for b in ("Smith", "Johnson", "Brown", "Wilson", "Taylor")]
)

# the search query mix: the kind of each query. Every query is hydrated, as
# the reference's GET /search always is. No traffic record gives the share
# of term and entity queries; search_by_entities runs search_topk's plan on
# the joined entity texts, so the split changes only the query's words.
# A round sends the mix once; every run sends whole rounds, so the mix is
# the same in every run. The set-up's warm-up sends it twice.
SEARCH_MIX = ("terms", "entities") * 2


class QueryStream:
    """Distinct seeded queries: term queries are 2-4 words, entity queries
    1-3 entity texts."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seen: set[str] = set()

    def next(self, kind: str) -> list[str]:
        while True:
            if kind == "terms":
                q = self.rng.sample(_TERMS, 2 + self.rng.randrange(3))
            else:
                q = self.rng.sample(_ENTITIES, 1 + self.rng.randrange(3))
            key = kind + ":" + " ".join(q)
            if key not in self.seen:
                self.seen.add(key)
                return q


# ---------------------------------------------------------------- corpus


def source_key() -> str:
    """Hash of every source file of the package plus this file: the corpus
    is the program's own output, so it is stale as soon as either changes."""
    h = hashlib.sha256()
    pkg = os.path.join(H.ROOT, H.PACKAGE)
    files = []
    for d, dirs, names in os.walk(pkg):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    files.append(os.path.abspath(__file__))
    for p in sorted(files):
        h.update(os.path.relpath(p, H.ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def corpus_ready() -> bool:
    try:
        with open(os.path.join(CORPUS_DIR, "key.json")) as f:
            return json.load(f)["key"] == source_key()
    except (OSError, ValueError, KeyError):
        return False


SEARCH_DIR = os.path.join(CORPUS_DIR, "search")


def ensure_corpus() -> None:
    """Build the corpus in a child process unless it is current."""
    import subprocess

    if corpus_ready():
        return
    subprocess.run(
        [sys.executable, os.path.abspath(__file__)], check=True, cwd=H.ROOT,
        stdout=sys.stderr,
    )
    if not corpus_ready():
        raise RuntimeError("corpus build did not complete")


def build_corpus() -> None:
    from medical_vector_database_ocr_ner_spark.operators.extraction import (
        extract_documents,
    )
    from medical_vector_database_ocr_ner_spark.plans.lineage import read_documents
    from medical_vector_database_ocr_ner_spark.plans.pipeline import build_embeddings
    from medical_vector_database_ocr_ner_spark.sources.pages import read_pages

    shutil.rmtree(CORPUS_DIR, ignore_errors=True)
    os.makedirs(CORPUS_DIR)
    H.fresh_run_dir()
    H.spark_env()
    spark = H.start_spark()
    try:
        p = make_pages(os.path.join(H.RUN_DIR, "pages"), SEARCH_PAGES, CORPUS_SEED)
        # written by extract_documents in one plain parquet write, not by
        # run_with_lineage: at its 64 buckets the lineage output of 8,000
        # pages is ~7,000 small files, and every hydrated query then spends
        # ~2 s scanning them (the lineage FOUND line in CHANGES.md). The
        # extract workload measures that layout; search measures queries.
        extract_documents(read_pages(spark, p)).write.parquet(
            os.path.join(SEARCH_DIR, "documents"))
        docs = read_documents(spark, SEARCH_DIR)
        build_embeddings(docs).select("vec_id", "embedding").write.parquet(
            os.path.join(SEARCH_DIR, "vectors"))
    finally:
        H.stop_spark(spark)
        shutil.rmtree(H.RUN_DIR, ignore_errors=True)
    with open(os.path.join(CORPUS_DIR, "key.json"), "w") as f:
        json.dump({"key": source_key()}, f)


if __name__ == "__main__":
    H.require_package()
    build_corpus()
