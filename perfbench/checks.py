"""Output checks for every benchmark operation.

Each check is computed apart from the program: it reads what the program
wrote or returned with pyarrow/numpy/hashlib, recomputes the expected answer
from the generated inputs or from a property the method must have, and
raises CheckError on the first disagreement. Nothing here imports the
package under test.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow.dataset as ds

EXEC_REASON = "executable content signature"
DIM = 384
NORM_TOL = 1e-5
# the program sums 384 double products left to right; numpy's matmul sums
# in another order, so scores may differ in the last bits only
SCORE_TOL = 1e-9

_ARTICLE_RE = re.compile(rb"<article>(.*?)</article>", re.S)
_P_RE = re.compile(rb"<p>(.*?)</p>", re.S)
_NAV_RE = re.compile(rb"<(nav|footer)>(.*?)</\1>", re.S)
_TAG_RE = re.compile(rb"<[^>]+>")


class CheckError(AssertionError):
    pass


def _fail(msg: str) -> None:
    raise CheckError(msg)


# ---------------------------------------------------------------- readers


def read_table(path: str, hive: bool = False, columns: list[str] | None = None):
    return ds.dataset(path, format="parquet",
                      partitioning="hive" if hive else None).to_table(columns=columns)


def tree_fingerprint(path: str) -> list[tuple[str, int, int]]:
    """(relative path, size, mtime) of every data file under ``path``."""
    out = []
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            st = os.stat(p)
            out.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return sorted(out)


def tree_bytes(path: str) -> int:
    return sum(size for _, size, _ in tree_fingerprint(path))


# ---------------------------------------------------------------- extract


def expected_pages(pages) -> dict[str, dict]:
    """Per input url: whether it is an executable payload, and for HTML
    pages the <article> sentences and the nav/footer strings, parsed from
    the raw bytes the generator wrote."""
    out = {}
    for url, html in zip(pages.column("url").to_pylist(),
                         pages.column("html").to_pylist()):
        html = html or b""
        exe = html.startswith((b"MZ", b"\x7fELF"))
        is_html = html.lstrip()[:15].lower().startswith(b"<!doctype html")
        sents, boiler = [], []
        if is_html:
            m = _ARTICLE_RE.search(html)
            if m:
                # the extractor collapses whitespace inside a block
                sents = [" ".join(s.decode().split()) for s in _P_RE.findall(m.group(1))]
            for _, inner in _NAV_RE.findall(html):
                boiler += [t.decode().strip() for t in _TAG_RE.split(inner)
                           if t.strip()]
        out[url] = {"exe": exe, "html": is_html, "sents": sents, "boiler": boiler}
    return out


def check_entities(rows: list[dict]) -> int:
    """Every entity span indexes the extracted text; entity_count equals
    the number of entities. Returns the total number of entities."""
    total = 0
    for r in rows:
        ents = r["entities"] or []
        if r["status"] == "completed" and r["entity_count"] != len(ents):
            _fail(f"{r['url']}: entity_count {r['entity_count']} != {len(ents)}")
        text = r["extracted_text"] or ""
        for e in ents:
            if text[e["start"]:e["end"]] != e["text"]:
                _fail(f"{r['url']}: span {e['start']}:{e['end']} reads "
                      f"{text[e['start']:e['end']]!r}, entity says {e['text']!r}")
        total += len(ents)
    return total


def check_extract(expected: dict[str, dict], docs, manifest, resume: dict,
                  before, after) -> dict:
    """All extract-operation checks; returns exact counts."""
    rows = docs.select(["url", "status", "error_message", "extracted_text",
                        "entities", "entity_count", "bucket"]).to_pylist()
    urls = [r["url"] for r in rows]
    if len(urls) != len(set(urls)) or set(urls) != set(expected):
        _fail(f"documents: {len(urls)} rows, {len(set(urls))} distinct urls, "
              f"{len(expected)} input urls")
    for r in rows:
        exp = expected[r["url"]]
        if exp["exe"]:
            if r["status"] != "failed" or r["error_message"] != EXEC_REASON:
                _fail(f"{r['url']}: executable payload got {r['status']}/"
                      f"{r['error_message']!r}")
        elif exp["html"]:
            if r["status"] != "completed":
                _fail(f"{r['url']}: HTML page failed: {r['error_message']!r}")
            text = r["extracted_text"]
            for s in exp["sents"]:
                if s not in text:
                    _fail(f"{r['url']}: article sentence missing: {s!r}")
            for b in exp["boiler"]:
                if b in text:
                    _fail(f"{r['url']}: boilerplate string extracted: {b!r}")
    n_entities = check_entities(rows)

    groups: dict[int, list] = {}
    for r in rows:
        g = groups.setdefault(r["bucket"], [0, 0, 0, None, None])
        g[0] += 1
        g[1] += r["status"] == "completed"
        g[2] += r["status"] == "failed"
        g[3] = r["url"] if g[3] is None else min(g[3], r["url"])
        g[4] = r["url"] if g[4] is None else max(g[4], r["url"])
    man = {m["bucket"]: [m["n_docs"], m["n_ok"], m["n_err"], m["url_min"],
                         m["url_max"]] for m in manifest.to_pylist()}
    if len(man) != manifest.num_rows or man != groups:
        _fail(f"manifest disagrees with documents: {len(man)} manifest "
              f"buckets, {len(groups)} document buckets")
    if resume.get("processed_buckets") != 0 or resume.get("skipped_buckets") != len(man):
        _fail(f"resume did not skip every bucket: {resume}")
    if before != after:
        _fail("resume changed the output files")
    return {"docs.completed": sum(g[1] for g in groups.values()),
            "docs.failed": sum(g[2] for g in groups.values()),
            "entities.total": n_entities}


# ---------------------------------------------------------------- index


def check_index(docs, vectors, dedup_rows: list, simhash_rows: list,
                stats: dict) -> dict:
    completed = [r for r in docs.select(["url", "status", "extracted_text",
                                         "content_hash", "entity_count"]).to_pylist()
                 if r["status"] == "completed"]
    want = {r["content_hash"] for r in completed}
    ids = vectors.column("vec_id").to_pylist()
    if len(ids) != len(set(ids)) or set(ids) != want:
        _fail(f"vectors: {len(ids)} rows, {len(set(ids))} distinct ids, "
              f"{len(want)} distinct completed content hashes")
    emb = vectors.column("embedding").to_pylist()
    if any(len(v) != DIM for v in emb):
        _fail(f"vector without {DIM} dimensions")
    norms = np.linalg.norm(np.asarray(emb, dtype=np.float64), axis=1)
    if not np.all(np.abs(norms - 1.0) <= NORM_TOL):
        # every completed document has non-empty text, so no zero vector
        _fail(f"vector norms outside 1±{NORM_TOL}: min {norms.min()} max {norms.max()}")

    groups: dict[str, list] = {}
    for r in completed:
        key = hashlib.md5(r["extracted_text"].lower().encode()).hexdigest()
        g = groups.setdefault(key, [r["url"], 0])
        g[0] = min(g[0], r["url"])
        g[1] += 1
    got = {r["content_key"]: [r["keeper_id"], r["n_copies"]] for r in dedup_rows}
    if len(got) != len(dedup_rows) or got != groups:
        _fail(f"exact_dedup: {len(dedup_rows)} groups, recomputed {len(groups)}")

    sim = {r["url"]: r["simhash"] for r in simhash_rows}
    if len(sim) != len(simhash_rows) or set(sim) != {r["url"] for r in completed}:
        _fail("simhash: not one row per completed document")
    by_text: dict[str, int] = {}
    for r in completed:
        h = by_text.setdefault(r["extracted_text"], sim[r["url"]])
        if h != sim[r["url"]]:
            _fail(f"simhash: identical texts hash differently ({r['url']})")

    all_rows = docs.select(["status", "entity_count"]).to_pylist()
    exp = {"total_documents": len(all_rows), "completed": len(completed),
           "failed": sum(r["status"] == "failed" for r in all_rows),
           "total_entities": sum(r["entity_count"] for r in all_rows)}
    if {k: stats[k] for k in exp} != exp:
        _fail(f"corpus_stats {stats} != recomputed {exp}")
    return {"vectors.written": len(ids), "dedup.groups": len(groups)}


# ---------------------------------------------------------------- search


def token_vector(token: str) -> np.ndarray:
    seed = int.from_bytes(hashlib.blake2b(token.encode(), digest_size=4).digest(), "big")
    return np.random.RandomState(seed).standard_normal(DIM)


def query_vector(text: str) -> np.ndarray:
    """The engine's documented query embedding (hashed token vectors,
    summed, L2-normalised, float32), recomputed here."""
    acc = np.zeros(DIM)
    for tok in text.lower().split():
        acc += token_vector(tok)
    n = np.linalg.norm(acc)
    return (acc / n if n > 0 else acc).astype(np.float32)


class SearchOracle:
    """numpy brute-force top-k over the persisted vectors."""

    def __init__(self, vectors, docs=None):
        self.ids = vectors.column("vec_id").to_pylist()
        self.pos = {v: i for i, v in enumerate(self.ids)}
        flat = vectors.column("embedding").combine_chunks().flatten()
        self.mat = flat.to_numpy(zero_copy_only=False).astype(np.float64).reshape(
            len(self.ids), -1)
        self.urls: dict[str, set] = {}
        if docs is not None:
            for h, u in zip(docs.column("content_hash").to_pylist(),
                            docs.column("url").to_pylist()):
                self.urls.setdefault(h, set()).add(u)

    def check(self, query_text: str, k: int, rows: list[dict], hydrated: bool) -> None:
        scores = self.mat @ query_vector(query_text).astype(np.float64)
        n = min(k, len(self.ids))
        if len(rows) != n or len({r["vec_id"] for r in rows}) != n:
            _fail(f"search {query_text!r}: {len(rows)} rows, want {n} distinct")
        order = np.argsort(-scores, kind="stable")[:n]
        top = scores[order]
        kth = top[-1]
        pos = self.pos
        got = [r["similarity"] for r in rows]
        if np.any(np.abs(np.asarray(got) - top) > SCORE_TOL):
            _fail(f"search {query_text!r}: scores {got[:3]}... != {list(top[:3])}...")
        returned = set()
        for r in rows:
            i = pos.get(r["vec_id"])
            if i is None or abs(scores[i] - r["similarity"]) > SCORE_TOL:
                _fail(f"search {query_text!r}: {r['vec_id']} score mismatch")
            returned.add(r["vec_id"])
        # ties at the k-th score may be broken either way; every id above it
        # must be returned
        must = {self.ids[i] for i in np.nonzero(scores > kth + SCORE_TOL)[0]}
        if not must <= returned:
            _fail(f"search {query_text!r}: missing {sorted(must - returned)[:3]}")
        if hydrated:
            for r in rows:
                if r.get("url") not in self.urls.get(r["vec_id"], ()):
                    _fail(f"search {query_text!r}: {r['vec_id']} hydrated "
                          f"with url {r.get('url')!r}")
