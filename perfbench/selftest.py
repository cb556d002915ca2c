"""Checker self-test: every output check accepts the program's real output
and rejects a deliberately corrupted copy of it.

    python3 perfbench/selftest.py

Runs one small extract operation, one index operation on its documents and
one hydrated search on the resulting vectors (about a minute at local[4]),
then feeds each check the true output and a list of corruptions. Exits 0
only if every true output passes and every corruption is rejected.
"""

from __future__ import annotations

import copy
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness as H  # noqa: E402

SELFTEST_PAGES = 600


def _rows(table) -> list[dict]:
    return table.to_pylist()


def _table(rows: list[dict], like):
    import pyarrow as pa

    return pa.Table.from_pylist(rows, schema=like.schema)


def main() -> int:
    H.require_package()
    import checks as C
    import inputs as I
    import workloads as W

    H.fresh_run_dir()
    H.spark_env()
    tracer = H.Tracer(False)
    results: list[tuple[str, bool]] = []

    def expect(name: str, fn, should_pass: bool) -> None:
        try:
            fn()
            ok = should_pass
        except C.CheckError as exc:
            ok = not should_pass
            if should_pass:
                print(f"  unexpected rejection: {exc}")
        results.append((name, ok))
        print(f"{'ok  ' if ok else 'FAIL'} {name}")

    spark = H.start_spark()
    try:
        # ---- extract
        ex = W.Extract(spark, 11, tracer)
        op = W.ExtractOp(ex, 1, SELFTEST_PAGES)
        op.prepare()
        op.run(W.Meter(None))
        after = C.tree_fingerprint(op.out)
        docs = C.read_table(os.path.join(op.out, "documents"), hive=True)
        manifest = C.read_table(os.path.join(op.out, "manifest"))
        rows, mrows = _rows(docs), _rows(manifest)

        def extract(drows=rows, mr=mrows, resume=op.resume, fp=after):
            C.check_extract(op.expected, _table(drows, docs), _table(mr, manifest),
                            resume, op.before, fp)

        def mutate(fn):
            r = copy.deepcopy(rows)
            fn(r)
            return r

        exe = next(i for i, r in enumerate(rows) if op.expected[r["url"]]["exe"])
        html = next(i for i, r in enumerate(rows)
                    if op.expected[r["url"]]["html"] and r["entities"])
        expect("extract: true output", extract, True)
        expect("extract: dropped document row",
               lambda: extract(drows=rows[1:]), False)
        expect("extract: duplicated document row",
               lambda: extract(drows=rows + rows[:1]), False)
        expect("extract: executable payload completed", lambda: extract(drows=mutate(
            lambda r: r[exe].update(status="completed", error_message=None))), False)
        expect("extract: HTML page failed", lambda: extract(drows=mutate(
            lambda r: r[html].update(status="failed"))), False)
        expect("extract: article sentence dropped", lambda: extract(drows=mutate(
            lambda r: r[html].update(extracted_text=r[html]["extracted_text"]
                                     .split("\n", 1)[-1][1:]))), False)
        expect("extract: nav string extracted", lambda: extract(drows=mutate(
            lambda r: r[html].update(extracted_text=r[html]["extracted_text"]
                                     + " Find a doctor"))), False)

        def shift(r):
            r[html]["entities"][0]["start"] += 1
            r[html]["entities"][0]["end"] += 1
        expect("extract: shifted entity span", lambda: extract(drows=mutate(shift)), False)
        expect("extract: entity_count off by one", lambda: extract(drows=mutate(
            lambda r: r[html].update(entity_count=r[html]["entity_count"] + 1))), False)
        bad_m = copy.deepcopy(mrows)
        bad_m[0]["n_ok"] += 1
        expect("extract: manifest n_ok off by one", lambda: extract(mr=bad_m), False)
        bad_m = copy.deepcopy(mrows)
        bad_m[0]["url_max"] = "zzz"
        expect("extract: manifest url_max wrong", lambda: extract(mr=bad_m), False)
        expect("extract: resume reprocessed a bucket", lambda: extract(
            resume={**op.resume, "processed_buckets": 1}), False)
        expect("extract: resume rewrote a file", lambda: extract(
            fp=[(p, s, m + 1) for p, s, m in after]), False)

        # ---- index, on the documents just written
        ix = W.Index(spark, 11, tracer)
        ix.corpus = op.out
        ix.setup()
        iop = W.IndexOp(ix, 1)
        iop.prepare()
        iop.run(W.Meter(None))
        vectors = C.read_table(iop.vec_out).select(["vec_id", "embedding"])
        vrows = _rows(vectors)

        def index(vr=vrows, dd=iop.dedup, sh=iop.simhash, st=iop.stats):
            C.check_index(iop.docs, _table(vr, vectors), dd, sh, st)

        by_text: dict[str, list] = {}
        for r in _rows(iop.docs):
            if r["status"] == "completed":
                by_text.setdefault(r["extracted_text"], []).append(r["url"])
        twin = next(urls for urls in by_text.values() if len(urls) > 1)
        expect("index: true output", index, True)
        expect("index: dropped vector", lambda: index(vr=vrows[1:]), False)
        expect("index: duplicated vector", lambda: index(vr=vrows + vrows[:1]), False)
        short = copy.deepcopy(vrows)
        short[0]["embedding"] = short[0]["embedding"][:-1]
        expect("index: 383-dimension vector", lambda: index(vr=short), False)
        scaled = copy.deepcopy(vrows)
        scaled[0]["embedding"] = [2 * x for x in scaled[0]["embedding"]]
        expect("index: vector not unit norm", lambda: index(vr=scaled), False)
        dd = copy.deepcopy(iop.dedup)
        g = next(r for r in dd if r["n_copies"] > 1)
        g["keeper_id"] = max(twin)
        expect("index: exact_dedup keeper not the smallest id", lambda: index(dd=dd), False)
        expect("index: exact_dedup group dropped", lambda: index(dd=iop.dedup[1:]), False)
        sh = copy.deepcopy(iop.simhash)
        next(r for r in sh if r["url"] == twin[0])["simhash"] ^= 1
        expect("index: identical texts, different simhash", lambda: index(sh=sh), False)
        expect("index: corpus_stats total off by one", lambda: index(
            st={**iop.stats, "total_documents": iop.stats["total_documents"] + 1}), False)

        # ---- search, on the vectors just written
        os.rename(iop.vec_out, os.path.join(op.out, "vectors"))
        se = W.Search(spark, 11, tracer)
        se.corpus = op.out
        se.prepare_setup()
        se.setup()
        sop = W.SearchOp(se, "terms")
        sop.prepare()
        sop.run(W.Meter(None))
        hits = sop.rows

        def search(rs=hits):
            se.oracle.check(sop.text, W.TOP_K, rs, True)

        outside = next(v for v in se.oracle.ids if v not in {r["vec_id"] for r in hits})
        expect("search: true output", search, True)
        swapped = copy.deepcopy(hits)
        swapped[0]["vec_id"] = outside
        expect("search: swapped top-k id", lambda: search(swapped), False)
        expect("search: dropped hit", lambda: search(hits[:-1]), False)
        moved = copy.deepcopy(hits)
        moved[0]["similarity"] += 1e-6
        expect("search: score off by 1e-6", lambda: search(moved), False)
        wrong_url = copy.deepcopy(hits)
        wrong_url[0]["url"] = hits[-1]["url"] if hits[-1]["url"] != hits[0]["url"] else "x"
        expect("search: hydrated with another document's url",
               lambda: search(wrong_url), False)
    finally:
        H.stop_spark(spark)
        shutil.rmtree(H.RUN_DIR, ignore_errors=True)

    bad = [n for n, ok in results if not ok]
    print(f"\n{len(results) - len(bad)}/{len(results)} checker cases behave as expected")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
