"""Seeded benchmark inputs and their reference outputs, cached per seed.

Each workload's corpus is written once per (kind, size, seed) under the
cache directory as parquet, together with a JSON file of the outputs the
reference implementation expects. The program under test only ever sees
the parquet; the expected outputs stay on the benchmark side.

Span corpora come from ``ocr_spark.sources.corpus.write_corpus`` and their
reference from ``tests.reference_impl.extract_document``, computed on the
rows read back from the written parquet, so the reference sees exactly what
the program reads. PDF corpora use ``ocr_spark.sources.pdf_fixture``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Files per corpus: one scan task per file, so the scan runs on every core.
SCAN_FILES = 4

# OCR rule of the pdf workload: a document whose id is a multiple of
# SCANNED_MOD simulates a scanned PDF (text layer blanked, pages still
# visible) and must take the OCR route.
SCANNED_MOD = 5


def _publish(tmp: str, final: str) -> None:
    """Make a fully written cache entry visible in one rename."""
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _reference_file(path: str) -> dict:
    """{docs, spans, expected} of one corpus file, from the rows as read
    back from its parquet."""
    from tests import reference_impl as ref

    docs = pq.read_table(path).to_pylist()
    expected = {}
    for d in docs:
        want = ref.extract_document(d)
        expected[d["doc_id"]] = [
            [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in want["spans"]],
            want["extracted_text"],
            want["structured_data"],
            want["columns_count"],
        ]
    return {"docs": len(docs), "spans": sum(len(d["spans"]) for d in docs), "expected": expected}


def _reference_files(data: str, files: list[str], out: str) -> list[dict]:
    """_reference_file of every file, one child process per file (the
    reference is pure Python), each writing its JSON under ``out``."""
    os.makedirs(out)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [sys.executable, "-m", "perfbench.inputs",
             os.path.join(data, f), os.path.join(out, f + ".json")],
            cwd=root,
        )
        for f in files
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"reference workers exited with {codes}")
    parts = []
    for f in files:
        with open(os.path.join(out, f + ".json")) as fh:
            parts.append(json.load(fh))
    shutil.rmtree(out)
    return parts


def span_corpus(cache: str, n_docs: int, seed: int) -> dict:
    """Long-tail span corpus (no mega-documents) and its reference.

    Returns {path, docs, spans, bytes, expected} where ``expected`` maps
    doc_id -> [spans, extracted_text, structured_data, columns_count] and
    ``spans`` is a list of [kind, text, media_ref, order]."""
    final = os.path.join(cache, f"spans-{n_docs}-s{seed}")
    meta_path = os.path.join(final, "expected.json")
    if not os.path.exists(meta_path):
        from ocr_spark.sources import corpus

        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        data = os.path.join(tmp, "data")
        corpus.write_corpus(
            data, n_docs, seed=seed, mega_docs=0,
            rows_per_file=-(-n_docs // SCAN_FILES),
        )
        files = sorted(f for f in os.listdir(data) if f.endswith(".parquet"))
        parts = _reference_files(data, files, os.path.join(tmp, "ref"))
        meta = {
            "docs": sum(p["docs"] for p in parts),
            "spans": sum(p["spans"] for p in parts),
            "bytes": _dir_bytes(data),
            "expected": {k: v for p in parts for k, v in p["expected"].items()},
        }
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(meta, f)
        _publish(tmp, final)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["path"] = os.path.join(final, "data")
    return meta


def pdf_corpus(cache: str, n_docs: int, seed: int) -> dict:
    """PDF corpus (doc_id long, content binary) and its reference.

    Document ids are drawn from the seed; exactly one fifth of them are
    multiples of SCANNED_MOD (the simulated scans). Page count, writer
    style and stream compression follow ``sources.pdf.synth_pdf_docs``'s
    rule on the id. Returns {path, docs, pages, bytes, expected} where
    ``expected`` maps str(doc_id) -> [route, full_text, total_pages]."""
    final = os.path.join(cache, f"pdf-{n_docs}-s{seed}")
    meta_path = os.path.join(final, "expected.json")
    if not os.path.exists(meta_path):
        from ocr_spark.sources.pdf_fixture import STYLES, page_text, synth_pdf_bytes
        from tests import reference_impl as ref

        rng = np.random.RandomState(seed)
        n_scanned = n_docs // SCANNED_MOD
        base = rng.permutation(np.unique(rng.randint(0, 10**8, size=2 * n_docs)))[:n_docs]
        residue = rng.permutation(
            [0] * n_scanned + [1 + j % (SCANNED_MOD - 1) for j in range(n_docs - n_scanned)]
        )
        ids = [int(b) * SCANNED_MOD + int(r) for b, r in zip(base, residue)]
        # the OCR branch reads one band per single-line page, labelled
        # 'line-0' by the deterministic engine, then conf-gated and corrected
        ocr_page = ref.correct_ocr_errors("line-0".strip())

        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        rows, expected, pages = [], {}, 0
        for i in ids:
            n_pages = 1 + i % 4
            rows.append({
                "doc_id": i,
                "content": synth_pdf_bytes(
                    i, n_pages,
                    compress=("lzw" if i % 4 == 1 else bool(i % 2)),
                    style=STYLES[i % 3],
                ),
            })
            if i % SCANNED_MOD == 0:
                expected[str(i)] = ["ocr", "\n".join([ocr_page] * n_pages), n_pages]
            else:
                text = "\n".join(page_text(i, p) for p in range(1, n_pages + 1))
                expected[str(i)] = ["direct", text, n_pages]
            pages += n_pages
        schema = pa.schema([("doc_id", pa.int64()), ("content", pa.binary())])
        step = -(-n_docs // SCAN_FILES)
        for k in range(0, n_docs, step):
            pq.write_table(
                pa.Table.from_pylist(rows[k : k + step], schema=schema),
                os.path.join(data, f"part-{k:08d}.parquet"),
            )
        meta = {"docs": n_docs, "pages": pages, "bytes": _dir_bytes(data), "expected": expected}
        with open(os.path.join(tmp, "expected.json"), "w") as f:
            json.dump(meta, f)
        _publish(tmp, final)
    with open(meta_path) as f:
        meta = json.load(f)
    meta["path"] = os.path.join(final, "data")
    return meta


if __name__ == "__main__":
    # python3 -m perfbench.inputs CORPUS_FILE OUT_JSON: one reference worker
    with open(sys.argv[2], "w") as f:
        json.dump(_reference_file(sys.argv[1]), f)
