"""The benchmark's workloads: one timed job, one output check and one traced
run each.

A workload object exposes
  prepare(cache, seed)        -> inputs (cached per seed, outside any timer)
  job(spark, inputs, work)    -> one closed-loop job; returns its timings
  check(spark, inputs, work)  -> Check of the job's output vs the reference
  trace(spark, inputs, work, tracer, seconds, check) -> per-layer metrics
and ``units``: the per-document input counts its throughput is quoted in.

Every timed job writes to Spark's ``noop`` sink: the whole output row is
computed, nothing reaches the driver. The check writes the same plan to
parquet and compares it in this Python process, so no output is collected
into the driver JVM's heap.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import inputs as I

MiB = 2**20


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_loop(seconds: float, job, min_jobs: int = 1) -> list:
    """Run ``job`` back to back (closed loop, one at a time) until
    ``seconds`` have passed and at least ``min_jobs`` ran. Returns each
    job's result."""
    out = []
    end = time.perf_counter() + seconds
    while len(out) < min_jobs or time.perf_counter() < end:
        out.append(job())
    return out


@dataclass
class Check:
    """Output check of one job against the reference.

    ``known`` are the documents lost to the known all-boilerplate defect
    (``extract_documents`` drops a document whose every span is
    boilerplate; the reference keeps it with no spans). They count as
    failed but do not make the run incorrect. ``unexpected`` lists every
    other difference and does."""

    attempted: int
    failed: int = 0
    known: int = 0
    unexpected: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)


def written_rows(df: DataFrame, work: str) -> list[dict]:
    """Materialise ``df`` to parquet under ``work`` and read it back here
    with pyarrow (map columns come back as dicts)."""
    out = os.path.join(work, "check")
    df.write.mode("overwrite").parquet(out)
    table = pq.read_table(out)
    shutil.rmtree(out)
    maps = [f.name for f in table.schema if pa.types.is_map(f.type)]
    rows = table.to_pylist()
    for r in rows:
        for m in maps:
            if r[m] is not None:
                r[m] = dict(r[m])
    return rows


def _span_row(r) -> list:
    return [
        [[s["kind"], s["text"], s["media_ref"], s["order"]] for s in r["spans"]],
        r["extracted_text"],
        r["structured_data"],
        r["columns_count"],
    ]


def check_span_rows(rows, expected: dict) -> Check:
    """Compare extract_documents rows with tests.reference_impl: doc-id set,
    span sequence (kind, text, media_ref, order), extracted_text,
    structured_data and columns_count."""
    from ocr_spark import config

    chk = Check(attempted=len(expected))
    got = {}
    for r in rows:
        if r["doc_id"] in got:
            chk.unexpected.append(f"{r['doc_id']}: duplicated in output")
        got[r["doc_id"]] = r
    for doc_id, want in expected.items():
        r = got.get(doc_id)
        if r is None:
            chk.failed += 1
            if want[0]:
                chk.unexpected.append(f"{doc_id}: missing from output")
            else:
                chk.known += 1
            continue
        have = _span_row(r)
        if have != want:
            chk.failed += 1
            names = ("spans", "extracted_text", "structured_data", "columns_count")
            bad = [n for n, a, b in zip(names, have, want) if a != b]
            chk.unexpected.append(f"{doc_id}: differs in {', '.join(bad)}")
    chk.unexpected += [f"{d}: not in the input" for d in set(got) - set(expected)]
    kept = sum(r["n_spans"] for r in got.values())
    chk.counts = {
        "kept_spans": kept,
        "salted_docs": sum(1 for r in got.values() if r["n_spans"] > config.BIG_DOC_SPANS),
        "docs_with_fields": sum(1 for r in got.values() if r["structured_data"]),
        "multi_column_docs": sum(1 for r in got.values() if r["has_multiple_columns"]),
        "out_docs": len(got),
    }
    return chk


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class ExtractLongtail:
    """pipeline.extract_documents -> noop over the long-tail span corpus."""

    name = "extract_longtail"
    # ~0.15% of documents are all boilerplate, so they show up at any seed
    n_docs = 12000

    def prepare(self, cache: str, seed: int) -> dict:
        inp = I.span_corpus(cache, self.n_docs, seed)
        inp["units"] = {"docs": inp["docs"], "spans": inp["spans"]}
        return inp

    def plan(self, spark, inp: dict) -> DataFrame:
        from ocr_spark.pipeline import extract_documents

        return extract_documents(spark.read.parquet(inp["path"]))

    def job(self, spark, inp: dict, work: str) -> dict:
        t = time.perf_counter()
        noop(self.plan(spark, inp))
        return {"wall_s": time.perf_counter() - t}

    def check(self, spark, inp: dict, work: str) -> Check:
        return check_span_rows(written_rows(self.plan(spark, inp), work), inp["expected"])

    def trace(self, spark, inp, work, tracer, seconds, chk: Check) -> dict:
        """Untraced jobs alternating with traced rounds of the noop
        prefixes, then one traced checkpoint crash/resume cycle (the
        jobs/extract_job shape) for the checkpoint layer, whose bucket
        output gets the same reference check (differences land in
        ``chk.unexpected``)."""
        base, walls = _alternate(
            seconds, lambda: self.job(spark, inp, work), self.prefixes(spark, inp), tracer
        )
        res = checkpoint_cycle(spark, inp, work, tracer)
        rows = spark.read.parquet(res["out"]).drop("bucket").collect()
        resumed = check_span_rows(rows, inp["expected"])
        if res["summary"]["rows"] != len(rows):
            resumed.unexpected.append(
                f"manifest rows {res['summary']['rows']} != {len(rows)} rows in the buckets"
            )
        chk.unexpected += [f"checkpointed output: {u}" for u in resumed.unexpected]
        tracer.collect_counters()
        full_s = _median(walls["pipeline.full"])
        m = self.layer_metrics(inp, tracer, walls, chk)
        m.update(checkpoint_metrics(res))
        m.update(_session_metrics(spark, tracer.last("pipeline.full")["counters"], full_s))
        m.update(_overhead(inp["docs"], _median(base), full_s))
        return m

    def prefixes(self, spark, inp) -> list:
        """Cumulative prefixes of extract_documents as (span name, plan
        builder): scan -> classify -> assemble -> +extracted_text ->
        +fields -> +layout -> full. Each span builds its plan and
        materialises it to noop, as a job does."""
        from ocr_spark.functions import fields as FX
        from ocr_spark.operators import layout as L
        from ocr_spark.operators import spans as S

        def scan():
            return spark.read.parquet(inp["path"])

        def classify():
            return S.classify_spans(scan())

        def assemble():
            return S.assemble_spans(classify())

        def text():
            text_spans = F.filter(F.col("spans"), lambda s: s["kind"] == "text")
            return assemble().withColumn(
                "extracted_text",
                F.array_join(F.transform(text_spans, lambda s: s["text"]), "\n"),
            )

        def fields():
            return text().withColumn(
                "structured_data", FX.extract_fields_map(F.col("extracted_text"))
            )

        def layout():
            return fields().withColumn("columns", L.analyze_text_columns(F.col("extracted_text")))

        return [
            ("scan", scan),
            ("spans.classify", classify),
            ("spans.assemble", assemble),
            ("pipeline.text", text),
            ("fields", fields),
            ("layout", layout),
            ("pipeline.full", lambda: self.plan(spark, inp)),
        ]

    @staticmethod
    def layer_metrics(inp, tracer, walls, chk: Check) -> dict:
        """A layer's self time is its prefix minus the one before; the full
        pass minus their sum is pipeline.residual_s (the extracted_text
        projection and the output columns land there)."""
        full = tracer.last("pipeline.full")["counters"]
        assemble = tracer.last("spans.assemble")["counters"]
        rows_out = tracer.last("spans.classify")["counters"]["generated_rows"]
        t = {k: _median(v) for k, v in walls.items()}
        self_s = {
            "scan.s": t["scan"],
            "spans.classify.self_s": t["spans.classify"] - t["scan"],
            "spans.assemble.self_s": t["spans.assemble"] - t["spans.classify"],
            "fields.self_s": t["fields"] - t["pipeline.text"],
            "layout.self_s": t["layout"] - t["fields"],
        }
        return {
            **self_s,
            "scan.input_mb": full["scan_bytes"] / MiB,
            "scan.amplification": full["scan_bytes"] / inp["bytes"],
            "spans.classify.rows_out": rows_out,
            "spans.classify.boilerplate_share": 1 - chk.counts["kept_spans"] / rows_out,
            "spans.assemble.shuffle_mb": assemble["shuffle_write_bytes"] / MiB,
            "spans.assemble.shuffle_records": assemble["shuffle_write_records"],
            "spans.assemble.spill_mb": assemble["spill_bytes"] / MiB,
            "spans.assemble.salted_docs": chk.counts["salted_docs"],
            "spans.assemble.task_skew": assemble["task_skew"],
            "fields.docs_with_fields": chk.counts["docs_with_fields"],
            "layout.multi_column_share": chk.counts["multi_column_docs"] / chk.counts["out_docs"],
            "pipeline.residual_s": t["pipeline.full"] - sum(self_s.values()),
        }


CHECKPOINT_BUCKETS = 4


def checkpoint_cycle(spark, inp: dict, work: str, tracer) -> dict:
    """run_checkpointed(extract_documents) into CHECKPOINT_BUCKETS parquet
    buckets, failing after half of them, then re-run to completion; raises
    if the restart re-ran a committed bucket."""
    from ocr_spark.pipeline import extract_documents
    from ocr_spark.plans.checkpoint import run_checkpointed

    out = os.path.join(work, "buckets")
    shutil.rmtree(out, ignore_errors=True)
    crash = CHECKPOINT_BUCKETS // 2

    def run(fail_after=None):
        return run_checkpointed(
            spark, spark.read.parquet(inp["path"]), out, extract_documents,
            num_buckets=CHECKPOINT_BUCKETS, input_lineage=inp["path"], fail_after=fail_after,
        )

    t0 = time.perf_counter()
    with tracer.span("checkpoint.first_leg"):
        try:
            run(fail_after=crash)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("the injected failure did not fire")
    t1 = time.perf_counter()
    with tracer.span("checkpoint.resume_leg"):
        summary = run()
    t2 = time.perf_counter()
    if (summary["buckets_skipped"], summary["buckets_run"]) != (crash, CHECKPOINT_BUCKETS - crash):
        raise RuntimeError(f"restart re-ran committed buckets: {summary}")
    return {"wall_s": t2 - t0, "resume_s": t2 - t1, "summary": summary, "out": out}


def checkpoint_metrics(res: dict) -> dict:
    """checkpoint.* from one cycle: the restart's summary and the manifest's
    per-bucket wall_sec; commit overhead is the cycle's time outside the
    bucket bodies (manifest reads and checks, commits, the crash)."""
    from ocr_spark.plans.checkpoint import committed_buckets

    bucket_s = [r["wall_sec"] for r in committed_buckets(res["out"]).values()]
    return {
        "checkpoint.buckets_run": res["summary"]["buckets_run"],
        "checkpoint.buckets_skipped": res["summary"]["buckets_skipped"],
        "checkpoint.bucket_s_p50": _median(bucket_s),
        "checkpoint.bucket_s_max": max(bucket_s),
        "checkpoint.write_mb": res["summary"]["bytes"] / MiB,
        "checkpoint.commit_overhead_s": res["wall_s"] - sum(bucket_s),
        "checkpoint.resume_s": res["resume_s"],
    }


class PdfOcr:
    """pipeline.process_pdfs over parquet PDF bytes: every page's text layer
    is extracted; the simulated scans (text layer blanked) fall to the
    rasterize -> OCR branch."""

    name = "pdf_ocr"
    n_docs = 20000

    def prepare(self, cache: str, seed: int) -> dict:
        inp = I.pdf_corpus(cache, self.n_docs, seed)
        inp["units"] = {"docs": inp["docs"], "pages": inp["pages"]}
        return inp

    @staticmethod
    def _text_layer(pages: DataFrame) -> DataFrame:
        return pages.withColumn(
            "text",
            F.when(F.col("doc_id") % I.SCANNED_MOD == 0, F.lit("")).otherwise(F.col("text")),
        )

    def plan(self, spark, inp: dict) -> DataFrame:
        from ocr_spark.pipeline import process_pdfs
        from ocr_spark.sources import pdf as P

        pages = P.extract_pages(spark.read.parquet(inp["path"]))
        return process_pdfs(self._text_layer(pages), visual_pages=pages)

    def job(self, spark, inp: dict, work: str) -> dict:
        t = time.perf_counter()
        noop(self.plan(spark, inp))
        return {"wall_s": time.perf_counter() - t}

    def check(self, spark, inp: dict, work: str) -> Check:
        """Direct route: the text equals pdf_fixture.page_text joined in page
        order. OCR route: the pdf_process oracle's closed form. Exactly the
        blanked documents route to ocr."""
        expected = inp["expected"]
        chk = Check(attempted=len(expected))
        got = {}
        for r in written_rows(self.plan(spark, inp), work):
            got[str(r["doc_id"])] = [r["route"], r["full_text"], r["total_pages"]]
        for doc_id, want in expected.items():
            have = got.get(doc_id)
            if have != want:
                chk.failed += 1
                what = "missing from output" if have is None else f"got {have[0]}/{have[2]} pages"
                chk.unexpected.append(f"{doc_id}: {what}, want {want[0]}/{want[2]} pages")
        chk.unexpected += [f"{d}: not in the input" for d in set(got) - set(expected)]
        chk.counts = {
            "pages_out": sum(v[2] for v in got.values()),
            "ocr_docs": sum(1 for v in got.values() if v[0] == "ocr"),
            "ocr_pages": sum(v[2] for v in got.values() if v[0] == "ocr"),
            "out_docs": len(got),
        }
        return chk

    def trace(self, spark, inp, work, tracer, seconds, chk: Check) -> dict:
        """Cumulative prefixes of process_pdfs: scan -> extract_pages ->
        +concat/route -> +rasterize (OCR-routed pages) -> +scan_images ->
        full. The route and the final assembly are the pipeline's own and
        land in pipeline.residual_s."""
        from ocr_spark.pipeline import process_pdfs, route_documents
        from ocr_spark.sources import pdf as P
        from ocr_spark.sources.ocr_engine import scan_images

        def scan():
            return spark.read.parquet(inp["path"])

        def pages():
            return P.extract_pages(scan())

        def routed(pg):
            return route_documents(P.concat_pages(self._text_layer(pg)), direct_text_col="all_text")

        def route():
            return routed(pages())

        def rasterize():
            pg = pages()
            ocr_ids = routed(pg).filter(F.col("route") == "ocr").select("doc_id")
            return P.rasterize_pages(pg.join(ocr_ids, "doc_id")).select(
                P.pack_image_id(F.col("doc_id"), F.col("page_number")).alias("image_id"),
                "data", "width", "height",
            )

        prefixes = [
            ("scan", scan),
            ("pdf.extract_pages", pages),
            ("pipeline.route", route),
            ("ocr.rasterize", rasterize),
            ("ocr.scan", lambda: scan_images(rasterize(), include_preprocess=False)),
            ("pipeline.full", lambda: self.plan(spark, inp)),
        ]
        base, walls = _alternate(
            seconds, lambda: self.job(spark, inp, work), prefixes, tracer
        )
        tracer.collect_counters()
        full = tracer.last("pipeline.full")["counters"]
        t = {k: _median(v) for k, v in walls.items()}
        self_s = {
            "scan.s": t["scan"],
            "pdf.extract_pages.self_s": t["pdf.extract_pages"] - t["scan"],
            "ocr.rasterize.self_s": t["ocr.rasterize"] - t["pipeline.route"],
            "ocr.scan.self_s": t["ocr.scan"] - t["ocr.rasterize"],
        }
        m = {
            **self_s,
            "scan.input_mb": full["scan_bytes"] / MiB,
            "scan.amplification": full["scan_bytes"] / inp["bytes"],
            "pdf.pages_out": chk.counts["pages_out"],
            "route.ocr_share": chk.counts["ocr_docs"] / chk.counts["out_docs"],
            "ocr.images": chk.counts["ocr_pages"],
            "pipeline.residual_s": t["pipeline.full"] - sum(self_s.values()),
        }
        m.update(_session_metrics(spark, full, t["pipeline.full"]))
        m.update(_overhead(inp["docs"], _median(base), t["pipeline.full"]))
        return m


def _alternate(seconds: float, untraced_job, prefixes, tracer):
    """Alternate one round of the traced prefixes (each materialised to
    noop under its own span, the full plan last) with one untraced job, for
    ``seconds`` (at least one round), so the traced and the untraced full
    pass see an equally warm JVM. Returns the untraced wall times and each
    prefix's wall times."""
    base: list[float] = []
    walls: dict[str, list[float]] = {}

    def one_round():
        for name, build in prefixes:
            with tracer.span(name) as rec:
                noop(build())
            walls.setdefault(name, []).append(rec["wall_s"])
        base.append(untraced_job()["wall_s"])

    timed_loop(seconds, one_round)
    return base, walls


def _session_metrics(spark, counters: dict, wall_s: float) -> dict:
    cores = spark.sparkContext.defaultParallelism
    return {
        "session.gc_s": counters["gc_s"],
        "session.core_busy": counters["run_s"] / (wall_s * cores),
    }


def _overhead(docs: int, untraced_s: float, traced_s: float) -> dict:
    return {
        "trace.untraced_docs_per_s": docs / untraced_s,
        "trace.traced_docs_per_s": docs / traced_s,
        "trace.overhead": traced_s / untraced_s - 1,
    }


WORKLOADS = {w.name: w for w in (ExtractLongtail(), PdfOcr())}
