"""The workloads: how each runs one job, warms a session, checks its output,
and which layers it traces.

A workload object is built per Spark session. ``warm`` is a session's first
action. ``job`` runs one closed-loop job (one job in flight) over ``docs()``
documents. ``check_job`` is the first untimed full-size job, and ``check``
judges its output, or that of the last job when jobs write, against the
generator's truth, outside the timed window. sparkdu is called only through
its public functions.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sparkdu import pagexml, parse, pdf, warc
from sparkdu.api import ExtractConfig, extract_pages, prepare_pages
from sparkdu.jobs.wat_job import run_wat_job
from sparkdu.lineage import ExtractJobConfig, run_extract_job

import observe

PAGES_DDL = "url string, warc_ts timestamp, html binary"
WARM_ROWS = 64


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digests(df, text_col: str = "extracted_text") -> dict:
    return {r[0]: r[1] for r in
            df.select("url", F.sha2(F.col(text_col), 256)).collect()}


def _compare(got: dict, want: dict) -> int:
    """Documents with wrong or missing output, plus unexpected extra rows."""
    wrong = sum(1 for u, d in want.items() if got.get(u) != d)
    return wrong + len(set(got) - set(want))


def _median_us(fn, items) -> float:
    """Median over 3 passes of the mean per-item time of ``fn``, in us."""
    passes = []
    for _ in range(3):
        t0 = time.perf_counter()
        for x in items:
            fn(x)
        passes.append((time.perf_counter() - t0) / len(items) * 1e6)
    return statistics.median(passes)


class Workload:
    kind = ""          # corpus kind in inputs.py
    size = 0           # default corpus size

    def __init__(self, spark, corpus: dict, out_root: str):
        self.spark = spark
        self.corpus = corpus
        self.truth = corpus["truth"]
        self.out_root = out_root
        self.n_jobs = 0
        self.last_out = None
        self.parts = 4 * spark.sparkContext.defaultParallelism

    def clear_output(self) -> None:
        """Delete the last job's output. The timed loop calls this before it
        starts a job's clock: deleting files here is slow and uneven from one
        job to the next, and it is not work of the program."""
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)

    def _next_out(self) -> str:
        self.clear_output()
        self.n_jobs += 1
        self.last_out = os.path.join(self.out_root, f"job{self.n_jobs}")
        return self.last_out

    def docs(self) -> int:
        raise NotImplementedError

    def job(self, spans=None) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def check_job(self) -> None:
        self.job()

    def check(self) -> tuple[int, int, dict]:
        """(documents attempted, documents failed, detail)."""
        raise NotImplementedError

    def layers(self, spans, execs: list[dict], n_jobs: int) -> dict:
        """Workload-specific per-layer metrics of the traced jobs."""
        return {}


# ---------------------------------------------------------------- HTML


class ExtractWeb(Workload):
    kind, size = "web", 4000

    def __init__(self, spark, corpus, out_root):
        super().__init__(spark, corpus, out_root)
        self.pages = spark.read.schema(PAGES_DDL).parquet(corpus["tables"]["pages"])
        # 8 tasks per core, as bench.py ran the flagship: with the default 4
        # the one task holding the over-cap page decides the wall, and where
        # that task falls in the schedule changes with the seed
        self.cfg = ExtractConfig(num_partitions=2 * self.parts)

    def docs(self) -> int:
        return self.truth["n_rows"]

    def job(self, spans=None) -> None:
        with _span(spans, "api.extract_pages"):
            _noop(extract_pages(self.spark, self.pages, self.cfg))

    def warm(self) -> None:
        _noop(extract_pages(self.spark, self.pages.limit(WARM_ROWS), self.cfg))

    def check_job(self) -> None:
        # the flagship's sink is noop: the checked job collects digests instead
        self.got = _digests(extract_pages(self.spark, self.pages, self.cfg))

    def check(self):
        want = self.truth["digests"]
        return len(want), _compare(self.got, want), {"rows_out": len(self.got)}

    def legs(self, reps: int = 3) -> dict:
        """Leg subtraction: scan, + exchange/sort, + identity mapInArrow,
        + the full extraction, each timed as its own noop job."""
        prepared = prepare_pages(self.spark, self.pages, self.cfg)
        schema = prepared.schema

        def identity(batches):
            yield from batches

        variants = [
            ("scan", self.pages.select("url", "warc_ts", "html")),
            ("exchange_sort", prepared),
            ("arrow_crossing", prepared.mapInArrow(identity, schema=schema)),
            ("kernel", extract_pages(self.spark, self.pages, self.cfg)),
        ]
        walls = {name: [] for name, _ in variants}
        for _ in range(reps):
            for name, df in variants:
                t0 = time.perf_counter()
                _noop(df)
                walls[name].append(time.perf_counter() - t0)
        cum = [statistics.median(walls[name]) for name, _ in variants]
        out = {"leg.scan_s": cum[0]}
        for k, (name, _) in enumerate(variants[1:], 1):
            out[f"leg.{name}_s"] = cum[k] - cum[k - 1]
        return out

    def wat_layers(self) -> dict:
        """The WAT leg on the same corpus: one untimed run_wat_job for the
        JIT, then one whose SQL executions split it into its writes and the
        counting read-back."""
        pages = self.pages.select("url", "html")
        run_wat_job(self.spark, pages, os.path.join(self.out_root, "wat0"))
        exec0 = observe.last_execution_id(self.spark)
        res = run_wat_job(self.spark, pages, os.path.join(self.out_root, "wat1"))
        done = time.time()
        writes = [e for e in observe.sql_metrics(self.spark, exec0)
                  if "InsertIntoHadoopFsRelationCommand" in e["plan"]]
        meta = next(e for e in writes if "doc_meta" in e["plan"])
        links = next(e for e in writes if "outlinks" in e["plan"])
        return {
            "webmeta.doc_meta_s": meta["end"] - meta["start"],
            "webmeta.outlinks_s": links["end"] - links["start"],
            "wat_job.readback_s": done - links["end"],
            "webmeta.links_per_doc": res["n_links"] / res["n_pages"],
        }

    def layers(self, spans, execs, n_jobs):
        return {**self.legs(), **kernel_timings(self.corpus), **self.wat_layers()}


def kernel_timings(corpus: dict, sample: int = 400) -> dict:
    """Direct single-core calls of the parse kernel on the corpus's plain
    pages (mega-pages excluded so that a sample is typical)."""
    htmls = []
    for path in sorted(os.listdir(corpus["tables"]["pages"])):
        col = pq.read_table(os.path.join(corpus["tables"]["pages"], path),
                            columns=["html"]).column("html")
        htmls += [h for h in col.to_pylist() if len(h) < 2**19]
        if len(htmls) >= sample:
            break
    htmls = htmls[:sample]
    root = os.path.dirname(os.path.dirname(os.path.abspath(parse.__file__)))
    with open(os.path.join(root, "artifacts", "clf_v1.json")) as fh:
        model = json.load(fh)
    decoded = [parse.sniff_decode(h)[0] for h in htmls]
    extract_us = _median_us(parse.extract_doc, htmls)
    return {
        "parse.sniff_decode.us_per_doc": _median_us(parse.sniff_decode, htmls),
        "parse.parse_blocks.us_per_doc": _median_us(parse.parse_blocks, decoded),
        "parse.extract_doc.us_per_doc": extract_us,
        "parse.extract_doc_model.us_per_doc":
            _median_us(lambda h: parse.extract_doc(h, model), htmls),
        "parse.docs_per_s_core": 1e6 / extract_us,
    }


# ---------------------------------------------------------------- jobs


class ExtractJobWarc(Workload):
    kind, size = "warc", 1500
    waves = 2  # each wave is one extraction write, a snapshot commit and a checkpoint

    def __init__(self, spark, corpus, out_root):
        super().__init__(spark, corpus, out_root)
        self.shards = spark.read.parquet(corpus["tables"]["shards"])
        self.accounting = None
        self.total = None

    def docs(self) -> int:
        return self.truth["n_valid_captures"]

    def job(self, spans=None) -> None:
        out_dir = self._next_out()
        with _span(spans, "warc.shard_error_accounting"):
            self.accounting = warc.shard_error_accounting(self.shards)
        pages = warc.warc_pages(self.shards)
        cfg = ExtractJobConfig(run_id="bench", out_dir=out_dir,
                               num_partitions=self.parts, waves=self.waves)
        with _span(spans, "lineage.run_extract_job"):
            self.total = run_extract_job(self.spark, pages, cfg)

    def warm(self) -> None:
        # the job's first action: boots the Python workers on a few shards
        warc.shard_error_accounting(self.shards.limit(4))

    def check(self):
        rows = self.spark.read.parquet(os.path.join(self.last_out, "extracted"))
        got = _digests(rows)
        want = self.truth["digests"]
        n_shards, n_failed = self.accounting
        failed = _compare(got, want) + self.total["n_errors"]
        failed += abs(n_failed - self.truth["n_corrupt"]) + abs(n_shards - self.truth["n_shards"])
        return len(want), failed, {"rows_out": len(got), "shards": n_shards,
                                   "shard_errors": n_failed,
                                   "n_errors": self.total["n_errors"]}

    def layers(self, spans, execs, n_jobs):
        shard_us = []
        for path in sorted(os.listdir(self.corpus["tables"]["shards"]))[:2]:
            shard_us += pq.read_table(os.path.join(self.corpus["tables"]["shards"], path),
                                      columns=["payload"]).column("payload").to_pylist()
        runs = [r for r in spans.rows if r["name"] == "lineage.run_extract_job"]
        in_job = [e for e in execs if any(r["start"] <= e["start"] <= r["end"] for r in runs)]
        n_shards, n_failed = self.accounting
        return {
            "warc.parse_warc.us_per_shard": _median_us(warc.parse_warc, shard_us),
            "warc.shard_error_accounting_s":
                statistics.median(spans.durations("warc.shard_error_accounting")),
            # warc_pages has no action of its own: its cost is the Python
            # task time of its map inside the extraction job's executions
            "warc.warc_pages_s": observe.metric_sum(
                in_job, "MapInPandas", "time to run Python workers") / n_jobs,
            "warc.shard_error_ratio": n_failed / n_shards,
            **lineage_layers(spans),
        }


class ExtractJobNative(Workload):
    kind, size = "native", 600

    FORMATS = ("pagexml", "pdf")
    waves = 1

    def __init__(self, spark, corpus, out_root):
        super().__init__(spark, corpus, out_root)
        self.collections = {
            fmt: spark.read.parquet(corpus["tables"][fmt]).select(
                F.concat(F.lit(fmt + "://"), F.col("doc_id").cast("string")).alias("url"),
                F.timestamp_seconds(F.lit(0)).alias("warc_ts"),
                F.col("payload").alias("html"))
            for fmt in self.FORMATS}
        self.totals = {}

    def docs(self) -> int:
        return sum(self.truth[fmt]["n_docs"] for fmt in self.FORMATS)

    def _run(self, fmt, pages, out_dir, spans) -> dict:
        cfg = ExtractJobConfig(run_id="bench", out_dir=out_dir, num_partitions=self.parts,
                               waves=self.waves, input_format=fmt)
        with _span(spans, "lineage.run_extract_job"):
            return run_extract_job(self.spark, pages, cfg)

    def job(self, spans=None) -> None:
        out = self._next_out()
        self.totals = {fmt: self._run(fmt, df, os.path.join(out, fmt), spans)
                       for fmt, df in self.collections.items()}

    def warm(self) -> None:
        # one format is enough to boot the workers and compile the wave plan
        df = self.collections["pagexml"].limit(WARM_ROWS)
        self._run("pagexml", df, os.path.join(self.out_root, "warm"), None)

    def check(self):
        attempted = failed = 0
        detail = {}
        for fmt in self.FORMATS:
            t = self.truth[fmt]
            rows = self.spark.read.parquet(os.path.join(self.last_out, fmt, "extracted"))
            got = _digests(rows)
            n_err = self.totals[fmt]["n_errors"]
            attempted += t["n_docs"]
            failed += _compare(got, t["digests"]) + abs(n_err - t["n_errors"])
            detail[fmt] = {"rows_out": len(got), "n_errors": n_err}
        return attempted, failed, detail

    def layers(self, spans, execs, n_jobs):
        out = lineage_layers(spans)
        for fmt, mod, parse_fn, items_of in (
                ("pagexml", pagexml, pagexml.parse_pagexml, lambda p: p["nodes"]),
                ("pdf", pdf, pdf.parse_pdf, lambda p: p["runs"])):
            path = self.corpus["tables"][fmt]
            payloads = pq.read_table(os.path.join(path, sorted(os.listdir(path))[0]),
                                     columns=["payload"]).column("payload").to_pylist()
            parsed = [p for p in map(parse_fn, payloads) if p is not None]
            out[f"{fmt}.parse_{fmt}.us_per_doc"] = _median_us(parse_fn, payloads)
            out[f"{fmt}.assemble_doc_text.us_per_doc"] = _median_us(
                lambda p: mod.assemble_doc_text(items_of(p)), parsed)
        return out


def lineage_layers(spans) -> dict:
    """Per run_extract_job call: its wall, and the wave commits inside it."""
    runs = spans.durations("lineage.run_extract_job")
    commits = spans.durations("snapshots.commit_wave_snapshot")
    return {
        "lineage.run_extract_job_s": statistics.median(runs),
        "snapshots.commit_wave_snapshot_s": sum(commits) / len(runs),
    }


def _span(spans, name):
    return spans.span(name) if spans is not None else contextlib.nullcontext()


WORKLOADS = {
    "extract_web": ExtractWeb,
    "extract_job_warc": ExtractJobWarc,
    "extract_job_native": ExtractJobNative,
}
