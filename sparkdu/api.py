"""sparkdu public API — the extraction pipeline, Catalyst-shaped (SURVEY SS3.4).

Every extraction leg is one Python crossing: pages -> salted repartition ->
sortWithinPartitions -> ``mapInArrow`` -> extracted rows. Inside the crossing
one batch loop, `extract_batches`, serves the flagship (`extract_pages`), the
streaming drains (streaming.py) and the wave-committed lineage job
(lineage.run_extract_job) over HTML, PAGE-XML and PDF input. It keeps the
first row of every url run (J9 over the sorted partition), hands each payload
to a per-document function with one contract — payload -> (text, n_blocks,
spans, n_nodes), or None / an exception when the document fails — and emits
the columns of the schema its caller passes. The staged path (operators
S2/P*/W*/D3 as separate DataFrame stages) lives in staged.py and must produce
byte-identical output (differential test T3).

Scale notes (100 TB / 10^12 docs): the pipeline is embarrassingly parallel
per url after one hash repartition; no join or agg touches the hot path. The
only shuffle is the salt repartition (skew control for mega-pages [B:14]);
AQE cannot rebalance Python-map stages, hence the explicit salt. Arrow batch
size is capped so a batch of mega-pages fits executor memory (SS4.3 item 2).
``mapInArrow`` (not mapInPandas) on the hot path: the html payload and the
span structs never take the Arrow->pandas object-array detour — measured
~25-35% end-to-end win on the bench corpus.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import partial
from typing import Iterator, Optional

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import parse as P
from .tables import EXTRACTED_SCHEMA, NODES_SCHEMA


@dataclass(frozen=True)
class ExtractConfig:
    """Frozen run configuration; artifacts referenced by path, loaded once
    per executor (SURVEY SS4.4: global state frozen before the job)."""

    model_path: Optional[str] = None   # frozen logistic weights (M5) or None
    num_partitions: Optional[int] = None  # salt partition count; None = 4x cores
    dedup: bool = True                 # J9 latest-per-url
    salt: bool = True                  # explicit url-hash repartition [B:14].
    # CONTRACT: salt=False asserts the input is ALREADY url-bucketed (e.g. an
    # Iceberg bucket(url) table) — then the pipeline is completely
    # shuffle-free. If salt=False and dedup=True, dedup is only
    # sortWithinPartitions-local: same-url rows split across partitions
    # SILENTLY SURVIVE. Never set salt=False on un-bucketed input.


def default_partitions(spark: SparkSession, cfg: ExtractConfig) -> int:
    if cfg.num_partitions:
        return cfg.num_partitions
    return spark.sparkContext.defaultParallelism * 4


_MODEL_CACHE: dict = {}


def _load_model(path: Optional[str]):
    """Executor-side artifact load, cached per worker process."""
    if path is None:
        return None
    if path not in _MODEL_CACHE:
        with open(path) as f:
            _MODEL_CACHE[path] = json.load(f)
    return _MODEL_CACHE[path]


def latest_first() -> list:
    """J9 keep-latest order within one url: newest capture first, ties on
    warc_ts broken by xxhash64(html) so the kept row is deterministic
    (SURVEY SS4.4). Every keep-latest site sorts or windows by it."""
    return [F.col("warc_ts").desc(), F.xxhash64("html").desc()]


def dedup_latest(pages: DataFrame) -> DataFrame:
    """J9: crawls repeat urls; keep the row with max warc_ts per url.

    Window over url — the same shuffle key as the downstream salt
    repartition, so AQE/exchange-reuse keeps this to one effective shuffle.
    Mirrors corpus-side dedup concern [B:6]; reference has no analogue
    (collections are pre-deduped on disk).
    """
    w = Window.partitionBy("url").orderBy(*latest_first())
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def salted_repartition(df: DataFrame, num_parts: int) -> DataFrame:
    """Explicit url-hash repartition (skew rule [B:6,14]).

    ``pmod(xxhash64(url), K)`` keeps all rows of one url together (url-local
    invariant, SURVEY SS4.4) while spreading hot sites across partitions.
    """
    return df.repartition(num_parts, F.pmod(F.xxhash64(F.col("url")), F.lit(num_parts)))


def _dedup_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Streaming J9 over a partition whose rows are sorted by
    (url ASC, warc_ts DESC, tiebreak): keep the first row of every url run.
    State (last url seen) carries across Arrow batches — mapInPandas hands
    the partition's batches to one generator in order, so this is exact and
    needs no second shuffle (the old window form shuffled the full html
    payload twice; see BENCH notes)."""
    last_url = None
    for pdf in batches:
        if len(pdf):
            urls = pdf["url"]
            mask = urls.ne(urls.shift())
            if last_url is not None:
                mask.iat[0] = urls.iat[0] != last_url
            last_url = urls.iat[-1]
            # reset_index: downstream builds output frames mixing these
            # series with positional lists — indexes must be 0..n-1
            pdf = pdf[mask.to_numpy()].reset_index(drop=True)
        yield pdf


def _dedup_record_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-native variant of _dedup_batches (same exactness argument)."""
    last_url = None
    for rb in batches:
        if rb.num_rows:
            urls = rb.column(rb.schema.get_field_index("url")).to_pylist()
            mask = [u != prev for u, prev in zip(urls, [last_url] + urls[:-1])]
            last_url = urls[-1]
            if not all(mask):
                rb = rb.filter(pa.array(mask, pa.bool_()))
        yield rb


_FAILED_DOC = ("", 0, (), 0)


def extract_batches(batches: Iterator[pa.RecordBatch], doc, version: str,
                    names: list, dedup: bool) -> Iterator[pa.RecordBatch]:
    """The extraction batch loop of every leg, Arrow-batch in / Arrow-batch
    out: (dedup) -> `doc` per payload -> the columns `names`, in order.

    `doc` is the per-document contract: payload -> (extracted_text,
    n_blocks, spans, n_nodes), spans as (node_id, start, end) tuples. An
    exception or None marks the document failed: it still yields one row,
    the empty one with had_error=1, so checkpoint counters account for it.
    pipeline_version is `version` on every row; n_bytes_in is the payload
    length (0 for NULL). Columns the loop does not compute (url, warc_ts,
    partition_key) pass through as raw Arrow arrays (zero-copy, no tz
    re-coding).
    """
    if dedup:
        batches = _dedup_record_batches(batches)
    for rb in batches:
        texts, n_blocks, n_nodes, n_bytes, errors = [], [], [], [], []
        # spans columnarized flat (one ListArray build per batch instead
        # of ~n_docs x n_blocks python dicts)
        s_nid, s_start, s_end, offsets = [], [], [], [0]
        for scalar in rb.column("html"):
            payload = scalar.as_py()
            try:
                out = doc(payload)
            except Exception:
                out = None
            errors.append(int(out is None))
            t, nb, sp, nn = out or _FAILED_DOC
            texts.append(t)
            n_blocks.append(nb)
            n_nodes.append(nn)
            n_bytes.append(0 if payload is None else len(payload))
            for nid, st, en in sp:
                s_nid.append(nid)
                s_start.append(st)
                s_end.append(en)
            offsets.append(len(s_nid))
        computed = {
            "extracted_text": pa.array(texts, pa.string()),
            "n_blocks": pa.array(n_blocks, pa.int32()),
            "spans": pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.StructArray.from_arrays(
                    [
                        pa.array(s_nid, pa.int32()),
                        pa.array(s_start, pa.int64()),
                        pa.array(s_end, pa.int64()),
                    ],
                    names=["node_id", "start", "end"],
                ),
            ),
            "pipeline_version": pa.array([version] * rb.num_rows, pa.string()),
            "n_nodes": pa.array(n_nodes, pa.int32()),
            "n_bytes_in": pa.array(n_bytes, pa.int64()),
            "had_error": pa.array(errors, pa.int32()),
        }
        yield pa.RecordBatch.from_arrays(
            [computed[n] if n in computed else rb.column(n) for n in names],
            names=names,
        )


NATIVE_VERSIONS = {"pagexml": "pagexml-1.0.0", "pdf": "pdf-1.0.0"}


def native_doc(fmt: str):
    """The per-document function of the PAGE-XML/PDF legs: parse_pagexml /
    parse_pdf, then the content filter and reading-order assembly of
    assemble_doc_text (differentially gated against the DataFrame-agg
    form). None when the parser rejects the document (they fail whole)."""
    if fmt == "pagexml":
        from .pagexml import assemble_doc_text, parse_pagexml as parse

        key = "nodes"
    elif fmt == "pdf":
        from .pdf import assemble_doc_text, parse_pdf as parse

        key = "runs"
    else:
        raise ValueError(f"unknown native format: {fmt!r}")

    def doc(payload):
        parsed = parse(payload)
        if parsed is None:
            return None
        items = parsed[key]
        return (*assemble_doc_text(items), len(items))

    return doc


def extract_udf(schema, fmt: str = "html", model_path: Optional[str] = None,
                dedup: bool = True):
    """The mapInArrow function of every extraction leg: `fmt` input (html |
    pagexml | pdf) through `extract_batches` to the columns of `schema`.

    Iterator-of-batches form so the model artifact loads once per task, not
    per batch. For HTML this is D1, the single Python crossing —
    (dedup)→decode→parse→classify→order→assemble — mirroring the
    reference's whole per-doc loop [U tasks/DU_Task --run;
    graph/Graph.loadGraphs → Model.predict → NodeType.setDocNodeLabel]
    collapsed into one Arrow stage.
    """
    names = schema.fieldNames()
    native = None if fmt == "html" else native_doc(fmt)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        if native is None:
            model = _load_model(model_path)
            doc, version = partial(P.extract_doc, model=model), P.model_version(model)
        else:
            doc, version = native, NATIVE_VERSIONS[fmt]
        return extract_batches(batches, doc, version, names, dedup)

    return fn


def fused_extract_udf(cfg: ExtractConfig):
    """The flagship's mapInArrow function: HTML pages -> EXTRACTED_SCHEMA."""
    return extract_udf(EXTRACTED_SCHEMA, model_path=cfg.model_path, dedup=cfg.dedup)


def prepare_pages(spark: SparkSession, pages: DataFrame, cfg: ExtractConfig) -> DataFrame:
    """Shared physical front half: ONE shuffle total (or zero).

    - salt repartition on pmod(xxhash64(url), K): url-local, skew-spreading
      [B:14]; skipped when the source is already bucketed by url.
    - dedup needs url-grouped + sorted rows: sortWithinPartitions piggybacks
      on the same exchange (local sort, no extra shuffle), url runs in the
      `latest_first` order.
    """
    df = pages.select("url", "warc_ts", "html")
    if cfg.salt:
        df = salted_repartition(df, default_partitions(spark, cfg))
    if cfg.dedup:
        df = df.sortWithinPartitions(F.col("url").asc(), *latest_first())
    return df


def extract_pages(
    spark: SparkSession, pages: DataFrame, cfg: ExtractConfig = ExtractConfig()
) -> DataFrame:
    """Flagship query: main text of every page (SURVEY SS7 M1).

    DataFrame-in/DataFrame-out; caller writes the result (or uses
    jobs/extract_job.py which adds lineage + resume).
    """
    df = prepare_pages(spark, pages, cfg)
    return df.mapInArrow(fused_extract_udf(cfg), schema=EXTRACTED_SCHEMA)


def parse_nodes_udf(dedup: bool = False):
    """S2 staged path: pages batch -> exploded node rows (one Arrow pass).

    The Spark analogue of graph/Graph.parseDocFile + NodeType_PageXml node
    selection [U]: DOM exists only inside this UDF; output is columnar.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = list(P.NODE_FIELDS)
        if dedup:
            batches = _dedup_batches(batches)
        for pdf in batches:
            out = {
                "url": [], "part_id": [], "doc_truncated": [],
                **{c: [] for c in cols},
            }
            for url, html in zip(pdf["url"], pdf["html"]):
                try:
                    s, truncated = P.sniff_decode(html)
                    blocks = P.parse_blocks(s)
                except Exception:
                    blocks, truncated = [], False
                for r in blocks:
                    out["url"].append(url)
                    out["part_id"].append(r[-1])  # trailing part_id (SPEC SS2)
                    out["doc_truncated"].append(truncated)
                    for c, v in zip(cols, r):
                        out[c].append(v)
            # empty batch (all-error/all-null html): inferred dtypes become
            # float64 NaN columns that Arrow refuses to convert to
            # map<string,string> — force object there; non-empty batches
            # keep the fast inferred-dtype construction (hot path)
            if out["url"]:
                pdf_out = pd.DataFrame(out)
            else:
                pdf_out = pd.DataFrame(out, dtype=object)
            for c, dt in (
                ("part_id", "int32"), ("node_id", "int32"), ("depth", "int32"),
                ("n_chars", "int32"), ("n_links", "int32"),
            ):
                pdf_out[c] = pd.array(pdf_out[c], dtype=dt)
            yield pdf_out[[f.name for f in NODES_SCHEMA.fields]]

    return fn


def parse_nodes_df(spark: SparkSession, pages: DataFrame,
                   cfg: ExtractConfig = ExtractConfig()) -> DataFrame:
    """Materializable `nodes` table (SURVEY SS1.2), the engine's Block list."""
    df = prepare_pages(spark, pages, cfg)
    return df.mapInPandas(parse_nodes_udf(dedup=cfg.dedup), schema=NODES_SCHEMA)
