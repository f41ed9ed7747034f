"""The extraction batch loop (api.extract_batches) on hand-built Arrow
batches: pyarrow only, no Spark session."""

import datetime as dt

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema

from sparkdu.api import extract_batches
from sparkdu.lineage import EXTRACTED_LINEAGE_SCHEMA
from sparkdu.tables import EXTRACTED_SCHEMA

TS = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)


def _batch(urls, payloads):
    n = len(urls)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array([TS] * n, pa.timestamp("us", tz="UTC")),
            pa.array(payloads, pa.binary()),
            pa.array([7] * n, pa.int32()),
        ],
        names=["url", "warc_ts", "html", "partition_key"],
    )


def _echo(payload):
    """Per-document stand-in: the payload as one block."""
    text = payload.decode()
    return text, 1, [(0, 0, len(text))], 3


def _raises(payload):
    raise RuntimeError("parser blew up")


def _run(batches, doc, schema, dedup=True):
    return list(extract_batches(iter(batches), doc, "v-test",
                                schema.fieldNames(), dedup))


def test_url_run_split_across_batches_keeps_first_row():
    batches = [_batch(["a", "b", "b"], [b"a1", b"b1", b"b2"]),
               _batch(["b", "c"], [b"b3", b"c1"])]
    out = _run(batches, _echo, EXTRACTED_SCHEMA)
    rows = [r for rb in out for r in rb.to_pylist()]
    assert [(r["url"], r["extracted_text"]) for r in rows] == [
        ("a", "a1"), ("b", "b1"), ("c", "c1")]
    assert {r["pipeline_version"] for r in rows} == {"v-test"}
    # without dedup every row survives
    assert sum(rb.num_rows for rb in _run(batches, _echo, EXTRACTED_SCHEMA,
                                          dedup=False)) == 5


def test_failed_document_is_empty_error_row():
    (rb,) = _run([_batch(["x"], [b"<p>hello</p>"])], _raises,
                 EXTRACTED_LINEAGE_SCHEMA)
    (row,) = rb.to_pylist()
    assert (row["extracted_text"], row["n_blocks"], row["spans"],
            row["n_nodes"]) == ("", 0, [], 0)
    assert row["had_error"] == 1
    assert row["n_bytes_in"] == len(b"<p>hello</p>")
    assert row["pipeline_version"] == "v-test" and row["partition_key"] == 7


def test_none_result_and_null_payload():
    (rb,) = _run([_batch(["x", "y"], [b"abc", None])],
                 lambda p: None if p is None else _echo(p),
                 EXTRACTED_LINEAGE_SCHEMA)
    ok, null = rb.to_pylist()
    assert ok["had_error"] == 0 and ok["n_bytes_in"] == 3
    assert ok["spans"] == [{"node_id": 0, "start": 0, "end": 3}]
    assert null["had_error"] == 1 and null["n_bytes_in"] == 0


def test_output_matches_caller_schema():
    batches = [_batch(["a", "b"], [b"a1", b"b1"])]
    for schema in (EXTRACTED_SCHEMA, EXTRACTED_LINEAGE_SCHEMA):
        want = to_arrow_schema(schema)
        for rb in _run(batches, _echo, schema):
            assert rb.schema.names == want.names
            assert [f.type for f in rb.schema] == [f.type for f in want]
