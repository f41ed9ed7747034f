"""PAGE-XML layout ingest — the upstream's NATIVE input format.

TranskribusDU's collection unit is a directory of PAGE-XML documents
(SURVEY §1: `graph/Graph.loadGraphs` iterating an XML parse per file;
`xml_formats/PageXml` for the schema helpers). The engine's main pipeline
re-targets HTML per the graft cell, but a user coming from the upstream has
PAGE-XML collections on disk — this module parses them into the SAME node
shape the rest of the engine consumes (real region/line geometry instead of
the synthetic P6 layout), as one vectorized Arrow map over a binary column:
no per-row Python on the driver, no shuffle, scale-identical to the HTML
parse stage.

Format reference is the PUBLIC PAGE schema (PRImA, schema.primaresearch.org
PAGE/gts/pagecontent): <PcGts><Page imageWidth imageHeight> containing
<TextRegion> elements (attribute `type`, polygon <Coords points="x,y ...">,
optional <ReadingOrder> RegionRefIndexed indices) each holding <TextLine>
children with their own Coords and <TextEquiv><Unicode> transcriptions.
Parsing is namespace-agnostic (PAGE namespace URIs carry the revision date,
so hardcoding one breaks every other vintage) and FAIL-WHOLE per document:
malformed XML, a non-PcGts root, missing page dims, or an unparseable
Coords polygon rejects the whole document (None / no rows) — the same
contract as the image/AV decoders, because a partially-ingested layout
document silently corrupts downstream neighbor graphs.
"""

from __future__ import annotations

import random
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .fixtures import SEED_BASE
from .parse import join_spans

PAGEXML_NODES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("part_id", T.IntegerType()),    # page index (.mpxml)
        T.StructField("node_id", T.IntegerType()),    # document order
        T.StructField("parent_id", T.IntegerType()),  # -1 for regions
        T.StructField("kind", T.StringType()),        # region | line
        T.StructField("rtype", T.StringType()),       # region @type
        T.StructField("text", T.StringType()),        # TextEquiv/Unicode
        T.StructField("ro_index", T.IntegerType()),   # ReadingOrder idx, -1
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("x2", T.DoubleType()),
        T.StructField("y2", T.DoubleType()),
    ]
)


def _local(tag: str) -> str:
    """Local name of a possibly-namespaced element tag."""
    return tag.rsplit("}", 1)[-1]


def _bbox(points: str):
    """'x,y x,y ...' polygon -> (x1, y1, x2, y2); None when unparseable
    (fewer than 3 vertices, or non-numeric/non-FINITE coordinates —
    float('nan')/float('inf') don't raise, and a NaN bbox would order
    differently under Python sorted() vs Spark array_sort, breaking the
    assemble_doc_text byte-identity contract)."""
    import math

    xs, ys = [], []
    for pt in points.split():
        xy = pt.split(",")
        if len(xy) != 2:
            return None
        try:
            x, y = float(xy[0]), float(xy[1])
        except ValueError:
            return None
        if not (math.isfinite(x) and math.isfinite(y)):
            return None
        xs.append(x)
        ys.append(y)
    if len(xs) < 3:
        return None
    return min(xs), min(ys), max(xs), max(ys)


def _first_unicode(el) -> str:
    """Text of the first DIRECT TextEquiv/Unicode child ('' when absent).

    Direct-child only: a region's TextEquiv must not absorb its lines'."""
    for te in el:
        if _local(te.tag) == "TextEquiv":
            for u in te:
                if _local(u.tag) == "Unicode":
                    return u.text or ""
    return ""


def parse_pagexml(b: bytes) -> Optional[dict]:
    """Parse one PAGE-XML document -> {"pages": [(w, h), ...], "nodes"} or
    None.

    MULTI-PAGE aware: the upstream's `.mpxml` collection files hold several
    <Page> elements per document — each becomes a part (part_id = page
    index, the same part model the HTML pipeline uses for <hr>-paginated
    pages), and a document with zero pages is malformed. nodes is a list of
    dicts in DOCUMENT ORDER (regions interleaved with their lines), each:
    part_id, node_id (document-global), parent_id (-1 for regions), kind
    ('region'/'line'), rtype (region @type, inherited by its lines), text,
    ro_index (that page's ReadingOrder RegionRefIndexed index, -1 when
    absent), and the Coords-derived bbox x1/y1/x2/y2. Fail-whole on any
    inconsistency anywhere in the document.
    """
    import xml.etree.ElementTree as ET

    b = bytes(b) if b is not None else b""
    try:
        root = ET.fromstring(b)
    except ET.ParseError:
        return None
    if _local(root.tag) != "PcGts":
        return None
    pages = [el for el in root if _local(el.tag) == "Page"]
    if not pages:
        return None

    dims: list[tuple] = []
    nodes: list[dict] = []
    for part_id, page in enumerate(pages):
        try:
            width = float(page.get("imageWidth"))
            height = float(page.get("imageHeight"))
        except (TypeError, ValueError):
            return None
        dims.append((width, height))

        # ReadingOrder: region id -> index (page-local, optional)
        ro: dict[str, int] = {}
        for el in page.iter():
            if _local(el.tag) == "RegionRefIndexed":
                ref, idx = el.get("regionRef"), el.get("index")
                if ref is None or idx is None:
                    return None
                try:
                    ro[ref] = int(idx)
                except ValueError:
                    return None

        for region in page:
            if _local(region.tag) != "TextRegion":
                continue
            rbox = None
            for child in region:
                if _local(child.tag) == "Coords":
                    rbox = _bbox(child.get("points") or "")
            if rbox is None:
                return None
            rid = len(nodes)
            rtype = region.get("type") or ""
            nodes.append({
                "part_id": part_id,
                "node_id": rid, "parent_id": -1, "kind": "region",
                "rtype": rtype, "text": _first_unicode(region),
                "ro_index": ro.get(region.get("id") or "", -1),
                "x1": rbox[0], "y1": rbox[1], "x2": rbox[2], "y2": rbox[3],
            })
            for child in region:
                if _local(child.tag) != "TextLine":
                    continue
                lbox = None
                for lc in child:
                    if _local(lc.tag) == "Coords":
                        lbox = _bbox(lc.get("points") or "")
                if lbox is None:
                    return None
                nodes.append({
                    "part_id": part_id,
                    "node_id": len(nodes), "parent_id": rid, "kind": "line",
                    "rtype": rtype, "text": _first_unicode(child),
                    "ro_index": -1,
                    "x1": lbox[0], "y1": lbox[1],
                    "x2": lbox[2], "y2": lbox[3],
                })
    return {"pages": dims, "nodes": nodes}


CONTENT_RTYPES = ("paragraph", "heading")


def assemble_doc_text(nodes: list) -> tuple:
    """Per-document pure-Python twin of `pagexml_doc_text` + the registry's
    content filter, for the wave-committed CLI leg (one doc per call inside
    an Arrow batch UDF — documents are independent, so assembly needs no
    aggregation). MUST stay byte-identical to the DataFrame-agg form;
    tests/test_native_cli.py gates the differential over the fixture
    corpus. Returns (text, n_blocks, spans) where spans mirror the HTML
    spec §5: (node_id, start, end) offsets into the newline-joined text.
    """
    kept = sorted(
        (n for n in nodes
         if n["kind"] == "region" and n["rtype"] in CONTENT_RTYPES),
        key=lambda n: (n["part_id"], n["ro_index"], n["y1"], n["x1"],
                       n["node_id"]),
    )
    return join_spans((n["node_id"], n["text"]) for n in kept)


def pagexml_doc_text(nodes: DataFrame) -> DataFrame:
    """Reading-order text assembly over (already-filtered) region nodes:
    per-document newline-joined text, ordered by (part, ReadingOrder
    index, then geometric fallback y1/x1, then node_id). One shuffle (the
    groupBy) — the deterministic sort rides an array_sort over structs;
    node_id is unique per doc, so the trailing text field never influences
    the order. Callers choose the content filter (the registry's
    `pagexml_extract_text` keeps rtype in paragraph/heading)."""
    from pyspark.sql import functions as F

    return nodes.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("part_id", "ro_index", "y1", "x1",
                                 "node_id", "text")
                    )
                ),
                lambda s: s.text,
            ),
            "\n",
        ).alias("doc_text"),
        F.count("*").alias("n_regions"),
    )


def pagexml_nodes(df: DataFrame, payload_col: str = "xml",
                  id_col: str = "doc_id") -> DataFrame:
    """Vectorized PAGE-XML -> node-table stage (the S1/S2 analogue for the
    upstream's native format): one mapInPandas over the binary column,
    zero exchanges; corrupt documents yield no rows (fail-whole)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in PAGEXML_NODES_SCHEMA.fields]
        for pdf in batches:
            out: list[dict] = []
            for did, b in zip(pdf[id_col], pdf[payload_col]):
                parsed = parse_pagexml(b)
                if parsed is None:
                    continue
                for n in parsed["nodes"]:
                    out.append({"doc_id": int(did), **n})
            o = pd.DataFrame(out, columns=cols)
            o["doc_id"] = pd.array(o["doc_id"], dtype="int64")
            for c in ("part_id", "node_id", "parent_id", "ro_index"):
                o[c] = pd.array(o[c], dtype="int32")
            for c in ("x1", "y1", "x2", "y2"):
                o[c] = pd.array(o[c], dtype="float64")
            yield o

    return df.mapInPandas(fn, schema=PAGEXML_NODES_SCHEMA)


# ---------------------------------------------------------------------
# deterministic synthetic PAGE-XML (fixture generator truth)
# ---------------------------------------------------------------------

_RTYPES = ("paragraph", "heading", "marginalia", "page-number")


def synth_pagexml_bytes(doc_id: int) -> tuple:
    """Deterministic PAGE-XML document + generator-truth node rows.

    MULTI-PAGE (.mpxml-style): every 4th document gets 2 pages, every 12th
    gets 3 — each <Page> with its own dims, regions, and a page-LOCAL
    ReadingOrder. Per page: 2-5 TextRegions stacked top-to-bottom with
    jittered margins, each with 1-4 TextLines evenly sliced inside the
    region box; region polygons are 4-point rectangles EXCEPT every 3rd
    region, which gets a 5-point polygon (bbox = min/max must still hold).
    Region types cycle through paragraph/heading/marginalia/page-number;
    each page's ReadingOrder indexes its regions in REVERSED document
    order so ro_index is not simply node order (a parser echoing document
    order would fail the truth compare). Every 11th document is truncated
    mid-byte with empty truth — fail-whole must reject it. Namespace
    alternates between two PAGE revision URIs so namespace-agnostic
    parsing is actually load-bearing. Returns (xml_bytes, truth_rows)
    with truth_rows matching PAGEXML_NODES_SCHEMA minus doc_id.
    """
    rng = random.Random(SEED_BASE + 777_000_000 + doc_id)
    ns = (
        "http://schema.primaresearch.org/PAGE/gts/pagecontent/2013-07-15"
        if doc_id % 2 == 0 else
        "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
    )
    n_pages = 3 if doc_id % 12 == 4 else (2 if doc_id % 4 == 0 else 1)

    def rect_points(x1, y1, x2, y2, five=False):
        pts = [(x1, y1), (x2, y1), (x2, y2), (x1, y2)]
        if five:  # interior-edge midpoint vertex: bbox unchanged
            pts.insert(2, ((x1 + x2) // 2, y2))
        return " ".join(f"{x},{y}" for x, y in pts)

    xml = [
        '<?xml version="1.0" encoding="UTF-8"?>',
        f'<PcGts xmlns="{ns}">',
        "<Metadata><Creator>sparkdu-synth</Creator></Metadata>",
    ]
    truth = []
    for part_id in range(n_pages):
        width, height = rng.randint(600, 1400), rng.randint(800, 2000)
        n_regions = rng.randint(2, 5)
        band = height / n_regions
        regions = []
        for r in range(n_regions):
            x1 = rng.randint(10, 80)
            x2 = width - rng.randint(10, 80)
            y1 = int(r * band) + rng.randint(5, 30)
            y2 = int((r + 1) * band) - rng.randint(5, 30)
            n_lines = rng.randint(1, 4)
            lines = []
            lh = (y2 - y1) / n_lines
            for li in range(n_lines):
                ly1, ly2 = int(y1 + li * lh), int(y1 + (li + 1) * lh) - 2
                lines.append((x1 + 2, ly1, x2 - 2, max(ly2, ly1 + 1),
                              f"doc{doc_id} page{part_id} region{r} "
                              f"line{li} "
                              + " ".join(f"w{rng.randint(0, 99)}"
                                         for _ in range(rng.randint(2, 6)))))
            regions.append((x1, y1, x2, y2, _RTYPES[r % len(_RTYPES)], lines))

        xml.append(
            f'<Page imageFilename="d{doc_id}p{part_id}.png" '
            f'imageWidth="{width}" imageHeight="{height}">'
        )
        xml.append(f'<ReadingOrder><OrderedGroup id="ro{part_id}">')
        for i, r in enumerate(reversed(range(n_regions))):
            xml.append(
                f'<RegionRefIndexed index="{i}" regionRef="p{part_id}r{r}"/>'
            )
        xml.append("</OrderedGroup></ReadingOrder>")
        for r, (x1, y1, x2, y2, rtype, lines) in enumerate(regions):
            five = r % 3 == 2
            xml.append(f'<TextRegion id="p{part_id}r{r}" type="{rtype}">')
            xml.append(
                f'<Coords points="{rect_points(x1, y1, x2, y2, five)}"/>'
            )
            rid = len(truth)
            rtext = " ".join(ln[4] for ln in lines)
            truth.append({
                "part_id": part_id,
                "node_id": rid, "parent_id": -1, "kind": "region",
                "rtype": rtype, "text": rtext,
                "ro_index": n_regions - 1 - r,
                "x1": float(x1), "y1": float(y1),
                "x2": float(x2), "y2": float(y2),
            })
            for (lx1, ly1, lx2, ly2, ltext) in lines:
                xml.append("<TextLine>")
                xml.append(
                    f'<Coords points="{rect_points(lx1, ly1, lx2, ly2)}"/>'
                )
                xml.append(
                    f"<TextEquiv><Unicode>{ltext}</Unicode></TextEquiv>"
                )
                xml.append("</TextLine>")
                truth.append({
                    "part_id": part_id,
                    "node_id": len(truth), "parent_id": rid, "kind": "line",
                    "rtype": rtype, "text": ltext, "ro_index": -1,
                    "x1": float(lx1), "y1": float(ly1),
                    "x2": float(lx2), "y2": float(ly2),
                })
            xml.append(f"<TextEquiv><Unicode>{rtext}</Unicode></TextEquiv>")
            xml.append("</TextRegion>")
        xml.append("</Page>")
    xml.append("</PcGts>")
    payload = "\n".join(xml).encode("utf-8")
    if doc_id % 11 == 10:  # truncated document: fail-whole, no truth
        return payload[: len(payload) * 2 // 3], []
    return payload, truth
