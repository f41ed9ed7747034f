"""Seeded, versioned input generator for the benchmark, with output truth.

Every corpus is a pure function of (kind, seed, size, GEN_VERSION). It is
written once under ``<cache>/<kind>-g<GEN_VERSION>-s<seed>-n<size>/`` as
parquet files plus ``truth.json``, and later runs with the same key reuse it.
Bump GEN_VERSION whenever a generated byte or a truth value changes.

Kinds:

- ``web``: typical web pages from the ``sparkdu.fixtures`` page template
  (5-60 paragraphs), 2% recrawled urls, a 0.1% tail of 1.5-5 MB mega-pages
  and one page over the 8 MiB cap. Which pages are recrawled, mega or over
  the cap comes from the seed. Truth: the oracle's sha256 of the extracted
  text of the latest capture per url.
- ``warc``: member-gzipped WARC/1.0 shards of short pages (1-5 paragraphs),
  each url captured 2-4 times in different shards, request records
  interleaved, ~1% of the shards truncated mid-record. Truth: the oracle
  digest of the latest capture per url among the intact shards, and the
  number of truncated shards.
- ``native``: a PAGE-XML collection (``synth_pagexml_bytes``) and a PDF
  collection (half ``synth_pdf_bytes``, half ``synth_pdf15_bytes``). Truth:
  the text the generator's own node/run rows assemble to.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import multiprocessing
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4
N_FILES = 8  # parquet files per table: the scan splits into this many tasks
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
CRLF = b"\r\n"

PAGES_ARROW = pa.schema([("url", pa.string()),
                         ("warc_ts", pa.timestamp("us", tz="UTC")),
                         ("html", pa.binary())])
SHARDS_ARROW = pa.schema([("shard_id", pa.int64()), ("payload", pa.binary())])
NATIVE_ARROW = pa.schema([("doc_id", pa.int64()), ("payload", pa.binary())])

_WORDS = (
    "crawl page text block region layout reading order archive capture "
    "harvest record shard member digest header payload body anchor link "
    "title paragraph section article column figure caption table cell row "
    "river mountain harbour market museum library garden station bridge"
).split()


def digest(text: str) -> str:
    """What Spark's ``sha2(extracted_text, 256)`` returns for ``text``."""
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def _id_base(seed: int) -> int:
    # page templates are seeded by doc id: each benchmark seed owns a
    # disjoint id range, so two seeds share no page bytes
    return 10**9 + (seed % 10**6) * 10**6


# ---------------------------------------------------------------- web


def _web_page(task: tuple) -> tuple:
    """(doc_id, mega, over_cap) -> (html, oracle digest)."""
    from sparkdu.fixtures import gen_page_html

    doc_id, mega, over_cap = task
    html = gen_page_html(doc_id, mega=mega, over_cap=over_cap)
    return html, _oracle_digest(html)


def _mega_size(doc_id: int) -> tuple:
    from sparkdu.fixtures import gen_page_html

    return len(gen_page_html(doc_id, mega=True)), doc_id


def _pick_megas(rng: random.Random, k: int, base: int, pool) -> list:
    """k mega-page doc ids whose sizes sit near evenly spaced targets in
    1.5-5 MB: the tail's total size, and so the job's work, barely moves
    from seed to seed. Each slot takes the closest of 8 seeded candidates."""
    cands = [base + rng.randrange(10**5) for _ in range(8 * k)]
    sized = pool.map(_mega_size, cands)
    picked = []
    for j in range(k):
        target = (1.5 + 3.5 * (j + 0.5) / k) * 1e6
        picked.append(min(sized[8 * j: 8 * j + 8], key=lambda c: abs(c[0] - target))[1])
    return picked


def _gen_web(seed: int, n: int, pool) -> tuple:
    rng = random.Random(f"web/{seed}")
    n_re = round(0.02 * n)
    n_main = n - n_re
    base = _id_base(seed)
    n_mega = max(1, round(0.001 * n))
    special = rng.sample(range(n_main), 1 + n_mega)
    over_cap, mega_rows = special[0], special[1:]
    mega_docs = dict(zip(mega_rows, _pick_megas(rng, n_mega, base + 2 * n, pool)))
    plain = [i for i in range(n_main) if i not in mega_docs and i != over_cap]
    recrawled = rng.sample(plain, n_re)
    # (row, doc id, recrawl?): a recrawl repeats its row's url a day later
    rows = [(i, mega_docs.get(i, base + i), False) for i in range(n_main)]
    rows += [(i, base + n_main + j, True) for j, i in enumerate(recrawled)]
    tasks = [(doc, i in mega_docs, i == over_cap) for i, doc, _ in rows]
    made = pool.map(_web_page, tasks, chunksize=16)
    urls, ts, htmls = [], [], []
    latest = {}
    for (i, _doc, recrawl), (html, dig) in zip(rows, made):
        url = f"https://site{i % 20}.example/{base + i:x}"
        urls.append(url)
        ts.append(EPOCH + dt.timedelta(minutes=i, days=int(recrawl)))
        htmls.append(html)
        if recrawl or url not in latest:
            latest[url] = dig
    files = _split(pa.table([urls, ts, htmls], schema=PAGES_ARROW))
    return {"pages": files}, {"n_rows": n, "digests": latest}


# ---------------------------------------------------------------- warc


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _short_page(rng: random.Random) -> bytes:
    nav = " ".join(f'<a href="/n{j}">{rng.choice(_WORDS)}</a>'
                   for j in range(rng.randint(2, 6)))
    paras = "".join(f"<div><p>{_words(rng, 20, 80)}</p></div>"
                    for _ in range(rng.randint(1, 5)))
    return (f"<!DOCTYPE html><html><head><title>{_words(rng, 2, 6)}</title>"
            f"</head><body><nav>{nav}</nav><main>{paras}</main><footer>"
            f'&copy; 2026 <a href="/tos">terms</a></footer></body></html>'
            ).encode()


def _warc_record(wtype: str, rec_id: str, url: str, date: str,
                 ctype: str, block: bytes) -> bytes:
    head = (f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Record-ID: <urn:uuid:"
            f"{rec_id}>\r\nWARC-Target-URI: {url}\r\nWARC-Date: {date}\r\n"
            f"Content-Type: {ctype}\r\nContent-Length: {len(block)}\r\n\r\n")
    return head.encode() + block + CRLF + CRLF


def _gzip_member(b: bytes) -> bytes:
    return gzip.compress(b, compresslevel=6, mtime=0)


def _gen_warc(seed: int, n_urls: int, pool) -> tuple:
    rng = random.Random(f"warc/{seed}")
    n_shards = max(4, n_urls // 5)
    shards: list[list[bytes]] = [[] for _ in range(n_shards)]
    captures = []  # (shard, url, stamp, html)
    for u in range(n_urls):
        url = f"https://host{u % 50}.example/{seed:x}/{u}"
        for c in range(rng.randint(2, 4)):
            stamp = EPOCH + dt.timedelta(days=c, minutes=u % 1440, seconds=u // 1440)
            captures.append((rng.randrange(n_shards), url, stamp, _short_page(rng)))
    rng.shuffle(captures)
    for k, (sid, url, stamp, html) in enumerate(captures):
        date = stamp.strftime("%Y-%m-%dT%H:%M:%SZ")
        if rng.random() < 0.4:
            req = f"GET {url} HTTP/1.1\r\nHost: x\r\n\r\n".encode()
            shards[sid].append(_warc_record(
                "request", f"{seed}-{k}-q", url, date,
                "application/http; msgtype=request", req))
        resp = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8"
                b"\r\n\r\n" + html)
        shards[sid].append(_warc_record(
            "response", f"{seed}-{k}-r", url, date,
            "application/http; msgtype=response", resp))
    corrupt = set(rng.sample(range(n_shards), max(1, round(0.01 * n_shards))))
    payloads = []
    for sid, recs in enumerate(shards):
        info = _warc_record("warcinfo", f"{seed}-info-{sid}", "", "2026-01-01T00:00:00Z",
                            "application/warc-fields", b"software: perfbench\r\n")
        members = [_gzip_member(r) for r in [info] + recs]
        if sid in corrupt:
            # cut inside a member, never on a member boundary: a clean cut
            # would leave a shorter but valid shard
            m = max(1, len(members) * 3 // 5)
            members = members[:m] + [members[m][: len(members[m]) // 2]]
        payloads.append(b"".join(members))
    latest = {}
    for sid, url, stamp, html in captures:
        if sid not in corrupt and (url not in latest or stamp > latest[url][0]):
            latest[url] = (stamp, html)
    digests = dict(zip(latest, pool.map(_oracle_digest,
                                        [h for _, h in latest.values()], chunksize=64)))
    n_valid = sum(1 for sid, *_ in captures if sid not in corrupt)
    files = _split(pa.table([list(range(n_shards)), payloads], schema=SHARDS_ARROW))
    truth = {"n_shards": n_shards, "n_corrupt": len(corrupt),
             "n_valid_captures": n_valid, "digests": digests}
    return {"shards": files}, truth


def _oracle_digest(html: bytes) -> str:
    from oracle.extract import extract_page

    return digest(extract_page("", html)["extracted_text"])


# ---------------------------------------------------------------- native


def _pagexml_text(nodes: list) -> str:
    kept = sorted((n for n in nodes if n["kind"] == "region"
                   and n["rtype"] in ("paragraph", "heading")),
                  key=lambda n: (n["part_id"], n["ro_index"], n["y1"], n["x1"],
                                 n["node_id"]))
    return "\n".join(n["text"] for n in kept)


def _pdf_text(runs: list) -> str:
    kept = sorted((r for r in runs if r["size"] >= 9.0),
                  key=lambda r: (r["part_id"], -r["y"], r["x"], r["run_id"]))
    return "\n".join(r["text"] for r in kept)


def _native_doc(task: tuple) -> tuple:
    """(format, doc_id) -> (payload, expected-text digest, is_error)."""
    from sparkdu.pagexml import synth_pagexml_bytes
    from sparkdu.pdf import synth_pdf15_bytes, synth_pdf_bytes

    fmt, doc_id = task
    if fmt == "pagexml":
        payload, truth = synth_pagexml_bytes(doc_id)
        text = _pagexml_text(truth)
    else:
        synth = synth_pdf15_bytes if doc_id % 2 else synth_pdf_bytes
        payload, truth = synth(doc_id)
        text = _pdf_text(truth)
    # the generators truncate a document and give it no truth rows when it
    # must fail whole: the job emits an empty error row for it
    return payload, digest(text), not truth


def _gen_native(seed: int, n: int, pool) -> tuple:
    rng = random.Random(f"native/{seed}")
    tables, truth = {}, {}
    for fmt in ("pagexml", "pdf"):
        ids = rng.sample(range(_id_base(seed), _id_base(seed) + 10**6), n)
        made = pool.map(_native_doc, [(fmt, i) for i in ids], chunksize=16)
        tables[fmt] = _split(pa.table([ids, [m[0] for m in made]], schema=NATIVE_ARROW))
        truth[fmt] = {"n_docs": n, "n_errors": sum(m[2] for m in made),
                      "digests": {f"{fmt}://{i}": m[1] for i, m in zip(ids, made)}}
    return tables, truth


# ---------------------------------------------------------------- cache


def _split(table: pa.Table) -> list:
    step = -(-table.num_rows // N_FILES)
    return [table.slice(f * step, step) for f in range(N_FILES)]


_KINDS = {"web": _gen_web, "warc": _gen_warc, "native": _gen_native}


def corpus(kind: str, seed: int, size: int, cache_root: str, procs: int) -> dict:
    """Tables + truth of the (kind, seed, size) corpus, generating it on a
    cache miss. Returns {"tables": {name: dir}, "truth", "cached"}.
    A generator returns {name: [one pa.Table per parquet file]}."""
    key = f"{kind}-g{GEN_VERSION}-s{seed}-n{size}"
    out = os.path.join(cache_root, key)
    if not os.path.exists(os.path.join(out, "truth.json")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(procs) as pool:
            tables, truth = _KINDS[kind](seed, size, pool)
        for name, files in tables.items():
            tdir = os.path.join(tmp, name)
            os.makedirs(tdir)
            for f, part in enumerate(files):
                pq.write_table(part, os.path.join(tdir, f"part-{f:02d}.parquet"))
        with open(os.path.join(tmp, "truth.json"), "w") as fh:
            json.dump(truth, fh)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
        cached = False
    else:
        cached = True
    with open(os.path.join(out, "truth.json")) as fh:
        truth = json.load(fh)
    tables = {d: os.path.join(out, d) for d in sorted(os.listdir(out))
              if os.path.isdir(os.path.join(out, d))}
    return {"tables": tables, "truth": truth, "cached": cached}
