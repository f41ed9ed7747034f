"""sparkdu HTML block parser — SPEC.md v1, batch/array-oriented.

Runs inside the Python worker of the extraction `mapInArrow`, one document
per call (`extract_doc`, driven by api.extract_batches); the staged path's
node table calls `parse_blocks` the same way. Independent implementation of
SPEC.md (the normative twin lives in oracle/extract.py; sparkdu must never
import it — byte-agreement between the two is the correctness gate, see
SURVEY.md SS5.2).

Reference parity (upstream loci, [U] per SURVEY SS0): the per-document parse
mirrors graph/Graph.parseDocFile + graph/Block (node records with geometry,
text, features); classification mirrors the rule stage of tasks/* NodeType
label maps; reading order mirrors graph/Block sort.
"""

from __future__ import annotations

import codecs
import re
import string
import unicodedata
from html.parser import HTMLParser

MAX_HTML_BYTES = 8 * 2**20
PIPELINE_VERSION_RULE = "1.0.0"
PIPELINE_VERSION_MODEL = "1.1.0"
PIPELINE_VERSION_MP = "1.2.0"


def model_version(model) -> str:
    """SPEC §7: 1.0.0 rule-only, 1.1.0 +frozen model, 1.2.0 +message passing."""
    if model is None:
        return PIPELINE_VERSION_RULE
    return PIPELINE_VERSION_MP if model.get("mp") else PIPELINE_VERSION_MODEL
TRUNCATION_MARKER = "…[truncated]"

VOID_TAGS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)
SKIP_TAGS = frozenset(
    "script style noscript template head iframe svg math object".split()
)
BOILER_TAGS = frozenset("nav footer aside header form".split())
BLOCK_TAGS = frozenset(
    (
        "p div li td th h1 h2 h3 h4 h5 h6 blockquote pre article section main "
        "body title ul ol table tr thead tbody tfoot figure figcaption dd dt dl "
        "caption address summary details nav header footer aside form"
    ).split()
)

_CHARSET_RE = re.compile(r'charset\s*=\s*["\']?([a-z0-9_\-:]+)')
_WS_RE = re.compile(r"\s+")
_PUNCT_TBL = {ord(c): None for c in string.punctuation}
# ASCII fast-path delete-tables: for pure-ASCII text, str.isdigit() is true
# exactly for [0-9] and str.isupper() exactly for [A-Z], so counting via
# translate-delete is spec-exact (SPEC SS2) and ~10x faster than per-char.
_DIGIT_TBL = {ord(c): None for c in "0123456789"}
_UPPER_TBL = {ord(c): None for c in string.ascii_uppercase}
_BOMS = ((b"\xef\xbb\xbf", "utf-8-sig"), (b"\xff\xfe", "utf-16-le"), (b"\xfe\xff", "utf-16-be"))

# one-lookup tag info: (is_void, is_skip, is_boiler, is_block)
_TAG_INFO = {}
for _t in VOID_TAGS | SKIP_TAGS | BOILER_TAGS | BLOCK_TAGS | {"a"}:
    _TAG_INFO[_t] = (_t in VOID_TAGS, _t in SKIP_TAGS, _t in BOILER_TAGS, _t in BLOCK_TAGS)
_NO_INFO = (False, False, False, False)

# node record column order (parse stage); schema built from this in tables.py
NODE_FIELDS = (
    "node_id", "tag", "attrs", "depth", "text", "n_chars", "n_links",
    "link_density", "punct_ratio", "digit_ratio", "caps_ratio", "anc_boiler",
)


def sniff_decode(b):
    """SPEC.md SS1 -> (html_str, truncated)."""
    if b is None:
        b = b""
    elif isinstance(b, memoryview):
        b = bytes(b)
    truncated = len(b) > MAX_HTML_BYTES
    if truncated:
        b = b[:MAX_HTML_BYTES]
    enc = None
    for bom, name in _BOMS:
        if b[: len(bom)] == bom:
            enc = name
            break
    if enc is None:
        m = _CHARSET_RE.search(b[:4096].decode("latin-1").lower())
        if m is not None:
            try:
                codecs.lookup(m.group(1))
                enc = m.group(1)
            except LookupError:
                pass
    if enc is None:
        enc = "utf-8"
    try:
        s = b.decode(enc, errors="replace")
    except LookupError:
        s = b.decode("utf-8", errors="replace")
    return s, truncated


def norm_ws(raw):
    """SPEC.md SS3. (NFC is the identity on ASCII -> skip it there.)"""
    if raw.isascii():
        return _WS_RE.sub(" ", raw).strip()
    return _WS_RE.sub(" ", unicodedata.normalize("NFC", raw)).strip()


class _Parser(HTMLParser):
    """Flat-state spec parser: parallel stacks instead of element objects."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        # parallel stacks for open elements
        self.t_stack = []      # tag
        self.id_stack = []     # node_id
        self.blk_stack = []    # bool: is block
        self.boil_stack = []   # bool: ancestor-or-self boiler
        self.attr_stack = []   # attrs dict (blocks only; None for inline)
        self.buf_stack = []    # per-open-block: [chunks, link_chunks, n_links]
        self.own_stack = []    # indices into buf_stack: which block owns text now
        self.counter = 0
        self.part = 0          # SPEC SS2 pagination counter (<hr> increments)
        self.n_skip = 0
        self.n_a = 0
        self.boiler_depth = 0  # open BOILER_TAGS elements
        self.out = []          # emitted node records (tuples in NODE_FIELDS order)

    def updatepos(self, i, j):
        # line/offset tracking feeds only getpos()/error messages, never the
        # parse itself — skipping it is spec-neutral (fuzz-verified) and
        # saves ~8% (str.count('\n') over every consumed chunk).
        return j

    def handle_starttag(self, tag, attrs):
        nid = self.counter
        self.counter += 1
        is_void, is_skip, is_boiler, is_blk = _TAG_INFO.get(tag, _NO_INFO)
        if is_void:
            if tag == "br":
                self._text(" ")
            elif tag == "hr":
                self.part += 1  # part boundary; nid already consumed above
            return
        if tag == "a":
            self.n_a += 1
            if self.n_skip == 0 and self.own_stack:
                self.buf_stack[self.own_stack[-1]][2] += 1
        if is_skip:
            self.n_skip += 1
        if is_boiler:
            self.boiler_depth += 1
        self.t_stack.append(tag)
        self.id_stack.append(nid)
        self.blk_stack.append(is_blk)
        self.boil_stack.append(self.boiler_depth > 0)
        if is_blk:
            ad = {}
            for k, v in attrs:
                ad.setdefault(k, v if v is not None else "")
            self.attr_stack.append(ad)
            # part_id frozen at open (SPEC SS2), rides in the block buffer
            self.buf_stack.append([[], [], 0, self.part])
            self.own_stack.append(len(self.buf_stack) - 1)
        else:
            self.attr_stack.append(None)

    def handle_startendtag(self, tag, attrs):
        if tag in VOID_TAGS:
            if tag == "br":
                self._text(" ")
            elif tag == "hr":
                self.part += 1
            self.counter += 1
            return
        self.handle_starttag(tag, attrs)
        self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in VOID_TAGS:
            return
        ts = self.t_stack
        i = len(ts) - 1
        while i >= 0 and ts[i] != tag:
            i -= 1
        if i < 0:
            return
        while len(ts) > i:
            self._pop()

    def handle_data(self, data):
        self._text(data)

    def finish(self):
        try:
            self.close()
        except Exception:
            pass
        while self.t_stack:
            self._pop()
        return self.out

    # ------------------------------------------------------------------
    def _text(self, data):
        if self.n_skip or not data or not self.own_stack:
            return
        buf = self.buf_stack[self.own_stack[-1]]
        buf[0].append(data)
        if self.n_a:
            buf[1].append(data)

    def _pop(self):
        tag = self.t_stack.pop()
        nid = self.id_stack.pop()
        is_blk = self.blk_stack.pop()
        boil = self.boil_stack.pop()
        attrs = self.attr_stack.pop()
        _, is_skip, is_boiler, _ = _TAG_INFO.get(tag, _NO_INFO)
        if tag == "a" and self.n_a:
            self.n_a -= 1
        if is_skip and self.n_skip:
            self.n_skip -= 1
        if is_boiler and self.boiler_depth:
            self.boiler_depth -= 1
        if not is_blk:
            return
        bi = self.own_stack.pop()
        chunks, link_chunks, n_links, part_id = self.buf_stack[bi]
        # bi is always the top of buf_stack (blocks close LIFO)
        self.buf_stack.pop()
        text = norm_ws("".join(chunks))
        if not text:
            return
        depth = len(self.t_stack)
        n = len(text)
        total_raw = sum(map(len, chunks))
        link_raw = sum(map(len, link_chunks))
        no_punct = text.translate(_PUNCT_TBL)
        if text.isascii():
            n_digit = n - len(text.translate(_DIGIT_TBL))
            n_caps = n - len(text.translate(_UPPER_TBL))
        else:
            n_digit = sum(c.isdigit() for c in text)
            n_caps = sum(c.isupper() for c in text)
        self.out.append(
            (
                nid, tag, attrs, depth, text, n, n_links,
                (link_raw / total_raw) if total_raw else 0.0,
                (n - len(no_punct)) / n,
                n_digit / n,
                n_caps / n,
                boil,
                part_id,  # trailing extra beyond NODE_FIELDS (indices stable)
            )
        )


def parse_blocks(html_str):
    """One document -> list of NODE_FIELDS tuples (finalize order), each with
    one trailing extra element: part_id (SPEC SS2 pagination). Positional
    consumers indexing 0..11 are unaffected."""
    p = _Parser()
    try:
        p.feed(html_str)
    except Exception:
        pass
    return p.finish()


def rule_is_content(link_density, anc_boiler):
    return (not anc_boiler) and link_density <= 0.5


def join_spans(items, tail=None):
    """Reading-ordered (node_id, text) pairs -> (newline-joined text,
    n_blocks, spans), spans being (node_id, start, end) offsets into the
    text (SPEC SS5). `tail` (the truncation marker) is joined after the
    last block and belongs to no span. Shared by the HTML, PAGE-XML and
    PDF assembly."""
    parts, spans, off = [], [], 0
    for nid, text in items:
        n = len(text)
        spans.append((nid, off, off + n))
        parts.append(text)
        off += n + 1
    if tail is not None:
        parts.append(tail)
    return "\n".join(parts), len(spans), spans


def extract_doc(html_bytes, model=None):
    """Fused per-doc path: decode -> parse -> classify -> order -> assemble.

    The HTML leg's per-document function (api.extract_batches): returns
    (extracted_text, n_blocks, spans, n_nodes), n_nodes counting every
    parsed block, kept or not. Pure Python str assembly (SURVEY SS7
    hard-part 1: no Spark string fn may touch the result afterwards).
    """
    html_str, truncated = sniff_decode(html_bytes)
    blocks = parse_blocks(html_str)
    blocks.sort(key=lambda r: r[0])  # node_id pre-order = reading order
    if model is not None:
        keep = _score_blocks(blocks, model)
    else:
        keep = [rule_is_content(r[7], r[11]) for r in blocks]
    text, n_blocks, spans = join_spans(
        ((r[0], r[4]) for r, k in zip(blocks, keep) if k),
        TRUNCATION_MARKER if truncated else None,
    )
    return text, n_blocks, spans, len(blocks)


def _score_blocks(blocks, model):
    """Rule stage then frozen logistic (SPEC SS4); float64 via math.exp.

    Supports clf_v2 derived features (SPEC SS4): nb_mean_<raw> neighbor
    smoothing over adjacent emitted nodes within the same part (blocks are
    sorted by node_id by the caller), and tfidf_mean under the artifact's
    frozen IDF table. Accumulation stays z += w*v in artifact order.
    """
    import math

    text_i = NODE_FIELDS.index("text")
    plan = []  # (kind, index) per feature: raw | nb | tfidf
    for name in model["features"]:
        if name.startswith("nb_mean_"):
            plan.append(("nb", NODE_FIELDS.index(name[len("nb_mean_"):])))
        elif name == "tfidf_mean":
            plan.append(("tfidf", -1))
        else:
            plan.append(("raw", NODE_FIELDS.index(name)))
    ws = model["w"]
    b0 = model["b"]
    idf = model.get("idf")
    oov = model.get("idf_oov")
    n = len(blocks)

    def block_z(i, r):
        z = b0
        tfidf_v = None
        for (kind, j), w in zip(plan, ws):
            if kind == "raw":
                v = float(r[j])
            elif kind == "nb":
                part = r[-1]
                prev = blocks[i - 1] if i > 0 and blocks[i - 1][-1] == part else None
                nxt = blocks[i + 1] if i + 1 < n and blocks[i + 1][-1] == part else None
                if prev is not None and nxt is not None:
                    v = (float(prev[j]) + float(nxt[j])) / 2
                elif prev is not None:
                    v = float(prev[j])
                elif nxt is not None:
                    v = float(nxt[j])
                else:
                    v = float(r[j])
            else:
                if tfidf_v is None:
                    toks = r[text_i].split(" ")
                    s = 0.0
                    for t in toks:
                        s += idf.get(t, oov)
                    tfidf_v = s / len(toks)
                v = tfidf_v
            z += w * v
        return z

    mp = model.get("mp")
    if mp is None:
        keep = []
        for i, r in enumerate(blocks):
            if not rule_is_content(r[7], r[11]):
                keep.append(False)
                continue
            keep.append(1.0 / (1.0 + math.exp(-block_z(i, r))) >= 0.5)
        return keep

    # clf_v3 (SPEC SS4, pipeline >= 1.2.0): T rounds of score message
    # passing over consecutive same-depth nodes per part (the J1∪J2 graph
    # under SS6 synthetic geometry); z0 is computed over ALL emitted blocks,
    # the rule gates only the final decision.
    T, alpha = int(mp["T"]), float(mp["alpha"])
    depth_i = NODE_FIELDS.index("depth")
    nbrs = [[] for _ in range(n)]
    last_at = {}
    for i, r in enumerate(blocks):
        key = (r[-1], r[depth_i])
        j = last_at.get(key)
        if j is not None:
            nbrs[j].append(i)
            nbrs[i].append(j)
        last_at[key] = i
    z0 = [block_z(i, r) for i, r in enumerate(blocks)]
    s = [1.0 / (1.0 + math.exp(-z)) for z in z0]
    for _ in range(T):
        new = []
        for i in range(n):
            if nbrs[i]:
                acc = 0.0
                for j in nbrs[i]:
                    acc += s[j]
                m = acc / len(nbrs[i])
            else:
                m = s[i]
            new.append(1.0 / (1.0 + math.exp(-(z0[i] + alpha * (2.0 * m - 1.0)))))
        s = new
    return [rule_is_content(r[7], r[11]) and s[i] >= 0.5 for i, r in enumerate(blocks)]
