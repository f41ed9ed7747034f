"""PDF layout ingest — the second native document format (north rule:
"HTML boilerplate strip, PDF/layout parse, DOM heuristics").

TranskribusDU consumes scanned-document layouts; the PDF analogue of its
PAGE-XML collection unit is a born-digital PDF whose content streams carry
positioned text runs. This module parses a binary ``pdf`` column into the
engine's run-table shape with REAL page geometry — one vectorized
mapInPandas over the binary column: no per-row Python on the driver, no
shuffle, scale-identical to the HTML/PAGE-XML parse stages.

Format reference is the PUBLIC ISO 32000-1 spec: header, body of indirect
objects, cross-reference data as classic xref table(s) OR cross-reference
STREAMS (§7.5.8: /W field widths, /Index subsections, FlateDecode +
PNG-predictor /DecodeParms per RFC 2083) with compressed objects in
object streams (§7.5.7), hybrid-reference files via /XRefStm —
incremental updates followed via trailer /Prev, newest section wins per
object — trailer with /Root. The ``startxref`` pointer is located in the
last 256 bytes of the file (ISO 32000-1 §7.5.5 puts it on the
penultimate line before ``%%EOF``; a conforming file cannot push it
further out, so a longer tail means trailing garbage and fails whole).
Implemented object syntax:
dictionaries, arrays, names, numbers, literal strings (with escapes and
octal), hex strings, booleans, null, indirect references, and streams
(with direct or INDIRECT /Length and optional /FlateDecode via stdlib
zlib). Document structure: catalog -> /Pages tree (interior nodes
recursed, /MediaBox INHERITED down the tree) -> /Page leaves -> /Contents
(single stream or array, concatenated; ABSENT /Contents is a valid empty
page). The content-stream interpreter tracks the text state per ISO
32000-1 §9.4 (BT/ET, Tf, Td, TD, Tm, T*, TL, Tj, ', ", TJ) with full
6-tuple text-matrix math composed with the CTM (q/Q/cm) and emits one run
per show operator (a TJ array concatenates its string elements; its
kerning numbers adjust glyph spacing, not the run's anchor). Operators
PROVEN harmless to text (colors, paths, dash/line state, marked content —
the _SKIP_OPS allowlist) are operand-stack noise; any OTHER operator
fails the document whole, because "unknown == skip" silently yields
partial text with had_error=0 (a skipped `Do` drops a form XObject's
text; `BI` inline-image data desyncs the tokenizer).

Fail-whole per document, the same contract as the PAGE-XML and image/AV
decoders: malformed xref, a broken object, an undecodable stream, a
missing /MediaBox, or an unsupported operator anywhere rejects the WHOLE
document (None / no rows), because a partially-ingested layout silently
corrupts downstream reading order and neighbor graphs.
"""

from __future__ import annotations

import random
import re
import zlib
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .fixtures import SEED_BASE
from .parse import join_spans

PDF_RUNS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("part_id", T.IntegerType()),   # page index
        T.StructField("run_id", T.IntegerType()),    # document order
        T.StructField("page_w", T.DoubleType()),     # effective MediaBox
        T.StructField("page_h", T.DoubleType()),
        T.StructField("x", T.DoubleType()),          # text-space anchor
        T.StructField("y", T.DoubleType()),
        T.StructField("size", T.DoubleType()),       # Tf font size
        T.StructField("text", T.StringType()),
    ]
)

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num


class _Name(str):
    """PDF name object (distinct from a string literal)."""


def _skip_ws(b: bytes, i: int) -> int:
    n = len(b)
    while i < n:
        c = b[i : i + 1]
        if c in (b"\x00", b"\t", b"\n", b"\x0c", b"\r", b" "):
            i += 1
        elif c == b"%":  # comment to end of line
            while i < n and b[i : i + 1] not in (b"\r", b"\n"):
                i += 1
        else:
            break
    return i


def _read_token(b: bytes, i: int) -> tuple:
    """Next regular token (keyword / number text) -> (bytes, next_i)."""
    j = i
    n = len(b)
    while j < n and b[j : j + 1] not in _WS and b[j : j + 1] not in (
        b"(", b")", b"<", b">", b"[", b"]", b"{", b"}", b"/", b"%"
    ):
        j += 1
    return b[i:j], j


def _parse_name(b: bytes, i: int) -> tuple:
    # b[i] == '/'
    j = i + 1
    n = len(b)
    out = []
    while j < n:
        c = b[j : j + 1]
        if c in _WS or c in (b"(", b")", b"<", b">", b"[", b"]", b"{",
                             b"}", b"/", b"%"):
            break
        if c == b"#" and j + 2 < n:  # #xx hex escape in names
            out.append(bytes([int(b[j + 1 : j + 3], 16)]))
            j += 3
        else:
            out.append(c)
            j += 1
    return _Name(b"".join(out).decode("latin-1")), j


_STR_ESC = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
            b"f": b"\x0c", b"(": b"(", b")": b")", b"\\": b"\\"}


def _parse_literal_string(b: bytes, i: int) -> tuple:
    # b[i] == '('; returns (bytes, next_i). Balanced parens per spec.
    j = i + 1
    depth = 1
    out = []
    n = len(b)
    while j < n:
        c = b[j : j + 1]
        if c == b"\\":
            e = b[j + 1 : j + 2]
            if e in _STR_ESC:
                out.append(_STR_ESC[e])
                j += 2
            elif e.isdigit():  # 1-3 octal digits
                k = j + 1
                oct_s = b""
                while k < n and len(oct_s) < 3 and b[k : k + 1].isdigit():
                    oct_s += b[k : k + 1]
                    k += 1
                out.append(bytes([int(oct_s, 8) & 0xFF]))
                j = k
            elif e in (b"\r", b"\n"):  # line continuation
                j += 2
                if e == b"\r" and b[j : j + 1] == b"\n":
                    j += 1
            else:  # unknown escape: drop the backslash
                out.append(e)
                j += 2
        elif c == b"(":
            depth += 1
            out.append(c)
            j += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return b"".join(out), j + 1
            out.append(c)
            j += 1
        else:
            out.append(c)
            j += 1
    raise ValueError("unterminated string")


def _parse_hex_string(b: bytes, i: int) -> tuple:
    # b[i] == '<' and b[i+1] != '<'
    j = b.index(b">", i)
    hx = re.sub(rb"[^0-9A-Fa-f]", b"", b[i + 1 : j])
    if len(hx) % 2:
        hx += b"0"  # odd count: final digit padded with 0 per spec
    return bytes.fromhex(hx.decode("ascii")), j + 1


_NUM_RE = re.compile(rb"^[+-]?(\d+\.?\d*|\.\d+)$")


def _parse_value(b: bytes, i: int) -> tuple:
    """Parse one object value at i -> (value, next_i). Raises on error."""
    i = _skip_ws(b, i)
    c = b[i : i + 1]
    if c == b"/":
        return _parse_name(b, i)
    if c == b"(":
        return _parse_literal_string(b, i)
    if c == b"<":
        if b[i + 1 : i + 2] == b"<":  # dictionary
            d = {}
            i += 2
            while True:
                i = _skip_ws(b, i)
                if b[i : i + 2] == b">>":
                    return d, i + 2
                key, i = _parse_name(b, i)
                val, i = _parse_value(b, i)
                d[str(key)] = val
        return _parse_hex_string(b, i)
    if c == b"[":
        arr = []
        i += 1
        while True:
            i = _skip_ws(b, i)
            if b[i : i + 1] == b"]":
                return arr, i + 1
            v, i = _parse_value(b, i)
            arr.append(v)
    tok, j = _read_token(b, i)
    if not tok:
        raise ValueError("empty token")
    if tok == b"true":
        return True, j
    if tok == b"false":
        return False, j
    if tok == b"null":
        return None, j
    if _NUM_RE.match(tok):
        # lookahead for an indirect reference: <int> <int> R
        if tok.isdigit():
            k = _skip_ws(b, j)
            tok2, k2 = _read_token(b, k)
            if tok2.isdigit():
                k3 = _skip_ws(b, k2)
                tok3, k4 = _read_token(b, k3)
                if tok3 == b"R":
                    return _Ref(int(tok)), k4
        return (int(tok) if b"." not in tok else float(tok)), j
    raise ValueError(f"unexpected token {tok[:20]!r}")


def _png_unpredict(data: bytes, predictor: int, columns: int) -> bytes:
    """Reverse PNG row predictors (RFC 2083 §6) on byte-wide samples, the
    /DecodeParms form xref streams use (Colors=1, BitsPerComponent=8, so
    bpp=1). Predictor 1 = identity; 10..15 = PNG: each row is prefixed by
    a per-row filter byte (None/Sub/Up/Average/Paeth)."""
    if predictor <= 1:
        return data
    if predictor < 10:
        raise ValueError(f"unsupported predictor {predictor}")
    rowlen = columns + 1
    if columns <= 0 or len(data) % rowlen:
        raise ValueError("predictor row misalignment")
    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(data), rowlen):
        ft = data[r]
        row = bytearray(data[r + 1 : r + rowlen])
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for j in range(1, columns):
                row[j] = (row[j] + row[j - 1]) & 0xFF
        elif ft == 2:  # Up
            for j in range(columns):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(columns):
                left = row[j - 1] if j else 0
                row[j] = (row[j] + (left + prev[j]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(columns):
                a = row[j - 1] if j else 0
                bb, cc = prev[j], (prev[j - 1] if j else 0)
                p = a + bb - cc
                pa, pb, pc = abs(p - a), abs(p - bb), abs(p - cc)
                pr = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else cc)
                row[j] = (row[j] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter byte {ft}")
        out += row
        prev = row
    return bytes(out)


class _Doc:
    """Lazy object store over a PDF body: classic xref tables AND
    cross-reference streams (ISO 32000-1 §7.5.8) with compressed objects
    in object streams (§7.5.7)."""

    def __init__(self, b: bytes):
        self.b = b
        tail = b[-256:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError("no startxref")
        # Incrementally-updated PDFs chain xref sections via trailer /Prev
        # (ISO 32000-1 §7.5.6): walk newest -> oldest; the FIRST section
        # to mention an object id decides it (newest update wins, and a
        # freed entry in a newer section shadows an older in-use one).
        # offsets values: int = byte offset; ("objstm", stm, idx) = object
        # number `stm`'s object stream, position idx (xref type-2 entry).
        self.offsets: dict[int, object] = {}
        self.trailer: dict = {}
        self._cache: dict[int, tuple] = {}
        self._objstm_cache: dict[int, tuple] = {}
        self._objstm_loading: set[int] = set()
        decided: set[int] = set()
        seen_off: set[int] = set()

        def commit(entries):
            for num, loc in entries:
                if num not in decided:
                    decided.add(num)
                    if loc is not None:
                        self.offsets[num] = loc

        xref_off: Optional[int] = int(m.group(1))
        while xref_off is not None:
            if xref_off in seen_off:
                raise ValueError("xref /Prev cycle")
            seen_off.add(xref_off)
            i = _skip_ws(b, xref_off)
            if b[i : i + 4] == b"xref":
                entries, trailer = self._read_classic_section(i + 4)
            else:
                entries, trailer = self._read_xref_stream(xref_off)
            if not isinstance(trailer, dict):
                raise ValueError("bad trailer")
            # hybrid-reference file (§7.5.8.4): the classic trailer's
            # /XRefStm entries take precedence over its own section
            xstm = trailer.get("XRefStm")
            if isinstance(xstm, int):
                if xstm in seen_off:
                    raise ValueError("xref /XRefStm cycle")
                seen_off.add(xstm)
                x_entries, _ = self._read_xref_stream(xstm)
                commit(x_entries)
            commit(entries)
            if not self.trailer:  # newest trailer is authoritative
                self.trailer = trailer
            prev = trailer.get("Prev")  # direct integer per spec
            xref_off = prev if isinstance(prev, int) else None
        if "Root" not in self.trailer:
            raise ValueError("trailer has no /Root")

    def _read_classic_section(self, i: int) -> tuple:
        """Classic xref subsections at i (past the 'xref' keyword) ->
        ([(num, offset_or_None)], trailer_dict)."""
        b = self.b
        entries = []
        while True:
            i = _skip_ws(b, i)
            if b[i : i + 7] == b"trailer":
                i += 7
                break
            tok, i = _read_token(b, i)  # subsection start
            start = int(tok)
            tok, i = _read_token(b, _skip_ws(b, i))  # subsection count
            count = int(tok)
            for k in range(count):
                i = _skip_ws(b, i)
                ent = b[i : i + 18]
                off, _gen, kind = ent[:10], ent[11:16], ent[17:18]
                entries.append(
                    (start + k, int(off) if kind == b"n" else None)
                )
                i += 18
        trailer, _ = _parse_value(b, _skip_ws(b, i))
        return entries, trailer

    def _read_xref_stream(self, off: int) -> tuple:
        """Cross-reference STREAM at byte offset off (§7.5.8) ->
        ([(num, loc_or_None)], stream_dict). The stream dict doubles as
        the trailer (/Root /Prev live there). /Length, /W, /Index,
        /DecodeParms must be DIRECT here — the xref needed to resolve an
        indirect value is the very thing being built."""
        b = self.b
        i = _skip_ws(b, off)
        tok, i = _read_token(b, i)
        if not tok.isdigit():
            raise ValueError("xref stream: not an indirect object")
        _gen, i = _read_token(b, _skip_ws(b, i))
        kw, i = _read_token(b, _skip_ws(b, i))
        if kw != b"obj":
            raise ValueError("xref stream: obj keyword missing")
        val, i = _parse_value(b, i)
        if not isinstance(val, dict) or str(val.get("Type")) != "XRef":
            raise ValueError("xref stream: /Type /XRef missing")
        if not isinstance(val.get("Length"), int):
            raise ValueError("xref stream: /Length must be direct")
        data = self._read_stream_data(val, i, val["Length"])
        parms = val.get("DecodeParms") or {}
        if not isinstance(parms, dict):
            raise ValueError("xref stream: /DecodeParms must be direct")
        data = _png_unpredict(
            data, int(parms.get("Predictor", 1)), int(parms.get("Columns", 1))
        )
        w = val.get("W")
        if (not isinstance(w, list) or len(w) != 3
                or not all(isinstance(x, int) and 0 <= x <= 8 for x in w)):
            raise ValueError("xref stream: bad /W")
        w1, w2, w3 = w
        size = val.get("Size")
        index = val.get("Index", [0, size])
        if (not isinstance(index, list) or len(index) % 2
                or not all(isinstance(x, int) for x in index)):
            raise ValueError("xref stream: bad /Index")
        rowlen = w1 + w2 + w3
        n_rows = sum(index[k + 1] for k in range(0, len(index), 2))
        if rowlen <= 0 or len(data) < n_rows * rowlen:
            raise ValueError("xref stream: data shorter than /Index")
        entries = []
        pos = 0

        def field(width, default):
            nonlocal pos
            if width == 0:
                return default
            v = int.from_bytes(data[pos : pos + width], "big")
            pos += width
            return v

        for k in range(0, len(index), 2):
            start, count = index[k], index[k + 1]
            for num in range(start, start + count):
                typ = field(w1, 1)  # absent type field defaults to 1
                f2 = field(w2, 0)
                f3 = field(w3, 0)
                if typ == 0:
                    entries.append((num, None))
                elif typ == 1:
                    entries.append((num, f2))
                elif typ == 2:
                    entries.append((num, ("objstm", f2, f3)))
                else:  # §7.5.8.3: unknown types SHALL be treated as free
                    entries.append((num, None))
        return entries, val

    def _read_stream_data(self, val: dict, i: int, length: int) -> bytes:
        """Raw stream bytes following the dict that ends at i, de-filtered
        (FlateDecode only, like everything else in this subset)."""
        b = self.b
        i = _skip_ws(b, i)
        if b[i : i + 6] != b"stream":
            raise ValueError("stream keyword missing")
        i += 6
        if b[i : i + 2] == b"\r\n":
            i += 2
        elif b[i : i + 1] == b"\n":
            i += 1
        data = b[i : i + length]
        if len(data) != length:
            raise ValueError("stream truncated")
        filt = val.get("Filter")
        if filt is not None:
            filts = filt if isinstance(filt, list) else [filt]
            for fl in filts:
                if str(fl) == "FlateDecode":
                    data = zlib.decompress(data)
                else:
                    raise ValueError(f"unsupported filter {fl}")
        return data

    def _objstm_get(self, stm_num: int, idx: int, want: int):
        """Object idx inside object stream stm_num (§7.5.7); the header's
        object number at idx must equal `want`."""
        if stm_num in self._objstm_loading:
            raise ValueError("object stream cycle")
        if stm_num not in self._objstm_cache:
            self._objstm_loading.add(stm_num)
            try:
                val, data = self.obj(stm_num)
            finally:
                self._objstm_loading.discard(stm_num)
            if (not isinstance(val, dict)
                    or str(val.get("Type")) != "ObjStm" or data is None):
                raise ValueError("not an object stream")
            n = self.resolve(val.get("N"))
            first = self.resolve(val.get("First"))
            if not isinstance(n, int) or not isinstance(first, int):
                raise ValueError("object stream: bad /N or /First")
            pairs = []
            j = 0
            for _ in range(n):
                tok, j = _read_token(data, _skip_ws(data, j))
                num = int(tok)
                tok, j = _read_token(data, _skip_ws(data, j))
                pairs.append((num, int(tok)))
            self._objstm_cache[stm_num] = (pairs, first, data)
        pairs, first, data = self._objstm_cache[stm_num]
        if idx >= len(pairs) or pairs[idx][0] != want:
            raise ValueError("object stream index mismatch")
        v, _ = _parse_value(data, first + pairs[idx][1])
        return v

    def obj(self, num: int) -> tuple:
        """-> (value, stream_bytes_or_None), stream already de-filtered."""
        if num in self._cache:
            return self._cache[num]
        b = self.b
        loc = self.offsets[num]
        if isinstance(loc, tuple):  # compressed object in an ObjStm
            v = self._objstm_get(loc[1], loc[2], num)
            self._cache[num] = (v, None)  # ObjStm members are never streams
            return self._cache[num]
        i = loc
        tok, i = _read_token(b, _skip_ws(b, i))
        if int(tok) != num:
            raise ValueError("xref offset points at wrong object")
        _gen, i = _read_token(b, _skip_ws(b, i))
        kw, i = _read_token(b, _skip_ws(b, i))
        if kw != b"obj":
            raise ValueError("obj keyword missing")
        val, i = _parse_value(b, i)
        data = None
        i = _skip_ws(b, i)
        if b[i : i + 6] == b"stream":
            i += 6
            if b[i : i + 2] == b"\r\n":
                i += 2
            elif b[i : i + 1] == b"\n":
                i += 1
            length = self.resolve(val.get("Length"))
            if not isinstance(length, int):
                raise ValueError("stream /Length unresolved")
            data = b[i : i + length]
            if len(data) != length:
                raise ValueError("stream truncated")
            filt = self.resolve(val.get("Filter"))
            if filt is not None:
                filts = filt if isinstance(filt, list) else [filt]
                for fl in filts:
                    if str(fl) == "FlateDecode":
                        data = zlib.decompress(data)
                    else:
                        raise ValueError(f"unsupported filter {fl}")
        self._cache[num] = (val, data)
        return self._cache[num]

    def resolve(self, v):
        while isinstance(v, _Ref):
            v = self.obj(v.num)[0]
        return v


def _mat_mul(m1, m2):
    """2D affine (a,b,c,d,e,f) row-vector convention: m1 x m2."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


_ID = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


# Operators we consciously SKIP because they cannot move, hide, or add
# text: color/shading state, path construction + painting, line/dash/
# rendering-intent state, and marked-content markers. Anything NOT in this
# set and not explicitly interpreted below fails the document whole —
# "unknown == harmless" silently corrupts extraction (a skipped `Do` drops
# a form XObject's text; a skipped text op desyncs the text matrix).
_SKIP_OPS = frozenset(
    # colors / shading
    "g rg k cs sc scn G RG K CS SC SCN sh "
    # paths: construct + paint + clip
    "m l c v y h re S s f F f* B B* b b* n W W* "
    # general graphics state that never repositions text
    "gs w J j M d ri i "
    # marked content / compatibility sections
    "BMC BDC EMC MP DP BX EX "
    # text state that does not move the run anchor we emit (char/word
    # spacing, horizontal scale, render mode, rise adjust glyph layout
    # inside a run, not the run's anchor or its characters)
    "Tc Tw Tz Tr Ts".split()
)


def _interp_content(content: bytes) -> list:
    """Interpret a page content stream -> [(x, y, size, text), ...] in
    document order. Text state per ISO 32000-1 §9.4 (BT/ET, Tf, Td, TD,
    Tm, T*, TL, Tj, ', \", TJ) composed with the CTM (q/Q/cm, §8.4.4):
    the emitted anchor is the translation of Tm x CTM. Operators proven
    harmless to text (_SKIP_OPS) discard their operands; any OTHER
    operator raises so the document fails whole — notably `Do` (a form
    XObject may contain text we cannot reach) and `BI` (inline image data
    would desync the tokenizer)."""
    runs = []
    stack: list = []
    tm = tlm = _ID
    ctm = _ID
    gs_stack: list = []
    tl = 0.0
    size = 0.0
    in_text = False
    i = 0
    n = len(content)

    def _emit(raw):
        if not in_text:  # show op outside BT/ET: invalid per §9.4.3
            raise ValueError("show operator outside text object")
        if isinstance(raw, bytes):
            txt = raw.decode("latin-1")
        else:  # TJ array: strings concatenated, kerning numbers skipped
            txt = b"".join(e for e in raw if isinstance(e, bytes)).decode(
                "latin-1"
            )
        m = _mat_mul(tm, ctm)
        runs.append((m[4], m[5], size, txt))

    while True:
        i = _skip_ws(content, i)
        if i >= n:
            break
        c = content[i : i + 1]
        if c in (b"/", b"(", b"<", b"["):
            v, i = _parse_value(content, i)
            stack.append(v)
            continue
        tok, j = _read_token(content, i)
        if not tok:
            raise ValueError("bad content byte")
        i = j
        if _NUM_RE.match(tok):
            stack.append(int(tok) if b"." not in tok else float(tok))
            continue
        op = tok.decode("latin-1")
        if op == "BT":
            tm = tlm = _ID
            in_text = True
        elif op == "ET":
            in_text = False
        elif op == "q":
            gs_stack.append(ctm)
        elif op == "Q":
            ctm = gs_stack.pop() if gs_stack else _ID
        elif op == "cm":
            ctm = _mat_mul(tuple(float(v) for v in stack[-6:]), ctm)
        elif op == "Tf":
            size = float(stack[-1])
        elif op == "TL":
            tl = float(stack[-1])
        elif op == "Td" or op == "TD":
            tx, ty = float(stack[-2]), float(stack[-1])
            if op == "TD":
                tl = -ty
            tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, tx, ty), tlm)
            tm = tlm
        elif op == "Tm":
            tlm = tm = tuple(float(v) for v in stack[-6:])
        elif op == "T*":
            tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -tl), tlm)
            tm = tlm
        elif op == "Tj" or op == "TJ":
            _emit(stack[-1])
        elif op == "'" or op == '"':
            # ": aw ac string — word/char spacing don't move the anchor
            tlm = _mat_mul((1.0, 0.0, 0.0, 1.0, 0.0, -tl), tlm)
            tm = tlm
            _emit(stack[-1])
        elif op not in _SKIP_OPS:
            raise ValueError(f"unsupported content operator {op!r}")
        stack = []
    return runs


def parse_pdf(b: bytes) -> Optional[dict]:
    """Parse one PDF -> {"pages": [(w, h)], "runs": [...]} or None.

    runs is a list of dicts in DOCUMENT ORDER: part_id, run_id, page_w,
    page_h, x, y, size, text. /MediaBox inherits down the page tree; a
    page without an effective MediaBox, an interior-node cycle, or any
    parse/decode error anywhere rejects the whole document.
    """
    try:
        b = bytes(b) if b is not None else b""
        if not b.startswith(b"%PDF-"):
            return None
        doc = _Doc(b)
        root = doc.resolve(doc.trailer["Root"])
        pages_ref = root["Pages"]

        leaves: list[tuple] = []  # (page_dict, inherited_mediabox)
        seen: set[int] = set()

        def walk(ref, mediabox):
            if isinstance(ref, _Ref):
                if ref.num in seen:
                    raise ValueError("page tree cycle")
                seen.add(ref.num)
            node = doc.resolve(ref)
            mb = doc.resolve(node.get("MediaBox")) or mediabox
            if str(node.get("Type")) == "Pages":
                for kid in doc.resolve(node["Kids"]):
                    walk(kid, mb)
            elif str(node.get("Type")) == "Page":
                if mb is None:
                    raise ValueError("page without MediaBox")
                leaves.append((node, [float(doc.resolve(v)) for v in mb]))
            else:
                raise ValueError("unknown page-tree node type")

        walk(pages_ref, None)
        if not leaves:
            return None

        dims = []
        runs = []
        for part_id, (page, mb) in enumerate(leaves):
            w, h = mb[2] - mb[0], mb[3] - mb[1]
            dims.append((w, h))
            if page.get("Contents") is None:
                continue  # /Contents is optional (ISO 32000-1 Table 30):
                # a valid EMPTY page — zero runs, dims still counted
            contents = doc.resolve(page.get("Contents"))
            chunks = []
            refs = contents if isinstance(contents, list) else [
                page.get("Contents")
            ]
            for r in refs:
                if not isinstance(r, _Ref):
                    raise ValueError("/Contents must be stream refs")
                _val, data = doc.obj(r.num)
                if data is None:
                    raise ValueError("/Contents object has no stream")
                chunks.append(data)
            # spec: multiple /Contents streams form ONE stream, with an
            # implied whitespace byte at each boundary
            for (x, y, sz, txt) in _interp_content(b"\n".join(chunks)):
                runs.append({
                    "part_id": part_id, "run_id": len(runs),
                    "page_w": w, "page_h": h,
                    "x": x, "y": y, "size": sz, "text": txt,
                })
        return {"pages": dims, "runs": runs}
    except Exception:
        return None


MIN_CONTENT_SIZE = 9.0


def assemble_doc_text(runs: list) -> tuple:
    """Per-document pure-Python twin of `pdf_doc_text` + the registry's
    size>=9 content filter, for the wave-committed CLI leg (one doc per
    call inside an Arrow batch UDF). MUST stay byte-identical to the
    DataFrame-agg form; tests/test_native_cli.py gates the differential
    over the fixture corpus. Returns (text, n_blocks, spans) with spans
    mirroring the HTML spec §5, keyed by run_id."""
    kept = sorted(
        (r for r in runs if r["size"] >= MIN_CONTENT_SIZE),
        key=lambda r: (r["part_id"], -r["y"], r["x"], r["run_id"]),
    )
    return join_spans((r["run_id"], r["text"]) for r in kept)


def pdf_doc_text(runs: DataFrame) -> DataFrame:
    """Reading-order text assembly over (already-filtered) text runs:
    per-document newline-joined text, ordered by (page, top-to-bottom —
    PDF y grows UPWARD so the struct sort negates it — then x, then
    run_id). One shuffle (the groupBy); run_id is unique per doc, so the
    trailing text field never influences the order. Callers choose the
    content filter (the registry's `pdf_extract_text` keeps size >= 9)."""
    from pyspark.sql import functions as F

    return runs.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("part_id"),
                            (-F.col("y")).alias("ny"),
                            F.col("x"),
                            F.col("run_id"),
                            F.col("text"),
                        )
                    )
                ),
                lambda s: s.text,
            ),
            "\n",
        ).alias("doc_text"),
        F.count("*").alias("n_runs"),
    )


def pdf_runs(df: DataFrame, payload_col: str = "pdf",
             id_col: str = "doc_id") -> DataFrame:
    """Vectorized PDF -> run-table stage (the S1/S2 analogue for born-
    digital PDFs): one mapInPandas over the binary column, zero exchanges;
    corrupt documents yield no rows (fail-whole)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [fld.name for fld in PDF_RUNS_SCHEMA.fields]
        for pdf in batches:
            out: list[dict] = []
            for did, payload in zip(pdf[id_col], pdf[payload_col]):
                parsed = parse_pdf(payload)
                if parsed is None:
                    continue
                for r in parsed["runs"]:
                    out.append({"doc_id": int(did), **r})
            o = pd.DataFrame(out, columns=cols)
            o["doc_id"] = pd.array(o["doc_id"], dtype="int64")
            for c in ("part_id", "run_id"):
                o[c] = pd.array(o[c], dtype="int32")
            for c in ("page_w", "page_h", "x", "y", "size"):
                o[c] = pd.array(o[c], dtype="float64")
            yield o

    return df.mapInPandas(fn, schema=PDF_RUNS_SCHEMA)


# ---------------------------------------------------------------------
# deterministic synthetic PDFs (fixture generator truth)
# ---------------------------------------------------------------------

def _pdf_escape(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("latin-1")


def synth_pdf_bytes(doc_id: int) -> tuple:
    """Deterministic PDF document + generator-truth run rows.

    Adversarial on purpose, so a parser that shortcuts fails the truth
    compare:

    - body objects are emitted in SHUFFLED file order — the classic xref
      table is load-bearing, a linear body scan reads garbage;
    - content streams alternate raw / FlateDecode (zlib), and every 5th
      document carries its /Length as an INDIRECT object;
    - every 6th document splits a page's content across TWO streams
      (/Contents array) at a block boundary;
    - multi-page documents (every 4th: 2 pages, every 12th: 3) use a page
      TREE: every 8th document hangs pages >= 1 under an interior /Pages
      node that carries the /MediaBox those pages INHERIT (page 0 keeps
      its own) — echoing per-page attributes fails;
    - blocks position via Tm or Td (alternating), advance lines via
      explicit Td or TL + T*; every 3rd line renders as a TJ array split
      into chunks with kerning numbers (truth text = concatenation);
      every 7th line uses octal/paren escapes, every 9th a hex string;
    - footer runs (size 7.0, "Page N of M") are planted noise the
      extract stage must strip by the size >= 9 content rule;
    - every 11th document is truncated mid-byte with EMPTY truth —
      fail-whole must reject it.

    Returns (pdf_bytes, truth_rows) with truth_rows matching
    PDF_RUNS_SCHEMA minus doc_id.
    """
    rng, objs, cat_id, truth = _synth_pdf_objects(doc_id)
    order = sorted(objs)  # ids
    rng.shuffle(order)    # SHUFFLED body order: xref is load-bearing
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = {}
    for oid in order:
        offsets[oid] = len(out)
        out += b"%d 0 obj\n" % oid + objs[oid] + b"\nendobj\n"
    xref_off = len(out)
    n_obj = max(objs) + 1
    out += b"xref\n0 %d\n" % n_obj
    out += b"0000000000 65535 f \n"
    for oid in range(1, n_obj):
        out += b"%010d 00000 n \n" % offsets[oid]
    out += (
        b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (n_obj, cat_id, xref_off)
    )
    payload = bytes(out)
    if doc_id % 11 == 10:  # truncated document: fail-whole, no truth
        return payload[: len(payload) * 2 // 3], []
    return payload, truth


def _synth_pdf_objects(doc_id: int) -> tuple:
    """Shared object/truth synthesis behind synth_pdf_bytes (classic 1.4
    assembly) and synth_pdf15_bytes (xref-stream 1.5 assembly): the SAME
    logical document either way, so the two physical formats must extract
    byte-identically. Returns (rng, objs, cat_id, truth); rng is handed
    back mid-sequence so the classic assembler's body shuffle consumes
    exactly the draws it did before this refactor (committed fixture
    bytes must not change)."""
    rng = random.Random(SEED_BASE + 888_000_000 + doc_id)
    n_pages = 3 if doc_id % 12 == 4 else (2 if doc_id % 4 == 0 else 1)
    tree_mode = n_pages >= 2 and doc_id % 8 == 0

    truth: list[dict] = []
    page_streams: list[list] = []   # per page: [content_bytes, ...]
    page_dims: list[tuple] = []
    line_ctr = 0

    for part_id in range(n_pages):
        if tree_mode and part_id >= 2:
            # pages under the interior /Pages node inherit ITS MediaBox
            # (built from page 1's dims) — lay out against the effective box
            w, h = page_dims[1]
        else:
            w = float(rng.randrange(400, 700, 4))
            h = float(rng.randrange(600, 900, 4))
        page_dims.append((w, h))
        n_blocks = rng.randint(2, 4)
        ops: list[bytes] = []
        split_at = (
            rng.randint(1, n_blocks - 1)
            if (doc_id % 6 == 3 and n_blocks > 1) else None
        )
        parts: list[list] = [[]]

        def show_line(x, y, size, words, first_in_block, dy):
            nonlocal line_ctr
            line_ctr += 1
            txt = " ".join(words)
            if first_in_block:
                if rng.random() < 0.5:
                    ops.append(b"1 0 0 1 %d %d Tm" % (int(x), int(y)))
                else:
                    ops.append(b"%d %d Td" % (int(x), int(y)))
            elif line_ctr % 4 == 0:
                ops.append(b"%g TL T*" % dy)
            else:
                ops.append(b"0 -%g Td" % dy)
            if line_ctr % 9 == 0:
                ops.append(b"<%s> Tj" % txt.encode("latin-1").hex().encode())
            elif line_ctr % 3 == 0:  # TJ with kerning splits
                mid = max(1, len(txt) // 2)
                ops.append(
                    b"[(%s) %d (%s)] TJ"
                    % (_pdf_escape(txt[:mid]), -rng.randint(10, 60),
                       _pdf_escape(txt[mid:]))
                )
            elif line_ctr % 7 == 0:  # escapes: parens + octal
                txt = f"(c) doc{doc_id} §{part_id}"
                ops.append(
                    b"(\\(c\\) doc%d \\247%d) Tj" % (doc_id, part_id)
                )
            else:
                ops.append(b"(%s) Tj" % _pdf_escape(txt))
            truth.append({
                "part_id": part_id, "run_id": len(truth),
                "page_w": w, "page_h": h,
                "x": float(int(x)), "y": float(int(y)), "size": size,
                "text": txt,
            })

        y_cursor = h - 40.0
        for blk in range(n_blocks):
            is_heading = blk == 0 and rng.random() < 0.7
            size = 18.0 if is_heading else rng.choice((10.5, 12.0))
            x0 = float(rng.randint(40, 80))
            n_lines = 1 if is_heading else rng.randint(2, 4)
            # integer leading keeps every y exactly representable, so the
            # truth compare is float-exact
            leading = float(int(size)) + 2.0
            ops.append(b"BT")
            ops.append(b"/F1 %g Tf" % size)
            for li in range(n_lines):
                words = [
                    f"d{doc_id}p{part_id}b{blk}l{li}"
                ] + [f"w{rng.randint(0, 99)}" for _ in range(rng.randint(2, 6))]
                show_line(x0, y_cursor, size, words, li == 0, leading)
                y_cursor -= leading
            ops.append(b"ET")
            y_cursor -= rng.randint(8, 20)
            if split_at is not None and blk + 1 == split_at:
                parts[-1] = ops
                ops = []
                parts.append(ops)
        # footer noise: stripped by the size>=9 content rule downstream
        ops.append(b"BT")
        ops.append(b"/F1 7 Tf")
        footer = f"Page {part_id + 1} of {n_pages}"
        ops.append(b"1 0 0 1 %d 24 Tm" % int(w / 2 - 20))
        ops.append(b"(%s) Tj" % _pdf_escape(footer))
        ops.append(b"ET")
        truth.append({
            "part_id": part_id, "run_id": len(truth),
            "page_w": w, "page_h": h,
            "x": float(int(w / 2 - 20)), "y": 24.0, "size": 7.0,
            "text": footer,
        })
        parts[-1] = ops
        page_streams.append([b"\n".join(p) for p in parts if p])

    # ---- assemble objects -------------------------------------------
    objs: dict[int, bytes] = {}
    next_id = [1]

    def new_id() -> int:
        i = next_id[0]
        next_id[0] += 1
        return i

    cat_id, root_pages_id, font_id = new_id(), new_id(), new_id()
    interior_id = new_id() if tree_mode else None

    page_ids, content_refs = [], []
    for part_id, streams in enumerate(page_streams):
        refs = []
        for s in streams:
            sid = new_id()
            if doc_id % 3 == 0:
                data, filt = s, b""
            else:
                data, filt = zlib.compress(s), b" /Filter /FlateDecode"
            if doc_id % 5 == 0:  # indirect /Length
                lid = new_id()
                objs[lid] = b"%d" % len(data)
                objs[sid] = (
                    b"<< /Length %d 0 R%s >>\nstream\n" % (lid, filt)
                    + data + b"\nendstream"
                )
            else:
                objs[sid] = (
                    b"<< /Length %d%s >>\nstream\n" % (len(data), filt)
                    + data + b"\nendstream"
                )
            refs.append(sid)
        content_refs.append(refs)
        page_ids.append(new_id())

    for part_id, pid in enumerate(page_ids):
        w, h = page_dims[part_id]
        parent = (
            interior_id if (tree_mode and part_id >= 1) else root_pages_id
        )
        refs = content_refs[part_id]
        contents = (
            b"%d 0 R" % refs[0]
            if len(refs) == 1
            else b"[ " + b" ".join(b"%d 0 R" % r for r in refs) + b" ]"
        )
        mb = b" /MediaBox [0 0 %g %g]" % (w, h)
        if tree_mode and part_id >= 1:
            mb = b""  # inherited from the interior /Pages node
        objs[pid] = (
            b"<< /Type /Page /Parent %d 0 R%s /Contents %s "
            b"/Resources << /Font << /F1 %d 0 R >> >> >>"
            % (parent, mb, contents, font_id)
        )

    objs[cat_id] = b"<< /Type /Catalog /Pages %d 0 R >>" % root_pages_id
    objs[font_id] = (
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    if tree_mode:
        w1, h1 = page_dims[1]  # pages >= 1 share dims under the interior
        kids = [page_ids[0], interior_id]
        objs[root_pages_id] = (
            b"<< /Type /Pages /Kids [ %s ] /Count %d >>"
            % (b" ".join(b"%d 0 R" % k for k in kids), n_pages)
        )
        objs[interior_id] = (
            b"<< /Type /Pages /Parent %d 0 R /MediaBox [0 0 %g %g] "
            b"/Kids [ %s ] /Count %d >>"
            % (root_pages_id, w1, h1,
               b" ".join(b"%d 0 R" % p for p in page_ids[1:]),
               n_pages - 1)
        )
    else:
        objs[root_pages_id] = (
            b"<< /Type /Pages /Kids [ %s ] /Count %d >>"
            % (b" ".join(b"%d 0 R" % p for p in page_ids), n_pages)
        )

    return rng, objs, cat_id, truth


def _png_filter_rows(raw: bytes, columns: int, rng) -> bytes:
    """FORWARD PNG filtering (the generator half; the parser holds the
    inverse in _png_unpredict): per-row filter type drawn from all five
    RFC 2083 filters, row prefixed with its filter byte."""
    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    out = bytearray()
    prev = bytes(columns)
    for r in range(0, len(raw), columns):
        row = raw[r : r + columns]
        ft = rng.choice((0, 1, 2, 3, 4))
        out.append(ft)
        if ft == 0:
            out += row
        elif ft == 1:
            out += bytes((row[j] - (row[j - 1] if j else 0)) & 0xFF
                         for j in range(columns))
        elif ft == 2:
            out += bytes((row[j] - prev[j]) & 0xFF for j in range(columns))
        elif ft == 3:
            out += bytes(
                (row[j] - ((row[j - 1] if j else 0) + prev[j]) // 2) & 0xFF
                for j in range(columns))
        else:
            out += bytes(
                (row[j] - paeth(row[j - 1] if j else 0, prev[j],
                                prev[j - 1] if j else 0)) & 0xFF
                for j in range(columns))
        prev = row
    return bytes(out)


def synth_pdf15_bytes(doc_id: int) -> tuple:
    """The SAME logical document as synth_pdf_bytes(doc_id) assembled as
    PDF 1.5: cross-reference STREAM instead of a classic table, with the
    non-stream objects compressed into an object stream. Truth rows are
    therefore IDENTICAL to the classic leg's — the cross-version
    differential (same doc_id extracts byte-identically from both
    physical formats) is the gate. Adversarial knobs, seeded separately
    from the content rng so the logical document is untouched:

    - ALL non-stream objects (catalog, /Pages nodes, page dicts, font,
      and the INDIRECT /Length integers) move into one FlateDecode
      object stream, in shuffled header order — resolving a stream's
      /Length then requires the full §7.5.7 machinery;
    - the xref stream alternates raw rows / PNG-predicted rows
      (/DecodeParms /Predictor 12), with per-row filter types drawn from
      all five RFC 2083 filters;
    - /Index splits the object range into two subsections half the time;
    - every 6th document appends an incremental update: a second xref
      stream whose /Prev chains to the first and re-points the catalog
      at a byte-equal copy (newest-wins resolution must pick it);
    - every 11th document truncates with EMPTY truth, same fail-whole
      rule as the classic leg.
    """
    rng, objs, cat_id, truth = _synth_pdf_objects(doc_id)
    rng15 = random.Random(SEED_BASE + 889_000_000 + doc_id)

    stream_ids = sorted(o for o in objs if b"endstream" in objs[o])
    packed_ids = sorted(o for o in objs if o not in set(stream_ids))
    objstm_id = max(objs) + 1
    xref_id = max(objs) + 2

    # ---- object stream: header of (num, offset) pairs, then bodies ----
    rng15.shuffle(packed_ids)
    bodies, hdr, off = [], [], 0
    for oid in packed_ids:
        hdr.append(b"%d %d" % (oid, off))
        bodies.append(objs[oid])
        off += len(objs[oid]) + 1
    header = b" ".join(hdr) + b"\n"
    payload = header + b" ".join(bodies) + b" "
    comp = zlib.compress(payload)
    objstm = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d "
        b"/Filter /FlateDecode >>\nstream\n"
        % (len(packed_ids), len(header), len(comp))
        + comp + b"\nendstream"
    )

    # ---- body: uncompressed stream objects + the ObjStm, shuffled -----
    body_ids = stream_ids + [objstm_id]
    rng15.shuffle(body_ids)
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for oid in body_ids:
        offsets[oid] = len(out)
        body = objstm if oid == objstm_id else objs[oid]
        out += b"%d 0 obj\n" % oid + body + b"\nendobj\n"

    w1, w2, w3 = 1, 2, 2
    columns = w1 + w2 + w3

    def pack_rows(entries: list) -> bytes:
        return b"".join(
            bytes([typ]) + f2.to_bytes(w2, "big") + f3.to_bytes(w3, "big")
            for _num, typ, f2, f3 in entries
        )

    entries = [(0, 0, 0, 65535)]
    for num in range(1, xref_id):
        if num in offsets:
            entries.append((num, 1, offsets[num], 0))
        else:
            entries.append((num, 2, objstm_id, packed_ids.index(num)))
    xref_off = len(out)
    entries.append((xref_id, 1, xref_off, 0))
    size = xref_id + 1
    raw = pack_rows(entries)
    if rng15.random() < 0.5:
        data = zlib.compress(_png_filter_rows(raw, columns, rng15))
        parms = b"/DecodeParms << /Predictor 12 /Columns %d >> " % columns
    else:
        data = zlib.compress(raw)
        parms = b""
    if rng15.random() < 0.5:  # two contiguous /Index subsections
        k = len(entries) // 2
        index = b"/Index [0 %d %d %d]" % (k, k, len(entries) - k)
    else:
        index = b"/Index [0 %d]" % len(entries)
    out += (
        b"%d 0 obj\n<< /Type /XRef /W [%d %d %d] %s /Size %d %s"
        b"/Root %d 0 R /Length %d /Filter /FlateDecode >>\nstream\n"
        % (xref_id, w1, w2, w3, index, size, parms, cat_id, len(data))
        + data + b"\nendstream\nendobj\n"
    )
    out += b"startxref\n%d\n%%%%EOF\n" % xref_off

    if doc_id % 6 == 1:
        # incremental update: byte-equal catalog copy wins via /Prev chain
        upd_off = len(out)
        out += b"%d 0 obj\n" % cat_id + objs[cat_id] + b"\nendobj\n"
        x2_id = xref_id + 1
        x2_off = len(out)
        raw2 = pack_rows([(cat_id, 1, upd_off, 0), (x2_id, 1, x2_off, 0)])
        data2 = zlib.compress(raw2)
        out += (
            b"%d 0 obj\n<< /Type /XRef /W [%d %d %d] "
            b"/Index [%d 1 %d 1] /Size %d /Prev %d "
            b"/Root %d 0 R /Length %d /Filter /FlateDecode >>\nstream\n"
            % (x2_id, w1, w2, w3, cat_id, x2_id, x2_id + 1, xref_off,
               cat_id, len(data2))
            + data2 + b"\nendstream\nendobj\n"
        )
        out += b"startxref\n%d\n%%%%EOF\n" % x2_off

    payload_bytes = bytes(out)
    if doc_id % 11 == 10:  # truncated document: fail-whole, no truth
        return payload_bytes[: len(payload_bytes) * 2 // 3], []
    return payload_bytes, truth
