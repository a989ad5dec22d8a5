"""Pure-Python .xlsx reader (stdlib zipfile + a bulk cell scan on pyarrow's
RE2 kernels, with ElementTree for the shapes the scan does not certify).

Replaces the reference's calamine-based Excel scan (reference
src/main.rs:49-85) — no Excel library or POI jar exists in this
environment, and the format is just a zip of XML parts:

- ``xl/workbook.xml``       sheet name -> relationship id
- ``xl/_rels/workbook.xml.rels``  relationship id -> worksheet part path
- ``xl/sharedStrings.xml``  shared-string table (``t="s"`` cells index it)
- ``xl/worksheets/sheetN.xml``  rows of ``<c r="A1" t="..."><v>..</v></c>``

Cell value decoding (:func:`_decode`, shared by both readers):

- ``t="s"``         shared string (index into sharedStrings)
- ``t="inlineStr"`` inline ``<is>`` text
- ``t="str"``       formula string result
- ``t="b"``         boolean (kept as Python bool)
- ``t="e"``         error -> None
- default           number -> int when integral-looking else float

A string (shared or inline) is its direct ``<t>`` or the ``<t>`` of each
rich-text ``<r>`` run; a phonetic guide (``<rPh>``) is not part of it.

Sparse cells: xlsx omits empty cells entirely; we re-densify from the
``r`` attribute so positional column mapping (the reference's semantics,
src/main.rs:69-75) stays correct.

**Bulk scan.** :func:`iter_xlsx_rows` inflates the worksheet part in
chunks of about 1 MiB cut after a ``</row>`` and reads each chunk's
cells in bulk: the chunk is split at ``<row`` and each row at ``<c ``,
and one anchored pattern per piece (``pyarrow.compute.extract_regex``)
must match the whole piece. The grammar, in the order Excel and
openpyxl write it::

    row   <row r="N" {attr="..."}> cell* </row>  |  <row r="N" .../>
    cell  <c r="COLN" [s="N"] [t="T"]/>
       |  <c r="COLN" [s="N"] [t="T"]>[<f ...>text</f> | <f .../>]
              [<v>text</v> | <is><t [xml:space="..."]>text</t></is>]</c>

where ``text`` holds no ``<``, ``>``, ``&``, carriage return or
character XML forbids, except that formula text may hold the five
predefined entities (``&amp;`` and the like; formula text is not read). Shared-string cells are one ``take`` into the
shared strings, plain integer and decimal text one ``int64``/``float64``
cast, inline strings their captured text; every other cell goes through
:func:`_decode`. ``sharedStrings.xml`` is read the same way when every
``<si>`` is a single ``<t>`` (the five predefined entities decoded).

The scan certifies what it matched: every byte of ``sheetData`` belongs
to the grammar (so every ``<c`` opening matched and no prefixed element,
comment or entity is inside); row attributes are unique, declared and
not ``xmlns``; ``<row r>`` is strictly increasing and so are the cells
within a row; the part is UTF-8, has no DOCTYPE, and outside
``sheetData`` parses as XML whose root is the main-namespace
``worksheet`` with no ``row`` or ``c`` elements. Any part that fails
goes to the ElementTree reader (:func:`_iter_rows_etree`), which yields
the same rows and raises the same errors; rows the scan already yielded
are not yielded twice. The choice depends only on the input.
"""

from __future__ import annotations

import functools
import itertools
import re
import string
import zipfile
import xml.etree.ElementTree as ET
from typing import Any, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_NS = "{" + _MAIN + "}"
_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_XML_NS = "http://www.w3.org/XML/1998/namespace"
_CELL_REF_RE = re.compile(r"([A-Z]+)([0-9]+)")

Cell = Any  # str | int | float | bool | None


def _col_index(ref: str) -> int:
    """'A'->0, 'B'->1, ..., 'AA'->26."""
    m = _CELL_REF_RE.match(ref)
    if not m:
        return -1
    idx = 0
    for ch in m.group(1):
        idx = idx * 26 + (ord(ch) - ord("A") + 1)
    return idx - 1


def _text_of(el: ET.Element) -> str:
    """An ``<si>`` or ``<is>`` element's string: its direct ``<t>`` and
    the ``<t>`` of each ``<r>`` run, in order; ``<rPh>`` is skipped."""
    parts = []
    for child in el:
        if child.tag == f"{_NS}t":
            parts.append(child.text or "")
        elif child.tag == f"{_NS}r":
            parts.extend(t.text or "" for t in child.findall(f"{_NS}t"))
    return "".join(parts)


def _load_shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    strings = _scan_shared_strings(data)
    if strings is not None:
        return strings
    root = ET.fromstring(data)
    return [_text_of(si) for si in root.findall(f"{_NS}si")]


def _sheet_rel_map(zf: zipfile.ZipFile) -> dict[str, str]:
    """sheet name -> worksheet part path inside the zip."""
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.findall(f"{_REL_NS}Relationship")
    }
    out: dict[str, str] = {}
    for sheet in wb.iter(f"{_NS}sheet"):
        rid = sheet.get(
            "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
        )
        target = rid_to_target.get(rid, "")
        if target.startswith("/"):
            target = target[1:]
        elif not target.startswith("xl/"):
            target = "xl/" + target
        out[sheet.get("name", "")] = target
    return out


def _decode(ctype: str, raw: str | None, inline: str | None,
            shared: list[str]) -> Cell:
    """One cell's value from its ``t`` attribute, its ``<v>`` text
    (None when absent or empty) and its ``<is>`` text (None when
    absent)."""
    if ctype == "inlineStr":
        return inline
    if raw is None:
        return None
    if ctype == "s":
        return shared[int(raw)]
    if ctype == "str":
        return raw
    if ctype == "b":
        return raw == "1"
    if ctype == "e":
        return None
    # numeric: keep ints as ints so the reference's i64 coercion is exact
    try:
        f = float(raw)
    except ValueError:
        return raw
    if f.is_integer() and "e" not in raw.lower() and "." not in raw:
        return int(raw)
    return f


def _decode_cell(c: ET.Element, shared: list[str]) -> Cell:
    v = c.find(f"{_NS}v")
    is_el = c.find(f"{_NS}is")
    return _decode(c.get("t", "n"), None if v is None else v.text,
                   None if is_el is None else _text_of(is_el), shared)


def sheet_names(path: str) -> list[str]:
    with zipfile.ZipFile(path) as zf:
        return list(_sheet_rel_map(zf))


def iter_xlsx_rows(path: str, sheet: str | None = None) -> Iterator[list[Cell]]:
    """Yield dense rows (list of cells, gaps as None) from one sheet.

    ``sheet=None`` selects the first sheet. Unknown sheet -> KeyError
    (the reference logs an XlsxError, src/main.rs:207).
    """
    with zipfile.ZipFile(path) as zf:
        sheets = _sheet_rel_map(zf)
        if not sheets:
            return
        if sheet is None:
            target = next(iter(sheets.values()))
        else:
            if sheet not in sheets:
                raise KeyError(f"sheet {sheet!r} not found; have {list(sheets)}")
            target = sheets[sheet]
        shared = _load_shared_strings(zf)
        done = 0
        try:
            for rows in _scan_rows(zf, target, shared):
                done += len(rows)
                yield from rows
        except _Uncertified:
            yield from itertools.islice(
                _iter_rows_etree(zf, target, shared), done, None)


def _iter_rows_etree(zf: zipfile.ZipFile, target: str,
                     shared: list[str]) -> Iterator[list[Cell]]:
    """The reference reader: any well-formed part, one element at a
    time. iterparse keeps memory O(row), not O(sheet)."""
    with zf.open(target) as fh:
        row: list[Cell] = []
        for event, el in ET.iterparse(fh, events=("end",)):
            if el.tag == f"{_NS}c":
                ci = _col_index(el.get("r", ""))
                val = _decode_cell(el, shared)
                if ci < 0:
                    row.append(val)
                else:
                    while len(row) < ci:
                        row.append(None)
                    if len(row) == ci:
                        row.append(val)
                    else:
                        row[ci] = val
            elif el.tag == f"{_NS}row":
                yield row
                row = []
                el.clear()


def read_xlsx_rows(path: str, sheet: str | None = None) -> list[list[Cell]]:
    return list(iter_xlsx_rows(path, sheet))


# ---------------------------------------------------------------------------
# Bulk scan

class _Uncertified(Exception):
    """The part has a shape the bulk scan does not certify."""


_CHUNK = 1 << 20
_WS = "[ \t\r\n]"
# Character data the scan takes verbatim: no markup, entity or carriage
# return (the XML parser would decode or normalize those), and no
# character XML forbids (the parser would raise).
_TEXT = "[^<>&\r\x00-\x08\x0b\x0c\x0e-\x1f\ufffe\uffff]"
# The entities every XML parser predefines; formula text and shared
# strings may hold them (an entity elsewhere sends the part to ElementTree).
_ENTITY = "&(?:amp|lt|gt|quot|apos);"
_ATTR_VALUE = '"[^"<&\x00-\x08\x0b\x0c\x0e-\x1f\ufffe\uffff]*"'
_SPACE = rf'(?:{_WS}+xml:space="(?:preserve|default)")?'

_ROW_HEAD = (
    rf'^{_WS}+r="(?P<r>[0-9]{{1,9}})"'
    rf'(?P<attrs>(?:{_WS}+[A-Za-z_][\w.-]*(?::[A-Za-z_][\w.-]*)?={_ATTR_VALUE})*)'
    rf'{_WS}*(?P<shut>/>|>{_WS}*</row>|>){_WS}*$')
_FORMULA = (
    rf'<f(?:{_WS}+t="(?:normal|shared|array|dataTable)")?'
    rf'(?:{_WS}+ref="[A-Z0-9:$]+")?(?:{_WS}+si="[0-9]+")?'
    rf'(?:{_WS}+ca="(?:0|1|true|false)")?{_WS}*(?:/>|>(?:{_TEXT}|{_ENTITY})*</f>)')
_CELL = (
    rf'^{_WS}*r="(?P<col>[A-Z]{{1,3}})[0-9]+"(?:{_WS}+s="[0-9]+")?'
    rf'(?:{_WS}+t="(?P<t>[A-Za-z]*)")?{_WS}*'
    rf'(?:/>|>(?:{_FORMULA})?'
    rf'(?:<v>(?P<v>{_TEXT}*)</v>'
    rf'|<(?P<his>i)s><t{_SPACE}>(?P<txt>{_TEXT}*)</t></is>)?</c>)'
    rf'{_WS}*(?P<end></row>)?{_WS}*$')
_INT = r"^-?[0-9]{1,18}$"
_DECIMAL = r"^-?[0-9]+\.[0-9]+$"

_SI = re.compile(rf"<si><t{_SPACE}>((?:{_TEXT}|{_ENTITY})*)</t></si>{_WS}*")
_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"),
             ("&amp;", "&"))
_ENCODING = re.compile(rb"""^(?:\xef\xbb\xbf)?<\?xml[^>]*?encoding=["']([^"']*)""")
_ATTR_NAME = re.compile(r'([^\s=]+)="[^"]*"')


def _string_array(items: list[bytes]) -> pa.StringArray:
    """A string array over ``items`` as they are (unvalidated), built
    without pyarrow's Python-object conversion."""
    offsets = np.zeros(len(items) + 1, np.int32)
    np.cumsum([len(b) for b in items], out=offsets[1:])
    return pa.StringArray.from_buffers(len(items), pa.py_buffer(offsets),
                                       pa.py_buffer(b"".join(items)))


@functools.cache
def _column_names() -> pa.StringArray:
    """'A' .. 'XFD': position i holds column i's letters."""
    names = ["".join(p).encode() for n in (1, 2, 3)
             for p in itertools.product(string.ascii_uppercase, repeat=n)]
    return _string_array(names[:16384])


def _utf8_without_doctype(head: bytes) -> bool:
    m = _ENCODING.match(head)
    return (m is None or m.group(1).lower() in (b"utf-8", b"utf8")) \
        and b"<!DOCTYPE" not in head


def _scan_shared_strings(data: bytes) -> list[str] | None:
    """The shared strings when every ``<si>`` is one plain ``<t>`` inside
    a well-formed main-namespace ``<sst>``; None otherwise."""
    first, last = data.find(b"<si>"), data.rfind(b"</si>")
    if first < 0 or not _utf8_without_doctype(data[:first]):
        return None
    try:
        root = ET.fromstring(data[:first] + data[last + 5:])
        body = data[first:last + 5].decode("utf-8")
    except (ET.ParseError, UnicodeDecodeError):
        return None
    if root.tag != f"{_NS}sst" or len(root) or _SI.sub("", body):
        return None
    return [_unescape(s) if "&" in s else s for s in _SI.findall(body)]


def _unescape(text: str) -> str:
    for entity, char in _ENTITIES:     # &amp; last: "&amp;lt;" -> "&lt;"
        text = text.replace(entity, char)
    return text


def _scan_rows(zf: zipfile.ZipFile, target: str,
               shared: list[str]) -> Iterator[list[list[Cell]]]:
    """The part's rows, one list per chunk; raises _Uncertified at the
    first thing the grammar does not certify."""
    with zf.open(target) as fh:
        buf = b""
        while (at := buf.find(b"<sheetData>")) < 0:
            more = fh.read(_CHUNK)
            if not more:
                raise _Uncertified
            buf += more
        at += len(b"<sheetData>")
        if not _utf8_without_doctype(buf[:at]):
            raise _Uncertified
        outside = ET.XMLPullParser(("start", "end", "start-ns"))
        scan = _ChunkScan(shared, _check_prolog(outside, buf[:at]))
        buf = buf[at:]
        while (end := buf.find(b"</sheetData>")) < 0:
            cut = buf.rfind(b"</row>")
            if cut >= 0:
                cut += len(b"</row>")
                yield scan.rows(buf[:cut])
                buf = buf[cut:]
            more = fh.read(_CHUNK)
            if not more:
                raise _Uncertified
            buf += more
        yield scan.rows(buf[:end])
        _check_epilog(outside, buf[end:] + fh.read())


def _check_prolog(parser: ET.XMLPullParser, prolog: bytes) -> dict[str, str]:
    """The namespace prefixes declared on the root, after checking that
    everything up to ``<sheetData>`` is well-formed, the root is the
    main-namespace ``worksheet`` and ``sheetData`` is its open child."""
    depth, tags, prefixes = 0, [], {"xml": _XML_NS}
    try:
        parser.feed(prolog)
        for event, item in parser.read_events():
            if event == "start-ns":
                if not tags:
                    prefixes[item[0]] = item[1]
            elif event == "start":
                depth += 1
                tags.append(item.tag)
            else:
                depth -= 1
    except ET.ParseError:
        raise _Uncertified from None
    if (not tags or tags[0] != f"{_NS}worksheet" or depth != 2
            or tags[-1] != f"{_NS}sheetData"
            or {f"{_NS}row", f"{_NS}c"} & set(tags)):
        raise _Uncertified
    return prefixes


def _check_epilog(parser: ET.XMLPullParser, epilog: bytes) -> None:
    """Everything after ``sheetData`` is well-formed and holds no row or
    cell the ElementTree reader would yield."""
    try:
        parser.feed(epilog)
        parser.close()
        events = list(parser.read_events())
    except ET.ParseError:
        raise _Uncertified from None
    if any(event == "start" and item.tag in (f"{_NS}row", f"{_NS}c")
           for event, item in events):
        raise _Uncertified


class _ChunkScan:
    """Reads the complete rows of one chunk of ``sheetData`` at a time,
    carrying what certification needs from chunk to chunk."""

    def __init__(self, shared: list[str], prefixes: dict[str, str]):
        self.shared = shared
        self.shared_array = np.array(shared, dtype=object)
        self.prefixes = prefixes
        self.row_attrs: set[str] = set()
        self.last_r = 0

    def rows(self, chunk: bytes) -> list[list[Cell]]:
        text = _string_array([chunk])
        try:
            text.validate(full=True)
        except pa.ArrowInvalid:                  # not UTF-8
            raise _Uncertified from None
        pieces = pc.split_pattern(text, "<row").flatten()
        if pieces[0].as_py().strip(" \t\r\n"):
            raise _Uncertified
        if len(pieces) == 1:
            return []
        parts = pc.split_pattern(pieces[1:], "<c ")
        offsets = parts.offsets.to_numpy()
        flat = parts.flatten()
        is_head = np.zeros(len(flat), bool)
        is_head[offsets[:-1]] = True
        heads = pc.extract_regex(flat.filter(pa.array(is_head)), _ROW_HEAD)
        cells = pc.extract_regex(flat.filter(pa.array(~is_head)), _CELL)
        if heads.null_count or cells.null_count:
            raise _Uncertified
        counts = np.diff(offsets) - 1
        self._check_rows(heads, counts)
        cols = self._columns(cells, counts)
        return self._assemble(self._values(cells), cols, counts)

    def _check_rows(self, heads: pa.StructArray, counts: np.ndarray) -> None:
        r = pc.cast(heads.field("r"), pa.int64()).to_numpy()
        if r[0] <= self.last_r or (np.diff(r) <= 0).any():
            raise _Uncertified
        self.last_r = int(r[-1])
        if ((pc.equal(heads.field("shut"), ">").to_numpy(False))
                != (counts > 0)).any():
            raise _Uncertified
        for attrs in pc.unique(heads.field("attrs")).to_pylist():
            if attrs not in self.row_attrs:
                self._check_row_attrs(attrs)
                self.row_attrs.add(attrs)

    def _check_row_attrs(self, attrs: str) -> None:
        """Unique, declared, non-``xmlns`` attribute names (the XML
        parser raises on the first two; the third changes namespaces)."""
        seen = {("", "r")}
        for name in _ATTR_NAME.findall(attrs):
            prefix, _, local = name.rpartition(":")
            if prefix == "xmlns" or name == "xmlns" \
                    or (prefix and prefix not in self.prefixes):
                raise _Uncertified
            key = (self.prefixes[prefix] if prefix else "", local)
            if key in seen:
                raise _Uncertified
            seen.add(key)

    @staticmethod
    def _columns(cells: pa.StructArray, counts: np.ndarray) -> np.ndarray:
        """Each cell's column, after checking that every row ends with
        its last cell and that columns rise strictly within a row."""
        last = np.cumsum(counts)[counts > 0] - 1
        ends = pc.equal(cells.field("end"), "</row>").to_numpy(False)
        is_last = np.zeros(len(cells), bool)
        is_last[last] = True
        index = pc.index_in(cells.field("col"), value_set=_column_names())
        if index.null_count or (ends != is_last).any():
            raise _Uncertified
        cols = index.to_numpy(False)
        if (np.diff(cols)[~is_last[:-1]] <= 0).any():
            raise _Uncertified
        return cols

    def _values(self, cells: pa.StructArray) -> np.ndarray:
        """Each cell's Python value, typed in bulk where the text says
        what it is and through :func:`_decode` otherwise."""
        t, v, txt = cells.field("t"), cells.field("v"), cells.field("txt")
        vals = np.full(len(cells), None, dtype=object)
        inline = pc.equal(t, "inlineStr").to_numpy(False)
        has_is = pc.equal(cells.field("his"), "i").to_numpy(False)
        numeric = pc.or_(pc.equal(t, ""), pc.equal(t, "n")).to_numpy(False)
        shared = pc.equal(t, "s").to_numpy(False) \
            & pc.match_substring_regex(v, r"^[0-9]{1,9}$").to_numpy(False)
        ints = numeric & pc.match_substring_regex(v, _INT).to_numpy(False)
        floats = numeric & pc.match_substring_regex(v, _DECIMAL).to_numpy(False)
        if shared.any():
            idx = pc.cast(v.filter(pa.array(shared)), pa.int64()).to_numpy()
            pos = np.flatnonzero(shared)
            ok = idx < len(self.shared)
            vals[pos[ok]] = self.shared_array[idx[ok]]
            shared[pos[~ok]] = False     # _decode raises IndexError
        vals[ints] = pc.cast(v.filter(pa.array(ints)), pa.int64()).to_numpy()
        vals[floats] = pc.cast(v.filter(pa.array(floats)),
                               pa.float64()).to_numpy()
        inline_text = inline & has_is
        vals[inline_text] = txt.filter(pa.array(inline_text)).to_numpy(False)
        # None: an inline cell without <is>, any other without <v> text
        empty = np.where(inline, ~has_is, pc.equal(v, "").to_numpy(False))
        rest = ~(shared | ints | floats | inline_text | empty)
        if rest.any():
            for i, ctype, raw in zip(np.flatnonzero(rest).tolist(),
                                     t.filter(pa.array(rest)).to_pylist(),
                                     v.filter(pa.array(rest)).to_pylist()):
                vals[i] = _decode(ctype, raw, None, self.shared)
        return vals

    @staticmethod
    def _assemble(vals: np.ndarray, cols: np.ndarray,
                  counts: np.ndarray) -> list[list[Cell]]:
        """Dense rows: a row whose cells fill columns 0..n-1 is a slice of
        the values; a sparse one gets None in its gaps."""
        values = vals.tolist()
        ends = np.cumsum(counts)
        starts = ends - counts
        rows = [values[s:e] for s, e in zip(starts.tolist(), ends.tolist())]
        width = np.zeros(len(counts), np.int64)
        width[counts > 0] = cols[ends[counts > 0] - 1] + 1
        for k in np.flatnonzero(width != counts).tolist():
            row = [None] * int(width[k])
            for c, val in zip(cols[starts[k]:ends[k]].tolist(), rows[k]):
                row[c] = val
            rows[k] = row
        return rows
