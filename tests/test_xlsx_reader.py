"""The xlsx reader: the bulk cell scan against the ElementTree reader it
falls back to. Rows must be equal in value and Python type, errors equal
in type, and the shapes the scan certifies must stay on the scan."""

from __future__ import annotations

import zipfile
import xml.etree.ElementTree as ET

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from excel_to_db_spark.sources import xlsx
from excel_to_db_spark.sources.xlsx_writer import write_xlsx
from perfbench import gen

MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
REL = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
PKG = "http://schemas.openxmlformats.org/package/2006/relationships"
HEAD = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'


def write_book(path, sheet: str, shared: str | None = None) -> str:
    """A one-sheet workbook whose worksheet part is ``sheet`` verbatim
    (and ``xl/sharedStrings.xml`` is ``shared`` when given)."""
    parts = {
        "xl/workbook.xml":
            f'{HEAD}<workbook xmlns="{MAIN}" xmlns:r="{REL}"><sheets>'
            '<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            f'{HEAD}<Relationships xmlns="{PKG}"><Relationship Id="rId1" '
            f'Type="{REL}/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml": sheet,
    }
    if shared is not None:
        parts["xl/sharedStrings.xml"] = shared
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, text in parts.items():
            zf.writestr(name, text)
    return str(path)


def worksheet(rows: str, before: str = "", after: str = "",
              open_tag: str = f'<worksheet xmlns="{MAIN}" xmlns:r="{REL}">'
              ) -> str:
    return f"{HEAD}{open_tag}{before}<sheetData>{rows}</sheetData>{after}</worksheet>"


def sst(*items: str) -> str:
    return (f'{HEAD}<sst xmlns="{MAIN}" count="{len(items)}" '
            f'uniqueCount="{len(items)}">{"".join(items)}</sst>')


def etree_rows(path: str) -> list[list]:
    """The reference: shared strings and sheet both read by ElementTree."""
    with zipfile.ZipFile(path) as zf:
        target = next(iter(xlsx._sheet_rel_map(zf).values()))
        try:
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            shared = [xlsx._text_of(si) for si in root.findall(f"{{{MAIN}}}si")]
        except KeyError:
            shared = []
        return list(xlsx._iter_rows_etree(zf, target, shared))


def typed(rows: list[list]) -> list[list]:
    return [[(type(c).__name__, repr(c)) for c in row] for row in rows]


@pytest.fixture
def no_etree(monkeypatch):
    """Make any fall-back to the ElementTree reader fail the test."""
    def refuse(*args, **kwargs):
        raise AssertionError("fell back to the ElementTree reader")
        yield  # pragma: no cover
    monkeypatch.setattr(xlsx, "_iter_rows_etree", refuse)


def assert_same_rows(path: str, expect_bulk: bool, monkeypatch) -> list[list]:
    """The reader's rows equal the ElementTree reader's, and the part
    stayed on the bulk scan exactly when ``expect_bulk``."""
    want = etree_rows(path)
    fell_back = []
    etree = xlsx._iter_rows_etree
    monkeypatch.setattr(xlsx, "_iter_rows_etree",
                        lambda *a: fell_back.append(1) or etree(*a))
    got = xlsx.read_xlsx_rows(path)
    assert typed(got) == typed(want)
    assert bool(fell_back) is not expect_bulk
    return got


# -- generated workbooks ------------------------------------------------------

@pytest.mark.parametrize("seed", [1, 2, 3])
def test_generated_workbooks_match_etree(tmp_path, seed, monkeypatch):
    rows = gen.workbook_rows(seed, 3000)
    path = gen.write_workbook(str(tmp_path / "book.xlsx"), rows)
    got = assert_same_rows(path, True, monkeypatch)
    assert len(got) == 3001


cell = st.one_of(
    st.none(),
    st.text(st.characters(min_codepoint=0x20, max_codepoint=0x30FF,
                          blacklist_categories=("Cs",)), max_size=8),
    st.integers(min_value=-2**70, max_value=2**70),
    st.floats(allow_nan=False, allow_infinity=False),
    st.booleans(),
)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.lists(cell, max_size=6), min_size=1, max_size=6),
       shared_strings=st.booleans())
def test_random_workbooks_match_etree(rows, shared_strings, tmp_path_factory):
    """Random cells through either writer (Excel's shared strings, or
    inline strings) read back the same through both readers."""
    path = str(tmp_path_factory.mktemp("hyp") / "t.xlsx")
    (gen.write_workbook if shared_strings else write_xlsx)(path, rows)
    assert typed(xlsx.read_xlsx_rows(path)) == typed(etree_rows(path))


@pytest.mark.parametrize("chunk", [64, 1000, 40_000])
def test_chunk_boundaries_do_not_change_rows(tmp_path, chunk, monkeypatch):
    """Chunks are cut after a ``</row>``; any chunk size reads the same
    rows, and a shape the scan refuses late in the part falls back
    without yielding a row twice."""
    rows = gen.workbook_rows(5, 400)
    path = gen.write_workbook(str(tmp_path / "book.xlsx"), rows)
    monkeypatch.setattr(xlsx, "_CHUNK", chunk)
    want = etree_rows(path)
    assert typed(xlsx.read_xlsx_rows(path)) == typed(want)

    late = str(tmp_path / "late.xlsx")
    with zipfile.ZipFile(path) as zf:
        sheet = zf.read("xl/worksheets/sheet1.xml").decode()
        shared = zf.read("xl/sharedStrings.xml").decode()
    sheet = sheet.replace("</sheetData>", '<row r="402"><c t="s" r="A402">'
                          "<v>0</v></c></row></sheetData>")
    write_book(late, sheet, shared)
    want = etree_rows(late)
    assert len(want) == 402
    assert typed(xlsx.read_xlsx_rows(late)) == typed(want)


def test_demo_fixture_matches_etree(demo_xlsx, monkeypatch):
    assert_same_rows(demo_xlsx, True, monkeypatch)


# -- hand-built parts -----------------------------------------------------------

EXCEL_BEFORE = (
    '<sheetPr><pageSetUpPr fitToPage="1"/></sheetPr><dimension ref="A1:C3"/>'
    '<sheetViews><sheetView tabSelected="1" workbookViewId="0"/></sheetViews>'
    '<sheetFormatPr defaultRowHeight="15" x14ac:dyDescent="0.25"/>'
    '<cols><col min="1" max="1" width="12.7" customWidth="1"/></cols>')
EXCEL_AFTER = (
    '<pageMargins left="0.7" right="0.7" top="0.75" bottom="0.75" '
    'header="0.3" footer="0.3"/>'
    '<mc:AlternateContent xmlns:mc="http://schemas.openxmlformats.org/'
    'markup-compatibility/2006"><mc:Choice Requires="x14"><controls>'
    '<control shapeId="1025" r:id="rId2" name="Box"/></controls>'
    '</mc:Choice></mc:AlternateContent>'
    '<extLst><ext uri="{x}"><x14:sparklineGroups/></ext></extLst>')
EXCEL_OPEN = (
    f'<worksheet xmlns="{MAIN}" xmlns:r="{REL}" '
    'xmlns:mc="http://schemas.openxmlformats.org/markup-compatibility/2006" '
    'mc:Ignorable="x14ac" '
    'xmlns:x14ac="http://schemas.microsoft.com/office/spreadsheetml/2009/9/ac" '
    'xmlns:x14="http://schemas.microsoft.com/office/spreadsheetml/2009/9/main">')

PARTS = {
    # id: (rows, extra worksheet kwargs, shared strings, stays on the scan)
    "excel_style": (
        '<row r="1" spans="1:3" x14ac:dyDescent="0.25">'
        '<c r="A1" s="1" t="s"><v>0</v></c><c r="B1" s="2"><v>12.5</v></c>'
        '<c r="C1" s="2"><v>-3</v></c></row>\n'
        '<row r="2" spans="1:3" ht="20" customHeight="1" '
        'x14ac:dyDescent="0.3"><c r="A2" t="s"><v>1</v></c></row>'
        '<row r="3" spans="1:3" s="4" customFormat="1" x14ac:dyDescent="0.25"/>',
        {"before": EXCEL_BEFORE, "after": EXCEL_AFTER, "open_tag": EXCEL_OPEN},
        sst("<si><t>svc</t></si>", '<si><t xml:space="preserve"> lead</t></si>'),
        True),
    "entities": (
        '<row r="1"><c r="A1" t="inlineStr"><is><t>a &amp; b&#10;c</t></is></c>'
        '<c r="B1" t="str"><v>x&lt;y</v></c><c r="C1" t="s"><v>0</v></c></row>',
        {}, sst("<si><t>R&amp;D</t></si>"), False),
    "prefixed_cell": (
        '<row r="1"><x:c r="A1"><x:v>1</x:v></x:c><c r="B1"><v>2</v></c></row>',
        {"open_tag": f'<worksheet xmlns="{MAIN}" xmlns:x="{MAIN}">'},
        None, False),
    "rich_and_phonetic": (
        '<row r="1"><c r="A1" t="inlineStr"><is><r><t>ab</t></r>'
        '<r><rPr><b/></rPr><t xml:space="preserve">cd </t></r></is></c>'
        '<c r="B1" t="inlineStr"><is><t>大阪</t><rPh sb="0" eb="2">'
        '<t>オオサカ</t></rPh><phoneticPr fontId="1"/></is></c>'
        '<c r="C1" t="s"><v>0</v></c><c r="D1" t="s"><v>1</v></c></row>',
        {}, sst('<si><t>東京</t><rPh sb="0" eb="2"><t>トウキョウ</t></rPh>'
                '<phoneticPr fontId="1"/></si>',
                "<si><r><t>x</t></r><r><t>y</t></r></si>"),
        False),
    "formulas_with_cached_values": (
        '<row r="1"><c r="A1"><f>1+1</f><v>2</v></c>'
        '<c r="B1" t="str"><f t="shared" ref="B1:B2" si="0">UPPER("a")</f>'
        '<v>A</v></c><c r="C1" t="b"><f>TRUE()</f><v>1</v></c>'
        '<c r="D1" t="e"><f>1/0</f><v>#DIV/0!</v></c>'
        '<c r="E1"><f ca="1">RAND()</f><v>0.25</v></c></row>'
        '<row r="2"><c r="B2" t="str"><f t="shared" si="0"/><v>B</v></c>'
        '<c r="C2"><f>A1</f></c></row>',
        {}, None, True),
    "formula_and_shared_string_entities": (
        '<row r="1"><c r="A1" t="str"><f>B1&amp;" "&amp;C1</f><v>a b</v></c>'
        '<c r="B1"><f>IF(C1&lt;&gt;"",1,0)</f><v>1</v></c>'
        '<c r="C1" t="s"><v>0</v></c><c r="D1" t="s"><v>1</v></c></row>',
        {}, sst("<si><t>R&amp;D &lt;x&gt; &quot;q&quot; &apos;a&apos;</t></si>",
                "<si><t>&amp;lt;</t></si>"),
        True),
    "trailing_styled_empty_cell": (
        '<row r="1"><c r="A1" t="inlineStr"><is><t>n</t></is></c></row>'
        '<row r="2"><c r="A2" t="inlineStr"><is><t>svc</t></is></c>'
        '<c r="B2"><v>1.5</v></c><c r="E2" s="3"/></row>',
        {}, None, True),
    "sparse_and_gapped_rows": (
        '<row r="1"><c r="B1"><v>1</v></c><c r="D1"><v>2</v></c></row>'
        '<row r="4"></row><row r="7"><c r="AA7"><v>3</v></c></row>'
        '<row r="9"><c r="A9" t="inlineStr"><is><t></t></is></c>'
        '<c r="B9" t="inlineStr"/><c r="C9" t="inlineStr"><v>1</v></c>'
        '<c r="D9" t="s"/><c r="E9"><v></v></c></row>',
        {}, None, True),
    "cells_without_r": (
        '<row r="1"><c t="inlineStr"><is><t>a</t></is></c><c><v>1</v></c>'
        '<c r="D1"><v>4</v></c></row>',
        {}, None, False),
    "rows_without_r": (
        '<row><c r="A1"><v>1</v></c></row><row><c r="A2"><v>2</v></c></row>',
        {}, None, False),
    "cells_out_of_order": (
        '<row r="1"><c r="C1"><v>3</v></c><c r="A1"><v>1</v></c></row>',
        {}, None, False),
    "t_before_r": (
        '<row r="1"><c t="inlineStr" r="A1"><is><t>a</t></is></c></row>',
        {}, None, False),
    "typed_cells": (
        '<row r="1"><c r="A1" t="b"><v>1</v></c><c r="B1" t="b"><v>0</v></c>'
        '<c r="C1" t="e"><v>#N/A</v></c><c r="D1" t="str"><v>12</v></c>'
        '<c r="E1" t="n"><v>7</v></c><c r="F1" t="d"><v>2024-01-31</v></c>'
        '<c r="G1" t=""><v>8</v></c></row>',
        {}, None, True),
    "number_shapes": (
        '<row r="1">' + "".join(
            f'<c r="{gen._col(i)}1"><v>{v}</v></c>' for i, v in enumerate([
                "1.5E-3", "1E+20", "2e5", "1234567890123456789",
                "12345678901234567890", "-9223372036854775809", "-0", "-0.0",
                "-12.50", "007", " 5", "+5", "nan", "NaN", "inf", "-Infinity",
                "1.", ".5", "1_0", "0.1", "123456789.123456789",
                "1.00000000000000011102230246251565404236316680908203125",
                "9007199254740993", "٣", "0x10", "abc"]))
        + "</row>",
        {}, None, True),
    "text_shapes": (
        '<row r="1"><c r="A1" t="inlineStr"><is><t xml:space="preserve">'
        '  two  words\t\n</t></is></c><c r="B1" t="inlineStr"><is><t>東京'
        '</t></is></c><c r="C1" t="str"><v>"quoted"</v></c></row>',
        {}, None, True),
    "carriage_return": (
        '<row r="1"><c r="A1" t="inlineStr"><is><t>a\r\nb</t></is></c></row>',
        {}, None, False),
    "comment_in_sheet_data": (
        '<!-- <row r="1"><c r="A1"><v>9</v></c></row> -->'
        '<row r="2"><c r="A2"><v>1</v></c></row>',
        {}, None, False),
    "cdata": (
        '<row r="1"><c r="A1"><v><![CDATA[5]]></v></c></row>',
        {}, None, False),
    "row_outside_sheet_data": (
        '<row r="1"><c r="A1"><v>1</v></c></row>',
        {"after": '<extLst><row r="9"><c r="A9"><v>9</v></c></row></extLst>'},
        None, False),
    "no_default_namespace": (
        '<row r="1"><c r="A1"><v>1</v></c></row>',
        {"open_tag": "<worksheet>"}, None, False),
    "row_attribute_redeclares_namespace": (
        '<row r="1" xmlns="urn:other"><c r="A1"><v>1</v></c></row>'
        '<row r="2"><c r="A2"><v>2</v></c></row>',
        {}, None, False),
    "empty_sheet_data": ("", {}, None, True),
}


@pytest.mark.parametrize("case", sorted(PARTS))
def test_hand_built_part_matches_etree(tmp_path, case, monkeypatch):
    rows, kw, shared, bulk = PARTS[case]
    path = write_book(tmp_path / f"{case}.xlsx", worksheet(rows, **kw), shared)
    assert_same_rows(path, bulk, monkeypatch)


def test_self_closed_sheet_data_reads_no_rows(tmp_path):
    path = write_book(tmp_path / "empty.xlsx",
                      f'{HEAD}<worksheet xmlns="{MAIN}"><sheetData/></worksheet>')
    assert xlsx.read_xlsx_rows(path) == etree_rows(path) == []


def test_excel_style_part_stays_on_the_scan(tmp_path, no_etree):
    rows, kw, shared, _ = PARTS["excel_style"]
    path = write_book(tmp_path / "excel.xlsx", worksheet(rows, **kw), shared)
    assert xlsx.read_xlsx_rows(path) == [["svc", 12.5, -3], [" lead"], []]


def test_trailing_styled_cell_keeps_row_length(tmp_path, no_etree):
    """FAILFAST's short-row check reads the row length: a styled empty
    cell at E2 makes the row five cells long."""
    rows, kw, shared, _ = PARTS["trailing_styled_empty_cell"]
    path = write_book(tmp_path / "styled.xlsx", worksheet(rows, **kw), shared)
    assert xlsx.read_xlsx_rows(path)[1] == ["svc", 1.5, None, None, None]


def test_shared_strings_with_entities_stay_on_the_scan():
    rows, kw, shared, _ = PARTS["formula_and_shared_string_entities"]
    assert xlsx._scan_shared_strings(shared.encode()) == [
        "R&D <x> \"q\" 'a'", "&lt;"]


def test_phonetic_runs_are_not_cell_text(tmp_path):
    """A phonetic guide (<rPh>) annotates a string; it is not part of it,
    in a shared string or an inline one."""
    rows, kw, shared, _ = PARTS["rich_and_phonetic"]
    path = write_book(tmp_path / "ruby.xlsx", worksheet(rows, **kw), shared)
    assert xlsx.read_xlsx_rows(path) == [["abcd ", "大阪", "東京", "xy"]]


# -- errors ------------------------------------------------------------------------

def raised(fn, *args):
    with pytest.raises(Exception) as err:
        fn(*args)
    return err.type


@pytest.mark.parametrize("case", ["missing_shared_strings", "index_out_of_range"])
def test_bad_shared_string_index_raises_like_etree(tmp_path, case):
    shared = None if case == "missing_shared_strings" else sst("<si><t>a</t></si>")
    path = write_book(tmp_path / f"{case}.xlsx", worksheet(
        '<row r="1"><c r="A1" t="s"><v>0</v></c></row>'
        '<row r="2"><c r="A2" t="s"><v>5</v></c></row>'), shared)
    assert raised(xlsx.read_xlsx_rows, path) is raised(etree_rows, path) \
        is IndexError


MALFORMED = {
    "control_character": worksheet(
        '<row r="1"><c r="A1" t="inlineStr"><is><t>a\x01b</t></is></c></row>'),
    "undefined_entity": worksheet(
        '<row r="1"><c r="A1" t="str"><v>a&bogus;</v></c></row>'),
    "duplicate_row_attribute": worksheet(
        '<row r="1" ht="2" ht="3"><c r="A1"><v>1</v></c></row>'),
    "unbound_attribute_prefix": worksheet(
        '<row r="1" q:ht="2"><c r="A1"><v>1</v></c></row>'),
    "unclosed_worksheet": worksheet(
        '<row r="1"><c r="A1"><v>1</v></c></row>')[:-len("</worksheet>")],
    "mismatched_tag": worksheet(
        '<row r="1"><c r="A1"><v>1</v></c></row><row r="2"></c></row>'),
    "invalid_utf8": worksheet(
        '<row r="1"><c r="A1" t="str"><v>\udcff</v></c></row>').encode(
            "utf-8", "surrogateescape"),
}


@pytest.mark.parametrize("case", sorted(MALFORMED))
def test_malformed_part_raises_like_etree(tmp_path, case):
    """What the XML parser rejects, the reader rejects too: the scan
    refuses to certify it and the ElementTree reader raises."""
    path = write_book(tmp_path / f"{case}.xlsx", MALFORMED[case])
    assert raised(xlsx.read_xlsx_rows, path) is raised(etree_rows, path) \
        is ET.ParseError


def test_truncated_zip_raises_like_etree(tmp_path):
    path = gen.write_workbook(str(tmp_path / "book.xlsx"),
                              gen.workbook_rows(1, 200))
    with open(path, "rb") as fh:
        data = fh.read()
    cut = str(tmp_path / "cut.xlsx")
    with open(cut, "wb") as fh:
        fh.write(data[:len(data) // 2])
    assert raised(xlsx.read_xlsx_rows, cut) is raised(etree_rows, cut) \
        is zipfile.BadZipFile


def test_unknown_sheet_is_a_key_error(tmp_path):
    path = write_book(tmp_path / "one.xlsx", worksheet(""))
    with pytest.raises(KeyError) as err:
        xlsx.read_xlsx_rows(path, "Nope")
    assert err.value.args == ("sheet 'Nope' not found; have ['Sheet1']",)

