"""Seeded input generators.

Every input the program sees is made here from ``--seed``: the same seed
gives byte-identical files (zip members carry a fixed timestamp, parquet
files are written single-threaded with fixed row-group sizes). Each
generator also returns what a correct program must produce from its
inputs, so the checks in ``checks.py`` never ask the program under test.
"""

from __future__ import annotations

import os
import random
import zipfile
from xml.sax.saxutils import escape

import numpy as np

# -- workbook --------------------------------------------------------------

HEADER = ["service_name", "average_response_time_95_ms", "count",
          "max_response_time_95_ms", "min_response_time_95_ms"]
_JUNK = ("n/a", "-", "unknown", "TBD")
_ZIP_TIME = (1980, 1, 1, 0, 0, 0)
_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def workbook_rows(seed: int, n: int) -> list[list]:
    """Header plus ``n`` sheet rows shaped like the reference demo: a
    unique service name and four response-time statistics. About 2% of
    numeric cells are empty, about 1% hold non-numeric text, 0.5% of
    counts are fractional and 0.5% of rows have no service name, so the
    loader's PERMISSIVE drops and 0/0.0 defaults all happen."""
    rng = random.Random(seed)
    rows: list[list] = [list(HEADER)]
    for i in range(n):
        name = None if rng.random() < 0.005 else \
            f"ent_{rng.choice(_WORDS)}_{i:06d}_V{rng.randint(1, 3)}"
        avg = round(rng.uniform(5.0, 20000.0), 2)
        cells: list = [name, avg, rng.randint(0, 5000),
                       round(avg * rng.uniform(1.0, 3.0), 2),
                       round(avg * rng.uniform(0.05, 1.0), 2)]
        if rng.random() < 0.005:
            cells[2] = round(rng.uniform(0.0, 500.0), 1)
        for c in range(1, 5):
            r = rng.random()
            if r < 0.02:
                cells[c] = None
            elif r < 0.03:
                cells[c] = rng.choice(_JUNK)
        rows.append(cells)
    return rows


def expected_rows(sheet_rows: list[list]) -> list[tuple]:
    """The reference's executed coercion, written out independently of
    the program: header skipped, rows without a name dropped, non-numeric
    cells -> 0.0 / 0, fractional counts truncated."""
    out = []
    for cells in sheet_rows[1:]:
        name, avg, cnt, mx, mn = cells

        def f64(v):
            return float(v) if isinstance(v, (int, float)) else 0.0

        if name is None:
            continue
        if isinstance(cnt, float):
            cnt = int(cnt)
        elif not isinstance(cnt, int):
            cnt = 0
        out.append((name, f64(avg), cnt, f64(mx), f64(mn)))
    return out


def _col(idx: int) -> str:
    s, idx = "", idx + 1
    while idx:
        idx, rem = divmod(idx - 1, 26)
        s = chr(65 + rem) + s
    return s


def write_workbook(path: str, rows: list[list]) -> str:
    """Write one sheet the way Excel does: every string goes through the
    shared-strings part (``t="s"`` cells index it)."""
    sst: dict[str, int] = {}
    body = []
    for ri, row in enumerate(rows, start=1):
        cells = []
        for ci, v in enumerate(row):
            ref = f"{_col(ci)}{ri}"
            if v is None:
                continue
            if isinstance(v, str):
                idx = sst.setdefault(v, len(sst))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
        body.append(f'<row r="{ri}">{"".join(cells)}</row>')
    head = '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
    sheet = (f'{head}<worksheet xmlns="{_NS}"><sheetData>'
             f'{"".join(body)}</sheetData></worksheet>')
    strings = "".join(f"<si><t>{escape(s)}</t></si>" for s in sst)
    shared = (f'{head}<sst xmlns="{_NS}" count="{len(sst)}" '
              f'uniqueCount="{len(sst)}">{strings}</sst>')
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg = "http://schemas.openxmlformats.org/package/2006"
    ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    parts = {
        "[Content_Types].xml":
            f'{head}<Types xmlns="{pkg}/content-types">'
            f'<Default Extension="rels" ContentType="application/vnd.'
            f'openxmlformats-package.relationships+xml"/>'
            f'<Default Extension="xml" ContentType="application/xml"/>'
            f'<Override PartName="/xl/workbook.xml" '
            f'ContentType="{ct}.sheet.main+xml"/>'
            f'<Override PartName="/xl/worksheets/sheet1.xml" '
            f'ContentType="{ct}.worksheet+xml"/>'
            f'<Override PartName="/xl/sharedStrings.xml" '
            f'ContentType="{ct}.sharedStrings+xml"/></Types>',
        "_rels/.rels":
            f'{head}<Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/officeDocument" '
            f'Target="xl/workbook.xml"/></Relationships>',
        "xl/workbook.xml":
            f'{head}<workbook xmlns="{_NS}" xmlns:r="{rel}"><sheets>'
            f'<sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>'
            f'</workbook>',
        "xl/_rels/workbook.xml.rels":
            f'{head}<Relationships xmlns="{pkg}/relationships">'
            f'<Relationship Id="rId1" Type="{rel}/worksheet" '
            f'Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel}/sharedStrings" '
            f'Target="sharedStrings.xml"/></Relationships>',
        "xl/sharedStrings.xml": shared,
        "xl/worksheets/sheet1.xml": sheet,
    }
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, text)
    return path


def write_split(directory: str, rows: list[list], parts: int = 8) -> list[str]:
    """The same data rows dealt round-robin into ``parts`` workbooks, each
    with its own header row."""
    os.makedirs(directory, exist_ok=True)
    return [write_workbook(os.path.join(directory, f"part-{i}.xlsx"),
                           [rows[0]] + rows[1 + i::parts])
            for i in range(parts)]


# -- REPL script -------------------------------------------------------------

# Statement kinds and their shares of the script (reads ~70%, writes
# ~20%, exported reads ~10%).
KINDS = (("point", 12), ("range", 12), ("group", 12), ("window", 10),
         ("join", 8), ("dialect", 16), ("insert", 5), ("update", 6),
         ("delete", 5), ("ctas", 2), ("drop", 2), ("export", 10))
WRITE_KINDS = frozenset({"insert", "update", "delete", "ctas", "drop"})


def repl_script(seed: int, names: list[str], n: int
                ) -> list[tuple[str, str]]:
    """``n`` seeded (kind, line) statements against ``excel_rows``. Every
    statement is also valid SQLite with the same meaning, so the script
    can be replayed through Python's ``sqlite3`` as the reference would
    run it. CREATE TABLE AS / DROP come in pairs, inserted names never
    collide with loaded ones, and every read orders its output fully."""
    rng = random.Random(seed * 7919 + 1)
    n_pairs = max(1, round(n * 2 / 100))
    body = _kind_counts(n - 2 * n_pairs)
    rng.shuffle(body)
    for p in range(n_pairs):
        at = rng.randrange(len(body) + 1)
        body[at:at] = [("ctas", p), ("drop", p)]
    out = []
    for i, kind in enumerate(body):
        if isinstance(kind, tuple):
            kind, p = kind
            lo = rng.uniform(0, 15000)
            out.append((kind, (
                f"CREATE TABLE scratch_{p} AS SELECT service_name, count "
                f"FROM excel_rows WHERE average_response_time_95_ms > "
                f"{lo:.2f}") if kind == "ctas" else f"DROP TABLE scratch_{p}"))
            continue
        out.append((kind, _statement(rng, kind, names, i, seed)))
    return out


def _kind_counts(n: int) -> list[str]:
    """``n`` statement kinds in the shares of ``KINDS`` (largest remainder),
    so every seed runs the same mix and only the order and values vary."""
    kinds = [(k, w) for k, w in KINDS if k not in ("ctas", "drop")]
    total = sum(w for _, w in kinds)
    exact = [(k, n * w / total) for k, w in kinds]
    counts = {k: int(x) for k, x in exact}
    for k, x in sorted(exact, key=lambda e: int(e[1]) - e[1])[
            :n - sum(counts.values())]:
        counts[k] += 1
    return [k for k, _ in kinds for _ in range(counts[k])]


def _statement(rng: random.Random, kind: str, names: list[str], i: int,
               seed: int) -> str:
    name = rng.choice(names)
    lo = round(rng.uniform(0, 18000), 2)
    hi = round(lo + rng.uniform(50, 2000), 2)
    if kind == "point":
        return (f"SELECT * FROM excel_rows WHERE service_name = '{name}'")
    if kind == "range":
        return ("SELECT service_name, average_response_time_95_ms, count "
                f"FROM excel_rows WHERE average_response_time_95_ms "
                f"BETWEEN {lo} AND {hi} ORDER BY "
                f"average_response_time_95_ms DESC, service_name LIMIT 20")
    if kind == "group":
        return ("SELECT substr(service_name, 1, 6) AS family, count(*) AS n, "
                "sum(count) AS calls, max(max_response_time_95_ms) AS worst "
                f"FROM excel_rows WHERE count > {rng.randint(0, 4000)} "
                "GROUP BY substr(service_name, 1, 6) ORDER BY family")
    if kind == "window":
        return ("SELECT service_name, count, rank() OVER (ORDER BY count "
                "DESC, service_name) AS r FROM excel_rows WHERE "
                f"average_response_time_95_ms BETWEEN {lo} AND {hi} "
                "ORDER BY r LIMIT 15")
    if kind == "join":
        return ("SELECT a.service_name, b.service_name AS peer FROM "
                "excel_rows a JOIN excel_rows b ON a.count = b.count AND "
                "a.service_name < b.service_name WHERE "
                f"a.average_response_time_95_ms BETWEEN {lo} AND {hi} "
                "ORDER BY a.service_name, peer LIMIT 25")
    if kind == "dialect":
        word = rng.choice(_WORDS)
        return ("SELECT ifnull(service_name, 'none') AS s, "
                "iif(count > 2500, 'hot', 'cold') AS heat, "
                "total(min_response_time_95_ms) AS t FROM excel_rows "
                f"WHERE service_name LIKE '%{word.upper()}_00%' "
                "GROUP BY service_name, count ORDER BY s LIMIT 20")
    if kind == "insert":
        k = rng.randint(1, 3)
        vals = ", ".join(
            f"('new_{seed}_{i}_{j}', {round(rng.uniform(5, 20000), 2)}, "
            f"{rng.randint(0, 5000)}, {round(rng.uniform(5, 40000), 2)}, "
            f"{round(rng.uniform(1, 5000), 2)})" for j in range(k))
        return f"INSERT INTO excel_rows VALUES {vals}"
    if kind == "update":
        return (f"UPDATE excel_rows SET count = count + {rng.randint(1, 9)} "
                f"WHERE average_response_time_95_ms BETWEEN {lo} AND "
                f"{round(lo + 100, 2)}")
    if kind == "delete":
        return (f"DELETE FROM excel_rows WHERE service_name = '{name}'")
    assert kind == "export"
    return ("SELECT service_name, count, max_response_time_95_ms FROM "
            f"excel_rows WHERE average_response_time_95_ms BETWEEN {lo} "
            f"AND {hi} ORDER BY service_name |out=")


_WORDS = ("auth", "billing", "cart", "search", "ledger", "media", "notify",
          "orders", "profile", "report", "shipping", "token")


# -- catalog -----------------------------------------------------------------

def key_sample(seed: int, strata: list[list[str]]) -> list[str]:
    """One key from each cost stratum, in seeded order."""
    rng = random.Random(seed * 104729 + 3)
    keys = [rng.choice(s) for s in strata]
    rng.shuffle(keys)
    return keys


_VOCAB = ("dup vector batch part value a slow scan merge sort hash table "
          "join fast column key spark agg the line order data small "
          "customer query window big stream group row filter").split()


def write_tables(directory: str, seed: int, sf: float) -> None:
    """The star schema plus ``events``/``documents``/``embeddings`` in the
    shape and value ranges of the catalog's testdata, scaled by ``sf``
    (lineitem has 6M x sf rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_vec = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    n_user = int(15_000 * sf)
    i64, i32, f64 = pa.int64(), pa.int32(), pa.float64()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        d = np.datetime64(start, "us") + rng.integers(0, span, n).astype(
            "timedelta64[D]")
        return pa.array(d, ts)

    def pick(values, n):
        return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])

    def names(prefix, n):
        return pa.array([f"{prefix}#{i:09d}" for i in range(n)])

    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                       "MIDDLE EAST"])},
        "nation": {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)},
        "part": {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    np.asarray(["blue", "old", "small", "new", "hot", "large",
                                "cold", "red"])[rng.integers(0, 8, n_part)],
                    np.asarray(["widget", "gizmo", "ring", "gear", "bolt",
                                "plate", "anvil", "rod"])[
                        rng.integers(0, 8, n_part)])]),
            "p_brand": pa.array([f"Brand#{b}" for b in
                                 rng.integers(1, 26, n_part)]),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2), f64)},
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(money(1000, 500000, n_ord), f64),
            "o_orderdate": days("1995-01-01", 2404, n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
            "l_extendedprice": pa.array(money(900, 105000, n_line), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n_line),
            "l_linestatus": pick(["F", "O"], n_line),
            "l_shipdate": days("1995-01-02", 2498, n_line)},
        "events": {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(
                rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                "timedelta64[us]"), ts),
            "user_id": pa.array(rng.integers(0, n_user, n_ev), i64),
            "event_type": pick(["click", "signup", "error", "view",
                                "purchase"], n_ev),
            "value": pa.array(np.maximum(0.01, np.round(
                rng.exponential(50.0, n_ev), 2)), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, n_ev)])},
    }
    texts = [" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), k)])
             for k in rng.integers(10, 100, n_doc)]
    for i in range(0, n_doc, 25):      # a near-duplicate every 25 documents
        if i + 1 < n_doc:
            texts[i + 1] = texts[i] + " dup"
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pick(["en", "en", "en", "zh", "de", "fr", "es"], n_doc),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64)}
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(directory, f"{name}.parquet"),
                       row_group_size=1 << 20)
