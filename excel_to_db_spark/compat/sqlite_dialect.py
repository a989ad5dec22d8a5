"""Thin SQLite-compat dialect layer (optional "bug-compat" mode).

The reference's de-facto dialect is bundled SQLite ~3.44 reached through
the passthrough at reference src/main.rs:220. Measured deltas vs Spark 4
ANSI (SURVEY.md §4.3):

- SQLite LIKE is ASCII-case-insensitive; Spark's is case-sensitive.
- SQLite CAST is permissive ('12abc' -> 12); Spark ANSI errors.
- SQLite int/int is integer division (1/2 -> 0); Spark -> 0.5.
- SQLite x/0 -> NULL; Spark ANSI throws.

This is a pure query-rewrite/function-choice layer — no Catalyst rule.
`apply_session_mode` flips ANSI off for the closest whole-session match
(permissive casts, NULL on div-by-zero); `rewrite` handles the
keyword-level substitutions for SQL text, skipping quoted tokens so
data inside quotes is never touched.

Function-call translations (paren-aware, nested args supported):

- ``ifnull(a, b)``          -> ``nvl(a, b)``
- ``group_concat(x[, sep])``-> ``concat_ws(sep, collect_list(x))``
  (both skip NULLs; default separator ``,``)
- ``total(x)``              -> ``coalesce(sum(CAST(x AS DOUBLE)), 0.0)``
- ``unixepoch([t, mods…])`` -> ``unix_timestamp(…)``
- ``julianday(t[, mods…])`` -> epoch-µs/86 400e6 + 2 440 587.5
- ``date/datetime/time(t[, mods…])`` -> ``date_format`` with the SQLite
  output shape (TEXT ``yyyy-MM-dd`` / ``yyyy-MM-dd HH:mm:ss`` / ``HH:mm:ss``)
- ``strftime(fmt, t[, mods…])`` -> ``date_format`` via a %-directive map
- date modifiers ``'±N day/month/year/hour/minute/second'`` ->
  ``+ INTERVAL``, ``'start of day/month/year'`` -> ``date_trunc``;
  ``'now'`` -> ``current_timestamp()``; ``'weekday N'`` -> forward
  day-shift to the next matching weekday (no-op when already matching,
  exactly SQLite's rule). ``'localtime'`` -> ``from_utc_timestamp(ts,
  <host zone>)`` and ``'utc'`` -> ``to_utc_timestamp(ts, <host zone>)``
  — the SQLite value-level UTC<->local shift with the session still
  pinned to UTC; the host zone resolves via :func:`host_local_zone`
  ($EXCEL_TO_DB_LOCAL_TZ override, then $TZ / /etc/timezone /
  /etc/localtime) and the call raises :class:`SqliteCompatError` only
  when no unambiguous IANA zone exists (a silent no-op would diverge
  from a reference run on a non-UTC host). sqlite3-verified in
  tests/test_sqlite_compat_funcs.py across DST boundaries. Other
  unknown modifiers leave the whole call untouched so Spark fails
  loudly rather than silently shifting values.
  Documented divergence: month-end overflow — SQLite *normalizes*
  (``'2024-01-31','+1 month'`` -> ``2024-03-02``, i.e. Feb 31 rolls
  forward) while Spark's INTERVAL *clamps* to the last day of the month
  (-> ``2024-02-29``); pinned in tests/test_sqlite_compat_funcs.py.

The int-division delta (SQLite 1/2 -> 0) is NOT rewritten: `/` between
integer columns cannot be retargeted to `div` textually without a real
parser knowing operand types, and a wrong rewrite silently corrupts
results. Callers who need SQLite integer division write `a div b`
explicitly (documented divergence).
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import SparkSession


def apply_session_mode(spark: SparkSession, sqlite_compat: bool) -> None:
    # ANSI off: permissive casts, NULL on div-by-zero — SQLite-ish.
    spark.conf.set("spark.sql.ansi.enabled", "false" if sqlite_compat else "true")


_LIKE_RE = re.compile(r"(?i)(?<![a-z0-9_])like(?![a-z0-9_])")
_CAST_RE = re.compile(r"(?i)(?<![a-z0-9_])cast\s*\(")
_GLOB_RE = re.compile(r"(?i)(?<![a-z0-9_])glob(?![a-z0-9_])\s*$")
_IIF_RE = re.compile(r"(?i)(?<![a-z0-9_])iif\s*\(")
_IFNULL_RE = re.compile(r"(?i)(?<![a-z0-9_])ifnull\s*\(")

_STRFTIME_MAP = (("%Y", "yyyy"), ("%m", "MM"), ("%d", "dd"),
                 ("%H", "HH"), ("%M", "mm"), ("%S", "ss"), ("%j", "DDD"),
                 ("%e", "d"), ("%F", "yyyy-MM-dd"), ("%T", "HH:mm:ss"),
                 ("%R", "HH:mm"))

# ---------------------------------------------------------------------------
# SQL text scanning: quoted tokens and paren depth

# One quoted token, by Spark's lexer (Spark executes the text): '…', "…"
# and `…`; a doubled quote character continues the token; inside '…' and
# "…" a backslash escapes the next character; an unterminated token runs
# to the end of the text.
_QUOTED_RE = re.compile(r"""('(?:[^'\\]|\\.?|'')*(?:'|\Z)"""
                        r"""|"(?:[^"\\]|\\.?|"")*(?:"|\Z)"""
                        r"""|`(?:[^`]|``)*(?:`|\Z))""", re.S)


def split_quoted(sql: str) -> list[str]:
    """Split SQL text into [code, quoted, code, …, code] parts: even
    indices are outside quoted tokens, odd indices are whole quoted
    tokens, and ``"".join(parts) == sql``. The one place that decides
    which characters are inside a quoted token."""
    return _QUOTED_RE.split(sql)


def paren_depths(sql: str) -> dict[int, int]:
    """Paren depth of every position outside quoted tokens (positions
    inside them are absent). A paren sits at the depth of the text
    around it, so a '(' and its matching ')' share a depth."""
    depths, pos, depth = {}, 0, 0
    for k, part in enumerate(split_quoted(sql)):
        if k % 2 == 0:
            for i, ch in enumerate(part, pos):
                if ch == ")":
                    depth -= 1
                depths[i] = depth
                if ch == "(":
                    depth += 1
        pos += len(part)
    return depths


def find_top_level(sql: str, pattern: re.Pattern) -> int:
    """Start of the first match of `pattern` at paren depth 0 outside
    quoted tokens, or -1."""
    depths = paren_depths(sql)
    return next((m.start() for m in pattern.finditer(sql)
                 if depths.get(m.start()) == 0), -1)


def split_top_level(sql: str, sep: str = ",") -> list[str]:
    """Split on `sep` at paren depth 0 outside quoted tokens; parts are
    stripped."""
    depths = paren_depths(sql)
    cuts = [i for i, d in depths.items() if d == 0 and sql[i] == sep]
    return [sql[a + 1:b].strip()
            for a, b in zip([-1] + cuts, cuts + [len(sql)])]


def _rewrite_calls(sql: str, fname: str,
                   xlat: Callable[[list[str]], str | None]) -> str:
    """Replace every call `fname(args…)` outside quoted tokens with
    xlat(args); xlat returning None leaves that call untouched
    (loud-not-wrong for untranslatable forms). Calls are processed
    right-to-left, one per rescan, so nested calls of the same function
    are translated too."""
    pat = re.compile(rf"(?i)(?<![a-z0-9_]){re.escape(fname)}\s*\(")
    while True:
        depths = paren_depths(sql)
        for m in reversed(list(pat.finditer(sql))):
            if m.start() not in depths:
                continue
            open_pos = m.end() - 1
            close = next((i for i in range(open_pos + 1, len(sql))
                          if sql[i] == ")"
                          and depths.get(i) == depths[open_pos]), -1)
            if close == -1:
                continue
            inner = sql[open_pos + 1:close]
            out = xlat(split_top_level(inner) if inner.strip() else [])
            if out is not None:
                sql = sql[:m.start()] + out + sql[close + 1:]
                break                      # re-scan: positions moved
        else:
            return sql


# ---------------------------------------------------------------------------
# SQLite date/time machinery

_MOD_STEP = re.compile(
    r"(?i)^([+-]?\d+(?:\.\d+)?)\s+(day|month|year|hour|minute|second)s?$")
_MOD_START = re.compile(r"(?i)^start\s+of\s+(day|month|year)$")
_MOD_WEEKDAY = re.compile(r"(?i)^weekday\s+([0-6])$")

# IANA zone names look like Area/City (or the fixed UTC/GMT aliases);
# POSIX TZ strings like "EST5EDT" are rejected — Spark's zone parser and
# C localtime() disagree on them, which is exactly the silent-divergence
# class this layer refuses to create.
_ZONE_RE = re.compile(r"^[A-Za-z_]+(?:/[A-Za-z0-9_+-]+)+$|^(?:UTC|GMT)$")


def host_local_zone() -> str | None:
    """The host's IANA timezone, resolved the way the reference's SQLite
    ``'localtime'`` modifier would see it (reference src/main.rs:220
    passthrough -> SQLite localtime_r): $EXCEL_TO_DB_LOCAL_TZ override
    first (lets a UTC-pinned deployment pin the *data* zone explicitly),
    then $TZ, then /etc/timezone, then the /etc/localtime symlink.
    Returns None when no unambiguous IANA name can be determined.

    A SET-but-non-IANA env value (e.g. the POSIX string ``TZ=EST5EDT``)
    raises instead of falling through to the system files: libc
    localtime_r would honor that $TZ while the fallthrough could name a
    DIFFERENT zone — exactly the silent divergence from a reference
    SQLite run this layer exists to refuse (ADVICE r7)."""
    import os

    for env in ("EXCEL_TO_DB_LOCAL_TZ", "TZ"):
        v = os.environ.get(env, "").strip().lstrip(":")
        if v:
            if _ZONE_RE.match(v):
                return v
            raise SqliteCompatError(
                f"${env}={v!r} is not an IANA zone name (Area/City). "
                f"POSIX TZ strings are rejected: Spark's zone parser "
                f"and C localtime() disagree on them, and ignoring a "
                f"set ${env} in favor of /etc/timezone could silently "
                f"diverge from a reference SQLite run. Set "
                f"EXCEL_TO_DB_LOCAL_TZ=Area/City explicitly.")
    try:
        v = open("/etc/timezone").read().strip()
        if v and _ZONE_RE.match(v):
            return v
    except OSError:
        pass
    try:
        p = os.path.realpath("/etc/localtime")
        if "/zoneinfo/" in p:
            v = p.split("/zoneinfo/", 1)[1]
            if _ZONE_RE.match(v):
                return v
    except OSError:
        pass
    return None


class SqliteCompatError(ValueError):
    """A SQLite construct this dialect refuses to translate (rather than
    silently changing its meaning). The message says why and what to use
    instead."""


def _strip_quotes(arg: str) -> str | None:
    a = arg.strip()
    if len(a) >= 2 and a[0] == "'" and a[-1] == "'":
        return a[1:-1]
    return None


def _time_expr(arg: str, need_ts: bool) -> str:
    """SQLite time-value argument -> Spark expression. `need_ts` forces a
    TIMESTAMP cast (required for INTERVAL arithmetic / epoch extraction);
    formatting-only callers pass the argument through untouched, since
    date_format accepts timestamp, date, and parseable strings alike."""
    lit = _strip_quotes(arg)
    if lit is not None and lit.strip().lower() == "now":
        return "current_timestamp()"
    return f"CAST({arg.strip()} AS TIMESTAMP)" if need_ts else arg.strip()


def _apply_modifiers(expr: str, mods: list[str]) -> str | None:
    """Fold SQLite date modifiers over a timestamp expression; None if
    any modifier is untranslatable (caller leaves the call untouched)."""
    for raw in mods:
        lit = _strip_quotes(raw)
        if lit is None:
            return None
        lit = lit.strip()
        if m := _MOD_STEP.match(lit):
            n, unit = m.group(1), m.group(2).upper()
            expr = f"({expr} + INTERVAL '{n}' {unit})"
        elif m := _MOD_START.match(lit):
            expr = f"date_trunc('{m.group(1).upper()}', {expr})"
        elif m := _MOD_WEEKDAY.match(lit):
            # SQLite: advance forward to the next date whose weekday is N
            # (0=Sunday..6=Saturday), time-of-day preserved, no change if
            # already that weekday. Spark dayofweek() is 1=Sunday..7.
            n = m.group(1)
            expr = (f"({expr} + make_dt_interval("
                    f"pmod({n} - (dayofweek({expr}) - 1), 7)))")
        elif lit.lower() in ("localtime", "utc"):
            # SQLite semantics (datefunc docs): time values are UTC by
            # default; 'localtime' re-expresses the value in host local
            # time (UTC -> local), 'utc' assumes the value IS local time
            # and converts back (local -> UTC). The session stays pinned
            # to UTC — the zone shift happens in the VALUE, exactly like
            # SQLite's localtime_r round-trip.
            zone = host_local_zone()
            if zone is None:
                raise SqliteCompatError(
                    f"SQLite date modifier '{lit}' needs the host "
                    f"timezone, and no unambiguous IANA zone could be "
                    f"determined (checked $EXCEL_TO_DB_LOCAL_TZ, $TZ, "
                    f"/etc/timezone, /etc/localtime). Set "
                    f"EXCEL_TO_DB_LOCAL_TZ=Area/City, or convert "
                    f"explicitly with from_utc_timestamp()/"
                    f"to_utc_timestamp().")
            fn = ("from_utc_timestamp" if lit.lower() == "localtime"
                  else "to_utc_timestamp")
            expr = f"{fn}(CAST({expr} AS TIMESTAMP), '{zone}')"
        else:
            return None                    # unknown modifier: leave call
    return expr


def _xlat_fmt(fmt: str) -> str | None:
    out = fmt
    for k, v in _STRFTIME_MAP:
        out = out.replace(k, v)
    return None if "%" in out else out


def _xlat_strftime(args: list[str]) -> str | None:
    if len(args) < 2:
        return None
    fmt = _strip_quotes(args[0])
    if fmt is None:
        return None
    # %s extracts an epoch: like unixepoch(), it always needs a TIMESTAMP
    # cast — unix_timestamp('2024-01-15') alone is NULL (default parse
    # format is 'yyyy-MM-dd HH:mm:ss') where SQLite returns the epoch.
    need_ts = bool(args[2:]) or fmt == "%s"
    expr = _apply_modifiers(_time_expr(args[1], need_ts), args[2:])
    if expr is None:
        return None
    if fmt == "%s":                        # epoch-seconds directive
        return f"unix_timestamp({expr})"
    out = _xlat_fmt(fmt)
    return None if out is None else f"date_format({expr}, '{out}')"


def _xlat_datefn(out_fmt: str) -> Callable[[list[str]], str | None]:
    def xlat(args: list[str]) -> str | None:
        if not args:
            return None
        expr = _apply_modifiers(_time_expr(args[0], bool(args[1:])), args[1:])
        return None if expr is None else f"date_format({expr}, '{out_fmt}')"
    return xlat


def _xlat_julianday(args: list[str]) -> str | None:
    if not args:
        return None
    expr = _apply_modifiers(_time_expr(args[0], True), args[1:])
    if expr is None:
        return None
    # Julian day number: days since 4714-11-24 BC noon; unix epoch day 0
    # = JD 2440587.5. Micro-second arithmetic keeps sub-second precision.
    return f"(CAST(unix_micros({expr}) AS DOUBLE) / 86400000000.0 + 2440587.5)"


def _xlat_unixepoch(args: list[str]) -> str | None:
    if not args:
        return "unix_timestamp()"
    expr = _apply_modifiers(_time_expr(args[0], True), args[1:])
    return None if expr is None else f"unix_timestamp({expr})"


def _xlat_group_concat(args: list[str]) -> str | None:
    if len(args) == 1:
        return f"concat_ws(',', collect_list({args[0]}))"
    if len(args) == 2:
        return f"concat_ws({args[1]}, collect_list({args[0]}))"
    return None


def _xlat_total(args: list[str]) -> str | None:
    if len(args) != 1:
        return None
    return f"coalesce(sum(CAST({args[0]} AS DOUBLE)), CAST(0.0 AS DOUBLE))"


_CALL_XLATS: tuple[tuple[str, Callable[[list[str]], str | None]], ...] = (
    ("strftime", _xlat_strftime),
    ("group_concat", _xlat_group_concat),
    ("total", _xlat_total),
    ("julianday", _xlat_julianday),
    ("unixepoch", _xlat_unixepoch),
    ("datetime", _xlat_datefn("yyyy-MM-dd HH:mm:ss")),
    ("date", _xlat_datefn("yyyy-MM-dd")),
    ("time", _xlat_datefn("HH:mm:ss")),
)


# ---------------------------------------------------------------------------
# GLOB patterns

_REGEX_META = set(".^$+{}()|\\")


def _glob_pattern_to_like(lit: str) -> str:
    """SQLite GLOB pattern literal -> LIKE pattern literal: * -> %,
    ? -> _, with pre-existing %/_ escaped (LIKE ... ESCAPE '\\' added by
    the caller)."""
    body = lit[1:-1]
    # A literal backslash must survive TWO decoders: Spark's string
    # parser (\\\\ -> \\) and then LIKE's ESCAPE '\' (\\ -> \). One
    # doubling only reaches the parser, leaving \x as a LIKE escape.
    # (\% and \_ below need just one: Spark's parser preserves those
    # two sequences verbatim.)
    body = body.replace("\\", "\\\\\\\\")
    body = body.replace("%", r"\%").replace("_", r"\_")
    body = body.replace("*", "%").replace("?", "_")
    return f"'{body}'"


def _glob_pattern_to_regex(lit: str) -> str | None:
    """SQLite GLOB pattern with [...] character classes -> anchored
    regex literal for RLIKE (case-sensitive full match, like GLOB).
    Classes pass through ([a-z], [^abc] — SQLite and regex agree on ^
    negation); metacharacters outside classes are escaped. Returns None
    for patterns containing escaped quotes (rare; left untouched)."""
    body = lit[1:-1]
    if "''" in body:
        return None
    out, i, n = ["^"], 0, len(body)
    while i < n:
        c = body[i]
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "[":
            j = i + 1
            if j < n and body[j] in "^!":
                j += 1
            if j < n and body[j] == "]":   # leading ] is a member
                j += 1
            j = body.find("]", j)
            if j == -1:
                out.append(re.escape(c))
            else:
                cls = body[i + 1:j]
                if cls.startswith("!"):    # SQLite also accepts [!...]
                    cls = "^" + cls[1:]
                out.append("[" + cls.replace("\\", "\\\\") + "]")
                i = j
        elif c in _REGEX_META:
            out.append("\\" + c)
        else:
            out.append(c)
        i += 1
    out.append("$")
    # Spark SQL literals treat backslash as an escape: double them.
    return "'" + "".join(out).replace("\\", "\\\\") + "'"


# ---------------------------------------------------------------------------


def rewrite(sql: str, *, sqlite_compat: bool = True) -> str:
    """Best-effort textual rewrite of a SQLite-dialect query into Spark
    SQL with matching semantics. Intentionally conservative: only the
    unambiguous substitutions, applied outside quoted tokens; anything
    untranslatable is left untouched so Spark errors loudly. Everything
    else is already shared syntax and goes straight to `spark.sql`
    (Catalyst is the SQLite VDBE of this engine)."""
    if not sqlite_compat:
        return sql
    # Call-level translations span code AND argument literals, so they
    # run on the whole text first.
    for fname, xlat in _CALL_XLATS:
        sql = _rewrite_calls(sql, fname, xlat)
    parts = split_quoted(sql)
    for i in range(0, len(parts), 2):  # even indices = code
        parts[i] = _CAST_RE.sub("TRY_CAST(", _LIKE_RE.sub("ILIKE", parts[i]))
        parts[i] = _IIF_RE.sub("IF(", parts[i])  # SQLite iif == Spark if
        parts[i] = _IFNULL_RE.sub("nvl(", parts[i])
        # GLOB: case-SENSITIVE wildcard match. `x GLOB 'a*'` becomes
        # `x LIKE 'a%' ESCAPE '\'`; patterns with [...] classes become
        # an anchored RLIKE regex instead (LIKE can't express classes).
        lit = parts[i + 1] if i + 1 < len(parts) else ""
        if _GLOB_RE.search(parts[i]) and _strip_quotes(lit) is not None:
            if "[" in lit:
                rx = _glob_pattern_to_regex(lit)
                if rx is not None:
                    parts[i] = _GLOB_RE.sub("RLIKE", parts[i])
                    parts[i + 1] = rx
            else:
                parts[i] = _GLOB_RE.sub("LIKE", parts[i])
                parts[i + 1] = _glob_pattern_to_like(lit) + " ESCAPE '\\\\'"
    return "".join(parts)
