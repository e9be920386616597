"""Hive-script preprocessor + statement splitter (pure Python).

Mirrors the reference's pre-parse stage (shared/HivePreprocessor.java:
147-165 process(); 118-137 replaceHiveVars(); skip patterns :83-88;
trailing ';' :113-114) and adds the statement splitter the reference gets
for free from its grammar's ``program`` rule: Spark's ``parsePlan`` accepts
one statement at a time, so scripts are split on top-level ``;``.

Dialect shims (SURVEY.md §4 item 6): constructs the reference's grammar
*parses but never extracts* (QUALIFY, TOP n, SEL, HPL/SQL blocks) are
detected here and reported as skips — behavior-parity with the reference's
skipped/ directory routing rather than a hard failure.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_ASSIGN = re.compile(r"^\s*set\s+([a-zA-Z0-9.:_-]+)\s*=\s*(.+?)\s*(?:;.*)?$", re.I)
_SKIPS = [
    re.compile(r"^add (jar|file) .*;", re.I),
    re.compile(r"^msck repair .*", re.I),
]
_VAR_KW = "${hiveconf:"

# Constructs Catalyst's parser rejects but the reference's grammar accepts
# without extracting lineage (Bingql.g4: qualify_clause :1110, select_list
# TOP :967, Teradata SEL, HPL/SQL procedural blocks :547-609).
_UNSUPPORTED = re.compile(
    r"(?i)\b(QUALIFY\s|^\s*SEL\s|CREATE\s+(OR\s+REPLACE\s+)?(PROCEDURE|PACKAGE)\b"
    r"|BEGIN\s+TRANSACTION|^\s*DECLARE\s+\w+\s+CURSOR)"
)


@dataclass
class Preprocessor:
    """Stateful line processor; hivevar assignments accumulate across lines
    the way the reference's ``confVals`` map does."""

    conf: dict[str, str] = field(default_factory=dict)

    def _replace_vars(self, line: str) -> str:
        out = []
        low = line.lower()
        pos = 0
        while True:
            s = low.find(_VAR_KW, pos)
            if s < 0:
                out.append(line[pos:])
                break
            e = line.find("}", s)
            if e < 0:
                out.append(line[pos:])
                break
            key = line[s + len(_VAR_KW) : e]
            val = self.conf.get(key)
            if val is None:
                # unknown vars pass through untouched (reference :125-128)
                out.append(line[pos : e + 1])
            else:
                out.append(line[pos:s])
                out.append(val)
            pos = e + 1
        return "".join(out)

    def process_line(self, line: str) -> str:
        clean = line.strip()
        for pat in _SKIPS:
            if pat.search(clean):
                return "-- " + line
        m = _ASSIGN.match(clean)
        if m:
            substituted = self._replace_vars(clean)
            m2 = _ASSIGN.match(substituted)
            if m2:
                self.conf[m2.group(1).strip()] = m2.group(2).strip().rstrip(";")
            return "-- " + line
        return self._replace_vars(line)

    def process(self, text: str) -> str:
        lines = [self.process_line(ln) for ln in text.splitlines()]
        # extra ';' so scripts without a trailing one still split cleanly
        return "\n".join(lines) + "\n;\n"


def preprocess(text: str) -> str:
    return Preprocessor().process(text)


def split_statements(text: str) -> list[str]:
    """Split a script on top-level ``;`` (quote- and comment-aware)."""
    stmts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch in ("'", '"', "`"):
            quote = ch
            buf.append(ch)
            i += 1
            while i < n:
                buf.append(text[i])
                if text[i] == "\\" and quote != "`" and i + 1 < n:
                    buf.append(text[i + 1])
                    i += 2
                    continue
                if text[i] == quote:
                    i += 1
                    break
                i += 1
            continue
        if ch == "-" and text[i : i + 2] == "--":
            j = text.find("\n", i)
            j = n if j < 0 else j
            buf.append(text[i:j])
            i = j
            continue
        if ch == "/" and text[i : i + 2] == "/*":
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            buf.append(text[i:j])
            i = j
            continue
        if ch == ";":
            stmts.append("".join(buf))
            buf = []
            i += 1
            continue
        buf.append(ch)
        i += 1
    if buf:
        stmts.append("".join(buf))

    out = []
    for s in stmts:
        # drop statements that are only comments/whitespace
        body = re.sub(r"--[^\n]*", "", s)
        body = re.sub(r"/\*.*?\*/", "", body, flags=re.S)
        if body.strip():
            out.append(s.strip())
    return out


def unsupported_reason(stmt: str) -> str | None:
    """Dialect constructs we route to skipped/ (parity with reference's
    parse-only treatment)."""
    m = _UNSUPPORTED.search(stmt)
    return f"unsupported dialect construct: {m.group(0).strip()}" if m else None


# ---------------------------------------------------------------- dialect
# rewrite shims (SURVEY.md §4 item 6): constructs Catalyst rejects but the
# reference's grammar accepts — rewritten to Spark SQL where the rewrite
# is semantics-preserving, so the lineage layer EXTRACTS them instead of
# routing to skipped/.  Anything the shims can't reach (QUALIFY in a
# subquery, HPL/SQL blocks) still falls through to unsupported_reason.

_SEL_RE = re.compile(r"(?is)^(\s*)SEL\s")
_TOP_RE = re.compile(r"(?is)^(\s*SELECT)\s+TOP\s+(\d+)\s")


def _find_top_level_kw(stmt: str, kw: str) -> int:
    """Index of case-insensitive word ``kw`` at paren depth 0 outside
    quotes, or -1."""
    low = stmt.lower()
    depth = 0
    i, n = 0, len(stmt)
    while i < n:
        ch = stmt[i]
        if ch in ("'", '"', "`"):
            q = ch
            i += 1
            while i < n and stmt[i] != q:
                i += 2 if stmt[i] == "\\" and q != "`" else 1
            i += 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and low.startswith(kw, i):
            before_ok = i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_")
            after = i + len(kw)
            after_ok = after >= n or not (low[after].isalnum() or low[after] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return -1


# Presto/Trino type syntax (reference grammar accepts it: Bingql.g4:526
# presto_data_type ARRAY(...) / ROW(...) / MAP(...); dialect enum PRESTO in
# persistable/SqlDialectType.java:4-6).  Catalyst wants the angle-bracket
# generics, so rewrite innermost-out:  ARRAY(T)→ARRAY<T>, MAP(K,V)→MAP<K,V>,
# ROW(a T, b U)→STRUCT<a: T, b: U>, DOUBLE PRECISION→DOUBLE, plus scalar
# renames (VARBINARY→BINARY, REAL→FLOAT, JSON→STRING).

_TYPE_START = re.compile(
    r"(?i)^\s*(varchar|char|string|int|integer|bigint|smallint|tinyint"
    r"|double|real|float|boolean|date|timestamp|time|decimal|numeric"
    r"|binary|varbinary|json|uuid|array|map|row|struct)\b"
)
_ROW_FIELD = re.compile(r"(?is)^\s*([A-Za-z_][\w]*|`[^`]+`|\"[^\"]+\")\s+(.+?)\s*$")
# Scalar renames applied ONLY to text known to sit in TYPE position
# (CAST(... AS <here>), CREATE TABLE column types, ARRAY/MAP/ROW bodies).
# The reference grammar likewise only accepts these words as types
# (Bingql.g4:526); a global regex would corrupt identifiers/aliases
# (SELECT price AS real) and string literals containing the words.
_PRESTO_SCALARS = [
    (re.compile(r"(?i)\bDOUBLE\s+PRECISION\b"), "DOUBLE"),
    (re.compile(r"(?i)\bVARBINARY\b"), "BINARY"),
    (re.compile(r"(?i)\bREAL\b"), "FLOAT"),
    (re.compile(r"(?i)\bJSON\b"), "STRING"),
    # Presto's unbounded VARCHAR (no length) — Catalyst requires a length,
    # so map it to STRING; parameterized VARCHAR(n) passes through
    (re.compile(r"(?i)\bVARCHAR\b(?!\s*\()"), "STRING"),
]


def _rename_scalar_types(type_expr: str) -> tuple[str, bool]:
    """Apply the Presto→Catalyst scalar renames to a string KNOWN to be a
    type expression."""
    changed = False
    for pat, repl in _PRESTO_SCALARS:
        s2 = pat.sub(repl, type_expr)
        if s2 != type_expr:
            type_expr, changed = s2, True
    return type_expr, changed


def _match_paren(stmt: str, open_idx: int) -> int:
    """Index of the ``)`` matching ``stmt[open_idx] == '('``, quote-aware;
    -1 if unbalanced."""
    depth, i, n = 0, open_idx, len(stmt)
    while i < n:
        ch = stmt[i]
        if ch in ("'", '"', "`"):
            q = ch
            i += 1
            while i < n and stmt[i] != q:
                i += 2 if stmt[i] == "\\" and q != "`" else 1
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    return -1


_CAST_OPEN = re.compile(r"(?i)\b(?:TRY_)?CAST\s*\(")


def _rewrite_cast_types(stmt: str) -> tuple[str, bool]:
    """Rename Presto scalar types inside every CAST/TRY_CAST(expr AS type)
    slot.  Nested casts are independent matches; an inner cast always sits
    in the expr (pre-AS) part of its outer, so the rewritten type slots
    never overlap."""
    edits: list[tuple[int, int, str]] = []
    for m in _CAST_OPEN.finditer(stmt):
        open_idx = m.end() - 1
        close_idx = _match_paren(stmt, open_idx)
        if close_idx < 0:
            continue
        # first depth-0 AS within the cast's paren span (quote-aware scan)
        body = stmt[open_idx + 1 : close_idx]
        depth, i, bn, as_at = 0, 0, len(body), -1
        low = body.lower()
        while i < bn:
            ch = body[i]
            if ch in ("'", '"', "`"):
                q = ch
                i += 1
                while i < bn and body[i] != q:
                    i += 2 if body[i] == "\\" and q != "`" else 1
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0 and low.startswith("as", i):
                before_ok = i == 0 or not (low[i - 1].isalnum() or low[i - 1] == "_")
                after = i + 2
                after_ok = after >= bn or not (
                    low[after].isalnum() or low[after] == "_"
                )
                if before_ok and after_ok:
                    as_at = after
                    break
            i += 1
        if as_at < 0:
            continue
        type_start = open_idx + 1 + as_at
        renamed, hit = _rename_scalar_types(stmt[type_start:close_idx])
        if hit:
            edits.append((type_start, close_idx, renamed))
    if not edits:
        return stmt, False
    # a nested cast's type slot precedes its outer's but is matched later —
    # apply in text order
    edits.sort(key=lambda t: t[0])
    out, pos = [], 0
    for s, e, rep in edits:
        out.append(stmt[pos:s])
        out.append(rep)
        pos = e
    out.append(stmt[pos:])
    return "".join(out), True


def _rewrite_create_column_types(stmt: str) -> tuple[str, bool]:
    """Rename Presto scalar types in a CREATE TABLE (col type, …) list."""
    if not _CREATE_RE.match(stmt):
        return stmt, False
    open_idx = stmt.find("(")
    if open_idx < 0:
        return stmt, False
    close_idx = _match_paren(stmt, open_idx)
    if close_idx < 0:
        return stmt, False
    items = _split_top_commas(stmt[open_idx + 1 : close_idx])
    changed = False
    new_items = []
    for item in items:
        f = _ROW_FIELD.match(item)
        if f and _looks_like_type(f.group(2)):
            renamed, hit = _rename_scalar_types(f.group(2))
            if hit:
                head = item[: f.start(2)]
                item = f"{head}{renamed}"
                changed = True
        new_items.append(item)
    if not changed:
        return stmt, False
    body = ",".join(new_items)
    return f"{stmt[: open_idx + 1]}{body}{stmt[close_idx:]}", True
# body may contain one paren level (precision scalars like VARCHAR(20),
# DECIMAL(10,2)); deeper nesting resolves over the fixpoint iterations
_GENERIC_RE = re.compile(r"(?i)\b(ARRAY|MAP|ROW)\s*\(((?:[^()]|\([^()]*\))*)\)")


def _looks_like_type(s: str) -> bool:
    return bool(_TYPE_START.match(s))


def _split_top_commas(s: str) -> list[str]:
    parts, depth, buf = [], 0, []
    for ch in s:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def _rewrite_presto_types(stmt: str) -> tuple[str, bool]:
    changed = False
    # scalar renames only in verified type positions: CAST type slots and
    # CREATE TABLE column definitions (generic ARRAY/MAP/ROW bodies are
    # renamed as part of their own rewrite below)
    stmt, hit = _rewrite_cast_types(stmt)
    changed = changed or hit
    stmt, hit = _rewrite_create_column_types(stmt)
    changed = changed or hit
    # innermost-out: the paren-free inner match converts to <...>, which
    # the next pass sees as part of an outer ARRAY(...)'s paren-free body
    while True:
        out, pos, hit = [], 0, False
        for m in _GENERIC_RE.finditer(stmt):
            kw, body = m.group(1).upper(), m.group(2)
            if kw == "ROW":
                fields = [_ROW_FIELD.match(p) for p in _split_top_commas(body)]
                if not all(f and _looks_like_type(f.group(2)) for f in fields):
                    continue
                inner = ", ".join(
                    f"{f.group(1)}: {_rename_scalar_types(f.group(2))[0]}"
                    for f in fields
                )
                rep = f"STRUCT<{inner}>"
            else:
                args = _split_top_commas(body)
                want = 1 if kw == "ARRAY" else 2
                if len(args) != want or not all(
                    _looks_like_type(a) for a in args
                ):
                    continue  # expression-level ARRAY()/MAP(), not a type
                rep = (
                    f"{kw}<"
                    + ", ".join(
                        _rename_scalar_types(a.strip())[0] for a in args
                    )
                    + ">"
                )
            out.append(stmt[pos : m.start()])
            out.append(rep)
            pos = m.end()
            hit = True
        if not hit:
            break
        out.append(stmt[pos:])
        stmt, changed = "".join(out), True
    return stmt, changed


# Vendor CREATE TABLE options the reference's grammar parses and ignores
# (Bingql.g4:369-429: create_table_options_{ora,db2,td,mssql,mysql}_item).
# Stripping them inside CREATE statements lets Catalyst extract the same
# datasets the reference does instead of routing the script to skipped/.
_VENDOR_DDL_OPTS = [
    re.compile(p, re.I | re.S)
    for p in [
        r"\bUNIQUE\s+PRIMARY\s+INDEX\s*\([^)]*\)",  # Teradata
        r"\bPRIMARY\s+INDEX\s*\([^)]*\)",
        r"\bWITH\s+DATA\b",
        r"\b(PCTFREE|PCTUSED|INITRANS|MAXTRANS)\s+\d+",  # Oracle
        r"\bSEGMENT\s+CREATION\s+(IMMEDIATE|DEFERRED)\b",
        r"\bNOCOMPRESS\b",
        r"\bNOLOGGING\b",
        r"\bSTORAGE\s*\([^)]*\)",
        r"\bTABLESPACE\s+\w+",
        r"\bDISTRIBUTE\s+BY\s+HASH\s*\([^)]*\)",  # DB2
        r"\bNOT\s+LOGGED\b",
        r"\bCOMPRESS\s+(YES|NO)\b",
        r"\bDEFINITION\s+ONLY\b",
        r"\bWITH\s+RESTRICT\s+ON\s+DROP\b",
        r"\bTEXTIMAGE_ON\s+\w+",  # MSSQL
        r"\bENGINE\s*=?\s*\w+",  # MySQL
        r"\bAUTO_INCREMENT\s*=?\s*\d+",
        r"\b(DEFAULT\s+)?(CHARSET|CHARACTER\s+SET)\s*=?\s*\w+",
    ]
]

_CREATE_RE = re.compile(r"(?is)^\s*CREATE\s+(OR\s+REPLACE\s+)?\w*\s*TABLE\b")


def _strip_vendor_ddl(stmt: str) -> tuple[str, bool]:
    if not _CREATE_RE.match(stmt):
        return stmt, False
    changed = False
    for pat in _VENDOR_DDL_OPTS:
        s2 = pat.sub("", stmt)
        if s2 != stmt:
            stmt, changed = s2, True
    return stmt, changed


def rewrite_dialect(stmt: str) -> tuple[str, list[str]]:
    """→ (rewritten statement, list of applied shim tags)."""
    applied: list[str] = []
    s2, hit = _rewrite_presto_types(stmt)
    if hit:
        applied.append("presto-types")
        stmt = s2
    s2, hit = _strip_vendor_ddl(stmt)
    if hit:
        applied.append("vendor-ddl-options")
        stmt = s2
    # Teradata ACTIVITY_COUNT (Bingql.g4:1416 expr_spec_func): a niladic
    # status variable = rows touched by the prior DML.  The reference
    # parses it and extracts nothing; substituting a neutral literal
    # keeps the statement extractable with identical lineage.
    s2 = re.sub(r"(?i)\bACTIVITY_COUNT\b(?!\s*\()", "0", stmt)
    if s2 != stmt:
        applied.append("ACTIVITY_COUNT→literal")
        stmt = s2
    s2 = _SEL_RE.sub(lambda m: m.group(1) + "SELECT ", stmt)
    if s2 != stmt:
        applied.append("SEL→SELECT")
        stmt = s2
    m = _TOP_RE.match(stmt)
    if m:
        n = m.group(2)
        stmt = _TOP_RE.sub(lambda mm: mm.group(1) + " ", stmt, count=1).rstrip()
        if not re.search(r"(?is)\bLIMIT\s+\d+\s*$", stmt):
            stmt = f"{stmt}\nLIMIT {n}"
        applied.append(f"TOP {n}→LIMIT")
    idx = _find_top_level_kw(stmt, "qualify")
    if idx >= 0:
        body, pred = stmt[:idx].rstrip(), stmt[idx + len("qualify") :]
        # the standard rewrite: QUALIFY filters on select-list (window)
        # aliases, which a wrapper WHERE sees as plain columns
        stmt = f"SELECT * FROM (\n{body}\n) kch_qualify_wrap WHERE{pred}"
        applied.append("QUALIFY→wrapper WHERE")
    return stmt, applied
