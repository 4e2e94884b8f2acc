"""Redshift-dialect → Spark SQL compatibility shim.

Reference context: user ``.sql`` files are opaque to the reference engine
(read verbatim, ``relation.py:279-293``) and executed by Redshift.  To run
the same files on Spark we pre-rewrite the dialect deltas that Spark lacks
(SURVEY §2.9/§7.4) as a conservative, token-aware string transform — NOT a
full SQL parser.  Rewrites only touch code outside string literals and
comments.

| Redshift                       | Spark                                   |
|--------------------------------|-----------------------------------------|
| GETDATE() / SYSDATE            | current_timestamp()                     |
| DECODE(e, s1, r1, ..., d)      | CASE WHEN e = s1 THEN r1 ... (native    |
|                                | decode would match a NULL search value) |
| APPROXIMATE COUNT(DISTINCT x)  | approx_count_distinct(x)                |
| CONVERT_TIMEZONE('tz', t)      | from_utc_timestamp(t, 'tz') (native one |
|                                | returns timestamp_ntz)                  |
| STRTOL(x, 16)                  | conv(x, 16, 10)                         |
| CHARINDEX(sub, s)              | instr(s, sub) (arguments swap)          |
| STRPOS(s, sub)                 | instr(s, sub)                           |
| f_sha256(x)                    | sha2(x, 256)                            |
| AS VARCHAR / ::VARCHAR         | AS STRING / ::string                    |
| EXTRACT(EPOCH FROM t) / DATE_PART('epoch', t) | unix_timestamp(t)        |
| TO_CHAR/TO_DATE/TO_TIMESTAMP(x, 'fmt') | date_format/to_date/to_timestamp |
|                                | with Spark pattern letters              |
| JSON_EXTRACT_PATH_TEXT(j, 'k') | get_json_object(j, '$.k')               |
| QUALIFY <window-pred>          | inner SELECT + outer WHERE (* EXCEPT)   |

Spark 4.1 runs NVL, NVL2, LEN, MEDIAN, LISTAGG (WITHIN GROUP, DISTINCT and
OVER), DATEADD, DATEDIFF, ``::type`` casts and DATE_PART natively, so they
pass through untouched.
"""

from __future__ import annotations

import re
from typing import List, Tuple


def _skip_literal(code: str, i: int) -> int:
    """Index just past the '...' string (with '' escapes), -- comment or
    block comment starting at i; i itself when none starts there."""
    n = len(code)
    if code.startswith("'", i):
        j = i + 1
        while j < n:
            if code[j] == "'":
                if j + 1 < n and code[j + 1] == "'":
                    j += 2
                    continue
                return j + 1
            j += 1
        return n
    if code.startswith("--", i):
        j = code.find("\n", i)
        return n if j == -1 else j
    if code.startswith("/*", i):
        j = code.find("*/", i + 2)
        return n if j == -1 else j + 2
    return i


_LITERAL_START_RE = re.compile(r"'|--|/\*")


def _split_literals(sql: str) -> List[Tuple[str, bool]]:
    """Split SQL into (chunk, is_literal) segments; literals are '...' strings
    (with '' escapes) and -- / block comments."""
    out: List[Tuple[str, bool]] = []
    start = 0
    while True:
        m = _LITERAL_START_RE.search(sql, start)
        if m is None:
            break
        j = _skip_literal(sql, m.start())
        if start < m.start():
            out.append((sql[start : m.start()], False))
        out.append((sql[m.start() : j], True))
        start = j
    if start < len(sql):
        out.append((sql[start:], False))
    return out


def _decode_to_case(args):
    """DECODE(expr, s1, r1 [, s2, r2 ...] [, default]) → CASE expression."""
    if len(args) < 3:
        return None
    expr, rest = args[0], list(args[1:])
    default = rest.pop() if len(rest) % 2 == 1 else None
    whens = " ".join(
        f"WHEN {expr} = {rest[k]} THEN {rest[k + 1]}" for k in range(0, len(rest), 2)
    )
    return f"CASE {whens}" + (f" ELSE {default}" if default else "") + " END"


def _find_top_level(code: str, pattern: "re.Pattern", start: int = 0):
    """First match of ``pattern`` at paren depth 0, skipping literals."""
    depth, i = 0, start
    n = len(code)
    while i < n:
        c = code[i]
        if c == "'":
            i = _skip_literal(code, i)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = pattern.match(code, i)
            if m:
                return m
        i += 1
    return None


_QUALIFY_RE = re.compile(r"\bQUALIFY\b", re.I)
_QUALIFY_END_RE = re.compile(r"\b(ORDER\s+BY|LIMIT|OFFSET|WINDOW)\b", re.I)
_FROM_RE = re.compile(r"\bFROM\b", re.I)


def _rewrite_qualify(code: str) -> str:
    """Rewrite Redshift/Teradata-style QUALIFY into Spark SQL.

    ``SELECT cols FROM ... QUALIFY <pred> [ORDER BY/LIMIT ...]`` becomes::

        SELECT * EXCEPT (__qualify) FROM (
          SELECT cols, (<pred>) AS __qualify FROM ...
        ) WHERE __qualify [ORDER BY/LIMIT ...]

    The window predicate is evaluated in the inner SELECT list (where window
    functions are legal), the outer filter keeps Spark happy, and
    ``* EXCEPT`` drops the helper column so the output schema matches the
    original query.  Handles QUALIFY in parenthesized subqueries by
    recursion; set-operation branches with QUALIFY are left untouched
    (conservative: no top-level UNION rewrite).
    """
    # recurse into parenthesized groups first
    out, i, n = [], 0, len(code)
    while i < n:
        c = code[i]
        if c == "'":
            j = _skip_literal(code, i)
            out.append(code[i:j])
            i = j
            continue
        if c == "(":
            depth, j = 1, i + 1
            while j < n and depth:
                if code[j] == "'":
                    j = _skip_literal(code, j)
                    continue
                if code[j] == "(":
                    depth += 1
                elif code[j] == ")":
                    depth -= 1
                j += 1
            inner = code[i + 1 : j - 1] if depth == 0 else code[i + 1 :]
            out.append("(" + _rewrite_qualify(inner) + (")" if depth == 0 else ""))
            i = j
            continue
        out.append(c)
        i += 1
    code = "".join(out)

    m = _find_top_level(code, _QUALIFY_RE)
    if m is None:
        return code
    if _find_top_level(code, re.compile(r"\b(UNION|INTERSECT|EXCEPT)\b", re.I)):
        return code  # set-op branches: leave for the user to parenthesize
    head = code[: m.start()]
    rest = code[m.end() :]
    endm = _find_top_level(rest, _QUALIFY_END_RE)
    pred, tail = (
        (rest[: endm.start()], rest[endm.start() :]) if endm else (rest, "")
    )
    fromm = _find_top_level(head, _FROM_RE)
    if fromm is None:
        return code
    inner = (
        head[: fromm.start()].rstrip()
        + ", ("
        + pred.strip()
        + ") AS __qualify "
        + head[fromm.start() :]
    )
    return (
        "SELECT * EXCEPT (__qualify) FROM ("
        + inner.strip()
        + ") WHERE __qualify "
        + tail.strip()
    ).strip()


# token renames that never look at the arguments
_SIMPLE_REWRITES = [
    (re.compile(r"\bGETDATE\s*\(\s*\)", re.I), "current_timestamp()"),
    (re.compile(r"\bSYSDATE\b", re.I), "current_timestamp()"),
    # STRPOS(string, substring) → instr (same argument order)
    (re.compile(r"\bSTRPOS\s*\(", re.I), "instr("),
    # bare VARCHAR casts (Redshift defaults the length; Spark requires one)
    (re.compile(r"\bAS\s+VARCHAR\s*(?![\s]*\()", re.I), "AS STRING"),
    (re.compile(r"::\s*VARCHAR\b(?![\s]*\()", re.I), "::string"),
]


def _call_rules(rules):
    """Compile (name regex, transform) pairs for ``_rewrite_calls``: one scan
    pattern that finds literal and comment starts, parentheses, commas and
    every rule's ``name(``, plus the transforms in rule order."""
    names = "|".join(f"(?P<r{k}>{name})" for k, (name, _) in enumerate(rules))
    pattern = re.compile(rf"'|--|/\*|[(),]|\b(?:{names})\s*\(", re.I)
    return pattern, [transform for _, transform in rules]


def _rewrite_calls(code: str, rules) -> str:
    """Rewrite every call named by ``rules`` (from ``_call_rules``) outside
    literals and comments, in one scan of ``code``.

    A call's arguments are split at top-level commas, calls nested in them
    are rewritten first, and the call is replaced by ``transform(args) ->
    str``.  A transform returns None to leave its call as written; the calls
    nested in its arguments are still rewritten.  Scanning resumes after
    the call, so a transform may emit its own name (TO_DATE → to_date).
    """
    pattern, transforms = rules

    def scan(i: int, in_call: bool):
        # -> (pieces, end): the rewritten text of code[i:] split at the
        # top-level commas of the enclosing call and the index just past its
        # ")"; (None, end) when that ")" never comes.  At the top level
        # (in_call False) pieces is one string covering the rest of code.
        pieces, out, done, depth = [], [], i, 0
        while True:
            m = pattern.search(code, i)
            if m is None:
                break
            tok, i = m.group(0), m.end()
            if tok in ("'", "--", "/*"):
                i = _skip_literal(code, m.start())
            elif tok == "(":
                depth += 1
            elif tok == ")" or tok == ",":
                if in_call and depth == 0:
                    out.append(code[done : m.start()])
                    pieces.append("".join(out))
                    out, done = [], i
                    if tok == ")":
                        return pieces, i
                elif tok == ")":
                    depth -= 1
            else:
                args, end = scan(i, True)
                if args is None:  # unbalanced: leave the rest as written
                    break
                repl = transforms[int(m.lastgroup[1:])]([a.strip() for a in args])
                out.append(code[done : m.start()])
                out.append(tok + ",".join(args) + ")" if repl is None else repl)
                done = i = end
        if in_call:
            return None, len(code)
        out.append(code[done:])
        return ["".join(out)], len(code)

    return scan(0, False)[0][0]


def _keyword_call(keyword: str, fn: str):
    """Transform for a one-argument call ``name(<keyword> x)`` → ``fn(x)``."""

    def transform(args):
        m = re.fullmatch(rf"{keyword}\s+(.+)", args[0], re.I | re.S)
        return f"{fn}({m.group(1)})" if len(args) == 1 and m else None

    return transform


# (name regex, transform) pairs run on the masked query: literal arguments
# are placeholders, so these transforms test only for a literal's quotes
_CALL_REWRITES = _call_rules([
    ("DECODE", _decode_to_case),
    # CHARINDEX(substring, string) → instr(string, substring): Spark has no
    # charindex and instr takes the haystack FIRST — the args must swap
    ("CHARINDEX", lambda a: f"instr({a[1]}, {a[0]})" if len(a) == 2 else None),
    ("STRTOL", lambda a: f"conv({a[0]}, 16, 10)" if a[1:] == ["16"] else None),
    (r"APPROXIMATE\s+COUNT", _keyword_call("DISTINCT", "approx_count_distinct")),
    (
        "CONVERT_TIMEZONE",
        lambda a: f"from_utc_timestamp({a[1]}, {a[0]})"
        if len(a) == 2 and a[0].startswith("'")
        else None,
    ),
    # reference's plpythonu UDF dw.f_sha256 (sql/001_ETL_create_f_sha256.sql)
    (r"(?:dw\.)?f_sha256", lambda a: f"sha2({a[0]}, 256)" if len(a) == 1 else None),
    ("EXTRACT", _keyword_call(r"EPOCH\s+FROM", "unix_timestamp")),
])


# Redshift TO_CHAR/TO_DATE datetime format tokens → Spark datetime pattern
# letters.  Longest-first so e.g. HH24 wins over HH.  Unmapped alphabetic
# runs are left as-is (punctuation/separators pass through).
_DATETIME_TOKEN_MAP = [
    ("YYYY", "yyyy"),
    ("YY", "yy"),
    ("MM", "MM"),
    ("MON", "MMM"),
    ("DD", "dd"),
    ("HH24", "HH"),
    ("HH12", "hh"),
    ("HH", "hh"),  # Redshift HH is 12-hour
    ("MI", "mm"),
    ("SS", "ss"),
    ("MS", "SSS"),
    ("AM", "a"),
    ("PM", "a"),
]
_DATETIME_TOKEN_RE = re.compile(
    "|".join(
        re.escape(k)
        for k in sorted({k for k, _ in _DATETIME_TOKEN_MAP}, key=len, reverse=True)
    ),
    re.I,
)
_DATETIME_TOKEN_LOOKUP = {k.upper(): v for k, v in _DATETIME_TOKEN_MAP}


def _translate_datetime_format(fmt: str) -> str:
    """Redshift format literal (sans quotes) → Spark datetime pattern."""
    return _DATETIME_TOKEN_RE.sub(
        lambda m: _DATETIME_TOKEN_LOOKUP[m.group(0).upper()], fmt
    )


def _datetime_call(fn: str):
    """Transform for ``name(expr, 'fmt')`` with Redshift format tokens →
    ``fn(expr, '<Spark pattern>')``.  Single-argument calls and non-literal
    formats are left untouched."""

    def transform(args):
        if len(args) == 2 and args[1].startswith("'") and args[1].endswith("'"):
            return f"{fn}({args[0]}, '{_translate_datetime_format(args[1][1:-1])}')"
        return None

    return transform


def _json_path_to_get_json(args):
    """JSON_EXTRACT_PATH_TEXT(j, 'k1', 'k2', ...) → get_json_object(j,
    '$.k1.k2...').  Non-literal path elements bail (left untouched)."""
    if len(args) < 2:
        return None
    keys = []
    for a in args[1:]:
        if not (a.startswith("'") and a.endswith("'")):
            return None
        keys.append(a[1:-1])
    path = "$." + ".".join(keys)
    return f"get_json_object({args[0]}, '{path}')"


# call rewrites that read literal contents — run after the literals are
# restored (their replacements introduce no quotes a later rule could trip on)
_LITERAL_CALL_REWRITES = _call_rules([
    ("TO_CHAR", _datetime_call("date_format")),
    ("TO_DATE", _datetime_call("to_date")),
    ("TO_TIMESTAMP", _datetime_call("to_timestamp")),
    ("JSON_EXTRACT_PATH_TEXT", _json_path_to_get_json),
    (
        "DATE_PART",
        lambda a: f"unix_timestamp({a[1]})"
        if len(a) == 2 and a[0].lower() == "'epoch'"
        else None,
    ),
])


def rewrite_redshift_sql(sql: str) -> str:
    """Rewrite Redshift-dialect SQL to Spark SQL, preserving string literals.

    >>> rewrite_redshift_sql("SELECT GETDATE(), CHARINDEX('@', email) FROM t")
    "SELECT current_timestamp(), instr(email, '@') FROM t"
    >>> rewrite_redshift_sql("SELECT DECODE(x, 1, 'one', 'other') FROM t")
    "SELECT CASE WHEN x = 1 THEN 'one' ELSE 'other' END FROM t"
    >>> rewrite_redshift_sql("SELECT 'GETDATE()' AS lit")
    "SELECT 'GETDATE()' AS lit"
    >>> rewrite_redshift_sql("SELECT TO_CHAR(TO_DATE(s, 'YYYYMMDD'), 'YYYY-MM') FROM t")
    "SELECT date_format(to_date(s, 'yyyyMMdd'), 'yyyy-MM') FROM t"
    >>> rewrite_redshift_sql(
    ...     "SELECT a FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1")
    'SELECT * EXCEPT (__qualify) FROM (SELECT a, (ROW_NUMBER() OVER (ORDER BY a) = 1) AS __qualify FROM t) WHERE __qualify'
    """
    # Mask literals/comments with unique placeholders so rewrites never touch
    # or get confused by their contents; string literals keep their quotes so
    # transforms can still tell a literal argument from an expression.
    parts = _split_literals(sql)
    masked, restore = [], {}
    for idx, (chunk, is_literal) in enumerate(parts):
        if not is_literal:
            masked.append(chunk)
            continue
        key = f"\x00{idx}\x00"
        if chunk.startswith("'"):
            masked.append(f"'{key}'")
            restore[f"'{key}'"] = chunk
        else:  # comment
            masked.append(key)
            restore[key] = chunk
    code = "".join(masked)
    for pat, repl in _SIMPLE_REWRITES:
        code = pat.sub(repl, code)
    code = _rewrite_calls(code, _CALL_REWRITES)
    code = _rewrite_qualify(code)
    for key, orig in restore.items():
        code = code.replace(key, orig)
    return _rewrite_calls(code, _LITERAL_CALL_REWRITES)
