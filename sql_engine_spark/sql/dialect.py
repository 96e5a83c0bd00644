"""Dialect shim: reference/SQLite quirks → Spark SQL.

The reference's grammar (reference parser.py:60-113, adapted from the
SQLite SELECT grammar) accepts a few spellings Spark's ANTLR parser
rejects. Rather than fork a parser, a tiny pre-rewrite normalizes the
query text; Spark's own parser/analyzer does everything else
(SURVEY.md §3.4), including ``==`` (the reference's spelling,
sqlengine.py:178-179) and trailing ``;``. Handled:

- ``MATCH`` rejected with :class:`UnsupportedSqlFeature` (parser.py:80)
- ``X GLOB 'pat'``  → ``X RLIKE '^glob-as-regex$'``  (parser.py:80)
- bind markers ``@name``/``$name`` → ``:name`` and ``?NNN`` →
  ``:__pNNN`` (reference parser.py:54-57 accepts all five SQLite
  marker forms; Spark natively takes only ``:name`` and bare ``?``) —
  see :func:`rewrite_bind_markers`.

String literals are respected: rewrites never touch quoted text.
"""

from __future__ import annotations

import re


def glob_to_regex(pattern: str) -> str:
    """SQLite GLOB pattern → anchored regex (* ? [...] supported)."""
    out, i = [], 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch == "[":
            j = pattern.find("]", i + 1)
            if j == -1:
                out.append(re.escape(ch))
            else:
                out.append(pattern[i : j + 1])
                i = j
        else:
            out.append(re.escape(ch))
        i += 1
    return "^" + "".join(out) + "$"


def _split_on_strings(q: str) -> list[tuple[bool, str]]:
    """Split into (is_quoted, chunk) segments so rewrites skip quoted
    text: ``'...'`` string literals, ``"..."`` strings (SQLite treats
    double quotes as strings-or-identifiers; either way opaque), and
    backtick-quoted identifiers — an identifier containing ``@``,
    ``$`` or ``?`` must never be rewritten into a bind marker, nor
    ``GLOB`` into ``RLIKE``. Doubled-quote escapes ('' "" ``````) are handled."""
    parts: list[tuple[bool, str]] = []
    buf: list[str] = []
    i, quote = 0, ""
    while i < len(q):
        ch = q[i]
        if not quote and ch in ("'", '"', "`"):
            parts.append((False, "".join(buf)))
            buf = [ch]
            quote = ch
        elif quote and ch == quote:
            if i + 1 < len(q) and q[i + 1] == quote:
                buf.append(quote * 2)
                i += 1
            else:
                buf.append(ch)
                parts.append((True, "".join(buf)))
                buf = []
                quote = ""
        else:
            buf.append(ch)
        i += 1
    parts.append((bool(quote), "".join(buf)))
    return parts


def rewrite_bind_markers(q: str) -> tuple[str, bool]:
    """Normalize SQLite's five bind-marker forms to the two Spark
    understands. ``@name``/``$name`` become ``:name``. If any numbered
    ``?NNN`` marker appears, ALL question-mark markers are renamed to
    ``:__pNNN`` using SQLite's numbering rule (a bare ``?`` takes one
    more than the largest number assigned so far), and the second
    return value is True — the caller then binds a positional args
    list by those numbers. Quoted text is never touched."""
    segs = _split_on_strings(q)
    has_numbered = any(re.search(r"\?\d", t) for is_str, t in segs if not is_str)
    max_idx = 0
    out = []
    for is_str, t in segs:
        if is_str:
            out.append(t)
            continue
        t = re.sub(r"[@$]([A-Za-z_]\w*)", r":\1", t)
        if has_numbered:

            def _num(m: re.Match) -> str:
                nonlocal max_idx
                idx = int(m.group(1)) if m.group(1) else max_idx + 1
                max_idx = max(max_idx, idx)
                return f":__p{idx}"

            t = re.sub(r"\?(\d+)?", _num, t)
        out.append(t)
    return "".join(out), has_numbered


class UnsupportedSqlFeature(Exception):
    """A grammar form the engine deliberately does not execute."""


def normalize_query(q: str) -> str:
    segs = _split_on_strings(q)
    # MATCH: the reference grammar accepts it (parser.py:80) but, like
    # SQLite without an FTS index, nothing can execute it. Fail with a
    # clear message instead of Spark's generic parse error.
    if any(re.search(r"(?i)\bMATCH\b", t) for is_str, t in segs if not is_str):
        raise UnsupportedSqlFeature(
            "MATCH requires a full-text index and is not supported "
            "(the reference grammar parses it but cannot execute it either, "
            "matching SQLite without FTS); use LIKE / GLOB / REGEXP instead"
        )
    # col GLOB 'pat' → col RLIKE 'regex' : GLOB keyword lives outside the
    # string; the following literal segment holds the pattern.
    out: list[str] = []
    glob_pending = False
    for is_str, t in segs:
        if not is_str:
            if re.search(r"(?i)\bGLOB\s*$", t):
                t = re.sub(r"(?i)\bGLOB\s*$", "RLIKE ", t)
                glob_pending = True
            out.append(t)
        else:
            if glob_pending and t[:1] in ("'", '"'):
                pat = t[1:-1].replace(t[0] * 2, t[0])
                rx = glob_to_regex(pat).replace("'", "''")
                out.append(f"'{rx}'")
            else:
                out.append(t)
            # ANY quoted segment consumes the pending GLOB: a backtick
            # identifier after GLOB must not leave the flag armed, or
            # the next unrelated literal in the query would be
            # silently rewritten into a regex.
            glob_pending = False
    return "".join(out)
