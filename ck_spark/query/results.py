"""Shared ck `SearchResult` expression helpers.

Every search mode in the reference returns the same result type
(ck-core/src/lib.rs:227-241): file, span, score, preview, lang. The
preview rule is shared too — "first 3 lines of the unit's text" (whole
text under --full-section), where "lines" means Rust `str::lines()`:
split on \\n, a trailing newline terminates the last line instead of
opening an empty one, one \\r immediately before each \\n is stripped,
and empty text has zero lines. These JVM-side expressions are that rule,
used by the lexical fetch (query/bm25.py), the semantic enrichment
(query/semantic.py) and the whole-file chunk view; the `_py` twins apply
it to Python strings for the lexical fetch's driver-side projection.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def rust_lines(col: Column) -> Column:
    """array<string> of Rust str::lines() line bodies (endings excluded,
    \\r NOT yet stripped — strip_cr does that; counting lines must happen
    on this array so \\r-only differences don't change line_end)."""
    raw = F.split(col, "\n", -1)
    return (
        F.when(col == "", F.array().cast("array<string>"))
        .when(col.endswith("\n"), F.slice(raw, F.lit(1), F.size(raw) - 1))
        .otherwise(raw)
    )


def strip_cr(lines: Column) -> Column:
    """Strip exactly ONE trailing \\r per line. NOT a '\\r$'
    regexp_replace: Java's $ also matches before a final line terminator,
    so 'a\\r\\r' would lose BOTH \\r where Rust keeps the first."""
    return F.transform(
        lines,
        lambda x: F.when(
            x.endswith("\r"), x.substr(F.lit(1), F.length(x) - 1)
        ).otherwise(x),
    )


def preview_expr(col: Column, full_section: bool = False) -> Column:
    """First 3 lines joined with \\n (ck-engine/src/lib.rs:794-798), or
    the whole text under --full-section."""
    if full_section:
        return col
    return F.array_join(F.slice(strip_cr(rust_lines(col)), 1, 3), "\n")


def rust_lines_py(text: str) -> list[str]:
    """rust_lines for one Python string: the same line bodies, \\r NOT
    yet stripped (the driver-side projection of query/bm25.py)."""
    if text == "":
        return []
    lines = text.split("\n")
    return lines[:-1] if text.endswith("\n") else lines


def preview_py(text: str, full_section: bool = False) -> str:
    """preview_expr for one Python string."""
    if full_section:
        return text
    return "\n".join(ln[:-1] if ln.endswith("\r") else ln
                     for ln in rust_lines_py(text)[:3])
