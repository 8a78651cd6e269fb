"""HTTP request-plumbing kernels (the engine counterpart of F14).

The reference's only entry point with no engine twin until now was its
HTTP server (``/root/reference/server/main.cpp:87-228``): ``urlDecode``
(percent-decode + '+'→space, main.cpp:186-204), ``extractParameter``
(regex ``param=([^&]+)``, main.cpp:178-184) and the ``/geocode`` /
``/reverse`` endpoint dispatch. A DataFrame engine has no socket loop —
its natural form of that surface is a REQUEST TABLE: a column of request
strings parsed by the same three functions, batch-routed into the
already-implemented geocode operators. This module provides those
functions as dual-dialect SQL (same style as ``functions/cells.py``), so
request parsing is whole-stage-codegen and oracle value-checkable.

Determinism: ``url_decode_sql`` replicates the reference decoder over
the FULL printable-ASCII escape range (%20..%7E, both hex cases) as a
chained ``replace`` — textually identical in both dialects. Spark's
``url_decode`` builtin exists but DuckDB's counterpart differs on '+'
and failed-escape handling, and a general %XX loop is not expressible
as one shared SQL scalar; the chain is bit-identical in both engines
and raises nothing on INVALID escapes (non-hex pairs pass through
untouched, exactly like the reference's failed-hex branch,
main.cpp:195-197).

Parity bound (documented, tested): the chain equals the reference's
single left-to-right pass for every WELL-FORMED input (each '%' heads a
valid two-hex-digit escape) — %25 decodes LAST, so its '%' output can
never feed an earlier replace, and any other escape's output merges
with neighbors only via a stray '%'. On MALFORMED input containing a
stray '%' immediately followed by hex digits that abut another escape
(e.g. ``%%341``), the chain can decode a pair the reference's
cursor-based pass would treat as literal; such inputs are outside the
reference server's own contract (its client is its static map page).
"""

from __future__ import annotations

# decode order matters: '+'→' ' FIRST, so a '+' produced by %2B is not
# re-decoded (the reference's single pass has the same property), and
# %25→'%' LAST, so a decoded '%' is never re-interpreted (matches the
# single pass: emitted output is never rescanned). The reference's hex
# parse is case-insensitive (istringstream >> hex), so every escape
# with hex letters appears in both cases.


def _hex_variants(code: int) -> list[str]:
    up = f"{code:02X}"
    return [up] if up == up.lower() else [up, up.lower()]


URL_ESCAPES: list[tuple[str, str]] = [("+", " ")]
for _code in range(0x20, 0x7F):
    if _code == 0x25:
        continue
    for _hx in _hex_variants(_code):
        URL_ESCAPES.append((f"%{_hx}", chr(_code)))
URL_ESCAPES.append(("%25", "%"))

# chars that can't sit in a plain single-quoted SQL literal identically
# in BOTH dialects (Spark escapes with backslash, DuckDB with doubling);
# chr() is dialect-neutral
_CHR_LITERALS = {"'": "chr(39)", "\\": "chr(92)", "%": "chr(37)"}


def _char_lit(ch: str) -> str:
    return _CHR_LITERALS.get(ch, f"'{ch}'")


def _chain_sql(expr: str, escapes: list[tuple[str, str]]) -> str:
    out = expr
    for esc, ch in escapes:
        out = f"replace({out}, '{esc}', {_char_lit(ch)})"
    return out


# DuckDB's binder recursion cap is a hard 128 (SET max_expression_depth
# does not govern it, verified on 1.0.0); the 131-replace chain exceeds
# it, so the duckdb dialect splits the chain into <=45-deep segments
# nested as correlated scalar subqueries — each subquery level binds
# independently, sequential application across levels == the full chain.
_DUCKDB_CHUNK = 45


def url_decode_sql(expr: str, dialect: str = "spark") -> str:
    """Reference urlDecode over the printable-ASCII escape set (both
    dialects; see module docstring for the parity bound). Spark emits
    one flat replace chain (whole-stage codegen splits generated code
    itself); DuckDB emits the chunked scalar-subquery form above."""
    if dialect == "spark":
        return _chain_sql(expr, URL_ESCAPES)
    chunks = [
        URL_ESCAPES[i:i + _DUCKDB_CHUNK]
        for i in range(0, len(URL_ESCAPES), _DUCKDB_CHUNK)
    ]
    sub = f"(SELECT {_chain_sql('_ux', chunks[0])} AS _ux " \
          f"FROM (VALUES ({expr})) _u0(_ux))"
    for i, ch in enumerate(chunks[1:], 1):
        sub = f"(SELECT {_chain_sql('_ux', ch)} AS _ux FROM {sub} _u{i}(_ux))"
    return sub


def extract_param_sql(query: str, param: str, dialect: str = "spark") -> str:
    """``extractParameter``: first ``param=([^&]+)`` group, '' if absent
    (the reference returns the empty string too, main.cpp:183)."""
    if not param.isidentifier():
        raise ValueError(f"param {param!r} must be a plain identifier")
    return f"coalesce(regexp_extract({query}, '{param}=([^&]+)', 1), '')"


def route_sql(request: str, dialect: str = "spark") -> str:
    """Endpoint dispatch: '/geocode', '/reverse', else 'not_found' —
    the reference's handleRequest path switch."""
    return (
        f"(CASE WHEN {request} LIKE '/geocode?%' THEN 'geocode' "
        f"WHEN {request} LIKE '/reverse?%' THEN 'reverse' "
        f"ELSE 'not_found' END)"
    )


def query_string_sql(request: str, dialect: str = "spark") -> str:
    """Everything after the first '?' ('' when absent) — the query-string
    split before parameter extraction."""
    if dialect == "spark":
        return (
            f"(CASE WHEN instr({request}, '?') > 0 THEN "
            f"substr({request}, instr({request}, '?') + 1) ELSE '' END)"
        )
    return (
        f"(CASE WHEN strpos({request}, '?') > 0 THEN "
        f"substr({request}, strpos({request}, '?') + 1) ELSE '' END)"
    )
