"""Geocoder scalar functions F1-F13 as native Spark column expressions.

Each function transliterates the reference exactly (file:line cited per
function) but runs JVM-side inside whole-stage codegen / higher-order
functions — no Python on any hot path. Where the driver oracle needs the
same computation, a dialect-parameterized SQL generator is provided
(Spark SQL + DuckDB from one template, like functions/cells.py).

Reference quirks preserved on purpose:

* F9 "jaroWinklerSimilarity" is NOT Jaro-Winkler: it is
  positionwise-equal-chars / max-length (geocoder.cpp:480-494).
* F3 parse() joins the *consumed* tokens (indices [0, i)) as the city when
  leftover tokens exist — the reference's own bug (geocoder.cpp:101-108);
  we replicate it for parity.
* Distances are Euclidean on raw degrees (geocoder.cpp:463-468).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F15 static maps — data, not code (geocoder.cpp:18-23, 26-44)
STREET_TYPE_ABBREV = {
    "ST": "STREET", "AVE": "AVENUE", "BLVD": "BOULEVARD", "RD": "ROAD",
    "DR": "DRIVE", "LN": "LANE", "CT": "COURT", "PL": "PLACE", "WAY": "WAY",
    "CIR": "CIRCLE", "PKWY": "PARKWAY", "HWY": "HIGHWAY",
}
STATE_ABBREV_UPPER = {
    "AL": "ALABAMA", "AK": "ALASKA", "AZ": "ARIZONA", "AR": "ARKANSAS",
    "CA": "CALIFORNIA", "CO": "COLORADO", "CT": "CONNECTICUT", "DE": "DELAWARE",
    "FL": "FLORIDA", "GA": "GEORGIA", "HI": "HAWAII", "ID": "IDAHO",
    "IL": "ILLINOIS", "IN": "INDIANA", "IA": "IOWA", "KS": "KANSAS",
    "KY": "KENTUCKY", "LA": "LOUISIANA", "ME": "MAINE", "MD": "MARYLAND",
    "MA": "MASSACHUSETTS", "MI": "MICHIGAN", "MN": "MINNESOTA",
    "MS": "MISSISSIPPI", "MO": "MISSOURI", "MT": "MONTANA", "NE": "NEBRASKA",
    "NV": "NEVADA", "NH": "NEW HAMPSHIRE", "NJ": "NEW JERSEY",
    "NM": "NEW MEXICO", "NY": "NEW YORK", "NC": "NORTH CAROLINA",
    "ND": "NORTH DAKOTA", "OH": "OHIO", "OK": "OKLAHOMA", "OR": "OREGON",
    "PA": "PENNSYLVANIA", "RI": "RHODE ISLAND", "SC": "SOUTH CAROLINA",
    "SD": "SOUTH DAKOTA", "TN": "TENNESSEE", "TX": "TEXAS", "UT": "UTAH",
    "VT": "VERMONT", "VA": "VIRGINIA", "WA": "WASHINGTON",
    "WV": "WEST VIRGINIA", "WI": "WISCONSIN", "WY": "WYOMING",
    "DC": "DISTRICT OF COLUMBIA",
}


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# F1/F2: normalize + tokenize (geocoder.cpp:113-133, 139-149)
# ---------------------------------------------------------------------------

def normalize(col) -> Column:
    """Uppercase -> [,.]→space -> collapse whitespace -> trim."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.upper(_c(col)), "[,.]", " "), "\\s+", " ")
    )


def tokenize(col) -> Column:
    """Whitespace split of an already-normalized string (empty -> [])."""
    return F.filter(F.split(_c(col), " "), lambda t: t != F.lit(""))


# ---------------------------------------------------------------------------
# F5/F6 predicates (geocoder.cpp:163-177)
# ---------------------------------------------------------------------------

def is_numeric(col) -> Column:
    return _c(col).rlike("^[0-9]+$")


def is_zip_code(col) -> Column:
    return _c(col).rlike("^\\d{5}$") | _c(col).rlike("^\\d{5}-\\d{4}$")


def _map_literal(d: dict[str, str]) -> Column:
    items: list[Column] = []
    for k, v in d.items():
        items.append(F.lit(k))
        items.append(F.lit(v))
    return F.create_map(*items)


# ---------------------------------------------------------------------------
# F3: positional address parse (geocoder.cpp:47-111)
# ---------------------------------------------------------------------------

def parse_address(col) -> Column:
    """Struct(house_number, street_name, street_type, city, state, zip_code,
    full_address) — the exact positional decomposition of the reference,
    as array higher-order functions (one pass, JVM-side).

    Layout: [house#] street... [street_type] [STATE] [zip] [leftover],
    with the reference's quirk that ``city`` is the join of the *consumed*
    prefix when leftovers exist (geocoder.cpp:101-108).
    """
    addr = _c(col)
    toks = tokenize(normalize(addr))
    n = F.size(toks)
    states = _map_literal(STATE_ABBREV_UPPER)
    types = _map_literal(STREET_TYPE_ABBREV)

    has_hn = (n > 0) & is_numeric(F.try_element_at(toks, F.lit(1)))
    start = F.when(has_hn, F.lit(2)).otherwise(F.lit(1))  # 1-based

    # first index >= start whose token is a zip or a state abbreviation
    def _is_stop(i: Column) -> Column:
        t = F.try_element_at(toks, i.cast("int"))
        return is_zip_code(t) | ~F.isnull(F.try_element_at(states, t))

    stop_candidates = F.filter(
        F.when(n >= start, F.sequence(start, n)).otherwise(F.array().cast("array<int>")),
        _is_stop,
    )
    stop = F.coalesce(F.try_element_at(stop_candidates, F.lit(1)), n + 1)  # exclusive end

    street_parts = F.slice(toks, start, F.greatest(stop - start, F.lit(0)))
    last_part = F.try_element_at(street_parts, F.lit(-1))
    last_is_type = F.when(
        F.size(street_parts) > 0, ~F.isnull(F.try_element_at(types, last_part))
    ).otherwise(F.lit(False))
    street_type = F.when(last_is_type, F.try_element_at(types, last_part)).otherwise(F.lit(""))
    street_name = F.array_join(
        F.when(last_is_type, F.slice(street_parts, 1, F.size(street_parts) - 1))
        .otherwise(street_parts),
        " ",
    )

    tok_at_stop = F.try_element_at(toks, stop.cast("int"))
    state_hit = (stop <= n) & ~F.isnull(F.try_element_at(states, tok_at_stop))
    state = F.when(state_hit, tok_at_stop).otherwise(F.lit(""))
    after_state = F.when(state_hit, stop + 1).otherwise(stop)

    tok_after = F.try_element_at(toks, after_state.cast("int"))
    zip_hit = (after_state <= n) & is_zip_code(tok_after)
    zip_code = F.when(zip_hit, tok_after).otherwise(F.lit(""))
    after_zip = F.when(zip_hit, after_state + 1).otherwise(after_state)

    # reference bug replicated: leftovers exist -> city = consumed prefix
    city = F.when(
        after_zip <= n, F.array_join(F.slice(toks, 1, after_zip - 1), " ")
    ).otherwise(F.lit(""))

    return F.struct(
        F.coalesce(
            F.when(has_hn, F.try_element_at(toks, F.lit(1))), F.lit("")
        ).alias("house_number"),
        F.coalesce(street_name, F.lit("")).alias("street_name"),
        street_type.alias("street_type"),
        city.alias("city"),
        state.alias("state"),
        zip_code.alias("zip_code"),
        addr.alias("full_address"),
    )


def address_is_valid(parsed: Column) -> Column:
    """F8 (geocoder.cpp:179-183): state or full_address non-empty."""
    return (parsed["state"] != "") | (parsed["full_address"] != "")


# ---------------------------------------------------------------------------
# F9: positional similarity (geocoder.cpp:480-494) — dialect-shared SQL
# ---------------------------------------------------------------------------

def positional_similarity_sql(a: str, b: str, dialect: str = "spark") -> str:
    """Count of position-wise equal chars over max length; 1.0 if equal,
    0.0 if either empty. NOT real Jaro-Winkler — parity with the reference.
    """
    if dialect == "spark":
        common = (
            f"aggregate(sequence(1, least(length({a}), length({b}))), 0, "
            f"(acc, i) -> acc + IF(substring({a}, i, 1) = substring({b}, i, 1), 1, 0))"
        )
    else:  # duckdb
        common = (
            f"coalesce(list_sum(list_transform(range(1, least(length({a}), length({b})) + 1), "
            f"i -> CASE WHEN substring({a}, i, 1) = substring({b}, i, 1) THEN 1 ELSE 0 END)), 0)"
        )
    return (
        f"(CASE WHEN {a} = {b} THEN 1.0 "
        f"WHEN length({a}) = 0 OR length({b}) = 0 THEN 0.0 "
        f"ELSE CAST({common} AS DOUBLE) / greatest(length({a}), length({b})) END)"
    )


def positional_similarity(a, b) -> Column:
    """Native-Column twin of ``positional_similarity_sql`` (no expr-string
    round-trip: Column.toString() mangles regex escapes)."""
    a, b = _c(a), _c(b)
    min_len = F.least(F.length(a), F.length(b))
    idx = F.when(min_len >= 1, F.sequence(F.lit(1), min_len)).otherwise(
        F.array().cast("array<int>")
    )
    common = F.aggregate(
        idx,
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            a.substr(i.cast("int"), F.lit(1)) == b.substr(i.cast("int"), F.lit(1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        F.when(a == b, F.lit(1.0))
        .when((F.length(a) == 0) | (F.length(b) == 0), F.lit(0.0))
        .otherwise(common.cast("double") / F.greatest(F.length(a), F.length(b)))
    )


# ---------------------------------------------------------------------------
# F11: state confidence cascade (geocoder.cpp:432-461)
# ---------------------------------------------------------------------------

def state_confidence(input_state, candidate_state) -> Column:
    """1.0 on exact / normalized-exact / 2-letter-abbrev match, else F9
    similarity of the normalized strings; 0.0 if either side empty."""
    inp = _c(input_state)
    cand = _c(candidate_state)
    n_inp = normalize(inp)
    n_cand = normalize(cand)
    states = _map_literal(STATE_ABBREV_UPPER)
    abbrev_full = F.try_element_at(states, n_inp)
    return (
        F.when((inp == "") | (cand == "") | inp.isNull() | cand.isNull(), F.lit(0.0))
        .when(inp == cand, F.lit(1.0))
        .when(n_inp == n_cand, F.lit(1.0))
        .when(
            (F.length(inp) == 2) & ~F.isnull(abbrev_full) & (abbrev_full == n_cand),
            F.lit(1.0),
        )
        .otherwise(positional_similarity(n_inp, n_cand))
    )


def match_type(confidence) -> Column:
    """F13 (geocoder.cpp:418): 'exact' above 0.9, else 'fuzzy'."""
    return F.when(_c(confidence) > 0.9, F.lit("exact")).otherwise(F.lit("fuzzy"))


# ---------------------------------------------------------------------------
# F10: levenshtein — reference dead code; Spark builtin kept for parity audit
# ---------------------------------------------------------------------------

def levenshtein(a, b) -> Column:
    """Defined-but-never-called in the reference (geocoder.cpp:496-524);
    exposed via the Spark builtin for completeness."""
    return F.levenshtein(_c(a), _c(b))
