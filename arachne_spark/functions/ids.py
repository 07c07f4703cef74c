"""Entity-ID algebra as pure Catalyst column expressions.

Reproduces the reference grammar exactly (behavior cited from
/root/reference):

* ``identify``     — src/arachne.cpp:122-147 (+ parse_id :149-162):
  an ID is ``[QPLME]<num>`` with an optional ``-F<num>`` / ``-S<num>``
  suffix allowed only after ``L``.  ``<num>`` must round-trip through
  ``int``: no sign, no leading zeros (``0`` itself is fine), value
  <= 2147483647.  Anything else → ``unknown``.
* ``entity_root``  — src/arachne.cpp:74-97: form/sense collapse to their
  lexeme root (``L7-F1`` → ``L7``); other valid kinds are identity;
  invalid input yields NULL (the reference throws — in a dataflow engine
  the row-local equivalent is a NULL that callers filter/route).
* ``normalize``    — src/arachne.cpp:164-182: numeric id + kind →
  prefixed string; form/sense coerce to the lexeme prefix ``L``.

Everything here is JVM-side (regexp + string compare), inside
whole-stage codegen — no Python UDF in this hot path.  The int32 bound
is enforced lexicographically (len < 10, or len == 10 and <=
'2147483647'), avoiding any cast that could overflow.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# kind names follow the reference enum include/utils.hpp:47-57
KINDS = (
    "item",
    "property",
    "lexeme",
    "mediainfo",
    "entity_schema",
    "form",
    "sense",
)

PREFIX_FOR_KIND = {
    "item": "Q",
    "property": "P",
    "lexeme": "L",
    "mediainfo": "M",
    "entity_schema": "E",
    # numeric form/sense are not representable → lexeme prefix
    # (src/arachne.cpp:176-180)
    "form": "L",
    "sense": "L",
}

_KIND_FOR_PREFIX = {
    "Q": "item",
    "P": "property",
    "L": "lexeme",
    "M": "mediainfo",
    "E": "entity_schema",
}

# no sign, no leading zeros; bare "0" allowed (stoi round-trip semantics)
_NUM = r"(0|[1-9][0-9]*)"
# full grammar; sub-ID capture groups: 1=prefix 2=num 3=F/S tag 4=subnum
_ID_RE = rf"^([QPLME]){_NUM}(?:-([FS]){_NUM})?$"

_INT32_MAX_STR = "2147483647"


def _num_in_int32(num: Column) -> Column:
    """Lexicographic int32-bound check on a digit-string column."""
    return (F.length(num) < 10) | (
        (F.length(num) == 10) & (num <= F.lit(_INT32_MAX_STR))
    )


def identify(col: Column) -> Column:
    """Classify an entity-ID string column → kind name ('unknown' if bad)."""
    prefix = F.regexp_extract(col, _ID_RE, 1)
    num = F.regexp_extract(col, _ID_RE, 2)
    tag = F.regexp_extract(col, _ID_RE, 3)
    subnum = F.regexp_extract(col, _ID_RE, 4)

    shape_ok = prefix != ""
    bounds_ok = _num_in_int32(num) & ((tag == "") | _num_in_int32(subnum))
    # sub-ID only legal after L (src/arachne.cpp:135-138)
    sub_ok = (tag == "") | (prefix == "L")

    base_kind = F.coalesce(
        *[
            F.when(prefix == p, F.lit(k))
            for p, k in _KIND_FOR_PREFIX.items()
        ],
        F.lit("unknown"),
    )
    kind = F.when(tag == "F", "form").when(tag == "S", "sense").otherwise(
        base_kind
    )
    return F.when(shape_ok & bounds_ok & sub_ok, kind).otherwise(
        F.lit("unknown")
    )


def is_valid_id(col: Column) -> Column:
    return identify(col) != "unknown"


def entity_root(col: Column) -> Column:
    """Canonical root: 'L7-F1'/'L7-S2' → 'L7'; valid id → itself; else NULL."""
    kind = identify(col)
    lex_root = F.regexp_extract(col, _ID_RE, 2)
    return (
        F.when(kind == "unknown", F.lit(None).cast("string"))
        .when(kind.isin("form", "sense"), F.concat(F.lit("L"), lex_root))
        .otherwise(col)
    )


def normalize(num: Column, kind: Column) -> Column:
    """Numeric id + kind name → prefixed ID string; NULL on bad input.

    The reference throws on negative / any / unknown
    (src/arachne.cpp:165-174); the dataflow equivalent is NULL.

    The prefix is one map lookup (NULL for a kind not in the map), not
    a chain of CASEs: the optimizer may inline the expression wherever
    it is used, and a CASE chain inlined into a grouping key (q40's
    ``dropDuplicates``) grows the generated aggregate past the JVM's
    64 KB method limit.
    """
    prefix = F.create_map(
        *[F.lit(x) for kp in PREFIX_FOR_KIND.items() for x in kp]
    )[kind]
    ok = prefix.isNotNull() & (num >= 0)
    return F.when(ok, F.concat(prefix, num.cast("string")))
