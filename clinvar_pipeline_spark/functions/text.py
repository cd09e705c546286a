"""Text expressions, all JVM-side: term-name normalization, UTF-8
byte-budget truncation and width-bucketed packing. Each also has a
plain-Python reference (``byte_trim_py``, ``pack_py``) that the tests
compare the expressions against."""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from clinvar_pipeline_spark.config import TRIM_SUFFIX


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def normalize_term_key(name: Column | str) -> Column:
    """Normalized term-match key (J11, TermNameMatcher.java:135-150):
    lowercase, strip ``-,()/`` to spaces, split on whitespace, **sort
    the words**, join with ``.``. Used as an equi-join key against the
    ontology index, turning fuzzy name matching into a hash join."""
    c = _col(name)
    words = F.split(
        F.trim(F.regexp_replace(F.lower(c), "[-,()/]", " ")), "\\s+"
    )
    return F.concat_ws(".", F.array_sort(F.array_remove(words, "")))


# ---------------------------------------------------------------------------
# UTF-8 byte-budget truncation (M9, Manager.java:148-183, Dao.java:157-209).
#
# Oracle VARCHAR2(4000 BYTE) parity: a string whose UTF-8 encoding
# exceeds `budget` bytes is cut (never splitting a multibyte sequence)
# so that trimmed + " ..." fits in `budget`, and " ..." is appended to
# signal truncation. `substring` on the string is char-based, so the
# cut works on its UTF-8 encoding instead: a UTF-8 character is at most
# 4 bytes, so the last character boundary at or before the budget is
# at most 3 continuation bytes back.
# ---------------------------------------------------------------------------

def _byte_trim_py(s: Optional[str], budget: int, suffix: str = TRIM_SUFFIX) -> Optional[str]:
    if s is None:
        return None
    raw = s.encode("utf-8")
    if len(raw) <= budget:
        return s
    keep = budget - len(suffix.encode("utf-8"))
    # cut at the byte budget, dropping any trailing incomplete multibyte
    # sequence (input is valid UTF-8, so 'ignore' only ever drops that)
    return raw[:keep].decode("utf-8", errors="ignore") + suffix


def byte_trim(col: Column | str, budget: int) -> Column:
    """Column expression form of the byte-budget trim. A row within
    budget is returned as is; a longer one is cut at the last UTF-8
    character boundary at or before ``budget - len(" ...")`` bytes,
    found by stepping back over continuation bytes (``10xxxxxx``)."""
    keep = budget - len(TRIM_SUFFIX.encode("utf-8"))
    if keep < 0:
        raise ValueError(f"byte budget {budget} is shorter than {TRIM_SUFFIX!r}")
    c = _col(col)
    raw = F.encode(c, "UTF-8")

    def continuation(pos: int) -> Column:
        # the 1-based byte at ``pos`` (binary compares unsigned)
        b = F.substring(raw, pos, 1)
        return (b >= F.lit(b"\x80")) & (b <= F.lit(b"\xbf"))

    # rows over budget have at least keep + 1 bytes, and byte 1 of
    # valid UTF-8 always starts a character, so the chain ends in range
    cut: Column = F.lit(keep - min(keep, 3))
    for back in reversed(range(min(keep, 3))):
        cut = F.when(~continuation(keep - back + 1), F.lit(keep - back)).otherwise(cut)
    trimmed = F.concat(
        F.decode(F.substring(raw, 1, cut), "UTF-8"), F.lit(TRIM_SUFFIX)
    )
    return F.when(F.octet_length(c) <= F.lit(budget), c).otherwise(trimmed)


def byte_trim_py(s: Optional[str], budget: int) -> Optional[str]:
    """Python-level reference implementation (exported for golden tests
    and driver-side use)."""
    return _byte_trim_py(s, budget)


# ---------------------------------------------------------------------------
# Width-bucketed packing (A3, AnnotCache.java:136-167,213-244).
#
# A merged sorted set whose `|`-joined serialization would exceed a
# byte width is split into multiple rows, each row's serialization
# ≤ width. The reference splits the *sorted joined string* at the last
# '|' before the limit — i.e. greedy left-to-right packing of sorted
# elements. Deterministic: same input set → same buckets.
# ---------------------------------------------------------------------------

def _pack_py(items: Optional[List[str]], width: int, joiner: str = "|") -> Optional[List[List[str]]]:
    if items is None:
        return None
    elems = sorted(set(items))
    buckets: List[List[str]] = []
    cur: List[str] = []
    cur_len = 0
    jlen = len(joiner)
    for e in elems:
        add = len(e) if not cur else cur_len + jlen + len(e)
        if cur and add > width:
            buckets.append(cur)
            cur, cur_len = [e], len(e)
        else:
            cur, cur_len = cur + [e], add
    if cur or not buckets:
        buckets.append(cur)
    return buckets


def pack_width_buckets(col: Column | str, width: int) -> Column:
    """array<string> → array<array<string>>: greedy packing of the
    sorted deduped elements into buckets whose ``|``-joined length is
    ≤ ``width``. Explode the result to materialize the split rows.

    One ``aggregate`` fold over the sorted set carries (closed buckets,
    open bucket, open bucket's joined length), the loop of
    :func:`pack_py`. Null elements are dropped."""
    c = _col(col)
    elems = F.array_sort(F.array_distinct(F.filter(c, lambda e: e.isNotNull())))
    zero = F.struct(
        F.array().cast("array<array<string>>").alias("done"),
        F.array().cast("array<string>").alias("cur"),
        F.lit(0).alias("n"),
    )

    def step(acc: Column, e: Column) -> Column:
        grown = acc["n"] + F.lit(1) + F.length(e)
        spill = (F.size(acc["cur"]) > 0) & (grown > F.lit(width))
        return F.when(
            spill,
            F.struct(
                F.concat(acc["done"], F.array(acc["cur"])).alias("done"),
                F.array(e).alias("cur"),
                F.length(e).alias("n"),
            ),
        ).otherwise(
            F.struct(
                acc["done"].alias("done"),
                F.concat(acc["cur"], F.array(e)).alias("cur"),
                F.when(F.size(acc["cur"]) > 0, grown).otherwise(F.length(e)).alias("n"),
            )
        )

    def finish(acc: Column) -> Column:
        return F.when(
            (F.size(acc["cur"]) > 0) | (F.size(acc["done"]) == 0),
            F.concat(acc["done"], F.array(acc["cur"])),
        ).otherwise(acc["done"])

    return F.when(c.isNotNull(), F.aggregate(elems, zero, step, finish))


def pack_py(items: Optional[List[str]], width: int) -> Optional[List[List[str]]]:
    """Python-level reference implementation for golden tests."""
    return _pack_py(items, width)
