"""Posting-list i<j pair generation via codegen'd Generate nodes.

Round-16 finding (guide §1.2 step 2 / §4): Spark's higher-order
functions (``transform``/``filter``/``flatten``) evaluate their lambdas
INTERPRETED, outside whole-stage codegen — the nested-HOF combination
builder (``flatten(transform(xs, (x,i) -> transform(slice(xs, i+2, ...),
y -> struct(x, y))))``) was the measured hot spot of the co-purchase
pair generator (5.6 of 7.0 s at 30x facts; 2.0x end-to-end after the
rewrite). The equivalent two-Generate chain — ``posexplode`` then
``explode(slice(tail))`` — stays inside one WholeStageCodegen span,
produces the IDENTICAL (ps[i], ps[j]) i<j multiset (no dedup, no
reordering, no filters added or removed), and additionally never builds
the O(len²) combination array in a single row (the embedding-LSH
lesson: a hot bucket's flattened combo array is quadratic in one row;
the Generate chain keeps every generated array O(len)).

Callers pass a SORTED list column (``sort_array(collect_list(...))``)
so ``ps[i] <= ps[j]`` — exactly the contract every posting-list
pairgen in the engine already had.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def posting_pairs(
    posting: DataFrame,
    list_col: str,
    out_a: str,
    out_b: str,
    pass_cols: tuple[str, ...] = (),
) -> DataFrame:
    """All index pairs i<j of ``list_col`` as rows ``(out_a, out_b)`` =
    ``(lst[i], lst[j])``, with ``pass_cols`` carried through unchanged.

    Exact multiset semantics of the former nested-HOF builder: one
    output row per index pair, duplicates preserved, no equality
    filter (add ``.filter(a != b)`` at the call site where the old
    code had one). Works for element types including structs.
    The position column's name is derived so that it cannot collide
    (case-insensitively, like Spark's resolver) with any column of
    ``posting`` or with ``out_a``/``out_b``.
    """
    taken = {c.lower() for c in (*posting.columns, out_a, out_b)}
    pos = "__i"
    while pos in taken:
        pos += "_"
    ex = posting.select(
        *pass_cols, list_col, F.posexplode(list_col).alias(pos, out_a)
    )
    return ex.select(
        *pass_cols,
        out_a,
        F.explode(
            F.slice(list_col, F.col(pos) + F.lit(2), F.size(list_col))
        ).alias(out_b),
    )


def symmetrize(
    pairs: DataFrame, a: str, b: str, out_a: str, out_b: str
) -> DataFrame:
    """Both directions of an undirected pair list in ONE pass — a
    2-branch union executes the pair generator once per branch."""
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(out_a), F.col(b).alias(out_b)),
                F.struct(F.col(b).alias(out_a), F.col(a).alias(out_b)),
            )
        ).alias("e")
    ).select(f"e.{out_a}", f"e.{out_b}")
