"""Vector math over ``array<float|double>`` columns — JVM-side only.

Replaces the reference's numpy driver-side linear algebra
(``src/app_optimized.py:376-429`` dense dot scoring,
``src/training_service.py:622-623`` all-pairs cosine) with Catalyst
higher-order functions (``aggregate``/``zip_with``), which run inside
whole-stage codegen and therefore distribute + scale. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double_array(col: Column | str) -> Column:
    """Cast ``array<float>`` → ``array<double>`` so arithmetic matches a
    double-precision oracle bit-for-bit (float32 accumulation drifts)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via ``zip_with`` + ``aggregate`` (sequential left fold —
    deterministic order, unlike a shuffle-dependent sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision."""
    return dot(a, b) / (norm(a) * norm(b))


def normalize(a: Column) -> Column:
    """L2-normalize an array column (pre-step for cosine-as-dot at scale:
    normalizing once then joining on dot product halves the work)."""
    n = norm(a)
    return F.transform(a, lambda x: x / n)


# (session id, vec_col, analyzed-plan semanticHash, column type) →
# width. infer_dim runs a 1-row job; query builders call it once per
# plan construction, and every construction makes fresh derived
# frames, so an identity key would miss on every rebuild (and a
# recycled id() of a dropped frame could hand a different frame a stale
# width). Semantically identical analyzed plans in one session resolve
# through one py4j metadata call instead of a job. This caches a
# schema-level scalar (the array width) — never rows — the same class
# of metadata memo as sources.readers._TABLE_CACHE.
_DIM_CACHE: dict[tuple, int] = {}


def infer_dim(df, vec_col: str) -> int:
    """Vector width from one row (ArrayType carries no length)."""
    try:
        key = (
            id(df.sparkSession),
            vec_col,
            df._jdf.queryExecution().analyzed().semanticHash(),
            df.schema[vec_col].dataType.simpleString(),
        )
    except Exception:
        key = None
    hit = _DIM_CACHE.get(key)
    if hit is not None:
        return hit
    row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).first()
    if row is None:
        raise ValueError(f"cannot infer dim of {vec_col!r}: empty DataFrame")
    if key is not None:
        _DIM_CACHE[key] = row["d"]
    return row["d"]


def _sql_name(name: str) -> str:
    """Backtick-quote a (possibly alias-qualified) column name for use
    inside an ``F.expr`` string: ``a.v`` → ``\\`a\\`.\\`v\\```."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def _pairwise(terms: list, add):
    """Sum ``terms`` as a balanced binary tree: depth ⌈log₂ n⌉."""
    if len(terms) == 1:
        return terms[0]
    mid = len(terms) // 2
    return add(_pairwise(terms[:mid], add), _pairwise(terms[mid:], add))


def dot_expanded(a: Column | str, b: Column | str, dim: int) -> Column:
    """Σ aᵢ·bᵢ unrolled to plain arithmetic for a known width. Catalyst
    higher-order functions (:func:`dot`) are evaluated interpreted per
    element; plain arithmetic stays inside whole-stage codegen — ~50×
    faster on pair-join hot paths (q21: 140 s → s at sf0.1).

    The products are summed PAIRWISE, ``0.0 + ((a₀b₀ + a₁b₁) + (a₂b₂
    + a₃b₃))``, not left-deep: whole-stage codegen sizes every node's
    generated code (``Expression.reduceCodeSize`` → ``Block.length``,
    a ``stripMargin`` over the node's whole subtree), so a dim-deep
    chain costs O(dim²) to generate and every fresh plan pays it again
    in ``toRdd``; the balanced tree is O(dim log dim) (plan → RDD of a
    fresh dot + norm plan, 4-core box: dim 64 209 → 150 ms, dim 128
    571 → 263 ms). Pairwise summation also bounds rounding error by
    O(ε log dim) instead of O(ε dim). It is not bit-identical to
    :func:`dot`'s left fold; queries round in-plan.

    Pass column NAMES, not Columns, when you can: the tree is then
    built as one SQL string parsed JVM-side in a single py4j call.
    Building it from Column operators instead costs ~4·dim driver
    round-trips — ~1.2 s of pure plan-construction wall at dim=64
    (measured; it dominated q16's end-to-end time). Both forms build
    the same tree, so their results are bit-identical.

    Each ELEMENT is cast to double individually — identical arithmetic
    to indexing a pre-cast ``array<double>``, but the inputs must be
    the RAW (attribute) columns: aliasing ``as_double_array(...)`` and
    referencing the alias here lets CollapseProject inline the whole-
    array cast into every one of the 2·dim element references, i.e.
    O(dim²) array rebuilds per row (measured 0.35 s for a 2000-row ×
    dim-64 norm at sf0.1 — ~50× the honest cost). SimplifyCasts erases
    the per-element cast when the array is already double."""
    if not dim:
        return F.expr("0.0D")
    if isinstance(a, str) and isinstance(b, str):
        an, bn = _sql_name(a), _sql_name(b)
        terms = [
            f"CAST({an}[{i}] AS DOUBLE) * CAST({bn}[{i}] AS DOUBLE)"
            for i in range(dim)
        ]
        return F.expr(
            "0.0D + " + _pairwise(terms, lambda x, y: f"({x} + {y})")
        )
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    terms = [
        a.getItem(i).cast("double") * b.getItem(i).cast("double")
        for i in range(dim)
    ]
    return F.lit(0.0) + _pairwise(terms, lambda x, y: x + y)


def sq_norm_expanded(a: Column | str, dim: int) -> Column:
    return dot_expanded(a, a, dim)
