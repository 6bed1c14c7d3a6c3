"""Vector math as native column expressions over ``array<float|double>``.

``zip_with`` + ``aggregate`` keep the dot product JVM-side (no Arrow
transfer, no Python). Arithmetic is promoted to double *before*
multiplying so results match a double-precision oracle bit-for-bit
(float×float is exact in double).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def to_double_array(vec: Column | str) -> Column:
    c = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot(a, b) / (norm_a * norm_b)


def _sql_of(c: Column) -> str:
    """The SQL rendering of a Column's expression tree (py4j
    ``toString`` of the unresolved expression) — re-parseable for every
    shape this module's callers pass (named/qualified refs, ``slice``,
    ``transform`` lambdas, literal float arrays).  Used by the unrolled
    builders to assemble a dim-term expression with ONE parser call
    instead of ~2·dim py4j round trips: building the 64-term op-chain
    measured 0.76 s of pure driver time PER EXPRESSION (the r10 scan
    unrolling silently moved whole queries' cost into plan
    construction — ann_topk_lsh spent 5–11 s per build), the parsed
    form 3.7 ms — 200×.  The string is wrapped in parens at use sites;
    a rendering the parser rejects falls back to the op-chain."""
    return c._jc.toString()


def _unrolled_expr(build_sql, build_chain) -> Column:
    try:
        return F.expr(build_sql())
    except Exception:
        # unparseable rendering (exotic caller expression): the slow
        # but always-correct op-chain
        return build_chain()


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product unrolled to a flat expression for a known dimension.

    Higher-order functions (``zip_with``/``aggregate``) are evaluated by
    the interpreter row-at-a-time with per-row array allocation; a flat
    sum of products compiles into whole-stage codegen and runs ~10×
    faster on the 100 TB scan path. Addition is left-associated in index
    order (SQL ``+`` is left-associative) — bit-identical to the
    sequential ``aggregate`` fold and to the oracles' ordered SUM.
    """

    def sql() -> str:
        sa, sb = f"({_sql_of(a)})", f"({_sql_of(b)})"
        return "0.0D" + "".join(
            f" + (element_at({sa}, {i}) * element_at({sb}, {i}))"
            for i in range(1, dim + 1)
        )

    def chain() -> Column:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            acc = acc + F.element_at(a, i) * F.element_at(b, i)
        return acc

    return _unrolled_expr(sql, chain)


def dot_literal(a: Column, vals: list[float]) -> Column:
    """Dot product of a column vector with a LITERAL vector, unrolled
    with the literal inlined as one scalar per term.

    ``dot_unrolled(a, F.array(*lits), dim)`` renders the whole
    64-literal array expression once PER TERM (``element_at(array(...),
    i)``), a ~dim²-literal SQL string and expression tree — measured as
    multi-second driver-side parse/analyze cost per plan build for the
    k-center coverage scan (8 centers) and the LSH signature (8
    planes).  Inlining the scalar keeps the tree at dim terms.  Same
    left-associated addition from 0.0 and identical IEEE doubles
    (``repr`` round-trips exactly), so results are bit-identical to
    ``dot_unrolled`` against the same literal vector."""

    def sql() -> str:
        sa = f"({_sql_of(a)})"
        return "0.0D" + "".join(
            f" + (element_at({sa}, {i + 1}) * CAST('{float(v)!r}' AS DOUBLE))"
            for i, v in enumerate(vals)
        )

    def chain() -> Column:
        acc = F.lit(0.0)
        for i, v in enumerate(vals):
            acc = acc + F.element_at(a, i + 1) * F.lit(float(v))
        return acc

    return _unrolled_expr(sql, chain)


def norm_unrolled(a: Column, dim: int) -> Column:
    return F.sqrt(dot_unrolled(a, a, dim))


def sqdist_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Squared euclidean distance, unrolled (see ``dot_unrolled``)."""

    def sql() -> str:
        sa, sb = f"({_sql_of(a)})", f"({_sql_of(b)})"
        return "0.0D" + "".join(
            f" + ((element_at({sa}, {i}) - element_at({sb}, {i}))"
            f" * (element_at({sa}, {i}) - element_at({sb}, {i})))"
            for i in range(1, dim + 1)
        )

    def chain() -> Column:
        acc = F.lit(0.0)
        for i in range(1, dim + 1):
            d = F.element_at(a, i) - F.element_at(b, i)
            acc = acc + d * d
        return acc

    return _unrolled_expr(sql, chain)


def vector_means(frame: DataFrame, key: str, vec: str, dim: int):
    """Per-group positional means of a ``dim``-wide vector column, as
    driver rows: ``(schema, rows)`` with rows ``(key, [mean_0, …,
    mean_{dim-1}])`` sorted by key and schema ``(key, cv array<double>)``.

    The aggregate runs in long form, ``(key, pos) → avg`` over
    ``posexplode``, and the vectors are re-nested here.  The wide form,
    one ``avg(element_at(vec, i))`` per position, needs 1 key + 2·dim
    buffer fields: 129 at dim 64, past ``spark.sql.codegen.maxFields``
    (100), so its ``HashAggregate`` runs outside whole-stage codegen
    (measured 503 ms of task time, 370 ms CPU, for 500 rows on a 4-core
    host).  The long form keeps 2 keys + 2 buffer fields, inside
    codegen.  Each (key, pos) sum sees its rows in the same order as
    the wide form's slot ``pos``, so the means are the same doubles; a
    position no row of the group reaches stays ``None``, as the wide
    form's ``avg`` over all-null input would."""
    long = (
        frame.select(key, F.posexplode(vec).alias("pos", "x"))
        .filter(F.col("pos") < dim)
        .groupBy(key, "pos")
        .agg(F.avg("x").alias("c"))
    )
    out: dict = {}
    for k, pos, c in long.collect():
        out.setdefault(k, [None] * dim)[pos] = c
    schema = T.StructType(
        [
            T.StructField(key, frame.schema[key].dataType),
            T.StructField("cv", T.ArrayType(T.DoubleType())),
        ]
    )
    return schema, sorted(out.items())
