"""Similarity search over the ``embeddings`` table (north-star op).

Two paths, same contract (top-k neighbors for a bounded query set):

- **brute force** — the correctness baseline: query set broadcast
  against the corpus, dot products via JVM-side ``zip_with`` +
  ``aggregate`` (no Python in the hot path), ``row_number`` top-k.
  Linear in |corpus| × |queries|; at 100 TB you bound |queries| per job
  and partition the corpus scan.
- **LSH (random hyperplanes)** — the scale path: 8-bit sign signatures
  bucket the corpus; candidate generation is a bucket equi-join
  (co-partitioned shuffle), exact cosine only within buckets. The sign
  matrix is ±1 derived from md5 (functions.hashing.hex_sign), computed
  driver-side once and inlined as literals into BOTH the Spark plan and
  the DuckDB oracle — deterministic and engine-portable.

Ranking is on ``(round(cosine, 6) DESC, cand_id)`` so ties and
last-ulp float noise can't reorder results between engines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.caching import count_memo, release_local_checkpoint
from ..functions.frames import local_frame
from ..functions.hashing import hex_sign
# hot scan paths use ONLY the unrolled forms: the HOF dot/norm evaluate
# interpreted per row (per-row array allocation), the flat sums compile
# into whole-stage codegen — same left-associated addition order, so
# results are bit-identical (functions/vectors docstring)
from ..functions.vectors import (
    dot_literal,
    dot_unrolled,
    norm_unrolled,
    sqdist_unrolled,
    to_double_array,
    vector_means,
)
from ..sources.tables import fan_out

DIM = 64
TOP_K = 10
QUERY_MOD = 100
N_PLANES = 8

# The module-wide query cap DERIVES FROM CORPUS SIZE by default (the
# ``derived_mrl_query_cap`` discipline, generalized to every
# query-vs-corpus op in this module): each such op is a bounded-query
# scan costing Q·N comparisons, and the natural ``% QUERY_MOD`` subset
# grows as N/100 with the corpus — under the old FIXED cap of 4096 the
# subset only stopped growing at N = 409.6k, so the default-config
# decade probes read 18.8× (``ann_topk_mrl``) and 22.63×
# (``ann_topk_ivf``) at the 100× leg (BENCH_sf10_r11_newops/quartet).
# ``derived_ann_query_cap`` holds Q·N ≤ ANN_WORK_BUDGET once the corpus
# outgrows the budget, clamped to [MIN, MAX]: BIGINT floor-division
# only, mirrored bit-exactly by ``_ann_qcap_sql`` so Spark and the
# oracle always serve the same query list at every corpus size.  At
# the fixture scales (≤ 3.1k vectors) the budget leaves the cap at MAX
# = 4096 (the old fixed default) and the natural %-subset (≤ 20 ids)
# is what binds — behavior there is unchanged.  The driver-collected
# forms stay bounded too: ≤ cap × DIM doubles (~2 MB worst case).
#
# Manual ``ANN_QUERY_CAP`` env override wins when set (the measured
# deploy knob — production ANN serves a FIXED query list; the decade
# probes' capped legs pin it to isolate per-query scaling).  Tests
# monkeypatch the module attribute directly for the same effect; the
# override reaches BOTH engines at any time because the oracle strings
# late-bind the scalar via :func:`render_oracle` (``oracle_sql()``
# renders on every call — nothing is frozen at import).
ANN_QCAP_MIN = 64
ANN_QCAP_MAX = 4096
ANN_WORK_BUDGET = 12_800_000
_ANN_QCAP_ENV = os.environ.get("ANN_QUERY_CAP")
ANN_QUERY_CAP: int | None = int(_ANN_QCAP_ENV) if _ANN_QCAP_ENV else None


def derived_ann_query_cap(n_vecs: int) -> int:
    """Query cap for an ``n_vecs``-vector corpus:
    ``clamp(ANN_WORK_BUDGET // n_vecs, ANN_QCAP_MIN, ANN_QCAP_MAX)`` —
    holds every query-vs-corpus op's Q·N comparison count at
    ~ANN_WORK_BUDGET once the corpus outgrows the budget (above
    12.8M/64 = 200k vectors the MIN clamp binds and work grows
    linearly again, at the smallest usable query set).  A manual
    ``ANN_QUERY_CAP`` (env at import, or monkeypatched module
    attribute) wins."""
    if ANN_QUERY_CAP is not None:
        return ANN_QUERY_CAP
    return max(ANN_QCAP_MIN, min(ANN_QCAP_MAX, ANN_WORK_BUDGET // max(n_vecs, 1)))


def _ann_qcap_sql() -> str:
    """DuckDB scalar mirroring :func:`derived_ann_query_cap` over the
    ``embeddings`` view — BIGINT floor-division, bit-exact against the
    Python rule at every corpus size."""
    if ANN_QUERY_CAP is not None:
        return str(ANN_QUERY_CAP)
    return (
        f"(SELECT GREATEST({ANN_QCAP_MIN}, LEAST({ANN_QCAP_MAX}, "
        f"{ANN_WORK_BUDGET} // GREATEST(count(*), 1))) FROM embeddings)"
    )


# identity-keyed memo of the raw embeddings frame's row count (the
# MemoSlots discipline, scalar-valued): the cap derivation needs ONE
# count of the raw table per distinct frame — the stored key reference
# keeps the frame alive while resident so its id cannot be reused
from collections import OrderedDict as _OrderedDict

_NVEC_MEMO: "_OrderedDict[int, tuple[DataFrame, int]]" = _OrderedDict()


def _n_vecs(emb_raw: DataFrame) -> int:
    k = id(emb_raw)
    hit = _NVEC_MEMO.get(k)
    if hit is not None:
        count_memo(True)
        _NVEC_MEMO.move_to_end(k)
        return hit[1]
    count_memo(False)
    n = emb_raw.count()
    _NVEC_MEMO[k] = (emb_raw, n)
    while len(_NVEC_MEMO) > 8:
        _NVEC_MEMO.popitem(last=False)
    return n


def _ann_qcap(t: dict[str, DataFrame]) -> int:
    """The derived module-wide query cap for this corpus."""
    return derived_ann_query_cap(_n_vecs(t["embeddings"]))


_QSUBSET_MEMO: "_OrderedDict[int, tuple[DataFrame, int]]" = _OrderedDict()


def _qsubset_n(emb_raw: DataFrame) -> int:
    """Size of the natural ``% QUERY_MOD`` query subset, memoized per
    raw embeddings frame (the ``_n_vecs`` discipline).  Two capped
    query lists over the same corpus are IDENTICAL iff
    ``min(subset_n, cap_a) == min(subset_n, cap_b)`` (both are "the
    cap lowest vec_ids of the subset"), so this one tiny count is what
    lets a consumer prove its query list equals the memoized truth
    set's before sharing it (see :func:`mrl_recall_curve`)."""
    k = id(emb_raw)
    hit = _QSUBSET_MEMO.get(k)
    if hit is not None:
        count_memo(True)
        _QSUBSET_MEMO.move_to_end(k)
        return hit[1]
    count_memo(False)
    n = emb_raw.filter(F.col("vec_id") % QUERY_MOD == 0).count()
    _QSUBSET_MEMO[k] = (emb_raw, n)
    while len(_QSUBSET_MEMO) > 8:
        _QSUBSET_MEMO.popitem(last=False)
    return n


def _corpus(t: dict[str, DataFrame]) -> DataFrame:
    emb = fan_out(t["embeddings"]).select("vec_id", to_double_array("embedding").alias("v"))
    return emb.withColumn("nrm", norm_unrolled(F.col("v"), DIM))


def _queries(emb: DataFrame, qcap: int) -> DataFrame:
    """The bounded query set every query-vs-corpus op in this module
    broadcasts: the ``qcap`` lowest vec_ids of the ``% QUERY_MOD``
    subset, ``qcap`` derived from corpus size by the caller
    (:func:`_ann_qcap`).  The ``%``-filter alone grows as N/100 with
    the corpus (the broadcast would stop being broadcastable at 100×);
    the cap keeps the frame ≤ cap × DIM doubles at any corpus size.
    Every oracle mirrors the identical lowest-vec_id cut
    (``_QCAP_SQL``), so the capped list is the operator family's
    contract, not an approximation."""
    return (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(qcap)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )


def _qcap_ids(emb: DataFrame, qcap: int) -> DataFrame:
    """The capped query-id frame (one ``vec_id`` column) for ops whose
    query side is derived from an exploded/sub-vector frame rather than
    the embedding rows themselves (PQ/IVF-PQ ADC tables): semi-joining
    against this ≤ cap-row broadcast bounds the query side the same way
    :func:`_queries` bounds the vector form."""
    return (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select("vec_id")
        .orderBy("vec_id")
        .limit(qcap)
    )


# the oracle-side mirror of the capped query list — every query CTE in
# this module restricts with ``vec_id IN (_QCAP_SQL)`` so both engines
# serve exactly the same bounded query set; the cap itself is the
# corpus-derived scalar (:func:`_ann_qcap_sql`), computed IN SQL so the
# module-level oracle strings stay corpus-size-agnostic.  The scalar is
# LATE-BOUND: the module-level oracle constants embed the placeholder
# token below, and :func:`render_oracle` substitutes the current
# ``_ann_qcap_sql()`` at ``oracle_sql()`` call time — so a runtime
# ``ANN_QUERY_CAP`` override (env-after-import or monkeypatched module
# attribute) reaches the ORACLE side exactly as it reaches the Spark
# side, instead of freezing whatever the cap was at import.
# bare identifier: an UN-rendered oracle fails fast in the binder
# instead of silently comparing against an empty query set
_QCAP_TOKEN = "__ANN_QCAP_SCALAR__"
_QCAP_SQL = (
    f"SELECT vec_id FROM ("
    f"SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS qrn "
    f"FROM embeddings WHERE vec_id % {QUERY_MOD} = 0) qz "
    f"WHERE qz.qrn <= {_QCAP_TOKEN}"
)


def render_oracle(sql: str) -> str:
    """Late-bind the corpus-derived ANN query-cap scalar into an oracle
    string built from :data:`_QCAP_SQL`.  A no-op for oracles that don't
    reference the cap, so ``oracle_sql()`` applies it uniformly."""
    return sql.replace(_QCAP_TOKEN, f"({_ann_qcap_sql()})")


def ann_topk_bruteforce(t: dict[str, DataFrame]) -> DataFrame:
    emb = _corpus(t)
    q = _queries(emb, _ann_qcap(t))
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")), 6
    ).alias("cosine")
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "cand_id", "cosine")
    )


ANN_TOPK_BRUTEFORCE_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
q AS (SELECT * FROM e WHERE vec_id IN ({_QCAP_SQL})),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
           round(sum(q.x * e.x) / (nq.nrm * nc.nrm), 6) AS cosine
    FROM q
    JOIN e ON q.pos = e.pos AND q.vec_id != e.vec_id
    JOIN norms nq ON q.vec_id = nq.vec_id
    JOIN norms nc ON e.vec_id = nc.vec_id
    GROUP BY 1, 2, nq.nrm, nc.nrm
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, cosine
FROM ranked
WHERE rank <= {TOP_K}
"""


def _sign_matrix() -> list[list[int]]:
    """N_PLANES × DIM ±1 matrix, deterministic via md5 (shared with oracle)."""
    return [
        [hex_sign(f"plane{p}:{i}") for i in range(DIM)] for p in range(N_PLANES)
    ]


def _signature(vec_col) -> F.Column:
    """8-char '0'/'1' signature string of a double-array column."""
    bits = []
    for row in _sign_matrix():
        # scalar-literal unroll: the array-literal form re-rendered the
        # 64-entry plane per term (dim² literals × 8 planes per plan)
        proj = dot_literal(vec_col, [float(s) for s in row])
        bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


def ann_topk_lsh(t: dict[str, DataFrame]) -> DataFrame:
    """Top-k within the query's hyperplane-signature bucket."""
    emb = _corpus(t).withColumn("sig", _signature(F.col("v")))
    # bounded-query contract (the _queries discipline): cap the
    # broadcast side to the corpus-derived lowest-id query set
    q = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(_ann_qcap(t))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("sig").alias("qsig"),
        )
    )
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")), 6
    ).alias("cosine")
    scored = (
        emb.join(F.broadcast(q), emb["sig"] == q["qsig"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "cand_id", "cosine")
    )


def _lsh_oracle() -> str:
    # Inline the ±1 matrix as (plane, pos, s) literals shared with Spark.
    rows = []
    for p, row in enumerate(_sign_matrix()):
        for i, s in enumerate(row):
            rows.append(f"({p}, {i + 1}, {s})")
    values = ", ".join(rows)
    return f"""
WITH planes(plane, pos, s) AS (VALUES {values}),
e AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
projs AS (
    SELECT e.vec_id, pl.plane, sum(e.x * pl.s) AS proj
    FROM e JOIN planes pl ON e.pos = pl.pos
    GROUP BY 1, 2
),
sigs AS (
    SELECT vec_id,
           string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane)
               AS sig
    FROM projs
    GROUP BY 1
),
q AS (SELECT vec_id AS query_id, sig FROM sigs
      WHERE vec_id IN ({_QCAP_SQL})),
cand AS (
    SELECT q.query_id, s.vec_id AS cand_id
    FROM q JOIN sigs s ON q.sig = s.sig AND s.vec_id != q.query_id
),
scored AS (
    SELECT c.query_id, c.cand_id,
           round(sum(a.x * b.x) / (na.nrm * nb.nrm), 6) AS cosine
    FROM cand c
    JOIN e a ON a.vec_id = c.query_id
    JOIN e b ON b.vec_id = c.cand_id AND a.pos = b.pos
    JOIN norms na ON na.vec_id = c.query_id
    JOIN norms nb ON nb.vec_id = c.cand_id
    GROUP BY 1, 2, na.nrm, nb.nrm
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, cosine
FROM ranked
WHERE rank <= {TOP_K}
"""


ANN_TOPK_LSH_ORACLE = _lsh_oracle()


# --- k-means quantizer training (iterative, declarative) -------------------

KMEANS_ITER = 2


def _cents_frame(spark, schema: T.StructType, rows) -> DataFrame:
    """A driver-side centroid table ``(schema, rows)`` (key, cv) as the
    ONE-row frame :func:`_assign_cells` broadcasts: column ``cents`` =
    ``array<struct<cell, cv>>``, built through :func:`local_frame`, so
    no job runs to gather the centroids before each use."""
    cell = T.StructType([T.StructField("cell", schema[0].dataType), schema["cv"]])
    return local_frame(
        spark,
        [(list(rows),)],
        T.StructType([T.StructField("cents", T.ArrayType(cell))]),
    )


# argmin over the broadcast ``cents`` array, rendered as ONE SQL
# expression: the same tree through the column API (``transform`` /
# ``zip_with`` / ``aggregate`` with Python lambdas) costs ~60 py4j round
# trips, measured ~0.14 s of driver time per assignment on a 4-core
# host, three assignments per ``kmeans_cells``
_NEAREST_CELL = (
    "array_min(transform(cents, c -> named_struct("
    "'dist', round(aggregate(zip_with(v, c.cv, (x, cc) -> (x - cc) * (x - cc)),"
    " 0.0D, (acc, x) -> acc + x), 6),"
    " 'cell', c.cell))).cell"
)


def _assign_cells(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as a ZERO-SHUFFLE map pass: the
    one-row ``cents`` frame (:func:`_cents_frame`) is broadcast, and
    the argmin is a lexicographic ``array_min`` over
    ``struct(round(dist,6), cell)`` — same deterministic tie-break as a
    (dist, cell) window, with none of its cost.

    The earlier crossJoin+row_number form pushed 10 copies of every
    vector through a vec_id exchange and sorted them; at corpus scale
    assignment must stay embarrassingly parallel — this shape is the
    one the 100 TB path needs (and it is also what makes each Lloyd's
    iteration's cost just one centroid-update groupBy)."""
    return emb.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", F.expr(_NEAREST_CELL).alias("cell")
    )


def kmeans_cells(t: dict[str, DataFrame]) -> DataFrame:
    """Train the IVF coarse quantizer instead of assuming it: Lloyd's
    algorithm with a fixed iteration budget, every step declarative.

    Seeds are the per-label centroids (deterministic, shared with the
    oracle); each iteration is (1) a positional-avg centroid update in
    long form, ``(cell, pos) → avg`` (:func:`vector_means`, the oracle's
    own ``update`` shape) and (2) broadcast re-assignment.

    Lineage control: each round's centroid table (k × DIM doubles) is
    collected to the DRIVER and re-enters the next round's plan as a
    local relation, so iteration i's plan reads (embeddings scan ×
    in-plan centroids) instead of embedding iteration i−1's whole
    assignment subtree — without this the composed plan grows
    exponentially with the iteration budget (Spark ML's KMeans
    truncates the same loop the same way).

    ``ann_topk_ivf`` consumes a pretrained quantizer; this is its
    trainer — together they close the IVF index lifecycle.

    As the declared PRODUCER query it always trains fresh
    (``_kmeans_train_uncached``), never consulting ``_KMEANS_MEMO``:
    its bench row must measure Lloyd training, not a memo lookup.
    Consumers share the trained model via :func:`kmeans_model`.
    """
    emb = fan_out(t["embeddings"]).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    schema, rows = _kmeans_train_uncached(t)
    cents = _cents_frame(emb.sparkSession, schema, rows)
    return _assign_cells(emb, cents).select("vec_id", "cell")


def kmeans_model(t: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """(assignment, trained centroids) — :func:`kmeans_cells` plus the
    final Lloyd centroid table, so a consumer can FREEZE the quantizer
    (e.g. ``streaming.stream_semdedup`` assigns streamed vectors with
    exactly the centroids the batch trainer converged to).

    The TRAINED centroid table memoizes per embeddings frame as plain
    collected rows (the ``_kcenter_centers`` discipline — k × DIM
    doubles, kilobytes at any corpus size, no checkpoint blocks to
    release): ~10 registry queries consume the same quantizer
    (purity/silhouette/balance diagnostics, semdedup and its gates,
    D4, cluster_sample), and retraining the identical Lloyd loop per
    consumer was 2 full corpus passes each that the frozen-model
    artifact makes one map-side assignment instead.  Assignment is
    recomputed from the memoized centroids on every call — a
    deterministic zero-shuffle map pass — so the output is
    bit-identical to training in-line."""
    emb_raw = fan_out(t["embeddings"])
    emb = emb_raw.select("vec_id", to_double_array("embedding").alias("v"))
    spark = emb.sparkSession
    schema, rows = _kmeans_cent_rows(t)
    assign = _assign_cells(emb, _cents_frame(spark, schema, rows))
    return assign.select("vec_id", "cell"), local_frame(spark, rows, schema)


_KMEANS_MEMO: "_OrderedDict[int, tuple[DataFrame, tuple]]" = _OrderedDict()


def _kmeans_cent_rows(t: dict[str, DataFrame]):
    """(schema, rows) of the trained Lloyd centroid table, memoized
    identity-keyed on the loader-memoized embeddings frame; the
    iteration budget and dimensionality ride the key so a runtime
    override can never serve a model trained under the old values."""
    key = t["embeddings"]
    k = (id(key), KMEANS_ITER, DIM)
    hit = _KMEANS_MEMO.get(k)
    if hit is not None:
        count_memo(True)
        _KMEANS_MEMO.move_to_end(k)
        return hit[1]
    count_memo(False)
    out = _kmeans_train_uncached(t)
    _KMEANS_MEMO[k] = (key, out)
    while len(_KMEANS_MEMO) > 4:
        _KMEANS_MEMO.popitem(last=False)
    return out


def _kmeans_train_uncached(t: dict[str, DataFrame]):
    """Run the Lloyd loop and return the final centroid table as
    ``(schema, rows)``: (cell, cv) rows sorted by cell.

    Lineage control: each round's centroid table lands on the DRIVER
    (:func:`vector_means` collects it) and the next round broadcasts it
    back as a local relation (:func:`_cents_frame`) — no executor
    storage blocks to leak between bench repeats (the r12 within-sweep
    storage-growth pathology), no Python worker, and every round's
    aggregate stays inside whole-stage codegen."""
    emb = fan_out(t["embeddings"]).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    spark = emb.sparkSession
    schema, rows = _label_centroid_rows(t)
    schema = T.StructType([T.StructField("cell", schema[0].dataType), schema["cv"]])
    for _ in range(KMEANS_ITER):
        assign = _assign_cells(emb, _cents_frame(spark, schema, rows))
        schema, rows = vector_means(assign, "cell", "v", DIM)
    return schema, rows


def _kmeans_oracle() -> str:
    return (
        "WITH "
        + _kmeans_parts()
        + f"\nSELECT vec_id, cell FROM assign{KMEANS_ITER}"
    )


def _kmeans_parts() -> str:
    """The Lloyd's-loop CTE chain (e / cent0..centN / assign0..assignN)
    shared by every oracle that consumes the trained quantizer —
    ``kmeans_cells`` itself plus the clustering diagnostics
    (:func:`cluster_purity`, :func:`silhouette_simplified`), so the
    trainer replays bit-identically everywhere."""
    assign = """
    SELECT vec_id, cell FROM (
        SELECT d.vec_id, d.cell,
               row_number() OVER (
                   PARTITION BY d.vec_id ORDER BY d.dist, d.cell
               ) AS rn
        FROM (
            SELECT e.vec_id, c.cell,
                   round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
            FROM e JOIN {cent} c ON e.pos = c.pos
            GROUP BY 1, 2
        ) d
    ) WHERE rn = 1
"""
    update = """
    SELECT a.cell, e.pos, avg(e.x) AS c
    FROM e JOIN {assign} a ON e.vec_id = a.vec_id
    GROUP BY 1, 2
"""
    parts = [
        """e AS (
    SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
cent0 AS (SELECT label AS cell, pos, avg(x) AS c FROM e GROUP BY 1, 2),
assign0 AS (""" + assign.format(cent="cent0") + ")"
    ]
    for i in range(KMEANS_ITER):
        parts.append(f"cent{i + 1} AS ({update.format(assign=f'assign{i}')})")
        parts.append(
            f"assign{i + 1} AS ({assign.format(cent=f'cent{i + 1}')})"
        )
    return ",\n".join(parts)


KMEANS_CELLS_ORACLE = _kmeans_oracle()


def cluster_purity(t: dict[str, DataFrame]) -> DataFrame:
    """Per-cell label purity of the trained coarse quantizer — the
    external-validation diagnostic (purity, Manning/Raghavan/Schütze
    IR ch.16) read next to :func:`ivf_cell_balance`: balance says the
    cells are USABLE (even occupancy), purity says they are
    MEANINGFUL (a cell concentrates one label).  A pure, balanced
    quantizer is what makes per-cell operations (semdedup pruning, D4
    diversification, IVF probing) semantically safe; purity collapsing
    toward 1/|labels| means the embedding space ignores the label.

    Integer-exact by construction: every output is a ratio of counts
    (no logs, no distance sums), so both engines agree bit-for-bit.

    Scale shape: the trainer's assignment (one broadcast-centroid map
    pass per Lloyd round) plus ONE (cell, label) aggregation —
    |cells| × |labels| rows into the final rollup, constant-size
    output at any corpus size.
    """
    cells = kmeans_cells(t)
    lab = fan_out(t["embeddings"]).select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    per = (
        cells.join(lab, "vec_id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # majority label via struct max: highest count, tie → lowest label
    return (
        per.groupBy("cell")
        .agg(
            F.sum("c").cast("long").alias("n_vecs"),
            F.count(F.lit(1)).cast("long").alias("n_labels"),
            F.max(
                F.struct(F.col("c"), (-F.col("label")).alias("neg"))
            ).alias("m"),
        )
        .select(
            "cell",
            "n_vecs",
            "n_labels",
            (-F.col("m.neg")).cast("long").alias("top_label"),
            F.round(F.col("m.c") / F.col("n_vecs"), 6).alias("purity"),
        )
    )


CLUSTER_PURITY_ORACLE = f"""
WITH {_kmeans_parts()},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
per AS (
    SELECT a.cell, l.label, count(*) AS c
    FROM assign{KMEANS_ITER} a JOIN lab l ON a.vec_id = l.vec_id
    GROUP BY 1, 2
),
maj AS (
    SELECT cell, c, label,
           row_number() OVER (
               PARTITION BY cell ORDER BY c DESC, label
           ) AS rn
    FROM per
),
n AS (
    SELECT cell, CAST(sum(c) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_labels
    FROM per GROUP BY 1
)
SELECT n.cell, n.n_vecs, n.n_labels,
       CAST(m.label AS BIGINT) AS top_label,
       round(m.c / n.n_vecs, 6) AS purity
FROM n JOIN maj m ON m.cell = n.cell AND m.rn = 1
"""


def silhouette_simplified(t: dict[str, DataFrame]) -> DataFrame:
    """Per-cell SIMPLIFIED silhouette of the trained quantizer
    (Vendramin, Campello & Hruschka 2010's centroid-based variant of
    Rousseeuw 1987): for every vector, a = distance to its own
    centroid, b = distance to the nearest OTHER centroid,
    s = (b − a) / max(a, b) — the internal-validation companion to
    :func:`cluster_purity` (purity needs labels; silhouette judges
    the geometry alone).  Mean s per cell near 0 means the cell's
    members sit as close to a neighboring centroid as their own —
    exactly the cells whose IVF probes must widen and whose semdedup
    prunes are risky.

    The full silhouette is O(N²) pairwise; the simplified form is the
    one a 100 TB corpus can afford — one broadcast-centroid scan
    (k unrolled codegen distances per row), zero pairwise work, one
    per-cell rollup.  Distances round at 6 before the ratio and the
    per-cell mean sums rounded terms as exact DECIMAL, so the one
    table is order-independent across engines.
    """
    assign, cent = kmeans_model(t)
    emb = fan_out(t["embeddings"]).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    dists = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "cell",
            F.round(F.sqrt(sqdist_unrolled(F.col("v"), F.col("cv"), DIM)), 6).alias(
                "dist"
            ),
        )
    )
    ab = (
        dists.join(assign.withColumnRenamed("cell", "own"), "vec_id")
        .groupBy("vec_id", "own")
        .agg(
            F.max(F.when(F.col("cell") == F.col("own"), F.col("dist"))).alias("a"),
            F.min(F.when(F.col("cell") != F.col("own"), F.col("dist"))).alias("b"),
        )
    )
    s = ab.select(
        F.col("own").alias("cell"),
        F.when(F.greatest("a", "b") <= 0.0, F.lit(0.0))
        .otherwise(
            F.round((F.col("b") - F.col("a")) / F.greatest("a", "b"), 6)
        )
        .alias("s"),
    )
    return (
        s.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.round(
                F.sum(F.col("s").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_s"),
            F.round(F.min("s"), 6).alias("min_s"),
            F.round(F.max("s"), 6).alias("max_s"),
        )
    )


SILHOUETTE_SIMPLIFIED_ORACLE = f"""
WITH {_kmeans_parts()},
dists AS (
    SELECT e.vec_id, c.cell,
           round(sqrt(sum((e.x - c.c) * (e.x - c.c))), 6) AS dist
    FROM e JOIN cent{KMEANS_ITER} c ON e.pos = c.pos
    GROUP BY 1, 2
),
ab AS (
    SELECT d.vec_id, a.cell AS own,
           max(CASE WHEN d.cell = a.cell THEN d.dist END) AS a,
           min(CASE WHEN d.cell != a.cell THEN d.dist END) AS b
    FROM dists d JOIN assign{KMEANS_ITER} a ON d.vec_id = a.vec_id
    GROUP BY 1, 2
),
s AS (
    SELECT own AS cell,
           CASE WHEN greatest(a, b) <= 0.0 THEN 0.0
                ELSE round((b - a) / greatest(a, b), 6) END AS s
    FROM ab
)
SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
           AS mean_s,
       round(min(s), 6) AS min_s,
       round(max(s), 6) AS max_s
FROM s
GROUP BY 1
"""


# --- Arrow-vectorized brute force (the 100 TB scan path) -------------------


def ann_topk_vectorized(t: dict[str, DataFrame]) -> DataFrame:
    """Brute-force top-k with the scan math in numpy.

    Same contract as ``ann_topk_bruteforce`` over a CAPPED query list,
    different physical strategy: the bounded query set is collected
    once into a numpy matrix shipped to every task; the corpus streams
    through ``mapInPandas`` in Arrow batches and each batch is one BLAS
    matrix-multiply against all queries. Each batch pre-selects its own
    top-k per query (a superset of the global top-k), so the shuffle
    into the final ``row_number`` carries k·batches rows per query, not
    |corpus|. This is the shape that wins at 100 TB: no per-row
    expression evaluation, no Python loop, shuffle bounded by k.

    Driver-memory bound: the collect is a ``TakeOrderedAndProject`` of
    the corpus-derived cap's lowest-id queries (:func:`_ann_qcap`) —
    the driver and every task closure hold ≤ cap × DIM doubles (~2 MB
    worst case) REGARDLESS of corpus size, where the old unbounded
    ``% QUERY_MOD`` subset grew as N/100.  The oracle applies the
    identical cut, so the capped list is the operator's contract, not
    an approximation.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = fan_out(t["embeddings"]).select("vec_id", "embedding")
    qcap = _ann_qcap(t)
    q_rows = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(qcap)
        .collect()
    )
    assert len(q_rows) <= qcap
    q_ids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            c = np.array(list(pdf["embedding"]), dtype=np.float64)
            c_norm = np.sqrt((c * c).sum(axis=1))
            cos = np.round((c @ q_mat.T) / np.outer(c_norm, q_norm), 6)
            parts = []
            for j, qid in enumerate(q_ids):
                col = cos[:, j]
                mask = ids != qid
                # per-batch top-k superset: k best by (cosine desc, id asc)
                order = np.lexsort((ids[mask], -col[mask]))[:TOP_K]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "cand_id": ids[mask][order],
                            "cosine": col[mask][order],
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    scored = emb.mapInPandas(score, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "cand_id", "cosine")
    )


# identical contract: the brute-force oracle itself now carries the
# capped query list (the bounded-query contract is module-wide), so the
# two physical strategies share one oracle verbatim
ANN_TOPK_VECTORIZED_ORACLE = ANN_TOPK_BRUTEFORCE_ORACLE
assert "qrn <=" in ANN_TOPK_VECTORIZED_ORACLE  # the cap is really in place


# --- IVF (coarse-quantizer cells from the label column) -------------------

N_PROBE_K = 10


def _centroids(emb_raw: DataFrame):
    """Per-label centroid vectors (the label column acts as the
    pre-trained coarse quantizer a production IVF index would load), as
    driver rows ``(schema, rows)``: (label, cv) sorted by label.

    Long-form ``(label, pos) → avg`` (:func:`vector_means`): the wide
    form, DIM positional ``avg`` states in one aggregate, carries 1 key
    + 2·DIM buffer fields — past ``spark.sql.codegen.maxFields`` (100),
    so its ``HashAggregate`` ran outside whole-stage codegen (503 ms of
    task time, 370 ms CPU, for 500 rows on a 4-core host)."""
    emb = emb_raw.select("label", to_double_array("embedding").alias("v"))
    return vector_means(emb, "label", "v", DIM)


_LCENT_MEMO: "_OrderedDict[int, tuple[DataFrame, tuple]]" = _OrderedDict()


def _label_centroid_rows(t: dict[str, DataFrame]):
    """:func:`_centroids` memoized per embeddings frame as plain
    collected rows (k × DIM doubles — the "pre-trained coarse quantizer
    a production IVF index would LOAD"): six index ops consume the
    identical table and each previously re-ran the corpus aggregation
    to rebuild it.  DIM rides the key (the seed table is per-dimension
    positional averages)."""
    key = t["embeddings"]
    k = (id(key), DIM)
    hit = _LCENT_MEMO.get(k)
    if hit is not None:
        count_memo(True)
        _LCENT_MEMO.move_to_end(k)
        return hit[1]
    count_memo(False)
    out = _centroids(fan_out(key))
    _LCENT_MEMO[k] = (key, out)
    while len(_LCENT_MEMO) > 4:
        _LCENT_MEMO.popitem(last=False)
    return out


def _label_centroids(t: dict[str, DataFrame]) -> DataFrame:
    """:func:`_label_centroid_rows` as a (label, cv) local relation."""
    schema, rows = _label_centroid_rows(t)
    return local_frame(t["embeddings"].sparkSession, rows, schema)


def ann_topk_ivf(t: dict[str, DataFrame]) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest centroid cell
    (euclidean, deterministic tie-break on label), then top-k by cosine
    within the query's cell only.

    Scale shape: centroid table is tiny and broadcast; assignment is a
    true zero-shuffle map pass (``_assign_cells``: in-plan centroid
    array + lexicographic ``array_min`` argmin — no vec_id exchange, no
    10x row inflation); candidate generation is a co-partitioned
    equi-join on cell id — identical skeleton to the LSH path,
    different quantizer.
    """
    emb_raw = fan_out(t["embeddings"])
    emb = emb_raw.select("vec_id", to_double_array("embedding").alias("v"))
    cents = _cents_frame(emb.sparkSession, *_label_centroid_rows(t))
    cells = _assign_cells(emb, cents).withColumn("nrm", norm_unrolled(F.col("v"), DIM))

    # bounded-query contract: cap the broadcast side to the
    # corpus-derived lowest-id query set (oracle mirrors the cut)
    q = (
        cells.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(_ann_qcap(t))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("cell").alias("qcell"),
        )
    )
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")), 6
    ).alias("cosine")
    scored = (
        cells.join(F.broadcast(q), cells["cell"] == q["qcell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= N_PROBE_K)
        .select(
            "query_id", F.col("rank").cast("long").alias("rank"), "cand_id", "cosine"
        )
    )


# --- product quantization (the PQ half of IVF-PQ) --------------------------

PQ_M = 4  # subspaces
PQ_SUB = DIM // PQ_M  # dims per subspace
# integer ADC map keys: m * STRIDE + label — collision-free while the
# coarse label space stays below the stride (labels are small ints in
# every corpus here; a 100 TB deploy with >1e6 coarse cells raises it)
_PQ_KEY_STRIDE = 1_000_000


def pq_codes(t: dict[str, DataFrame]) -> DataFrame:
    """Product-quantization codes (Jégou et al. 2011, "Product
    quantization for nearest neighbor search"): split each vector into
    ``PQ_M`` subspaces, assign every subvector to its nearest
    per-subspace centroid (trained from the label groups, like the IVF
    coarse quantizer), and emit the code word plus the reconstruction
    error ADC distances build on.

    Scale shape: the codebook (M × K subvector centroids) is tiny and
    **broadcasts**; subspace slicing and distance sums are map-side
    ``zip_with`` expressions; the ONLY shuffle is the final
    groupBy(vec_id), and its conditional struct-min aggregates
    partial-combine map-side. This is the pass that turns a petabyte of
    float32 vectors into a 16-byte-per-vector index at 100 TB.
    """
    emb_raw = fan_out(t["embeddings"])
    cent = _label_centroids(t)
    sub_c = cent.select(
        "label",
        F.posexplode(
            F.array(*[F.slice("cv", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
        ).alias("m", "csub"),
    )
    emb = emb_raw.select("vec_id", to_double_array("embedding").alias("v"))
    sub_v = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("v", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
        ).alias("m", "vsub"),
    )
    # unrolled subvector distance: the HOF fold evaluates interpreted
    # per (vec, subspace, codeword) row — N·M·K of them — while the
    # flat sum compiles into whole-stage codegen; addition order is the
    # same left-associated index walk, so results are bit-identical
    dist = F.round(
        sqdist_unrolled(F.col("vsub"), F.col("csub"), PQ_SUB), 6
    ).alias("dist")
    scored = sub_v.join(F.broadcast(sub_c), "m").select("vec_id", "m", "label", dist)
    # argmin per subspace as a lexicographic struct-min (ties break on
    # label) — an aggregate, not a window, so hot keys partial-combine.
    picks = [
        F.min(F.when(F.col("m") == m, F.struct("dist", "label"))).alias(f"b{m}")
        for m in range(PQ_M)
    ]
    agg = scored.groupBy("vec_id").agg(*picks)
    recon = F.round(
        F.sqrt(sum(F.col(f"b{m}.dist") for m in range(PQ_M))), 6
    ).alias("recon_err")
    return agg.select(
        "vec_id",
        *[F.col(f"b{m}.label").cast("long").alias(f"code_{m}") for m in range(PQ_M)],
        recon,
    )


_PQ_CODE_COLS = ",\n       ".join(
    f"CAST(max(CASE WHEN m = {m} THEN c_label END) AS BIGINT) AS code_{m}"
    for m in range(PQ_M)
)

PQ_CODES_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
cent AS (
    SELECT label AS c_label, pos, avg(x) AS c
    FROM e
    GROUP BY 1, 2
),
d AS (
    SELECT e.vec_id, (e.pos - 1) // {PQ_SUB} AS m, c.c_label,
           round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
    FROM e JOIN cent c ON e.pos = c.pos
    GROUP BY 1, 2, 3
),
best AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, m ORDER BY dist, c_label
        ) AS rn
        FROM d
    )
    WHERE rn = 1
)
SELECT vec_id,
       {_PQ_CODE_COLS},
       round(sqrt(sum(dist)), 6) AS recon_err
FROM best
GROUP BY 1
"""


ANN_TOPK_IVF_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
centroids AS (
    SELECT label AS c_label, pos, avg(x) AS c
    FROM e
    GROUP BY 1, 2
),
dists AS (
    SELECT e.vec_id, c.c_label,
           round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
    FROM e JOIN centroids c ON e.pos = c.pos
    GROUP BY 1, 2
),
cells AS (
    SELECT vec_id, c_label AS cell
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist, c_label
        ) AS rn
        FROM dists
    )
    WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, cell FROM cells
      WHERE vec_id IN ({_QCAP_SQL})),
cand AS (
    SELECT q.query_id, s.vec_id AS cand_id
    FROM q JOIN cells s ON q.cell = s.cell AND s.vec_id != q.query_id
),
scored AS (
    SELECT c.query_id, c.cand_id,
           round(sum(a.x * b.x) / (na.nrm * nb.nrm), 6) AS cosine
    FROM cand c
    JOIN e a ON a.vec_id = c.query_id
    JOIN e b ON b.vec_id = c.cand_id AND a.pos = b.pos
    JOIN norms na ON na.vec_id = c.query_id
    JOIN norms nb ON nb.vec_id = c.cand_id
    GROUP BY 1, 2, na.nrm, nb.nrm
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, cosine
FROM ranked
WHERE rank <= {N_PROBE_K}
"""


# --- IVF-PQ: the composed production index ---------------------------------

N_PROBE = 2  # coarse cells probed per query


def ann_topk_ivfpq(t: dict[str, DataFrame]) -> DataFrame:
    """The composed two-level production index (Jégou et al. 2011 §IV,
    IVFADC; FAISS "IVF,PQ" with by_residual=false): the coarse
    quantizer restricts the SCAN — each query probes its ``N_PROBE``
    nearest cells and only their members become candidates — and
    product quantization compresses the SCORING — candidates rank by
    ADC table lookup over their PQ codes, never by touching raw
    floats.  :func:`ann_topk_ivf` and :func:`ann_topk_pq` are the two
    halves; this is how they actually ship together: at 100 TB the
    query-time cost is (n_probe/n_cells) of the corpus in 16-byte
    codes.

    Scale shape: the centroid table is tiny (broadcast twice — once as
    the coarse probe table, once sliced into the PQ sub-codebooks);
    cell assignment is the zero-shuffle ``_assign_cells`` map; the
    probe list is |queries|×N_PROBE rows and broadcasts into the
    candidate equi-join on cell id; ADC contributions sum as exact
    DECIMAL so the M-term addition is order-independent across
    engines; per-query top-k is a WindowGroupLimit-prunable rank.
    """
    emb_raw = fan_out(t["embeddings"])
    emb = emb_raw.select("vec_id", to_double_array("embedding").alias("v"))
    spark = emb.sparkSession
    schema, rows = _label_centroid_rows(t)
    cent = local_frame(spark, rows, schema)
    cells = _assign_cells(emb, _cents_frame(spark, schema, rows)).select(
        "vec_id", "cell"
    )

    # probe list: each query's N_PROBE nearest coarse centroids (same
    # rounded euclidean + label tie-break as assignment, so probe
    # rank 1 IS the query's own cell)
    cdist = F.round(
        F.aggregate(
            F.zip_with("v", "cv", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    # bounded-query contract: one capped id list bounds BOTH
    # query-derived broadcasts below (the probe list and the ADC
    # tables); oracle mirrors the cut in its probe and qtab CTEs
    qids = _qcap_ids(emb, _ann_qcap(t))
    qd = (
        emb.join(F.broadcast(qids), "vec_id")
        .crossJoin(F.broadcast(cent.select(F.col("label").alias("cell"), "cv")))
        .select(
            F.col("vec_id").alias("query_id"), "cell", cdist.alias("cdist")
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("cdist"), F.col("cell"))
    probed = (
        qd.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "cell")
    )
    cand = (
        cells.join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )

    # PQ codes + per-query ADC tables (identical math to ann_topk_pq)
    sub_c = cent.select(
        "label",
        F.posexplode(
            F.array(*[F.slice("cv", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
        ).alias("m", "csub"),
    )
    sub_v = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("v", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
        ).alias("m", "vsub"),
    )
    # unrolled subvector distance (see ann_topk_pq): same addition
    # order as the HOF fold, whole-stage codegen instead of interpreted
    sdist = F.round(
        sqdist_unrolled(F.col("vsub"), F.col("csub"), PQ_SUB), 6
    ).alias("dist")
    scored = sub_v.join(F.broadcast(sub_c), "m").select(
        "vec_id", "m", "label", sdist
    )
    codes = (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.struct("dist", "label")).alias("b"))
        .select("vec_id", "m", F.col("b.label").alias("code"))
    )
    qtab = scored.join(F.broadcast(qids), "vec_id").select(
        F.col("vec_id").alias("qq"),
        F.col("m").alias("qm"),
        F.col("label").alias("qlabel"),
        F.col("dist").cast("decimal(18,6)").alias("qdist"),
    )
    adc = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(qtab),
            (F.col("query_id") == F.col("qq"))
            & (F.col("m") == F.col("qm"))
            & (F.col("code") == F.col("qlabel")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.round(F.sqrt(F.sum("qdist").cast("double")), 6).alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("vec_id").alias("cand_id"),
            "adc",
        )
    )


ANN_TOPK_IVFPQ_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
cent AS (
    SELECT label AS c_label, pos, avg(x) AS c
    FROM e
    GROUP BY 1, 2
),
coarse AS (
    SELECT e.vec_id, c.c_label,
           round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
    FROM e JOIN cent c ON e.pos = c.pos
    GROUP BY 1, 2
),
cells AS (
    SELECT vec_id, c_label AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist, c_label
        ) AS rn
        FROM coarse
    )
    WHERE rn = 1
),
probe AS (
    SELECT vec_id AS query_id, c_label AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist, c_label
        ) AS rn
        FROM coarse WHERE vec_id IN ({_QCAP_SQL})
    )
    WHERE rn <= {N_PROBE}
),
cand AS (
    SELECT p.query_id, s.vec_id
    FROM probe p JOIN cells s ON p.cell = s.cell
                             AND s.vec_id != p.query_id
),
d AS (
    SELECT e.vec_id, (e.pos - 1) // {PQ_SUB} AS m, c.c_label,
           round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
    FROM e JOIN cent c ON e.pos = c.pos
    GROUP BY 1, 2, 3
),
codes AS (
    SELECT vec_id, m, c_label AS code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, m ORDER BY dist, c_label
        ) AS rn
        FROM d
    )
    WHERE rn = 1
),
qtab AS (
    SELECT vec_id AS qq, m, c_label AS qlabel,
           CAST(dist AS DECIMAL(18,6)) AS qdist
    FROM d WHERE vec_id IN ({_QCAP_SQL})
),
adc AS (
    SELECT c.query_id, c.vec_id,
           round(sqrt(CAST(sum(q.qdist) AS DOUBLE)), 6) AS adc
    FROM cand c
    JOIN codes k ON k.vec_id = c.vec_id
    JOIN qtab q ON q.qq = c.query_id AND q.m = k.m AND q.qlabel = k.code
    GROUP BY 1, 2
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, adc FROM (
    SELECT query_id, vec_id AS cand_id, adc,
           row_number() OVER (
               PARTITION BY query_id ORDER BY adc, vec_id
           ) AS rank
    FROM adc
)
WHERE rank <= {TOP_K}
"""


# --- IVF-PQ with residual encoding (the faithful IVFADC) --------------------

# Residual sub-codebook entries per subspace.  MEASURED against the
# ivfpq gates (sf0.001/0.01/0.1): K=8 loses to the raw-vector form at
# sf0.01 (0.10 vs 0.22); K=32 beats it at every probed scale (0.18 vs
# 0.08, 0.26 vs 0.22, 0.095 vs 0.02) — residual encoding needs enough
# entries to resolve the finer structure it exposes (FAISS defaults to
# 256).  The ADC table stays bounded: cap × N_PROBE × M × K rows.
RPQ_K = 32


def _rpq_sdist() -> "F.Column":
    """Rounded residual-subvector squared distance — the shared
    argmin/ADC metric of the residual pipeline.  Unrolled to a flat
    PQ_SUB-term codegen expression (``sqdist_unrolled`` — left-
    associated from 0.0, bit-identical to the interpreted
    ``zip_with``/``aggregate`` fold it replaces): the residual family
    scores N·M·K candidate rows with this metric per codebook pass,
    and the fold ran row-at-a-time in the interpreter while the
    non-residual PQ path already compiled (guide §4.1 — built-ins
    with codegen over HOFs on hot paths)."""
    return F.round(
        sqdist_unrolled(F.col("rsub"), F.col("csub"), PQ_SUB), 6
    ).alias("dist")


def _rpq_shared(t: dict[str, DataFrame]):
    """The (n_probe, rpq_k)-INDEPENDENT half of the residual pipeline:
    (emb, cent, cells, rsub) — coarse assignment and residual slicing.
    :func:`ivfpq_design_table` computes this once and shares it across
    every grid leg."""
    emb_raw = fan_out(t["embeddings"])
    emb = emb_raw.select("vec_id", to_double_array("embedding").alias("v"))
    spark = emb.sparkSession
    schema, rows = _label_centroid_rows(t)
    cent = local_frame(spark, rows, schema).select(F.col("label").alias("cell"), "cv")
    cells = _assign_cells(emb, _cents_frame(spark, schema, rows))  # (vec_id, v, cell)
    rsub = (
        cells.join(F.broadcast(cent), "cell")
        .select(
            "vec_id",
            F.zip_with("v", "cv", lambda x, c: x - c).alias("r"),
        )
        .select(
            "vec_id",
            F.posexplode(
                F.array(
                    *[F.slice("r", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
                )
            ).alias("m", "rsub"),
        )
    )
    return emb, cent, cells, rsub


def _rpq_codebook(rsub: DataFrame, rpq_k: int) -> tuple[DataFrame, DataFrame]:
    """Train the size-``rpq_k`` residual sub-codebooks (sampled-partition
    seeds + one Lloyd update) and assign final codes → (cb1, codes)."""

    def _cb_avg(frame: DataFrame, keys: list[str]) -> DataFrame:
        return frame.groupBy(*keys).agg(
            F.array(
                *[F.avg(F.element_at("rsub", i)) for i in range(1, PQ_SUB + 1)]
            ).alias("csub")
        )

    sdist = _rpq_sdist()

    def _assign_codes(frame: DataFrame, cb: DataFrame) -> DataFrame:
        scored = frame.join(F.broadcast(cb), "m").select(
            "vec_id", "m", "k", "rsub", sdist
        )
        return (
            scored.groupBy("vec_id", "m")
            .agg(
                F.min(F.struct("dist", "k")).alias("b"),
                F.first("rsub").alias("rsub"),  # constant within the group
            )
            .select("vec_id", "m", F.col("b.k").alias("k"), "rsub")
        )

    cb0 = _cb_avg(
        rsub.withColumn("k", (F.col("vec_id") % rpq_k).cast("int")), ["m", "k"]
    ).localCheckpoint(eager=False)
    a0 = _assign_codes(rsub, cb0)
    cb1 = _cb_avg(a0, ["m", "k"]).localCheckpoint(eager=False)
    codes = _assign_codes(rsub, cb1).select(
        "vec_id", "m", F.col("k").alias("code")
    )
    return cb1, codes


def _rpq_adc(
    emb: DataFrame,
    cent: DataFrame,
    cells: DataFrame,
    cb1: DataFrame,
    codes: DataFrame,
    n_probe: int,
    qcap: int,
) -> DataFrame:
    """Scored ADC candidates of the residual pipeline: probe
    ``n_probe`` coarse cells, rebuild the per-(query, cell) residual
    ADC table against ``cb1``, score the probed cells' codes.  Each
    row carries ``prn`` — the probe rank of the candidate's cell for
    that query — so ``filter(prn <= p)`` for any ``p <= n_probe``
    yields EXACTLY the p-probe candidate set (every candidate lives in
    one cell, and a cell's ADC contribution is independent of which
    other cells were probed): :func:`ivfpq_design_table` scores the
    max-probe superset once per codebook and derives every smaller
    probe budget by the filter instead of re-running this chain."""
    qids = _qcap_ids(emb, qcap)
    cdist = F.round(
        F.aggregate(
            F.zip_with("v", "cv", lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    qd = (
        emb.join(F.broadcast(qids), "vec_id")
        .crossJoin(F.broadcast(cent))
        .select(
            F.col("vec_id").alias("query_id"),
            "cell",
            cdist.alias("cdist"),
            F.zip_with("v", "cv", lambda x, c: x - c).alias("qr"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("cdist"), F.col("cell"))
    probed = (
        qd.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "cell", "qr", "rn")
    )
    qrsub = probed.select(
        "query_id",
        "cell",
        "rn",
        F.posexplode(
            F.array(*[F.slice("qr", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
        ).alias("m", "rsub"),
    )
    qtab = qrsub.join(F.broadcast(cb1), "m").select(
        F.col("query_id").alias("qq"),
        F.col("cell").alias("qcell"),
        F.col("rn").alias("qrn"),
        F.col("m").alias("qm"),
        F.col("k").alias("qk"),
        _rpq_sdist().cast("decimal(18,6)").alias("qdist"),
    )

    cand = (
        cells.select("vec_id", "cell")
        .join(F.broadcast(probed.select("query_id", "cell")), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "cell", "vec_id")
    )
    return (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(qtab),
            (F.col("query_id") == F.col("qq"))
            & (F.col("cell") == F.col("qcell"))
            & (F.col("m") == F.col("qm"))
            & (F.col("code") == F.col("qk")),
        )
        .groupBy("query_id", "vec_id")
        .agg(
            F.round(F.sqrt(F.sum("qdist").cast("double")), 6).alias("adc"),
            # the candidate's cell has ONE probe rank per query
            F.min("qrn").alias("prn"),
        )
    )


def _rpq_rank(adc: DataFrame) -> DataFrame:
    """Rank an ADC candidate frame to the top-k output contract."""
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("vec_id").alias("cand_id"),
            "adc",
        )
    )


def _rpq_topk(
    emb: DataFrame,
    cent: DataFrame,
    cells: DataFrame,
    cb1: DataFrame,
    codes: DataFrame,
    n_probe: int,
    qcap: int,
) -> DataFrame:
    """Query side of the residual pipeline: probe ``n_probe`` coarse
    cells, score their codes (:func:`_rpq_adc`), rank top-k."""
    return _rpq_rank(_rpq_adc(emb, cent, cells, cb1, codes, n_probe, qcap))


def ann_topk_ivfpq_residual(
    t: dict[str, DataFrame],
    n_probe: int | None = None,
    rpq_k: int | None = None,
) -> DataFrame:
    """IVFADC with ``by_residual=true`` — the exact composition of
    Jégou et al. 2011 §IV-A (and the FAISS "IVF,PQ" default): instead
    of quantizing raw vectors, each vector's RESIDUAL against its
    coarse centroid (``r = v − μ_cell(v)``) is product-quantized, and a
    query's ADC table is rebuilt PER PROBED CELL from the query's
    residual against that cell's centroid.  Residuals concentrate the
    energy the coarse quantizer already explained, so the same code
    budget spends its precision on what the cell does not know — the
    reason production IVF indexes default to residual encoding.

    The residual sub-codebooks are TRAINED here (they cannot be label
    centroids — residuals of a cell against its own centroid average
    to ~0): seeds are per-(subspace, ``vec_id % rpq_k``) residual
    means (a deterministic sampled partition), refined by one Lloyd
    update — the ``kmeans_cells`` discipline, replayed bit-exactly by
    the oracle (distances rounded at 6 decimals before every argmin,
    ties to the lowest code id).

    Scale shape: identical skeleton to :func:`ann_topk_ivfpq` — the
    centroid table and the M×K codebook broadcast; residual slicing is
    map-side ``zip_with``/``slice``; codebook training is two keyed
    aggregations over (vec, subspace) rows; the per-(query, cell) ADC
    tables are (cap × n_probe × M × K) rows and broadcast; ADC sums
    are exact DECIMAL.  The extra cost over by_residual=false is one
    broadcast join per scored candidate — the accuracy/cost trade the
    ``ivfpq_residual_recall`` gate measures.

    ``n_probe`` / ``rpq_k`` parameterize the probe budget and residual
    codebook size (defaults: module constants); the body is three
    composable stages (:func:`_rpq_shared` → :func:`_rpq_codebook` →
    :func:`_rpq_topk`) so :func:`ivfpq_design_table` can measure the
    deploy grid sharing the grid-independent stages, with the
    production pipeline itself — never a reimplementation.
    """
    n_probe = n_probe or N_PROBE
    rpq_k = rpq_k or RPQ_K
    emb, cent, cells, rsub = _rpq_shared(t)
    cb1, codes = _rpq_codebook(rsub, rpq_k)
    return _rpq_topk(emb, cent, cells, cb1, codes, n_probe, _ann_qcap(t))


def _ivfpq_residual_oracle(n_probe: int, rpq_k: int) -> str:
    """Oracle for :func:`ann_topk_ivfpq_residual` at an arbitrary
    (n_probe, rpq_k) grid point — the module constant below is the
    production point; :func:`ivfpq_design_table` unions the grid."""
    return f"""
WITH e AS (
    SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
cent AS (
    SELECT label AS c_label, pos, avg(x) AS c
    FROM e
    GROUP BY 1, 2
),
coarse AS (
    SELECT e.vec_id, c.c_label,
           round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
    FROM e JOIN cent c ON e.pos = c.pos
    GROUP BY 1, 2
),
cells AS (
    SELECT vec_id, c_label AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist, c_label
        ) AS rn
        FROM coarse
    )
    WHERE rn = 1
),
r AS (
    SELECT e.vec_id, e.pos, (e.pos - 1) // {PQ_SUB} AS m,
           ((e.pos - 1) % {PQ_SUB}) + 1 AS spos,
           e.x - c.c AS rx
    FROM e
    JOIN cells s ON e.vec_id = s.vec_id
    JOIN cent c ON c.c_label = s.cell AND c.pos = e.pos
),
cb0 AS (
    SELECT m, vec_id % {rpq_k} AS k, spos, avg(rx) AS c
    FROM r GROUP BY 1, 2, 3
),
a0 AS (
    SELECT vec_id, m, k FROM (
        SELECT d.vec_id, d.m, d.k,
               row_number() OVER (
                   PARTITION BY d.vec_id, d.m ORDER BY d.dist, d.k
               ) AS rn
        FROM (
            SELECT r.vec_id, r.m, b.k,
                   round(sum((r.rx - b.c) * (r.rx - b.c)), 6) AS dist
            FROM r JOIN cb0 b ON r.m = b.m AND r.spos = b.spos
            GROUP BY 1, 2, 3
        ) d
    ) WHERE rn = 1
),
cb1 AS (
    SELECT r.m, a.k, r.spos, avg(r.rx) AS c
    FROM r JOIN a0 a ON r.vec_id = a.vec_id AND r.m = a.m
    GROUP BY 1, 2, 3
),
codes AS (
    SELECT vec_id, m, k AS code FROM (
        SELECT d.vec_id, d.m, d.k,
               row_number() OVER (
                   PARTITION BY d.vec_id, d.m ORDER BY d.dist, d.k
               ) AS rn
        FROM (
            SELECT r.vec_id, r.m, b.k,
                   round(sum((r.rx - b.c) * (r.rx - b.c)), 6) AS dist
            FROM r JOIN cb1 b ON r.m = b.m AND r.spos = b.spos
            GROUP BY 1, 2, 3
        ) d
    ) WHERE rn = 1
),
probe AS (
    SELECT vec_id AS query_id, c_label AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist, c_label
        ) AS rn
        FROM coarse WHERE vec_id IN ({_QCAP_SQL})
    )
    WHERE rn <= {n_probe}
),
qr AS (
    SELECT p.query_id, p.cell, e.pos,
           (e.pos - 1) // {PQ_SUB} AS m,
           ((e.pos - 1) % {PQ_SUB}) + 1 AS spos,
           e.x - c.c AS rx
    FROM probe p
    JOIN e ON e.vec_id = p.query_id
    JOIN cent c ON c.c_label = p.cell AND c.pos = e.pos
),
qtab AS (
    SELECT q.query_id, q.cell, q.m, b.k,
           CAST(round(sum((q.rx - b.c) * (q.rx - b.c)), 6)
                AS DECIMAL(18,6)) AS qdist
    FROM qr q JOIN cb1 b ON q.m = b.m AND q.spos = b.spos
    GROUP BY 1, 2, 3, 4
),
cand AS (
    SELECT p.query_id, p.cell, s.vec_id
    FROM probe p JOIN cells s ON p.cell = s.cell
                             AND s.vec_id != p.query_id
),
adc AS (
    SELECT c.query_id, c.vec_id,
           round(sqrt(CAST(sum(q.qdist) AS DOUBLE)), 6) AS adc
    FROM cand c
    JOIN codes k ON k.vec_id = c.vec_id
    JOIN qtab q ON q.query_id = c.query_id AND q.cell = c.cell
               AND q.m = k.m AND q.k = k.code
    GROUP BY 1, 2
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, adc FROM (
    SELECT query_id, vec_id AS cand_id, adc,
           row_number() OVER (
               PARTITION BY query_id ORDER BY adc, vec_id
           ) AS rank
    FROM adc
)
WHERE rank <= {TOP_K}
"""


ANN_TOPK_IVFPQ_RESIDUAL_ORACLE = _ivfpq_residual_oracle(N_PROBE, RPQ_K)


_BF_TRUTH_MEMO: "_OrderedDict[int, tuple[DataFrame, tuple]]" = _OrderedDict()


def _bf_truth(t: dict[str, DataFrame]) -> DataFrame:
    """The brute-force (query_id, cand_id) truth ranking every ANN
    acceptance gate in this module scores against, memoized per
    embeddings frame as plain collected rows (the ``_kcenter_centers``
    / ``_mmr_pool_pairs`` discipline): the truth set is ≤ cap × TOP_K
    id pairs (a k-bounded collect at any corpus size, ~40k rows worst
    case), and SEVEN gates (lsh/pq/sq/ivfpq/residual recalls, the
    recall eval, the MRL gate) plus the design table each re-ran the
    full Q·N brute scan to rebuild the identical artifact.  The
    declared ``ann_topk_bruteforce`` query itself never consults the
    memo — it always computes fresh from the scan.  The key carries
    the EFFECTIVE query cap so a runtime ``ANN_QUERY_CAP`` override
    (monkeypatched or env) can never serve a stale truth set."""
    key = t["embeddings"]
    k = (id(key), _ann_qcap(t))
    hit = _BF_TRUTH_MEMO.get(k)
    if hit is not None:
        count_memo(True)
        _BF_TRUTH_MEMO.move_to_end(k)
        schema, rows = hit[1]
    else:
        count_memo(False)
        truth = ann_topk_bruteforce(t).select("query_id", "cand_id")
        schema, rows = truth.schema, truth.collect()
        _BF_TRUTH_MEMO[k] = (key, (schema, rows))
        while len(_BF_TRUTH_MEMO) > 4:
            _BF_TRUTH_MEMO.popitem(last=False)
    return local_frame(key.sparkSession, rows, schema)


def _recall_one_row(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """(n_truth, n_approx, n_hits, recall) — the shared one-row recall
    reduction behind every ANN acceptance gate in this module.

    The approx side is referenced TWICE (its own count + the hit
    semi-join) and is the gate's whole approximate-index pipeline;
    without a checkpoint Spark evaluates that pipeline once per
    reference (measured: lsh_recall 6.1 s vs ann_topk_lsh 3.6 s in the
    same sweep with the truth side already memoized — the extra cost
    was the second full index build).  localCheckpoint materializes
    the ≤ cap × TOP_K id pairs once; both consumers read the blocks."""
    approx = approx.localCheckpoint(eager=False)
    hits = truth.join(approx, ["query_id", "cand_id"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_approx = approx.agg(F.count(F.lit(1)).cast("long").alias("n_approx"))
    n_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        n_truth.crossJoin(F.broadcast(n_approx))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_truth",
            "n_approx",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 4).alias("recall"),
        )
    )


def lsh_recall(t: dict[str, DataFrame]) -> DataFrame:
    """Recall@k of the hyperplane-LSH index (:func:`ann_topk_lsh`)
    against the brute-force truth — the banding family's forfeit is
    what no random signature separates; with this gate every
    approximate index in the module ships with its loss measured
    (IVF: ``ann_recall_eval``; IVF-PQ: ``ivfpq_recall``; PQ:
    ``pq_recall``; SQ: ``sq_recall``)."""
    return _recall_one_row(
        _bf_truth(t),
        ann_topk_lsh(t).select("query_id", "cand_id"),
    )


def pq_recall(t: dict[str, DataFrame]) -> DataFrame:
    """Recall@k of full-scan PQ ADC ranking (:func:`ann_topk_pq`)
    against the brute-force truth — unlike the blocked indexes this
    gate isolates PURE quantization loss (every candidate is scored,
    only the distance is compressed), so comparing it with
    ``ivfpq_recall`` decomposes the composed index's forfeit into its
    cell-blocking and code-quantization parts."""
    return _recall_one_row(
        _bf_truth(t),
        ann_topk_pq(t).select("query_id", "cand_id"),
    )


def ivfpq_residual_recall(t: dict[str, DataFrame]) -> DataFrame:
    """Recall@k of the residual-encoded IVFADC
    (:func:`ann_topk_ivfpq_residual`) against the brute-force truth —
    the measurement that decides ``by_residual`` before a 100 TB
    re-index: compared with ``ivfpq_recall`` (same cells, same probe
    budget, same code budget, raw-vector codebook) the delta is PURE
    residual-encoding gain, because everything else in the two
    pipelines is held equal."""
    return _recall_one_row(
        _bf_truth(t),
        ann_topk_ivfpq_residual(t).select("query_id", "cand_id"),
    )


# (n_probe, rpq_k) deploy grid for the residual-IVFADC design table:
# spans the production point (N_PROBE=2, RPQ_K=32), the cheap end, and
# the probe budget a low absolute recall (0.095 at sf0.1) forces a
# production tuner to consider.
IVFPQ_GRID = [(np_, k) for np_ in (1, 2, 4) for k in (8, 32)]


def ivfpq_design_table(t: dict[str, DataFrame]) -> DataFrame:
    """The residual-IVFADC deploy-knob design table — the index twin of
    ``dedup.embdup_plane_tuning`` and the measurement that sizes
    (N_PROBE × RPQ_K) before a 100 TB re-index: recall@k of
    :func:`ann_topk_ivfpq_residual` against the capped brute-force
    truth at every grid point, so the production configuration is
    CHOSEN off a measured recall/cost curve rather than defaulted
    (the ``ivfpq_residual_recall`` gate showed the default point's
    absolute recall is honest but LOW — 0.095 at sf0.1 — which is
    exactly when a probe-budget grid is how production IVFADC tunes,
    FAISS's nprobe sweep).

    Scale shape: the truth ranking and the grid-INDEPENDENT pipeline
    stages (coarse assignment + residual slicing, :func:`_rpq_shared`)
    compute ONCE (localCheckpoint) and every leg reuses them; each
    codebook size trains once (:func:`_rpq_codebook`) and its probe
    legs share the codes; every leg is the PRODUCTION pipeline's own
    query stage (:func:`_rpq_topk`) — never a reimplementation — and
    reduces to one recall row, so the output is |grid| rows regardless
    of corpus size.  Recall is monotone nondecreasing in n_probe at
    fixed codebook size (more probed cells only ADD candidates), an
    invariant the test suite pins.
    """
    truth = _bf_truth(t)
    emb, cent, cells, rsub = _rpq_shared(t)
    cells = cells.localCheckpoint(eager=False)
    rsub = rsub.localCheckpoint(eager=False)
    legs = []
    for k in sorted({kk for _, kk in IVFPQ_GRID}):
        cb1, codes = _rpq_codebook(rsub, k)
        codes = codes.localCheckpoint(eager=False)
        probes = sorted({np_ for np_, kk in IVFPQ_GRID if kk == k})
        # score the max-probe candidate superset ONCE per codebook;
        # each smaller probe budget is exactly the prn <= n_probe cut
        # of it (see _rpq_adc) — 3 probe legs share one ADC chain
        # instead of re-running the join/aggregate per leg
        adc = _rpq_adc(
            emb, cent, cells, cb1, codes, max(probes), _ann_qcap(t)
        ).localCheckpoint(eager=False)
        for np_ in probes:
            approx = _rpq_rank(adc.filter(F.col("prn") <= np_)).select(
                "query_id", "cand_id"
            )
            legs.append(
                _recall_one_row(truth, approx).select(
                    F.lit(np_).cast("long").alias("n_probe"),
                    F.lit(k).cast("long").alias("rpq_k"),
                    "n_truth",
                    "n_approx",
                    "n_hits",
                    "recall",
                )
            )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _ivfpq_design_oracle() -> str:
    ctes = [f"bf AS ({ANN_TOPK_BRUTEFORCE_ORACLE})"]
    sel = []
    for i, (np_, k) in enumerate(IVFPQ_GRID):
        ctes.append(f"ap_{i} AS ({_ivfpq_residual_oracle(np_, k)})")
        ctes.append(
            f"""hits_{i} AS (
    SELECT bf.query_id, bf.cand_id
    FROM bf WHERE EXISTS (
        SELECT 1 FROM ap_{i}
        WHERE ap_{i}.query_id = bf.query_id AND ap_{i}.cand_id = bf.cand_id
    )
)"""
        )
        sel.append(
            f"""SELECT CAST({np_} AS BIGINT) AS n_probe,
       CAST({k} AS BIGINT) AS rpq_k,
       (SELECT CAST(count(*) AS BIGINT) FROM bf) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM ap_{i}) AS n_approx,
       (SELECT CAST(count(*) AS BIGINT) FROM hits_{i}) AS n_hits,
       round((SELECT count(*) FROM hits_{i}) * 1.0
             / (SELECT count(*) FROM bf), 4) AS recall"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sel)


IVFPQ_DESIGN_TABLE_ORACLE = _ivfpq_design_oracle()


def _recall_oracle(approx_oracle: str) -> str:
    return f"""
WITH bf AS ({ANN_TOPK_BRUTEFORCE_ORACLE}),
ap AS ({approx_oracle}),
hits AS (
    SELECT bf.query_id, bf.cand_id
    FROM bf WHERE EXISTS (
        SELECT 1 FROM ap
        WHERE ap.query_id = bf.query_id AND ap.cand_id = bf.cand_id
    )
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM bf) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM ap) AS n_approx,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       round((SELECT count(*) FROM hits) * 1.0
             / (SELECT count(*) FROM bf), 4) AS recall
"""


def ivfpq_recall(t: dict[str, DataFrame]) -> DataFrame:
    """Recall@k of the composed IVF-PQ index against the brute-force
    ground truth — the acceptance gate for :func:`ann_topk_ivfpq`,
    completing the pattern that every approximate index in this repo
    ships with its forfeit MEASURED (``ann_recall_eval`` gates IVF,
    ``sq_recall`` gates scalar quantization, ``dedup_embedding_recall``
    gates the banding): IVF-PQ loses candidates to cell blocking AND
    precision to code quantization, so its recall is the number that
    decides n_probe and M before the exact path is retired at 100 TB.

    Pure composition of two oracle-gated queries, reduced to one row.
    """
    truth = _bf_truth(t)
    # checkpoint: the approx pipeline is referenced twice (count + hits)
    approx = (
        ann_topk_ivfpq(t)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=False)
    )
    hits = truth.join(approx, ["query_id", "cand_id"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_approx = approx.agg(F.count(F.lit(1)).cast("long").alias("n_approx"))
    n_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        n_truth.crossJoin(F.broadcast(n_approx))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_truth",
            "n_approx",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 4).alias("recall"),
        )
    )


IVFPQ_RECALL_ORACLE = f"""
WITH bf AS ({ANN_TOPK_BRUTEFORCE_ORACLE}),
iv AS ({ANN_TOPK_IVFPQ_ORACLE}),
hits AS (
    SELECT bf.query_id, bf.cand_id
    FROM bf WHERE EXISTS (
        SELECT 1 FROM iv
        WHERE iv.query_id = bf.query_id AND iv.cand_id = bf.cand_id
    )
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM bf) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_approx,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       round((SELECT count(*) FROM hits) * 1.0
             / (SELECT count(*) FROM bf), 4) AS recall
"""

# (LSH_RECALL_ORACLE / PQ_RECALL_ORACLE are assigned at module end:
# their builders embed oracles defined further down.)


# --- Johnson-Lindenstrauss random projection --------------------------------

JL_K = 16  # projected dimensionality (DIM 64 -> 16, a 4x cut)


def jl_project(t: dict[str, DataFrame]) -> DataFrame:
    """Johnson-Lindenstrauss random-sign projection (Achlioptas 2003,
    "Database-friendly random projections"): project every embedding
    from DIM=64 to ``JL_K``=16 dims with a deterministic ±1 matrix
    (md5-derived signs, shared bit-exactly with the oracle), scaled by
    1/√k so squared distances are preserved in expectation — the cheap
    dimensionality cut a vector corpus takes before indexing when 4×
    less ANN scan traffic is worth a measured distance distortion.
    The op EMITS that measurement (the JL analog of the recall gates):
    over the bounded query-vs-corpus pair set, the mean/max relative
    error of pairwise euclidean distance under projection and the
    fraction of pairs within 10% — the numbers that decide k before
    committing the 100 TB re-index.

    Scale shape: the sign matrix is k×DIM literals (broadcast); the
    projection is one narrow pass per vector (posexplode → sign join →
    (vec, k)-keyed partial-combining sum — 16 rows per vector cross
    the exchange, not 64); distances reuse the brute-force bounded
    shape (corpus-derived-cap lowest-id queries broadcast against the
    corpus scan); the per-pair relative errors are rounded then summed
    as exact DECIMAL, so the one-row gate is order-independent across
    engines.
    """
    emb = _corpus(t).select("vec_id", "v")
    spark = emb.sparkSession
    signs = spark.createDataFrame(
        [
            (k, j, hex_sign(f"jl{k}:{j}"))
            for k in range(JL_K)
            for j in range(DIM)
        ],
        "k int, j int, s int",
    )
    e = emb.select("vec_id", F.posexplode("v").alias("j", "x"))
    proj = (
        e.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "k")
        .agg(
            F.round(
                F.sum(F.col("s") * F.col("x")) / F.lit(float(JL_K) ** 0.5), 6
            ).alias("y")
        )
    )
    parr = (
        proj.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("k", "y"))).alias("s"))
        .select("vec_id", F.transform("s", lambda s: s["y"]).alias("p"))
    )
    base = emb.join(parr, "vec_id")
    q = (
        base.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(_ann_qcap(t))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("p").alias("qp"),
        )
    )

    def sqdist(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    d_orig = F.round(F.sqrt(sqdist(F.col("qv"), F.col("v"))), 6)
    d_proj = F.round(F.sqrt(sqdist(F.col("qp"), F.col("p"))), 6)
    pairs = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(d_orig.alias("d0"), d_proj.alias("dp"))
        .filter(F.col("d0") > 0)
        .select(
            F.round(F.abs(F.col("dp") - F.col("d0")) / F.col("d0"), 6).alias(
                "rel_err"
            )
        )
    )
    return pairs.agg(
        F.lit(JL_K).cast("long").alias("k_dims"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.col("rel_err").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_rel_err"),
        F.round(F.max("rel_err"), 6).alias("max_rel_err"),
        F.round(
            F.sum(F.when(F.col("rel_err") <= 0.10, 1).otherwise(0))
            / F.count(F.lit(1)),
            4,
        ).alias("frac_within_10pct"),
    )


JL_PROJECT_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) - 1 AS j
    FROM embeddings
),
signs AS (
    SELECT k, j,
           CASE WHEN substring(md5('jl' || CAST(k AS VARCHAR) || ':'
                                    || CAST(j AS VARCHAR)), 1, 1) >= '8'
                THEN 1 ELSE -1 END AS s
    FROM range(0, {JL_K}) t1(k), range(0, {DIM}) t2(j)
),
proj AS (
    SELECT e.vec_id, sg.k,
           round(sum(sg.s * e.x) / sqrt({JL_K}.0), 6) AS y
    FROM e JOIN signs sg ON e.j = sg.j
    GROUP BY 1, 2
),
qcap AS ({_QCAP_SQL}),
d0 AS (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           round(sqrt(sum((a.x - b.x) * (a.x - b.x))), 6) AS d0
    FROM e a JOIN e b ON a.j = b.j AND a.vec_id != b.vec_id
    WHERE a.vec_id IN (SELECT vec_id FROM qcap)
    GROUP BY 1, 2
),
dp AS (
    SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
           round(sqrt(sum((a.y - b.y) * (a.y - b.y))), 6) AS dp
    FROM proj a JOIN proj b ON a.k = b.k AND a.vec_id != b.vec_id
    WHERE a.vec_id IN (SELECT vec_id FROM qcap)
    GROUP BY 1, 2
),
rel AS (
    SELECT round(abs(dp.dp - d0.d0) / d0.d0, 6) AS rel_err
    FROM d0 JOIN dp ON d0.query_id = dp.query_id
                   AND d0.cand_id = dp.cand_id
    WHERE d0.d0 > 0
)
SELECT CAST({JL_K} AS BIGINT) AS k_dims,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(rel_err AS DECIMAL(18,6))) AS DOUBLE)
             / count(*), 6) AS avg_rel_err,
       round(max(rel_err), 6) AS max_rel_err,
       round(sum(CASE WHEN rel_err <= 0.10 THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS frac_within_10pct
FROM rel
"""


# --------------------------------------------------------------------------
# Mutual k-NN graph (the neighborhood structure behind semantic dedup /
# clustering — reference has no graph surface; north-star extension)
# --------------------------------------------------------------------------

KNN_K = 5


def _sigs_cte() -> str:
    """Shared oracle CTE prefix: per-vector hyperplane signature.

    Inlines the SAME ±1 matrix as :func:`_signature` so both engines
    bucket identically (see ``ANN_TOPK_LSH_ORACLE``).
    """
    rows = []
    for p, row in enumerate(_sign_matrix()):
        for i, s in enumerate(row):
            rows.append(f"({p}, {i + 1}, {s})")
    values = ", ".join(rows)
    return f"""
planes(plane, pos, s) AS (VALUES {values}),
e AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
projs AS (
    SELECT e.vec_id, pl.plane, sum(e.x * pl.s) AS proj
    FROM e JOIN planes pl ON e.pos = pl.pos
    GROUP BY 1, 2
),
sigs AS (
    SELECT vec_id,
           string_agg(CASE WHEN proj >= 0 THEN '1' ELSE '0' END, '' ORDER BY plane)
               AS sig
    FROM projs
    GROUP BY 1
)"""


def knn_graph(t: dict[str, DataFrame]) -> DataFrame:
    """Mutual k-NN graph over the whole embedding corpus, LSH-blocked.

    Candidate edges come from hyperplane-signature buckets (same
    inlined ±1 matrix as :func:`ann_topk_lsh`): the self-join is a
    co-partitioned equi-join on the 8-bit signature, bounded by bucket
    collision counts — never all-pairs. Each node ranks its in-bucket
    neighbors by exact cosine and keeps the top ``KNN_K``; an edge
    survives only if BOTH endpoints keep it (mutual-kNN), emitted once
    in canonical ``src < dst`` order.

    Scale shape: bucket width is the tuning knob (more planes → smaller
    buckets); the directed edge set is ≤ n·k rows, so the mutual
    self-join is trivial next to the bucket join. ``topk`` is
    localCheckpoint'd because it feeds both sides of that join and the
    fan_out round-robin upstream blocks ReusedExchange (see
    ``tfidf_top_terms``).
    """
    emb = _corpus(t).withColumn("sig", _signature(F.col("v")))
    cand = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("sig").alias("csig"),
    )
    cos = F.round(
        dot_unrolled(F.col("v"), F.col("cv"), DIM) / (F.col("nrm") * F.col("cn")), 6
    ).alias("cosine")
    pairs = (
        emb.join(cand, F.col("sig") == F.col("csig"))
        .filter(F.col("vec_id") != F.col("cand_id"))
        .select("vec_id", "cand_id", cos)
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    topk = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= KNN_K)
        .select("vec_id", "cand_id", "cosine")
        .localCheckpoint(eager=False)
    )
    rev = topk.select(
        F.col("cand_id").alias("vec_id"), F.col("vec_id").alias("cand_id")
    )
    return (
        topk.join(rev, ["vec_id", "cand_id"])
        .filter(F.col("vec_id") < F.col("cand_id"))
        .select(
            F.col("vec_id").alias("src"), F.col("cand_id").alias("dst"), "cosine"
        )
    )


KNN_GRAPH_ORACLE = f"""
WITH {_sigs_cte()},
pairs AS (
    SELECT a.vec_id, b.vec_id AS cand_id
    FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id != b.vec_id
),
scored AS (
    SELECT p.vec_id, p.cand_id,
           round(sum(x.x * y.x) / (nx.nrm * ny.nrm), 6) AS cosine
    FROM pairs p
    JOIN e x ON x.vec_id = p.vec_id
    JOIN e y ON y.vec_id = p.cand_id AND x.pos = y.pos
    JOIN norms nx ON nx.vec_id = p.vec_id
    JOIN norms ny ON ny.vec_id = p.cand_id
    GROUP BY 1, 2, nx.nrm, ny.nrm
),
topk AS (
    SELECT vec_id, cand_id, cosine FROM (
        SELECT vec_id, cand_id, cosine, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, cand_id
        ) AS rnk
        FROM scored
    )
    WHERE rnk <= {KNN_K}
)
SELECT a.vec_id AS src, a.cand_id AS dst, a.cosine
FROM topk a
JOIN topk b ON a.vec_id = b.cand_id AND a.cand_id = b.vec_id
WHERE a.vec_id < a.cand_id
"""


# --- embedding column statistics --------------------------------------------

DIM_STATS_N = 4


def embedding_dim_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Moment statistics (mean / population variance / min / max) for
    the leading embedding dimensions — the sanity pass a vector corpus
    gets before any indexing (collapsed dimensions, scale drift, NaNs).

    ``posexplode(slice(...))`` keeps only the audited dims, then ONE
    partial-combining aggregate over DIM_STATS_N groups: every executor
    reduces its slice to DIM_STATS_N moment rows, so the exchange
    carries ~|tasks|·DIM_STATS_N rows whatever the corpus size.  Floats
    are widened to double BEFORE summation (both engines accumulate in
    double; summing in float32 would drift).
    """
    emb = t["embeddings"].select(
        F.posexplode(F.slice("embedding", 1, DIM_STATS_N)).alias("dim", "v")
    )
    v = F.col("v").cast("double")
    return emb.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.round(F.avg(v), 6).alias("mean"),
        F.round(F.var_pop(v), 6).alias("var"),
        F.round(F.min(v), 6).alias("min_v"),
        F.round(F.max(v), 6).alias("max_v"),
    )


EMBEDDING_DIM_STATS_ORACLE = "\nUNION ALL\n".join(
    f"""
SELECT CAST({i} AS BIGINT) AS dim,
       round(avg(CAST(embedding[{i + 1}] AS DOUBLE)), 6) AS mean,
       round(var_pop(CAST(embedding[{i + 1}] AS DOUBLE)), 6) AS var,
       round(min(CAST(embedding[{i + 1}] AS DOUBLE)), 6) AS min_v,
       round(max(CAST(embedding[{i + 1}] AS DOUBLE)), 6) AS max_v
FROM embeddings
"""
    for i in range(DIM_STATS_N)
)


# --- index quality evaluation -----------------------------------------------


def ann_recall_eval(t: dict[str, DataFrame]) -> DataFrame:
    """Recall@k of the IVF index against the brute-force ground truth —
    the acceptance gate every ANN index needs before it replaces the
    exact path in production.

    Pure composition: both sides are this module's own oracle-gated
    queries, joined on (query, candidate) with a LEFT SEMI (hits never
    duplicate), reduced to one row.  At 100 TB you run this on a
    sampled query set — the ground-truth side is the expensive one,
    which is exactly why the recall number must be known before the
    exact path is retired.
    """
    truth = _bf_truth(t)
    # checkpoint: the approx pipeline is referenced twice (count + hits)
    approx = (
        ann_topk_ivf(t)
        .select("query_id", "cand_id")
        .localCheckpoint(eager=False)
    )
    hits = truth.join(approx, ["query_id", "cand_id"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_approx = approx.agg(F.count(F.lit(1)).cast("long").alias("n_approx"))
    n_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        n_truth.crossJoin(F.broadcast(n_approx))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_truth",
            "n_approx",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 4).alias("recall"),
        )
    )


ANN_RECALL_EVAL_ORACLE = f"""
WITH bf AS ({ANN_TOPK_BRUTEFORCE_ORACLE}),
iv AS ({ANN_TOPK_IVF_ORACLE}),
hits AS (
    SELECT bf.query_id, bf.cand_id
    FROM bf WHERE EXISTS (
        SELECT 1 FROM iv
        WHERE iv.query_id = bf.query_id AND iv.cand_id = bf.cand_id
    )
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM bf) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_approx,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       round((SELECT count(*) FROM hits) * 1.0
             / (SELECT count(*) FROM bf), 4) AS recall
"""


# --- principal component via power iteration --------------------------------

PCA_D = 16  # leading dims analyzed (Gram matrix is PCA_D² = 256 cells)
PCA_ITER = 3


def pca_power_iteration(t: dict[str, DataFrame]) -> DataFrame:
    """Top principal direction of the leading embedding dims by power
    iteration on the Gram matrix — the whitening/decorrelation pass a
    vector corpus gets before indexing, done without any linear-algebra
    library.

    The 100 TB shape: the data is touched ONCE — a D²-cell Gram matrix
    built map-side (per-row outer products, decimal-summed so the
    reduction is exact and order-independent); every power iteration
    then runs on the 256-row G and D-row w frames, joins measured in
    kilobytes.  Iterations are ``localCheckpoint``ed (one join deep,
    like PageRank/k-means) and re-synchronized at 12 decimals so the
    unrolled-CTE oracle replays them bit-for-bit.  Output: per-dim
    loadings of w after PCA_ITER iterations plus the Rayleigh-quotient
    eigenvalue estimate (the final pre-normalization norm).
    """
    emb = t["embeddings"].select(
        F.slice(to_double_array("embedding"), 1, PCA_D).alias("arr")
    )
    e1 = emb.select("arr", F.posexplode("arr").alias("i", "vi"))
    cells = e1.select("i", "vi", F.posexplode("arr").alias("j", "vj"))
    gram = (
        cells.groupBy("i", "j")
        .agg(
            F.sum(
                (F.col("vi") * F.col("vj")).cast("decimal(30,15)")
            ).alias("gd")
        )
        .select("i", "j", F.col("gd").cast("double").alias("g"))
        .localCheckpoint(eager=False)
    )
    w = (
        gram.select(F.col("i").alias("wi"))
        .distinct()
        .select("wi", F.lit(1.0 / PCA_D**0.5).alias("w"))
    )
    eig = None
    for _ in range(PCA_ITER):
        raw = (
            gram.join(w, gram["j"] == w["wi"])
            .groupBy("i")
            .agg(F.sum(F.col("g") * F.col("w")).alias("u"))
        )
        norm = raw.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("nm"))
        w = (
            raw.crossJoin(F.broadcast(norm))
            .select(
                F.col("i").alias("wi"),
                F.round(F.col("u") / F.col("nm"), 12).alias("w"),
            )
            .localCheckpoint(eager=False)
        )
        eig = norm
    return (
        w.crossJoin(F.broadcast(eig))
        .select(
            F.col("wi").cast("long").alias("dim"),
            F.round("w", 6).alias("loading"),
            F.round("nm", 4).alias("eigenvalue"),
        )
    )


def _pca_oracle() -> str:
    head = f"""
WITH cells AS (
    SELECT r1.i AS i, r2.i AS j,
           CAST(CAST(e.embedding[CAST(r1.i + 1 AS INT)] AS DOUBLE)
                * CAST(e.embedding[CAST(r2.i + 1 AS INT)] AS DOUBLE)
                AS DECIMAL(30,15)) AS p
    FROM embeddings e, range(0, {PCA_D}) r1(i), range(0, {PCA_D}) r2(i)
),
gram AS (
    SELECT i, j, CAST(sum(p) AS DOUBLE) AS g FROM cells GROUP BY 1, 2
),
wit0 AS (SELECT DISTINCT i AS wi, {1.0 / PCA_D**0.5} AS w FROM gram)"""
    parts = [head]
    for k in range(1, PCA_ITER + 1):
        parts.append(f"""
raw{k} AS (
    SELECT g.i AS i, sum(g.g * w.w) AS u
    FROM gram g JOIN wit{k - 1} w ON g.j = w.wi
    GROUP BY 1
),
norm{k} AS (SELECT sqrt(sum(u * u)) AS nm FROM raw{k}),
wit{k} AS (
    SELECT i AS wi, round(u / nm, 12) AS w
    FROM raw{k} CROSS JOIN norm{k}
)""")
    return (
        ",".join(parts)
        + f"""
SELECT CAST(wi AS BIGINT) AS dim,
       round(w, 6) AS loading,
       round((SELECT nm FROM norm{PCA_ITER}), 4) AS eigenvalue
FROM wit{PCA_ITER}"""
    )


PCA_POWER_ITERATION_ORACLE = _pca_oracle()


def ann_topk_pq(t: dict[str, DataFrame]) -> DataFrame:
    """ANN search over the PQ index with asymmetric distance (ADC,
    Jégou et al. 2011 §III): each query precomputes a tiny (M × K)
    subspace-distance table against the codebook, and every corpus
    vector is scored by LOOKUP — summing the M table entries its code
    words select — never by touching the original floats.  This is the
    payoff of :func:`pq_codes`: at 100 TB the search scans 16-byte
    codes, not float32 vectors.

    Scale shape: one shared subvector-distance frame feeds both the
    code assignment and the query tables (the same frame filtered to
    query ids — nothing computed twice).  Code assignment is ONE
    partial-aggregated groupBy(vec_id) (M conditional struct-mins —
    map-side combine shrinks the exchange to one row per vector, not
    one per (vec, subspace)).  Each query's ADC table pivots into a
    broadcast MAP column keyed by (subspace, codeword), so scoring is
    a whole-stage-codegen map lookup — the old per-(query, cand,
    subspace) join shuffled N·Q·M rows into a re-aggregation, a
    constant that dominated the decade probe; nothing pair-grained
    ever exchanges now.  An ADC score depends ONLY on a vector's code
    array, so the scan scores DISTINCT code groups (G ≤ K^M, with
    K=|labels| codewords per subspace) instead of vectors: the
    query×candidate loop shrinks from N·Q to G·Q rows, and only the
    groups that can still reach a query's top-k (strictly-closer mass
    < TOP_K, +1 slack because the query's own vector may leave its
    group) re-expand to vec_ids for the final rank — per query that is
    ≈ TOP_K + ties rows, never the corpus.  ADC contributions sum as
    exact DECIMAL(18,6) in fixed subspace order (order-independent
    across engines); group sizes and scores are exact, so the result
    is bit-identical to the per-vector scan the oracle replays.
    """
    emb_raw = fan_out(t["embeddings"])
    cent = _label_centroids(t)
    sub_c = cent.select(
        "label",
        F.posexplode(
            F.array(*[F.slice("cv", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
        ).alias("m", "csub"),
    )
    emb = emb_raw.select("vec_id", to_double_array("embedding").alias("v"))
    sub_v = emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("v", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
        ).alias("m", "vsub"),
    )
    # unrolled subvector distance: the HOF fold evaluates interpreted
    # per (vec, subspace, codeword) row — N·M·K of them — while the
    # flat sum compiles into whole-stage codegen; addition order is the
    # same left-associated index walk, so results are bit-identical
    dist = F.round(
        sqdist_unrolled(F.col("vsub"), F.col("csub"), PQ_SUB), 6
    ).alias("dist")
    scored = sub_v.join(F.broadcast(sub_c), "m").select("vec_id", "m", "label", dist)
    # one shuffle, one row per vector: per-subspace argmin as M
    # conditional struct-mins (min ignores the nulls of other
    # subspaces; tie-break (dist, label) identical to the oracle's
    # row_number ORDER BY dist, c_label)
    # (subspace, codeword) flattens to ONE integer map key, built once
    # per VECTOR here (never per scored pair-row): integer probes skip
    # the per-probe string build a concat key would pay N·Q·M times
    key = lambda m_col, label_col: (  # noqa: E731 — two-site key law
        m_col * F.lit(_PQ_KEY_STRIDE) + label_col
    ).cast("long")
    codes_arr = scored.groupBy("vec_id").agg(
        *[
            F.min(
                F.when(F.col("m") == m, F.struct("dist", "label"))
            ).alias(f"b{m}")
            for m in range(PQ_M)
        ]
    ).select(
        "vec_id",
        F.array(
            *[key(F.lit(m), F.col(f"b{m}.label")) for m in range(PQ_M)]
        ).alias("codekeys"),
    )
    # bounded-query contract: the ADC tables broadcast, so the query
    # list is capped (oracle mirrors the LIMIT in its qtab CTE); each
    # query's (subspace, codeword) → distance table pivots into ONE
    # map column, M·K entries
    qmaps = (
        scored.join(F.broadcast(_qcap_ids(emb, _ann_qcap(t))), "vec_id")
        .groupBy(F.col("vec_id").alias("query_id"))
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        key(F.col("m"), F.col("label")).alias("k"),
                        F.col("dist").cast("decimal(18,6)").alias("v"),
                    )
                )
            ).alias("qmap")
        )
    )
    terms = [
        F.element_at("qmap", F.element_at("codekeys", m + 1))
        for m in range(PQ_M)
    ]
    total = terms[0]
    for x in terms[1:]:
        total = total + x  # exact decimal addition, fixed subspace order
    # the ADC score is a pure function of the code array: fold the
    # corpus to distinct code GROUPS once (vec_ids ride along as an
    # array that never enters the scoring loop), score G·Q rows
    groups = codes_arr.groupBy("codekeys").agg(
        F.collect_list("vec_id").alias("vids"),
        F.count(F.lit(1)).alias("gsize"),
    )
    gadc = (
        groups.select("codekeys", "gsize")
        .crossJoin(F.broadcast(qmaps))
        .select(
            "query_id",
            "codekeys",
            "gsize",
            F.round(F.sqrt(total.cast("double")), 6).alias("adc"),
        )
    )
    # a group can place a vector in the top-k iff the exact mass of
    # strictly-closer vectors is ≤ TOP_K (the +1 slack covers the one
    # vector the self-match filter may remove from a closer group);
    # the cumulative mass comes from the per-(query, adc) rollup so
    # ties never inflate the strict count
    tot = gadc.groupBy("query_id", "adc").agg(F.sum("gsize").alias("tsize"))
    w_cume = (
        Window.partitionBy("query_id")
        .orderBy("adc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    kept_adc = (
        tot.withColumn(
            "nbefore", F.coalesce(F.sum("tsize").over(w_cume), F.lit(0))
        )
        .filter(F.col("nbefore") <= TOP_K)
        .select("query_id", "adc")
    )
    kept_groups = gadc.join(F.broadcast(kept_adc), ["query_id", "adc"]).select(
        "query_id", "codekeys", "adc"
    )
    cand = (
        groups.select("codekeys", "vids")
        .join(F.broadcast(kept_groups), "codekeys")
        .select("query_id", "adc", F.explode("vids").alias("vec_id"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("vec_id").alias("cand_id"),
            "adc",
        )
    )


ANN_TOPK_PQ_ORACLE = f"""
WITH e AS (
    SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
cent AS (
    SELECT label AS c_label, pos, avg(x) AS c
    FROM e
    GROUP BY 1, 2
),
d AS (
    SELECT e.vec_id, (e.pos - 1) // {PQ_SUB} AS m, c.c_label,
           round(sum((e.x - c.c) * (e.x - c.c)), 6) AS dist
    FROM e JOIN cent c ON e.pos = c.pos
    GROUP BY 1, 2, 3
),
codes AS (
    SELECT vec_id, m, c_label AS code FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, m ORDER BY dist, c_label
        ) AS rn
        FROM d
    )
    WHERE rn = 1
),
qtab AS (
    SELECT vec_id AS query_id, m, c_label AS qlabel,
           CAST(dist AS DECIMAL(18,6)) AS qd
    FROM d WHERE vec_id IN ({_QCAP_SQL})
),
adc AS (
    SELECT q.query_id, c.vec_id,
           round(sqrt(CAST(sum(q.qd) AS DOUBLE)), 6) AS adc
    FROM codes c
    JOIN qtab q ON c.m = q.m AND c.code = q.qlabel
    GROUP BY 1, 2
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, adc FROM (
    SELECT query_id, vec_id AS cand_id, adc,
           row_number() OVER (
               PARTITION BY query_id ORDER BY adc, vec_id
           ) AS rank
    FROM adc WHERE vec_id != query_id
)
WHERE rank <= {TOP_K}
"""


# --- embedding table diagnostics (training-data pipeline ops) --------------


def embedding_centroid_per_label(t: dict[str, DataFrame]) -> DataFrame:
    """Per-label centroid, one row per (label, dimension) — the class
    prototype table behind nearest-centroid classifiers and drift
    monitors over embedding spaces.

    ``posexplode`` is a narrow 1→64 expansion evaluated map-side; the
    partial aggregate combines to |labels|×64 rows per task before the
    single exchange, so the shuffle is prototype-sized regardless of
    corpus size.
    """
    ex = fan_out(t["embeddings"]).select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(to_double_array("embedding")).alias("dim", "x"),
    )
    return (
        ex.groupBy("label", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.round(F.avg("x"), 6).alias("centroid"),
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
        )
    )


EMBEDDING_CENTROID_PER_LABEL_ORACLE = """
WITH e AS (
    SELECT CAST(label AS BIGINT) AS label,
           CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) - 1 AS dim
    FROM embeddings
)
SELECT label, CAST(dim AS BIGINT) AS dim,
       round(avg(x), 6) AS centroid,
       CAST(count(*) AS BIGINT) AS n_vecs
FROM e
GROUP BY 1, 2
"""


NORM_Z_THRESHOLD = 2.0


def embedding_norm_outliers(t: dict[str, DataFrame]) -> DataFrame:
    """Vectors whose L2 norm deviates more than ``NORM_Z_THRESHOLD``
    population z-scores from the corpus mean — the cheap first-pass
    screen for broken encoders and corrupt rows before any ANN index
    is built (a zero vector or an unnormalized batch shows up here
    immediately).

    Norms are JVM-side array folds (no Python); the mean/stddev is a
    one-row broadcast, so the plan is scan → narrow map → broadcast
    compare — no shuffle of vectors at any point.
    """
    emb = fan_out(t["embeddings"]).select(
        "vec_id", norm_unrolled(to_double_array("embedding"), DIM).alias("nrm")
    )
    stats = emb.agg(
        F.avg("nrm").alias("mu"), F.stddev_pop("nrm").alias("sigma")
    )
    # Filter on the ROUNDED z so a boundary-straddling value (the two
    # engines' stddev accumulations differ in the last ulp) can't be
    # included by one engine and excluded by the other.
    z = F.round((F.col("nrm") - F.col("mu")) / F.col("sigma"), 4)
    return (
        emb.crossJoin(F.broadcast(stats))
        .filter(F.abs(z) > NORM_Z_THRESHOLD)
        .select(
            "vec_id",
            F.round("nrm", 6).alias("l2_norm"),
            z.alias("z_score"),
        )
        .orderBy("vec_id")
    )


EMBEDDING_NORM_OUTLIERS_ORACLE = f"""
WITH norms AS (
    SELECT vec_id,
           sqrt(sum(x * x)) AS nrm
    FROM (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings)
    GROUP BY 1
),
stats AS (SELECT avg(nrm) AS mu, stddev_pop(nrm) AS sigma FROM norms)
SELECT n.vec_id,
       round(n.nrm, 6) AS l2_norm,
       round((n.nrm - s.mu) / s.sigma, 4) AS z_score
FROM norms n CROSS JOIN stats s
WHERE abs(round((n.nrm - s.mu) / s.sigma, 4)) > {NORM_Z_THRESHOLD}
ORDER BY n.vec_id
"""


SIM_HIST_BINS = 20


def cosine_sim_histogram(t: dict[str, DataFrame]) -> DataFrame:
    """Histogram of query-to-corpus cosine similarities in 20 fixed
    bins over [-1, 1] — the similarity-distribution profile read before
    choosing dedup/retrieval thresholds (a bimodal histogram means a
    near-dup cluster; mass near 0 means the space is healthy).

    Same broadcast-queries shape as the brute-force ANN: the corpus is
    scanned once, each row emits |queries| binned similarities, and the
    exchange carries ≤20 counts per task.  Binning uses the exact
    expression mirrored in the oracle so IEEE doubles agree.
    """
    emb = _corpus(t)
    q = _queries(emb, _ann_qcap(t))
    # round(6) BEFORE binning: the two engines sum the dot product in
    # different orders, and the rounding collapses that last-ulp noise
    # so a boundary-adjacent cosine can't land in different bins.
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")), 6
    )
    binned = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            F.least(
                F.lit(SIM_HIST_BINS - 1),
                F.floor((cos + 1.0) * SIM_HIST_BINS / 2.0),
            )
            .cast("long")
            .alias("bin")
        )
    )
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy("bin")
    )


COSINE_SIM_HISTOGRAM_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
q AS (SELECT * FROM e WHERE vec_id IN ({_QCAP_SQL})),
scored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
           round(sum(q.x * e.x) / (nq.nrm * nc.nrm), 6) AS cosine
    FROM q
    JOIN e ON q.pos = e.pos AND q.vec_id != e.vec_id
    JOIN norms nq ON q.vec_id = nq.vec_id
    JOIN norms nc ON e.vec_id = nc.vec_id
    GROUP BY 1, 2, nq.nrm, nc.nrm
)
SELECT least({SIM_HIST_BINS - 1},
             CAST(floor((cosine + 1.0) * {SIM_HIST_BINS} / 2.0) AS BIGINT))
           AS bin,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM scored
GROUP BY 1
ORDER BY 1
"""


# --- hybrid lexical+semantic retrieval (reciprocal-rank fusion) ------------

RRF_K = 60  # the canonical RRF damping constant (Cormack et al. 2009)
HYBRID_TOP_K = 5


def hybrid_search(t: dict[str, DataFrame]) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 lexical ranking and the
    embedding-cosine semantic ranking of the SAME query documents with
    reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009:
    score = Σ 1/(k + rank)) — the standard first-stage retriever of a
    RAG / retrieval-curation pipeline, and the fusion step every
    two-tower + lexical stack needs.  Embedding ``vec_id`` is the
    document's ``doc_id`` (the testdata convention: one embedding per
    document).

    Scale shape: the lexical leg is :func:`text_analysis.bm25_search`
    unchanged (its scale story applies); the semantic leg broadcasts
    the bounded query-vector set against one corpus scan with the same
    two-phase top-k as the ANN family; fusion then happens in RANK
    space — two ≤ k·queries-row frames full-outer-joined, so the fuse
    step is measured in kilobytes no matter the corpus size.  Raising
    either leg's k trades recall for a linearly bigger (still tiny)
    fusion frame.
    """
    from .text_analysis import BM25_QUERIES, BM25_TOP_K, bm25_search

    lex = bm25_search(t).select(
        F.col("q_doc_id").alias("query_id"),
        F.col("doc_id").alias("cand_id"),
        F.col("rnk").alias("lex_rank"),
    )
    emb = _corpus(t)
    qids = (
        t["documents"].select("doc_id").orderBy("doc_id").limit(BM25_QUERIES)
    )
    q = emb.join(F.broadcast(qids), emb["vec_id"] == qids["doc_id"]).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")), 6
    ).alias("cosine")
    sem_scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos)
    )
    w_sem = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    sem = (
        sem_scored.withColumn("sem_rank", F.row_number().over(w_sem))
        .filter(F.col("sem_rank") <= BM25_TOP_K)
        .select("query_id", "cand_id", "sem_rank")
    )
    fused = lex.join(sem, ["query_id", "cand_id"], "full_outer").select(
        "query_id",
        "cand_id",
        "lex_rank",
        "sem_rank",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank")), F.lit(0.0)
            )
        ).alias("rrf"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("cand_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w_f))
        .filter(F.col("rank") <= HYBRID_TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "cand_id",
            F.round("rrf", 6).alias("rrf"),
            F.col("lex_rank").isNotNull().alias("in_lexical"),
            F.col("sem_rank").isNotNull().alias("in_semantic"),
        )
    )


def _hybrid_oracle() -> str:
    from .text_analysis import BM25_QUERIES, BM25_TOP_K, BM25_SEARCH_ORACLE

    return f"""
WITH lex AS ({BM25_SEARCH_ORACLE}),
e2 AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
norms2 AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e2 GROUP BY 1),
hq AS (
    SELECT e2.* FROM e2
    JOIN (SELECT doc_id FROM documents ORDER BY doc_id
          LIMIT {BM25_QUERIES}) s ON e2.vec_id = s.doc_id
),
sem_scored AS (
    SELECT hq.vec_id AS query_id, e2.vec_id AS cand_id,
           round(sum(hq.x * e2.x) / (nq.nrm * nc.nrm), 6) AS cosine
    FROM hq
    JOIN e2 ON hq.pos = e2.pos AND hq.vec_id != e2.vec_id
    JOIN norms2 nq ON hq.vec_id = nq.vec_id
    JOIN norms2 nc ON e2.vec_id = nc.vec_id
    GROUP BY 1, 2, nq.nrm, nc.nrm
),
sem AS (
    SELECT query_id, cand_id, sem_rank FROM (
        SELECT query_id, cand_id,
               row_number() OVER (
                   PARTITION BY query_id ORDER BY cosine DESC, cand_id
               ) AS sem_rank
        FROM sem_scored
    ) WHERE sem_rank <= {BM25_TOP_K}
),
fused AS (
    SELECT coalesce(l.q_doc_id, s.query_id) AS query_id,
           coalesce(l.doc_id, s.cand_id) AS cand_id,
           l.rnk AS lex_rank, s.sem_rank,
           coalesce(1.0 / ({RRF_K} + l.rnk), 0.0)
             + coalesce(1.0 / ({RRF_K} + s.sem_rank), 0.0) AS rrf
    FROM lex l
    FULL OUTER JOIN sem s
      ON l.q_doc_id = s.query_id AND l.doc_id = s.cand_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
       round(rrf, 6) AS rrf,
       lex_rank IS NOT NULL AS in_lexical,
       sem_rank IS NOT NULL AS in_semantic
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY rrf DESC, cand_id
    ) AS rank
    FROM fused
)
WHERE rank <= {HYBRID_TOP_K}
"""


HYBRID_SEARCH_ORACLE = _hybrid_oracle()


# --- scalar (int8) quantization ----------------------------------------------

SQ_LEVELS = 255  # 8-bit codes 0..255


def _sq_elements(t: dict[str, DataFrame]) -> DataFrame:
    """Exploded (vec_id, label, d, x, lo, scale, code) frame behind the
    SQ family: per-dim min/max trained from the corpus (the codebook —
    2·DIM doubles, broadcast), affine code = clip(round((x-lo)/scale)).

    Scale shape: ONE corpus scan; the exploded rows are narrow
    (ids + one double); the codebook aggregation partial-combines to
    DIM rows before its exchange; everything after the broadcast join
    is map-side arithmetic.
    """
    el = (
        fan_out(t["embeddings"])
        .select(
            "vec_id",
            "label",
            F.posexplode(to_double_array("embedding")).alias("d", "x"),
        )
    )
    # The codebook is TRAINED (pass 1) then the corpus is ENCODED
    # (pass 2) — the inherent two-pass contract of trained
    # quantization.  localCheckpoint materializes the DIM-row codebook
    # so the encode plan is one scan + one broadcast, and downstream
    # self-compositions (recall gate) cannot re-derive it.
    stats = (
        el.groupBy("d")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .withColumn(
            "scale",
            F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
                (F.col("hi") - F.col("lo")) / F.lit(float(SQ_LEVELS))
            ),
        )
        .drop("hi")
        .localCheckpoint()
    )
    code = F.when(F.col("scale") == 0.0, F.lit(0).cast("long")).otherwise(
        F.least(
            F.greatest(
                F.floor((F.col("x") - F.col("lo")) / F.col("scale") + F.lit(0.5)),
                F.lit(0).cast("long"),
            ),
            F.lit(255).cast("long"),
        )
    )
    return el.join(F.broadcast(stats), "d").withColumn("code", code)


def sq_codes(t: dict[str, DataFrame]) -> DataFrame:
    """Scalar (int8) quantization accounting — the cheap sibling of
    :func:`pq_codes` and the default production compression for vector
    stores (e.g. the SQ8 index family of Johnson et al. 2019, "Billion-
    scale similarity search with GPUs"): per-dimension affine codes
    ``clip(round((x - lo_d) / scale_d), 0, 255)`` with the codebook
    (per-dim lo/scale) trained from the corpus itself.  Emits the
    per-vector reconstruction error profile a recall gate builds on:
    MSE, worst-dim error, mean code (range utilisation) and the count
    of saturated codes.

    Scale shape: the codebook is 2·DIM doubles — trained in one
    partial-combining pass, materialized, then **broadcast** into the
    encode pass, whose only keyed exchange is the per-vector rollup
    (the two-pass contract of trained quantization).  Error terms
    sum as DECIMAL so shuffle-order double addition cannot diverge
    from the oracle.  This is the pass that turns 100 TB of float32
    into 25 TB of int8 + a kilobyte codebook.
    """
    q = _sq_elements(t)
    err = F.col("x") - (F.col("lo") + F.col("code").cast("double") * F.col("scale"))
    per = q.select("vec_id", "label", "code", err.alias("err"))
    return (
        per.groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sum((F.col("err") * F.col("err")).cast("decimal(38,24)"))
                .cast("double")
                / F.lit(float(DIM)),
                12,
            ).alias("mse"),
            F.round(F.max(F.abs("err")), 9).alias("max_abs_err"),
            F.round(F.sum("code").cast("double") / F.lit(float(DIM)), 4).alias(
                "avg_code"
            ),
            F.sum(
                F.when(F.col("code").isin(0, 255), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_saturated"),
        )
        .select("vec_id", "label", "mse", "max_abs_err", "avg_code", "n_saturated")
    )


_SQ_EL_SQL = f"""
el AS (
    SELECT vec_id, label,
           generate_subscripts(embedding, 1) AS d,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
st AS (
    SELECT d, min(x) AS lo,
           CASE WHEN max(x) = min(x) THEN 0.0
                ELSE (max(x) - min(x)) / {SQ_LEVELS}.0 END AS scale
    FROM el GROUP BY 1
),
sq AS (
    SELECT vec_id, label, d, x, lo, scale,
           CASE WHEN scale = 0.0 THEN 0
                ELSE CAST(least(greatest(floor((x - lo) / scale + 0.5), 0),
                                255) AS BIGINT) END AS code
    FROM el JOIN st USING (d)
)"""


SQ_CODES_ORACLE = f"""
WITH {_SQ_EL_SQL},
e AS (
    SELECT vec_id, label, code,
           x - (lo + code * scale) AS err
    FROM sq
)
SELECT vec_id, label,
       round(CAST(sum(CAST(err * err AS DECIMAL(38,24))) AS DOUBLE)
             / {DIM}.0, 12) AS mse,
       round(max(abs(err)), 9) AS max_abs_err,
       round(CAST(sum(code) AS DOUBLE) / {DIM}.0, 4) AS avg_code,
       CAST(sum(CASE WHEN code IN (0, 255) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_saturated
FROM e
GROUP BY 1, 2
"""


def sq_recall(t: dict[str, DataFrame]) -> DataFrame:
    """Recall@k of int8-quantized search against the exact brute-force
    truth — the acceptance gate that decides whether the 4× compression
    of :func:`sq_codes` costs any retrieval quality.  Asymmetric
    distance computation (Jégou et al. 2011 §III): queries stay exact
    float vectors, database vectors are reconstructed from their codes
    — the production ADC setting where only the stored side is
    compressed.

    Scale shape: reconstruction is the broadcast-codebook map of
    :func:`_sq_elements` plus one keyed re-assembly to arrays; scoring
    reuses the brute-force shape (bounded query set broadcast against
    the corpus scan); the gate reduces to ONE row.  At 100 TB the
    ground-truth side is the expensive one — which is exactly why the
    recall number must be known before the exact path is retired.

    The query side is CAPPED to the corpus-derived lowest-id query
    set — the same bound (and the same contract: the oracle cuts
    identically) as ``ann_topk_vectorized``.  An uncapped
    ``% QUERY_MOD`` subset grows as N/100 with the corpus, and this
    gate would otherwise broadcast/crossJoin exactly the unbounded
    shape the caps were introduced to remove; the brute-force truth is
    restricted to the same capped query list so recall is measured
    over one well-defined query set.
    """
    xh = F.col("lo") + F.col("code").cast("double") * F.col("scale")
    recon = (
        _sq_elements(t)
        .select("vec_id", "d", xh.alias("xh"))
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("d", "xh"))).alias("s"))
        .select(
            "vec_id",
            F.transform("s", lambda s: s["xh"]).alias("v"),
        )
        .withColumn("nrm", norm_unrolled(F.col("v"), DIM))
    )
    q = (
        _queries(_corpus(t), _ann_qcap(t))  # bounded: ≤ cap × DIM doubles
        .localCheckpoint(eager=False)  # feeds approx AND the truth cut
    )
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")), 6
    ).alias("cosine")
    scored = (
        recon.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    approx = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id")
        # checkpoint: referenced twice (count + hits)
        .localCheckpoint(eager=False)
    )
    truth = (
        _bf_truth(t)
        .join(F.broadcast(q.select("query_id")), "query_id", "left_semi")
        .select("query_id", "cand_id")
    )
    hits = truth.join(approx, ["query_id", "cand_id"], "left_semi")
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    n_approx = approx.agg(F.count(F.lit(1)).cast("long").alias("n_approx"))
    n_hits = hits.agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    return (
        n_truth.crossJoin(F.broadcast(n_approx))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_truth",
            "n_approx",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 4).alias("recall"),
        )
    )


SQ_RECALL_ORACLE = f"""
WITH {_SQ_EL_SQL},
rc AS (
    SELECT vec_id, d, lo + code * scale AS xh
    FROM sq
),
rn AS (SELECT vec_id, sqrt(sum(xh * xh)) AS nrm FROM rc GROUP BY 1),
ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS d,
           CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
),
qn AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM ex GROUP BY 1),
qcap AS ({_QCAP_SQL}),
qe AS (SELECT * FROM ex WHERE vec_id IN (SELECT vec_id FROM qcap)),
scored AS (
    SELECT qe.vec_id AS query_id, rc.vec_id AS cand_id,
           round(sum(qe.x * rc.xh) / (qn.nrm * rn.nrm), 6) AS cosine
    FROM qe
    JOIN rc ON qe.d = rc.d AND qe.vec_id != rc.vec_id
    JOIN qn ON qe.vec_id = qn.vec_id
    JOIN rn ON rc.vec_id = rn.vec_id
    GROUP BY 1, 2, qn.nrm, rn.nrm
),
approx AS (
    SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, cand_id
        ) AS rank FROM scored
    ) WHERE rank <= {TOP_K}
),
bf AS ({ANN_TOPK_BRUTEFORCE_ORACLE}),
tr AS (SELECT query_id, cand_id FROM bf
       WHERE query_id IN (SELECT vec_id FROM qcap)),
hits AS (
    SELECT tr.query_id, tr.cand_id FROM tr
    WHERE EXISTS (
        SELECT 1 FROM approx a
        WHERE a.query_id = tr.query_id AND a.cand_id = tr.cand_id
    )
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM tr) AS n_truth,
       (SELECT CAST(count(*) AS BIGINT) FROM approx) AS n_approx,
       (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits,
       round((SELECT count(*) FROM hits) * 1.0
             / (SELECT count(*) FROM tr), 4) AS recall
"""


LSH_RECALL_ORACLE = _recall_oracle(ANN_TOPK_LSH_ORACLE)
PQ_RECALL_ORACLE = _recall_oracle(ANN_TOPK_PQ_ORACLE)
IVFPQ_RESIDUAL_RECALL_ORACLE = _recall_oracle(ANN_TOPK_IVFPQ_RESIDUAL_ORACLE)


# ---------------------------------------------------------------------------
# IVF cell-balance diagnostic
# ---------------------------------------------------------------------------


def ivf_cell_balance(t: dict[str, DataFrame]) -> DataFrame:
    """Cell-occupancy balance of the trained IVF quantizer — the skew
    diagnostic read BEFORE sizing N_PROBE for a 100 TB index: probed
    work per query is the sum of probed CELL sizes, so a hot cell (a
    load factor far above 1) makes worst-case latency diverge from the
    average no matter the probe budget, and the fix (re-train with
    more cells, or split hot cells) is an index-build decision this
    table measures rather than assumes — FAISS's imbalance_factor, as
    an oracle-gated query.

    Per trained cell (:func:`kmeans_cells` — the production trainer,
    never a reimplementation): occupancy, corpus share, and the load
    factor n·k/N (1.0 = perfectly balanced).  Composition keeps the
    frame cell-sized (k rows) after one trainer pass; the 1-row totals
    broadcast.
    """
    assign = kmeans_cells(t).select("vec_id", "cell")
    tot = assign.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("cell").alias("k"),
    )
    return (
        assign.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cell",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.round(
                F.col("n_vecs").cast("double") / F.col("n_total").cast("double"),
                6,
            ).alias("share"),
            F.round(
                F.col("n_vecs").cast("double")
                * F.col("k").cast("double")
                / F.col("n_total").cast("double"),
                4,
            ).alias("load_factor"),
        )
    )


IVF_CELL_BALANCE_ORACLE = f"""
WITH assign AS ({KMEANS_CELLS_ORACLE}),
tot AS (SELECT count(*) AS n_total, count(DISTINCT cell) AS k FROM assign)
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(count(*) AS DOUBLE) / CAST(any_value(tot.n_total) AS DOUBLE),
             6) AS share,
       round(CAST(count(*) AS DOUBLE) * CAST(any_value(tot.k) AS DOUBLE)
             / CAST(any_value(tot.n_total) AS DOUBLE), 4) AS load_factor
FROM assign CROSS JOIN tot
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Matryoshka dimension-budget design table
# ---------------------------------------------------------------------------

# prefix lengths measured against the full-dimension truth; 64 == DIM is
# the sanity leg (recall 1.0 by construction)
MRL_DIMS = (8, 16, 32, 64)

# The MRL table's query set DERIVES FROM CORPUS SIZE by default (the
# ``derived_band_planes`` discipline, operators/dedup.py): each of the
# table's |MRL_DIMS| legs is a bounded-query brute-force scan costing
# Q·N comparisons, so a query set that grows with the corpus (the
# ``% QUERY_MOD`` subset grows as N/100 until ANN_QUERY_CAP binds at
# N = 409.6k) makes the DEFAULT config quadratic — measured 46.7× at
# the 100× decade probe in BENCH_sf10_r10_newops.json vs the 12× bar.
# ``derived_mrl_query_cap`` holds the per-leg comparison budget
# Q·N ≤ MRL_WORK_BUDGET once the corpus outgrows it, clamped to
# [MIN, MAX]: integer floor-division only (both engines compute the
# identical BIGINT arithmetic — never a float log whose last-ulp
# behavior could disagree), so Spark and the oracle always serve the
# same query list at every corpus size.  At the fixture scales
# (≤ 2k vectors) the budget leaves the cap at MAX and the natural
# %-subset (≤ 20 ids) is what binds — behavior there is unchanged.
# Manual ``MRL_QUERY_CAP`` env override wins when set (the measured
# deploy knob, same contract as ``ANN_QUERY_CAP``); recall estimated
# over ≥ MIN = 64 queries keeps the curve statistically usable while
# the budget keeps the default-config decade leg linear in N.
MRL_QCAP_MIN = 64
MRL_QCAP_MAX = 1024
MRL_WORK_BUDGET = 12_800_000
_MRL_QCAP_ENV = os.environ.get("MRL_QUERY_CAP")


def derived_mrl_query_cap(n_vecs: int) -> int:
    """Query cap for an ``n_vecs``-vector corpus:
    ``clamp(MRL_WORK_BUDGET // n_vecs, MRL_QCAP_MIN, MRL_QCAP_MAX)``
    — holds each leg's Q·N comparison count at ~MRL_WORK_BUDGET once
    the corpus outgrows the budget (above 12.8M/64 = 200k vectors the
    MIN clamp binds and work grows linearly again, at the smallest
    usable query set).  Manual ``MRL_QUERY_CAP`` env override wins."""
    if _MRL_QCAP_ENV:
        return int(_MRL_QCAP_ENV)
    return max(MRL_QCAP_MIN, min(MRL_QCAP_MAX, MRL_WORK_BUDGET // max(n_vecs, 1)))


def _mrl_qcap_sql() -> str:
    """DuckDB scalar mirroring :func:`derived_mrl_query_cap` over the
    ``embeddings`` view — BIGINT floor-division, bit-exact against the
    Python rule at every corpus size."""
    if _MRL_QCAP_ENV:
        return str(int(_MRL_QCAP_ENV))
    return (
        f"(SELECT GREATEST({MRL_QCAP_MIN}, LEAST({MRL_QCAP_MAX}, "
        f"{MRL_WORK_BUDGET} // GREATEST(count(*), 1))) FROM embeddings)"
    )


def _truncated_topk(t: dict[str, DataFrame], d: int, qcap: int) -> DataFrame:
    """Brute-force cosine top-k using only the FIRST ``d`` dimensions —
    the query stage of a prefix-truncated (Matryoshka-style) index.
    Same rounding and tie order as :func:`ann_topk_bruteforce`, query
    set bounded by the corpus-derived ``qcap``
    (:func:`derived_mrl_query_cap`); at d == DIM the score expression
    is bit-identical to the full scorer (both left-associate the dot in
    index order), so the 64-dim leg IS the truth ranking."""
    emb = fan_out(t["embeddings"]).select(
        "vec_id", F.slice(to_double_array("embedding"), 1, d).alias("v")
    )
    emb = emb.withColumn("nrm", norm_unrolled(F.col("v"), d))
    q = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(qcap)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), d) / (F.col("qn") * F.col("nrm")),
        6,
    ).alias("cosine")
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), cos)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "cand_id")
    )


def mrl_recall_curve(t: dict[str, DataFrame]) -> DataFrame:
    """The dimension-budget design table (Matryoshka representation
    learning, Kusupati et al. 2022, arXiv:2205.13147): recall@k of
    brute-force search over the first d dimensions against the
    full-dimension truth, per d — the measurement behind "how many
    dims can the index DROP" before a 100 TB re-embed or a
    shortlist-then-rerank deployment, where the prefix index serves
    the shortlist and the full vectors only rerank survivors.  The
    same design-table discipline as ``ivfpq_design_table`` /
    ``embdup_plane_tuning``: choose the storage budget off a measured
    recall curve, never a default.

    Scale shape: every leg is the bounded-query brute-force scan
    (broadcast capped queries, whole-stage-codegen unrolled dot over d
    elements — each leg CHEAPER than the full scan by construction);
    the query cap DERIVES from the corpus size
    (:func:`derived_mrl_query_cap` — per-leg Q·N comparisons stay
    ≲ MRL_WORK_BUDGET, so the default config survives the 100× decade
    probe with no manual override); the truth ranking computes once at
    d = DIM over the same query set (localCheckpoint) and each leg
    reduces to one recall row, so output is |MRL_DIMS| rows at any
    corpus size.  The d = DIM leg derives DIRECTLY from the truth
    frame (``_truncated_topk(DIM)`` is the truth scorer, so recall is
    1.0 structurally — computing it a second time would only re-spend
    a full scan to re-derive the same rows; the oracle mirrors this by
    reading its r64 leg off the truth CTE, which also removes the one
    place where DuckDB's float summation order could have rounded a
    boundary cosine differently in two independent CTEs).
    """
    n_vecs = _n_vecs(t["embeddings"])
    qcap = derived_mrl_query_cap(n_vecs)
    # The d = DIM truth leg IS the brute-force truth ranking the ANN
    # gates memoize (`_bf_truth`): `_truncated_topk(DIM)` is
    # bit-identical to `ann_topk_bruteforce`'s scorer (same dot
    # fold order, rounding, tie order), and the two capped query
    # lists — "the cap lowest vec_ids of the % QUERY_MOD subset" —
    # are provably the same list whenever min(subset_n, mrl_cap) ==
    # min(subset_n, ann_cap) (one memoized tiny count decides it).
    # When they match, consume the memoized truth instead of
    # re-spending a full Q·N·DIM brute scan on the identical rows;
    # when a cap override makes them diverge, train the leg fresh.
    subset_n = _qsubset_n(t["embeddings"])
    if min(subset_n, qcap) == min(subset_n, derived_ann_query_cap(n_vecs)):
        truth = _bf_truth(t)
    else:
        truth = (
            _truncated_topk(t, DIM, qcap)
            .localCheckpoint(eager=False)
        )
    # The reduced-dim legs fuse into ONE corpus pass: every leg scores
    # the SAME (query, candidate) pairs, only over a different prefix
    # width, so one crossJoin computes all reduced cosines side by side
    # (per-pair flops are unchanged — Σ d mults either way — but the
    # scan, the broadcast build and the Q·N row materialization happen
    # once instead of once per leg), ONE query_id exchange feeds the
    # per-leg rank windows (same partition key, per-leg sort), and the
    # ≤ |legs|·Q·k shortlist union localCheckpoints once for the
    # per-leg recall reductions.  Each cosine/rank expression is
    # bit-identical to `_truncated_topk(d)`'s (same element_at range,
    # fold order, rounding, tie order) — pinned by
    # tests/test_r14_opts.py against the leg-per-scan construction.
    red = [d for d in MRL_DIMS if d != DIM]
    emb = fan_out(t["embeddings"]).select(
        "vec_id",
        to_double_array("embedding").alias("v"),
        *[
            norm_unrolled(to_double_array("embedding"), d).alias(f"nrm{d}")
            for d in red
        ],
    )
    q = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(qcap)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            *[F.col(f"nrm{d}").alias(f"qn{d}") for d in red],
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            *[
                F.round(
                    dot_unrolled(F.col("qv"), F.col("v"), d)
                    / (F.col(f"qn{d}") * F.col(f"nrm{d}")),
                    6,
                ).alias(f"cos{d}")
                for d in red
            ],
        )
    )
    ranked = scored
    for d in red:
        wd = Window.partitionBy("query_id").orderBy(
            F.col(f"cos{d}").desc(), F.col("cand_id")
        )
        ranked = ranked.withColumn(f"rk{d}", F.row_number().over(wd))
    keep = None
    for d in red:
        c = F.col(f"rk{d}") <= TOP_K
        keep = c if keep is None else (keep | c)
    shortlist = ranked.filter(keep).select(
        "query_id", "cand_id", *[f"rk{d}" for d in red]
    ).localCheckpoint(eager=False)
    legs = []
    for d in MRL_DIMS:
        if d == DIM:
            legs.append(
                truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
                .select(
                    F.lit(d).cast("long").alias("dims"),
                    "n_truth",
                    F.col("n_truth").alias("n_approx"),
                    F.col("n_truth").alias("n_hits"),
                    F.round(F.lit(1.0), 4).alias("recall"),
                )
            )
            continue
        approx = shortlist.filter(F.col(f"rk{d}") <= TOP_K).select(
            "query_id", "cand_id"
        )
        legs.append(
            _recall_one_row(truth, approx).select(
                F.lit(d).cast("long").alias("dims"),
                "n_truth",
                "n_approx",
                "n_hits",
                "recall",
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


def _mrl_oracle() -> str:
    legs = []
    for d in MRL_DIMS:
        if d == DIM:
            # the sanity leg reads DIRECTLY off the truth CTE —
            # ranked{DIM} IS the truth ranking, so re-scoring it in an
            # independent CTE would only reintroduce the one place
            # where DuckDB's nondeterministic float summation order
            # could round a boundary-adjacent cosine differently in
            # two sibling CTEs (the Spark side is bit-identical by
            # construction either way)
            legs.append(f"""
r{d} AS (
    SELECT CAST({d} AS BIGINT) AS dims,
           count(*) AS n_truth,
           count(*) AS n_approx,
           count(*) AS n_hits
    FROM truth
)""")
            continue
        legs.append(f"""
r{d} AS (
    SELECT CAST({d} AS BIGINT) AS dims,
           (SELECT count(*) FROM truth) AS n_truth,
           (SELECT count(*) FROM (
               SELECT * FROM ranked{d} WHERE rank <= {TOP_K})) AS n_approx,
           count(*) AS n_hits
    FROM truth t
    WHERE EXISTS (
        SELECT 1 FROM ranked{d} a
        WHERE a.rank <= {TOP_K}
          AND a.query_id = t.query_id AND a.cand_id = t.cand_id)
)""")
    rank_ctes = []
    for d in MRL_DIMS:
        rank_ctes.append(f"""
norms{d} AS (
    SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e WHERE pos <= {d} GROUP BY 1
),
scored{d} AS (
    SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
           round(sum(q.x * e.x) / (nq.nrm * nc.nrm), 6) AS cosine
    FROM e q
    JOIN e ON q.pos = e.pos AND q.vec_id != e.vec_id AND q.pos <= {d}
    JOIN norms{d} nq ON q.vec_id = nq.vec_id
    JOIN norms{d} nc ON e.vec_id = nc.vec_id
    WHERE q.vec_id IN (SELECT vec_id FROM qset)
    GROUP BY 1, 2, nq.nrm, nc.nrm
),
ranked{d} AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rank
    FROM scored{d}
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT dims, CAST(n_truth AS BIGINT) AS n_truth,"
        f" CAST(n_approx AS BIGINT) AS n_approx,"
        f" CAST(n_hits AS BIGINT) AS n_hits,"
        f" round(CAST(n_hits AS DOUBLE) / n_truth, 4) AS recall FROM r{d}"
        for d in MRL_DIMS
    )
    return (
        f"""
WITH e AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
qset AS (
    SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
        FROM embeddings WHERE vec_id % {QUERY_MOD} = 0) z
    WHERE z.rn <= {_mrl_qcap_sql()}
),"""
        + ",".join(rank_ctes)
        + ","
        + f"""
truth AS (
    SELECT query_id, cand_id FROM ranked{DIM} WHERE rank <= {TOP_K}
),"""
        + ",".join(legs)
        + "\n"
        + union
    )


MRL_RECALL_CURVE_ORACLE = _mrl_oracle()


# ---------------------------------------------------------------------------
# MRL shortlist-then-rerank (the deployment mrl_recall_curve designs for)
# ---------------------------------------------------------------------------

# the dimension budget the recall curve prices: the shortlist index
# stores/scans only the first 16 of 64 dims (4x cheaper per candidate),
# and the full vectors score only the shortlist survivors
MRL_SHORTLIST_DIM = 16
MRL_SHORTLIST_N = 4 * TOP_K  # shortlist width per query


def ann_topk_mrl(t: dict[str, DataFrame]) -> DataFrame:
    """Matryoshka shortlist-then-rerank retrieval (Kusupati et al.
    2022, arXiv:2205.13147 §4 "adaptive retrieval"): stage 1 ranks the
    WHOLE corpus by cosine over only the first ``MRL_SHORTLIST_DIM``
    dimensions (the cheap prefix index — the storage budget
    :func:`mrl_recall_curve` prices), keeps the top
    ``MRL_SHORTLIST_N`` per query; stage 2 re-scores only those
    survivors with the full ``DIM``-dimensional cosine and emits the
    final top-``TOP_K``.  Same output contract as
    :func:`ann_topk_bruteforce` (its recall gate is
    :func:`mrl_shortlist_recall`).

    Scale shape: the corpus-sized scan touches ``MRL_SHORTLIST_DIM``
    elements per row (unrolled, whole-stage codegen) instead of
    ``DIM`` — a 4× cut on the dominant term; the full-dimension dot
    computes AFTER the shortlist filter, so it runs on
    ``MRL_SHORTLIST_N``·|queries| rows — constant in corpus size.  The
    query set is the module-wide corpus-derived bounded broadcast
    (:func:`_ann_qcap`), so the scan's Q·N term is budgeted at every
    corpus size — the fixed-cap version of this operator read 18.8× at
    the 100× decade probe (BENCH_sf10_r11_newops) because the
    ``% QUERY_MOD`` subset grew 10× between legs under the cap.

    ONLY (query_id, cand_id, p_cos) rows — 24 bytes — cross the
    shortlist ranking exchange: the first version of this operator
    carried the candidate AND query vectors through the window and
    died of spill-disk exhaustion at the 100× probe (|Q|·N rows ×
    ~2·DIM doubles ≈ hundreds of GB); the survivors re-join to the
    vector frame and the query broadcast instead, which costs two
    narrow keyed joins on an 80k-row frame — the repo-wide "vectors
    never ride an exchange they don't need" discipline.
    """
    d = MRL_SHORTLIST_DIM
    emb = _corpus(t).withColumn(
        "pv", F.slice(F.col("v"), 1, d)
    ).withColumn("pn", norm_unrolled(F.col("pv"), d))
    q = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(_ann_qcap(t))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("pv").alias("qpv"),
            F.col("pn").alias("qpn"),
        )
        .localCheckpoint(eager=False)  # feeds shortlist AND rerank
    )
    p_cos = F.round(
        dot_unrolled(F.col("qpv"), F.col("pv"), d) / (F.col("qpn") * F.col("pn")),
        6,
    ).alias("p_cos")
    pw = Window.partitionBy("query_id").orderBy(
        F.col("p_cos").desc(), F.col("cand_id")
    )
    short = (
        emb.crossJoin(F.broadcast(q.select("query_id", "qpv", "qpn")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), p_cos)
        .withColumn("prank", F.row_number().over(pw))
        .filter(F.col("prank") <= MRL_SHORTLIST_N)
        .select("query_id", "cand_id")
    )
    # full-dimension rerank AFTER the shortlist cut: SHORTLIST_N rows
    # per query, constant in corpus size — vectors join back HERE
    cand_v = _corpus(t).select(
        F.col("vec_id").alias("cand_id"),
        F.col("v"),
        F.col("nrm"),
    )
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")),
        6,
    ).alias("cosine")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        short.join(cand_v, "cand_id")
        .join(F.broadcast(q.select("query_id", "qv", "qn")), "query_id")
        .select("query_id", "cand_id", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "cand_id",
            "cosine",
        )
    )


ANN_TOPK_MRL_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
pnorms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm
           FROM e WHERE pos <= {MRL_SHORTLIST_DIM} GROUP BY 1),
q AS (SELECT * FROM e WHERE vec_id IN ({_QCAP_SQL})),
pscored AS (
    SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
           round(sum(q.x * e.x) / (nq.nrm * nc.nrm), 6) AS p_cos
    FROM q
    JOIN e ON q.pos = e.pos AND q.vec_id != e.vec_id
         AND q.pos <= {MRL_SHORTLIST_DIM}
    JOIN pnorms nq ON q.vec_id = nq.vec_id
    JOIN pnorms nc ON e.vec_id = nc.vec_id
    GROUP BY 1, 2, nq.nrm, nc.nrm
),
short AS (
    SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY p_cos DESC, cand_id
        ) AS prank
        FROM pscored
    ) WHERE prank <= {MRL_SHORTLIST_N}
),
rescored AS (
    SELECT s.query_id, s.cand_id,
           round(sum(q.x * e.x) / (nq.nrm * nc.nrm), 6) AS cosine
    FROM short s
    JOIN e q ON q.vec_id = s.query_id
    JOIN e ON e.vec_id = s.cand_id AND e.pos = q.pos
    JOIN norms nq ON nq.vec_id = s.query_id
    JOIN norms nc ON nc.vec_id = s.cand_id
    GROUP BY 1, 2, nq.nrm, nc.nrm
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rank
    FROM rescored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id, cosine
FROM ranked
WHERE rank <= {TOP_K}
"""


def mrl_shortlist_recall(t: dict[str, DataFrame]) -> DataFrame:
    """Recall@k of the MRL shortlist-then-rerank pipeline
    (:func:`ann_topk_mrl`) against the brute-force truth — the
    acceptance gate that closes the MRL story: the recall CURVE
    (:func:`mrl_recall_curve`) prices the prefix budgets, this gate
    measures the one the production operator actually ships
    (shortlist at MRL_SHORTLIST_DIM dims, rerank at full DIM).
    Because the rerank is exact, the only loss is a true neighbor
    falling outside the prefix index's top-MRL_SHORTLIST_N shortlist —
    the curve's d=MRL_SHORTLIST_DIM row bounds it."""
    return _recall_one_row(
        _bf_truth(t),
        ann_topk_mrl(t).select("query_id", "cand_id"),
    )


MRL_SHORTLIST_RECALL_ORACLE = _recall_oracle(ANN_TOPK_MRL_ORACLE)


# ---------------------------------------------------------------------------
# Greedy k-center coreset selection
# ---------------------------------------------------------------------------

KCENTER_K = 8  # selected coreset size (one driver round per center)


def kcenter_select(t: dict[str, DataFrame]) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985's 2-approx
    farthest-first traversal; the coreset active-learning selector of
    Sener & Savarese 2018, arXiv:1708.00489): seed with the lowest
    vec_id, then repeatedly add the point FARTHEST (max min cosine
    distance, ties on lowest vec_id) from the already-selected set —
    the diversity-maximizing complement to density-based selection
    (``semdedup`` removes the redundant; this picks the spanning).
    Output: one row per selected center with its selection order and
    its distance to the previously-selected set at selection time (the
    coverage radius ladder — row i's ``dist`` bounds the whole
    corpus's distance to the first i−1 centers, so the ladder IS the
    coverage-vs-budget design curve).

    Scale shape: exactly ``KCENTER_K − 1`` rounds, each ONE corpus
    scan computing the unrolled 64-term dot against a single
    broadcast-literal center vector plus a ``least()`` fold into the
    running min-dist column — O(k·N) total work, O(1) driver state per
    round (one 64-dim row).  The running frame localCheckpoints per
    round and the superseded round's blocks release deterministically
    (the CC kernel's storage ladder, ``functions/caching``); the
    per-round argmax is a TakeOrderedAndProject (map-side top-1), never
    a global sort.  The driver collect is ONE row per round — bounded
    by k, the documented exception pattern (BPE's one-row-per-round).
    """
    centers = _kcenter_centers(t)
    spark = t["embeddings"].sparkSession
    return spark.createDataFrame(
        [(o, vid, d) for o, vid, d, _, _ in centers],
        "sel_order long, vec_id long, dist double",
    )


def _kc_dist_to(v_lit: list[float], nrm: float) -> F.Column:
    """Rounded cosine distance of column ``v`` (with norm column
    ``nrm``) to one literal center vector — the shared scoring
    expression of the k-center family (selection loop and coverage
    scan must score bit-identically)."""
    cos = F.round(
        dot_literal(F.col("v"), [float(x) for x in v_lit])
        / (F.col("nrm") * F.lit(nrm)),
        6,
    )
    return F.round(F.lit(1.0) - cos, 6)


# identity-keyed memo of the selection loop's k center rows, keyed on
# the raw embeddings frame (the loader memoizes that per (session,
# sf_dir), the _LOGREG_CACHE discipline): kcenter_select and
# kcenter_coverage share the SAME k−1 driver-synchronous rounds, and
# before this memo coverage re-ran the whole loop it had just watched
# select run — 2×(k−1) rounds per bench sweep, 18.3 s median at sf0.1
# with a 11.5–34.2 s spread (VERDICT r11 item 3).  The value is k
# plain Python tuples (≤ k × DIM floats), not a frame — nothing to
# unpersist on eviction.
_KCENTER_MEMO: "_OrderedDict[int, tuple[DataFrame, list]]" = _OrderedDict()


def _kcenter_centers(
    t: dict[str, DataFrame],
) -> list[tuple[int, int, float, list[float], float]]:
    """The greedy selection loop shared by :func:`kcenter_select` and
    :func:`kcenter_coverage`: returns (order, vec_id, dist, v, nrm)
    per selected center — k driver rows total, the bounded collect.
    Memoized per embeddings frame so the coverage histogram costs one
    corpus scan, not a second selection loop."""
    key = t["embeddings"]
    k = id(key)
    hit = _KCENTER_MEMO.get(k)
    if hit is not None:
        count_memo(True)
        _KCENTER_MEMO.move_to_end(k)
        return hit[1]
    count_memo(False)
    out = _kcenter_centers_uncached(t)
    _KCENTER_MEMO[k] = (key, out)
    while len(_KCENTER_MEMO) > 4:
        _KCENTER_MEMO.popitem(last=False)
    return out


def _kcenter_centers_uncached(
    t: dict[str, DataFrame],
) -> list[tuple[int, int, float, list[float], float]]:
    emb = _corpus(t)  # vec_id, v, nrm
    seed = emb.orderBy("vec_id").limit(1).collect()[0]
    out = [(1, seed["vec_id"], 0.0, list(seed["v"]), float(seed["nrm"]))]
    cur = (
        emb.filter(F.col("vec_id") != F.lit(seed["vec_id"]))
        .select(
            "vec_id", "v", "nrm",
            _kc_dist_to(seed["v"], seed["nrm"]).alias("d"),
        )
        .localCheckpoint(eager=False)
    )
    for i in range(2, KCENTER_K + 1):
        far = cur.orderBy(F.col("d").desc(), "vec_id").limit(1).collect()
        if not far:  # corpus smaller than k: emit what exists
            break
        far = far[0]
        out.append(
            (i, far["vec_id"], float(far["d"]), list(far["v"]),
             float(far["nrm"]))
        )
        if i == KCENTER_K:
            break
        nxt = (
            cur.filter(F.col("vec_id") != F.lit(far["vec_id"]))
            .select(
                "vec_id",
                "v",
                "nrm",
                F.least(
                    F.col("d"), _kc_dist_to(far["v"], far["nrm"])
                ).alias("d"),
            )
            .localCheckpoint(eager=False)
        )
        nxt.count()  # materialize before releasing the parent's blocks
        release_local_checkpoint(cur)
        cur = nxt
    release_local_checkpoint(cur)
    return out


def _kcenter_oracle() -> str:
    # every CTE in the chain is MATERIALIZED: d{i} and c{i} each
    # reference d{i-1} more than once, and DuckDB inlines unhinted CTEs
    # per reference — the unhinted chain re-evaluated ~3^k times
    # (measured: the k=8 oracle spun >8 min at sf0.001; materialized it
    # runs in milliseconds)
    parts = [
        """e AS MATERIALIZED (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
)""",
        "norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS nrm"
        " FROM e GROUP BY 1)",
        "c1 AS MATERIALIZED (SELECT min(vec_id) AS vec_id, 0.0 AS d"
        " FROM embeddings)",
        """d1 AS MATERIALIZED (
    SELECT e.vec_id,
           round(1 - round(sum(e.x * c.x) / (ne.nrm * nc.nrm), 6), 6) AS d
    FROM e
    JOIN e c ON c.pos = e.pos AND c.vec_id = (SELECT vec_id FROM c1)
    JOIN norms ne ON ne.vec_id = e.vec_id
    JOIN norms nc ON nc.vec_id = c.vec_id
    WHERE e.vec_id != (SELECT vec_id FROM c1)
    GROUP BY e.vec_id, ne.nrm, nc.nrm
)""",
    ]
    for i in range(2, KCENTER_K + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT vec_id, d FROM d{i - 1} "
            f"ORDER BY d DESC, vec_id LIMIT 1)"
        )
        if i == KCENTER_K:
            break
        parts.append(f"""d{i} AS MATERIALIZED (
    SELECT p.vec_id, least(p.d,
           round(1 - round(sum(e.x * c.x) / (ne.nrm * nc.nrm), 6), 6)) AS d
    FROM d{i - 1} p
    JOIN e ON e.vec_id = p.vec_id
    JOIN e c ON c.pos = e.pos AND c.vec_id = (SELECT vec_id FROM c{i})
    JOIN norms ne ON ne.vec_id = p.vec_id
    JOIN norms nc ON nc.vec_id = c.vec_id
    WHERE p.vec_id != (SELECT vec_id FROM c{i})
    GROUP BY p.vec_id, p.d, ne.nrm, nc.nrm
)""")
    legs = [
        "SELECT CAST(1 AS BIGINT) AS sel_order, vec_id, d AS dist FROM c1"
    ] + [
        f"SELECT CAST({i} AS BIGINT) AS sel_order, vec_id, d AS dist FROM c{i}"
        for i in range(2, KCENTER_K + 1)
    ]
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(legs)


KCENTER_SELECT_ORACLE = _kcenter_oracle()


# ---------------------------------------------------------------------------
# ANN-mined hard negatives
# ---------------------------------------------------------------------------


def hard_negative_mining(t: dict[str, DataFrame]) -> DataFrame:
    """ANN-mined hard negatives for contrastive embedding training —
    the ANCE recipe (Xiong et al. 2021, arXiv:2007.00808; also DPR's
    BM25-mined negatives, Karpukhin et al. 2020): for each query, the
    ``TOP_K`` highest-cosine candidates whose ``label`` DIFFERS from
    the query's — near the query in embedding space but semantically
    wrong, the negatives that carry gradient signal (random negatives,
    :func:`selection.pair_mining`'s leg, are mostly too easy).  The
    complement of :func:`knn_graph` (which links same-space neighbors
    regardless of label).

    Scale shape: one corpus scan with the unrolled codegen dot, the
    label filter applied BEFORE ranking so the window sees only
    cross-label rows; top-k per query via ``row_number`` (map-side
    partial).  The ANCHOR BATCH DERIVES FROM CORPUS SIZE
    (:func:`derived_mrl_query_cap` — the same Q·N comparison-budget
    rule the MRL design table uses, mirrored in the oracle): a miner
    is a batch job over a budget-sized anchor list per pass, not a
    serving index with a fixed query contract, so an anchor set that
    grew as N/100 with the corpus would make every mining pass
    quadratic (measured 108× at the 100× probe under the fixed
    ``ANN_QUERY_CAP``; the derived batch keeps the pass linear).  At
    the fixture scales the natural %-subset binds and behavior is
    unchanged.  In production the corpus scan swaps for any of this
    module's gated indexes; the brute-force form is the truth this
    table is defined by.
    """
    emb = fan_out(t["embeddings"]).select(
        "vec_id", "label", to_double_array("embedding").alias("v")
    )
    emb = emb.withColumn("nrm", norm_unrolled(F.col("v"), DIM))
    qcap = derived_mrl_query_cap(_n_vecs(t["embeddings"]))
    q = (
        emb.filter(F.col("vec_id") % QUERY_MOD == 0)
        .orderBy("vec_id")
        .limit(qcap)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    cos = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")),
        6,
    ).alias("cosine")
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "q_label",
            F.col("vec_id").alias("cand_id"),
            F.col("label").alias("neg_label"),
            cos,
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "cand_id",
            F.col("q_label").cast("int").alias("q_label"),
            F.col("neg_label").cast("int").alias("neg_label"),
            "cosine",
        )
    )


HARD_NEGATIVE_MINING_ORACLE = f"""
WITH e AS (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM e GROUP BY 1),
lab AS (SELECT vec_id, label FROM embeddings),
qset AS (
    SELECT vec_id FROM (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
        FROM embeddings WHERE vec_id % {QUERY_MOD} = 0) z
    WHERE z.rn <= {_mrl_qcap_sql()}
),
q AS (SELECT * FROM e WHERE vec_id IN (SELECT vec_id FROM qset)),
scored AS (
    SELECT q.vec_id AS query_id, lq.label AS q_label,
           e.vec_id AS cand_id, lc.label AS neg_label,
           round(sum(q.x * e.x) / (nq.nrm * nc.nrm), 6) AS cosine
    FROM q
    JOIN e ON q.pos = e.pos AND q.vec_id != e.vec_id
    JOIN norms nq ON q.vec_id = nq.vec_id
    JOIN norms nc ON e.vec_id = nc.vec_id
    JOIN lab lq ON lq.vec_id = q.vec_id
    JOIN lab lc ON lc.vec_id = e.vec_id
    WHERE lq.label != lc.label
    GROUP BY 1, 2, 3, 4, nq.nrm, nc.nrm
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, cand_id
    ) AS rank
    FROM scored
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
       CAST(q_label AS INT) AS q_label, CAST(neg_label AS INT) AS neg_label,
       cosine
FROM ranked
WHERE rank <= {TOP_K}
"""


KCENTER_BUCKET_SCALE = 10  # bucket = floor(dist * 10), dist in [0, 2]


def kcenter_coverage(t: dict[str, DataFrame]) -> DataFrame:
    """Coverage histogram of the greedy k-center solution
    (:func:`kcenter_select`): for EVERY corpus vector, its cosine
    distance to the nearest selected center, bucketed at 0.1 — the
    table that prices the coreset budget (Sener & Savarese 2018 §3:
    the k-center objective IS the max of this distribution, but the
    mass near the radius decides whether k+1 helps).  The selection
    ladder gives the radius at each k; this gives the SHAPE under it.

    Scale shape: the selection loop is :func:`kcenter_select`'s
    bounded k-round traversal; the histogram is then ONE corpus scan
    scoring k broadcast-literal centers inside whole-stage codegen
    (``least`` over k unrolled dots) and a |buckets|-row groupBy —
    no joins, no pair materialization.
    """
    centers = _kcenter_centers(t)
    emb = _corpus(t)
    d = F.least(*[_kc_dist_to(v, nrm) for _, _, _, v, nrm in centers])
    bucket = F.floor(d * F.lit(KCENTER_BUCKET_SCALE)).cast("long")
    tot = Window.partitionBy()
    return (
        emb.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn(
            "share", F.round(F.col("n") / F.sum("n").over(tot), 6)
        )
    )


def _kcenter_coverage_oracle() -> str:
    chain = KCENTER_SELECT_ORACLE.split("\nUNION ALL\n")[0]
    # keep only the WITH-chain (strip the first SELECT leg), then
    # append the coverage CTEs over the selected ids
    with_part = chain[: chain.rindex("SELECT CAST(1 AS BIGINT)")]
    sel_ids = " UNION ALL ".join(
        f"SELECT vec_id FROM c{i}" for i in range(1, KCENTER_K + 1)
    )
    return (
        with_part
        + f""",
sel AS MATERIALIZED ({sel_ids}),
pc AS MATERIALIZED (
    SELECT e.vec_id,
           round(1 - round(sum(e.x * c.x) / (ne.nrm * nc.nrm), 6), 6) AS d
    FROM e
    JOIN e c ON c.pos = e.pos
    JOIN sel s ON c.vec_id = s.vec_id
    JOIN norms ne ON ne.vec_id = e.vec_id
    JOIN norms nc ON nc.vec_id = c.vec_id
    GROUP BY e.vec_id, c.vec_id, ne.nrm, nc.nrm
),
md AS MATERIALIZED (SELECT vec_id, min(d) AS d FROM pc GROUP BY 1),
hist AS (
    SELECT CAST(floor(d * {KCENTER_BUCKET_SCALE}) AS BIGINT) AS bucket,
           count(*) AS n
    FROM md GROUP BY 1
)
SELECT bucket, CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / sum(n) OVER (), 6) AS share
FROM hist
"""
    )


KCENTER_COVERAGE_ORACLE = _kcenter_coverage_oracle()


# ---------------------------------------------------------------------------
# MMR diversified rerank (greedy maximal marginal relevance)
# ---------------------------------------------------------------------------

MMR_POOL = 20   # relevance shortlist per query feeding the greedy loop
MMR_K = 5       # diversified picks per query
MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to picks


# identity-keyed memo on the loader-memoized embeddings frame (the
# _kcenter_centers discipline): the gate calls mmr_rerank on the same
# corpus it builds its own pool for — without the memo the bounded
# shortlist scan and the |Q|·POOL² pair build ran TWICE per gate
# invocation (isolated sf0.1 median 27.9 s pre-memo)
_MMR_MEMO: "_OrderedDict[int, tuple[DataFrame, tuple]]" = _OrderedDict()


def _mmr_pool_pairs(t: dict[str, DataFrame]) -> tuple[DataFrame, DataFrame]:
    """(pool, pairs) shared by :func:`mmr_rerank` and its gate: each
    capped query's top-``MMR_POOL`` relevance shortlist, and the
    within-pool pairwise candidate cosines (|Q|·POOL² bounded rows).
    Both localCheckpoint so the greedy rounds' plans stay flat; the
    pair memoizes per embeddings frame so the gate's two consumers
    share one build."""
    key = t["embeddings"]
    k = id(key)
    hit = _MMR_MEMO.get(k)
    if hit is not None:
        count_memo(True)
        _MMR_MEMO.move_to_end(k)
        return hit[1]
    count_memo(False)
    out = _mmr_pool_pairs_uncached(t)
    _MMR_MEMO[k] = (key, out)
    while len(_MMR_MEMO) > 2:
        # release the evicted entry's checkpoint blocks eagerly (the
        # MemoSlots discipline) instead of waiting for JVM-side GC
        _, (_, evicted) = _MMR_MEMO.popitem(last=False)
        for frame in evicted:
            release_local_checkpoint(frame)
    return out


def _mmr_pool_pairs_uncached(
    t: dict[str, DataFrame],
) -> tuple[DataFrame, DataFrame]:
    emb = _corpus(t)
    q = _queries(emb, _ann_qcap(t))
    rel_c = F.round(
        dot_unrolled(F.col("qv"), F.col("v"), DIM) / (F.col("qn") * F.col("nrm")),
        6,
    ).alias("rel")
    w_rel = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    pool = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"), rel_c)
        .withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= MMR_POOL)
        .select("query_id", "cand_id", "rel")
        .localCheckpoint(eager=False)
    )
    cv = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv_a"),
        F.col("nrm").alias("cn_a"),
    )
    sim_c = F.round(
        dot_unrolled(F.col("cv_a"), F.col("cv_b"), DIM)
        / (F.col("cn_a") * F.col("cn_b")),
        6,
    ).alias("sim")
    pairs = (
        pool.join(cv, "cand_id")
        .join(
            pool.select(
                "query_id", F.col("cand_id").alias("b")
            ).join(
                cv.select(
                    F.col("cand_id").alias("b"),
                    F.col("cv_a").alias("cv_b"),
                    F.col("cn_a").alias("cn_b"),
                ),
                "b",
            ),
            "query_id",
        )
        .filter(F.col("cand_id") != F.col("b"))
        .select("query_id", F.col("cand_id").alias("a"), "b", sim_c)
        .localCheckpoint(eager=False)
    )
    return pool, pairs


def mmr_rerank(t: dict[str, DataFrame]) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein, SIGIR
    1998) of each query's brute-force shortlist: greedily pick the
    candidate maximizing ``λ·rel(q,c) − (1−λ)·max_{s∈picked} sim(c,s)``
    — the diversification stage between retrieval and a training batch
    (or a RAG context window), where the plain top-k returns five
    paraphrases of one document and MMR returns one of each.  The
    query-level complement of the corpus-level :func:`kcenter_select`
    (both greedy 2-approx diversifiers; this one is per-query and
    relevance-anchored).

    Scale shape: the only corpus-sized work is the shortlist scan
    (the budgeted bounded-query brute pass, :func:`_ann_qcap`); the
    greedy loop then runs over |Q|·MMR_POOL rows with |Q|·MMR_POOL²
    pairwise sims — ALL queries advance together each round, so the
    loop costs MMR_K bounded joins, not a per-query driver loop; pool
    and pair frames localCheckpoint so the round plans stay flat (the
    ``kmeans_cells`` lineage discipline).  The MMR score is computed
    in EXACT integer arithmetic (rel/sim carry 6 decimals, so
    score·1e7 = 7·rel·1e6 − 3·pen·1e6 is a BIGINT) — no floating
    rounding step for the two engines to disagree on; ties to the
    lowest cand_id.
    """
    pool, pairs = _mmr_pool_pairs(t)
    w_rel = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    # EXACT integer score law (engine-portable with no score rounding
    # at all): rel/sim carry 6 decimals, so score·1e7 = 7·(rel·1e6) −
    # 3·(pen·1e6) is integer arithmetic — a plain round(λ·rel−(1−λ)·pen,
    # 6) landed on a .5 boundary at sf0.01 and the two engines' last
    # digits disagreed
    def _scaled(col: F.Column) -> F.Column:
        return F.round(col * 1_000_000, 0).cast("long")

    def _score(rel_col: F.Column, pen_col: F.Column) -> F.Column:
        num = (
            F.lit(int(MMR_LAMBDA * 10)) * _scaled(rel_col)
            - F.lit(int(round((1 - MMR_LAMBDA) * 10))) * _scaled(pen_col)
        )
        return (num.cast("double") / F.lit(10_000_000.0))

    first = (
        pool.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "cand_id",
            "rel",
            _score(F.col("rel"), F.lit(0.0)).alias("mmr_score"),
            F.lit(1).cast("long").alias("mmr_rank"),
        )
    )
    picks = [first]
    sel = first.select("query_id", "cand_id")
    for r in range(2, MMR_K + 1):
        pen = (
            pairs.join(
                sel.select("query_id", F.col("cand_id").alias("b")),
                ["query_id", "b"],
            )
            .groupBy("query_id", F.col("a").alias("cand_id"))
            .agg(F.max("sim").alias("pen"))
        )
        score = _score(F.col("rel"), F.col("pen"))
        w_mmr = Window.partitionBy("query_id").orderBy(
            F.col("mmr_score").desc(), F.col("cand_id")
        )
        pick = (
            pool.join(sel, ["query_id", "cand_id"], "left_anti")
            .join(pen, ["query_id", "cand_id"])
            .select("query_id", "cand_id", "rel", score.alias("mmr_score"))
            .withColumn("rn", F.row_number().over(w_mmr))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "cand_id",
                "rel",
                "mmr_score",
                F.lit(r).cast("long").alias("mmr_rank"),
            )
        )
        picks.append(pick)
        sel = sel.unionByName(pick.select("query_id", "cand_id")).localCheckpoint(
            eager=False
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select("query_id", "mmr_rank", "cand_id", "rel", "mmr_score")


def _mmr_parts() -> str:
    # greedy loop unrolled to MMR_K rounds; every CTE that later rounds
    # reference twice is MATERIALIZED (the _kcenter_oracle lesson:
    # DuckDB re-inlines unhinted CTEs per reference — ~3^k blowup).
    # Shared (pool/pairs/picks) by the rerank oracle and its
    # diversity gate.
    # the exact integer score law (see mmr_rerank): score·1e7 =
    # lam10·rel·1e6 − mu10·pen·1e6, all BIGINT, then ONE double divide
    lam10 = int(MMR_LAMBDA * 10)
    mu10 = int(round((1 - MMR_LAMBDA) * 10))

    def score_sql(rel: str, pen: str) -> str:
        return (
            f"CAST({lam10} * CAST(round({rel} * 1000000, 0) AS BIGINT) "
            f"- {mu10} * CAST(round({pen} * 1000000, 0) AS BIGINT) "
            f"AS DOUBLE) / 10000000.0"
        )

    parts = [
        """e AS MATERIALIZED (
    SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
)""",
        "norms AS MATERIALIZED (SELECT vec_id, sqrt(sum(x * x)) AS nrm"
        " FROM e GROUP BY 1)",
        f"q AS MATERIALIZED (SELECT * FROM e WHERE vec_id IN ({_QCAP_SQL}))",
        f"""pool AS MATERIALIZED (
    SELECT query_id, cand_id, rel FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rel DESC, cand_id
        ) AS rn
        FROM (
            SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
                   round(sum(q.x * e.x) / (nq.nrm * nc.nrm), 6) AS rel
            FROM q
            JOIN e ON q.pos = e.pos AND q.vec_id != e.vec_id
            JOIN norms nq ON q.vec_id = nq.vec_id
            JOIN norms nc ON e.vec_id = nc.vec_id
            GROUP BY 1, 2, nq.nrm, nc.nrm
        )
    ) WHERE rn <= {MMR_POOL}
)""",
        """pairs AS MATERIALIZED (
    SELECT pa.query_id, pa.cand_id AS a, pb.cand_id AS b,
           round(sum(ea.x * eb.x) / (na.nrm * nb.nrm), 6) AS sim
    FROM pool pa
    JOIN pool pb ON pa.query_id = pb.query_id AND pa.cand_id != pb.cand_id
    JOIN e ea ON ea.vec_id = pa.cand_id
    JOIN e eb ON eb.vec_id = pb.cand_id AND ea.pos = eb.pos
    JOIN norms na ON na.vec_id = pa.cand_id
    JOIN norms nb ON nb.vec_id = pb.cand_id
    GROUP BY 1, 2, 3, na.nrm, nb.nrm
)""",
        f"""p1 AS MATERIALIZED (
    SELECT query_id, cand_id, rel, {score_sql("rel", "0.0")} AS mmr_score,
           CAST(1 AS BIGINT) AS mmr_rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rel DESC, cand_id
        ) AS rn FROM pool
    ) WHERE rn = 1
)""",
        "sel1 AS MATERIALIZED (SELECT query_id, cand_id FROM p1)",
    ]
    for r in range(2, MMR_K + 1):
        parts.append(f"""pen{r} AS MATERIALIZED (
    SELECT pr.query_id, pr.a AS cand_id, max(pr.sim) AS pen
    FROM pairs pr
    JOIN sel{r - 1} s ON pr.query_id = s.query_id AND pr.b = s.cand_id
    GROUP BY 1, 2
)""")
        parts.append(f"""p{r} AS MATERIALIZED (
    SELECT query_id, cand_id, rel, mmr_score,
           CAST({r} AS BIGINT) AS mmr_rank
    FROM (
        SELECT po.query_id, po.cand_id, po.rel,
               {score_sql("po.rel", "pe.pen")} AS mmr_score,
               row_number() OVER (
                   PARTITION BY po.query_id
                   ORDER BY {score_sql("po.rel", "pe.pen")} DESC,
                            po.cand_id
               ) AS rn
        FROM pool po
        JOIN pen{r} pe
          ON pe.query_id = po.query_id AND pe.cand_id = po.cand_id
        WHERE NOT EXISTS (
            SELECT 1 FROM sel{r - 1} s
            WHERE s.query_id = po.query_id AND s.cand_id = po.cand_id
        )
    ) WHERE rn = 1
)""")
        parts.append(
            f"sel{r} AS MATERIALIZED (SELECT * FROM sel{r - 1} "
            f"UNION ALL SELECT query_id, cand_id FROM p{r})"
        )
    legs = " UNION ALL ".join(
        f"SELECT * FROM p{r}" for r in range(1, MMR_K + 1)
    )
    parts.append(f"picks AS MATERIALIZED (SELECT * FROM ({legs}))")
    return ",\n".join(parts)


def _mmr_oracle() -> str:  # noqa: F811 — parts builder + final select
    return (
        "WITH "
        + _mmr_parts()
        + "\nSELECT query_id, mmr_rank, cand_id, rel, mmr_score FROM picks"
    )


MMR_RERANK_ORACLE = _mmr_oracle()


# ---------------------------------------------------------------------------
# Per-dimension clip bounds for scalar quantization (exact order stats)
# ---------------------------------------------------------------------------


def embedding_clip_bounds(t: dict[str, DataFrame]) -> DataFrame:
    """Per-dimension p1/p99 clip bounds vs the raw min/max — the
    design table behind OUTLIER-ROBUST scalar quantization: ``sq_codes``
    spreads its 256 levels over [lo, hi], and a single outlier
    coordinate stretches a min/max range so the bulk of the mass lands
    in a handful of levels (the classic SQ failure; FAISS ships
    ``QT_*_uniform`` vs rangestat-trimmed variants for exactly this).
    ``clip_span_ratio`` = (p99 − p1)/(max − min) per dimension: a
    dimension far below 1.0 wastes most of its quantization range on
    tail mass and should be clipped before encoding.

    Percentiles are EXACT order statistics at integer rank positions
    (value at rank ``ceil(q·n)`` under the deterministic (x, vec_id)
    order) — no interpolation semantics to disagree on.  Scale shape:
    the (pos, x) explode is one map pass; the ranking window
    partitions by dimension (DIM independent sorts — the design-time
    exact gate; the runtime path at 100 TB samples first); output is
    DIM rows at any corpus size.
    """
    e = (
        fan_out(t["embeddings"])
        .select(
            "vec_id",
            F.posexplode(to_double_array("embedding")).alias("pos", "x"),
        )
        .select("vec_id", (F.col("pos") + 1).alias("d"), F.round("x", 6).alias("x"))
    )
    w = Window.partitionBy("d").orderBy("x", "vec_id")
    r = e.withColumn("rn", F.row_number().over(w))
    n = e.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = r.join(n, "d")

    def at(pos_expr) -> F.Column:
        return F.max(F.when(F.col("rn") == pos_expr, F.col("x")))

    def cdiv(num: F.Column, den: int) -> F.Column:
        return ((num + F.lit(den - 1)) / F.lit(den)).cast("long")

    nn = F.col("n")
    agg = j.groupBy("d").agg(
        F.max("n").alias("n_vecs"),
        F.round(F.min("x"), 6).alias("x_min"),
        F.round(at(cdiv(nn * 1, 100)), 6).alias("p1"),
        F.round(at(cdiv(nn * 99, 100)), 6).alias("p99"),
        F.round(F.max("x"), 6).alias("x_max"),
    )
    span = F.col("x_max") - F.col("x_min")
    return agg.select(
        F.col("d").cast("long").alias("d"),
        "n_vecs",
        "x_min",
        "p1",
        "p99",
        "x_max",
        F.when(span <= 0.0, F.lit(1.0))
        .otherwise(F.round((F.col("p99") - F.col("p1")) / span, 6))
        .alias("clip_span_ratio"),
    )


EMBEDDING_CLIP_BOUNDS_ORACLE = """
WITH e AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS d,
           round(CAST(unnest(embedding) AS DOUBLE), 6) AS x
    FROM embeddings
),
r AS (
    SELECT d, x,
           row_number() OVER (PARTITION BY d ORDER BY x, vec_id) AS rn
    FROM e
),
n AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
agg AS (
    SELECT r.d, max(n.n) AS n_vecs,
           round(min(r.x), 6) AS x_min,
           round(max(CASE WHEN r.rn = (n.n * 1 + 99) // 100
                          THEN r.x END), 6) AS p1,
           round(max(CASE WHEN r.rn = (n.n * 99 + 99) // 100
                          THEN r.x END), 6) AS p99,
           round(max(r.x), 6) AS x_max
    FROM r JOIN n ON r.d = n.d
    GROUP BY 1
)
SELECT CAST(d AS BIGINT) AS d, n_vecs, x_min, p1, p99, x_max,
       CASE WHEN x_max - x_min <= 0.0 THEN 1.0
            ELSE round((p99 - p1) / (x_max - x_min), 6) END
           AS clip_span_ratio
FROM agg
"""


def mmr_diversity_gain(t: dict[str, DataFrame]) -> DataFrame:
    """The MMR deployment's acceptance gate (the module's design-table
    discipline: every production rerank ships with its measured
    forfeit): plain top-``MMR_K``-by-relevance vs :func:`mmr_rerank`'s
    picks over the SAME pools — mean relevance of each (the forfeit
    MMR pays) against mean within-pick pairwise cosine of each (the
    redundancy it removes).  ``diversity_gain`` > 0 with a small
    ``rel_forfeit`` is the go signal; a corpus where the gate reads ~0
    has no redundancy for MMR to trade against and the plain top-k
    should ship instead.

    One row; both means sum rounded-6 terms as exact DECIMAL over
    unordered (a < b) pick pairs — order-independent across engines.
    Scale shape: reuses the rerank's bounded pool/pairs frames; the
    gate itself aggregates |Q|·K pick rows and |Q|·K² pair rows.
    """
    pool, pairs = _mmr_pool_pairs(t)
    w_rel = Window.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    # both pick frames are referenced twice (rel mean + pairsim) and
    # mmr's plan is the whole MMR_K-round greedy loop — checkpoint the
    # ≤ |Q|·K rows once instead of re-running the loop per reference
    top = (
        pool.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= MMR_K)
        .select("query_id", "cand_id", "rel")
        .localCheckpoint(eager=False)
    )
    mmr = (
        mmr_rerank(t)
        .select("query_id", "cand_id", "rel")
        .localCheckpoint(eager=False)
    )

    def rel_mean(picks: DataFrame) -> F.Column:
        return F.round(
            F.sum(F.col("rel").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        )

    def pairsim(picks: DataFrame) -> DataFrame:
        return (
            pairs.join(
                picks.select("query_id", F.col("cand_id").alias("a")),
                ["query_id", "a"],
            )
            .join(
                picks.select("query_id", F.col("cand_id").alias("b")),
                ["query_id", "b"],
            )
            .filter(F.col("a") < F.col("b"))
            .agg(
                F.round(
                    F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
                    / F.count(F.lit(1)),
                    4,
                ).alias("avg_pairsim")
            )
        )

    stats_top = top.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        rel_mean(top).alias("avg_rel_topk"),
    ).crossJoin(
        F.broadcast(
            pairsim(top).select(F.col("avg_pairsim").alias("avg_pairsim_topk"))
        )
    )
    stats_mmr = mmr.agg(rel_mean(mmr).alias("avg_rel_mmr")).crossJoin(
        F.broadcast(
            pairsim(mmr).select(F.col("avg_pairsim").alias("avg_pairsim_mmr"))
        )
    )
    return (
        stats_top.crossJoin(F.broadcast(stats_mmr))
        .select(
            "n_queries",
            "avg_rel_topk",
            "avg_rel_mmr",
            F.round(F.col("avg_rel_topk") - F.col("avg_rel_mmr"), 4).alias(
                "rel_forfeit"
            ),
            "avg_pairsim_topk",
            "avg_pairsim_mmr",
            F.round(
                F.col("avg_pairsim_topk") - F.col("avg_pairsim_mmr"), 4
            ).alias("diversity_gain"),
        )
    )


MMR_DIVERSITY_GAIN_ORACLE = f"""
WITH {_mmr_parts()},
top AS MATERIALIZED (
    SELECT query_id, cand_id, rel FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rel DESC, cand_id
        ) AS rn FROM pool
    ) WHERE rn <= {MMR_K}
),
ps_top AS (
    SELECT round(CAST(sum(CAST(pr.sim AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 4) AS avg_pairsim_topk
    FROM pairs pr
    JOIN top a ON pr.query_id = a.query_id AND pr.a = a.cand_id
    JOIN top b ON pr.query_id = b.query_id AND pr.b = b.cand_id
    WHERE pr.a < pr.b
),
ps_mmr AS (
    SELECT round(CAST(sum(CAST(pr.sim AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 4) AS avg_pairsim_mmr
    FROM pairs pr
    JOIN picks a ON pr.query_id = a.query_id AND pr.a = a.cand_id
    JOIN picks b ON pr.query_id = b.query_id AND pr.b = b.cand_id
    WHERE pr.a < pr.b
),
r_top AS (
    SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n_queries,
           round(CAST(sum(CAST(rel AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 4) AS avg_rel_topk
    FROM top
),
r_mmr AS (
    SELECT round(CAST(sum(CAST(rel AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 4) AS avg_rel_mmr
    FROM picks
)
SELECT r_top.n_queries, r_top.avg_rel_topk, r_mmr.avg_rel_mmr,
       round(r_top.avg_rel_topk - r_mmr.avg_rel_mmr, 4) AS rel_forfeit,
       ps_top.avg_pairsim_topk, ps_mmr.avg_pairsim_mmr,
       round(ps_top.avg_pairsim_topk - ps_mmr.avg_pairsim_mmr, 4)
           AS diversity_gain
FROM r_top, r_mmr, ps_top, ps_mmr
"""
