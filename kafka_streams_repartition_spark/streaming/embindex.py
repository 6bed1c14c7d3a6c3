"""Streaming incremental embedding near-dup index: the streaming face
of ``operators.dedup.dedup_embedding_lsh`` and the embedding-family
sibling of ``operators.dedup.dedup_incremental``.

A ``foreachBatch`` loop maintains a PERSISTED banded hyperplane index
(the ``maintain_snapshot`` commit discipline: append-only batch dirs +
an atomic ``_CURRENT`` pointer + the checkpoint run-identity guard).
Each micro-batch:

1. builds the batch's (band, sig) signatures MAP-SIDE (the same
   ``_embdup_band_structs`` plane family as the batch query — loop-form
   dots, constant-size codegen);
2. candidates = batch-vs-INDEX bucket collisions PLUS batch-vs-batch
   collisions (new arrivals can near-dup each other) — never
   index-vs-index: history is never re-paired, the ``dedup_incremental``
   asymmetry;
3. verifies candidates at exact cosine ≥ the batch threshold and emits
   surviving pairs;
4. appends the batch's signatures and vectors to the index.

Every ≥-threshold pair (i, j) of the drained corpus is emitted EXACTLY
ONCE, in the micro-batch of the later-arriving side: same-batch pairs by
step 2's self-join, cross-batch pairs by the batch-vs-index join when
the later vector arrives.  Hence the union of all emissions equals the
one-shot ``dedup_embedding_lsh`` over the full corpus, for ANY batch
cut — the equivalence ``tests/test_streaming.py`` asserts across a
mid-stream cut.

Scale: per batch the work is |batch| signature builds + two equi-joins
keyed on (band, sig) + per-candidate-pair dots; the index contributes
only its (band, sig, vec_id) rows and the vectors of actual collision
partners — it is never scanned pairwise.  Index storage is append-only
parquet per batch (``batch=<id>/sigs|vecs``); on a lakehouse the same
loop targets a Delta/Iceberg table and only the file layout changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vectors import dot_unrolled, norm_unrolled, to_double_array
from ..operators.dedup import (
    EMBED_COSINE_THRESHOLD,
    EMBED_DIM,
    _embdup_band_structs,
)
from .snapshot import _POINTER, _RUN, _checkpoint_query_id

_SIG_SCHEMA = "vec_id long, band int, sig string"
_VEC_SCHEMA = "vec_id long, v array<double>"
_EMB_PAIR_SCHEMA = "doc_a long, doc_b long, cosine double"
_MH_PAIR_SCHEMA = "doc_a long, doc_b long, jaccard double"


def _index_version(root: str) -> int | None:
    try:
        with open(os.path.join(root, _POINTER)) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def _committed_dirs(root: str, sub: str) -> list[str]:
    """Paths of every committed batch's ``sub`` table (≤ _CURRENT):
    orphan dirs past the pointer (crash between write and commit) are
    excluded and will be overwritten by the replayed batch."""
    cur = _index_version(root)
    if cur is None:
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith("batch="):
            bid = int(d.split("=", 1)[1])
            if bid <= cur:
                out.append(os.path.join(root, d, sub))
    return sorted(out)


def _begin_batch(
    root: str, checkpoint_dir: str, batch_id: int, what: str
) -> bool:
    """Run-identity guard + replay skip (shared by every incremental
    index): False = replayed batch already committed; raises when the
    checkpoint lineage does not match the index's recorded identity."""
    qid = _checkpoint_query_id(checkpoint_dir)
    run_path = os.path.join(root, _RUN)
    stored = None
    try:
        with open(run_path) as fh:
            stored = fh.read().strip() or None
    except FileNotFoundError:
        pass
    current = _index_version(root)
    if current is not None and stored is not None and qid != stored:
        raise RuntimeError(
            f"{what} at {root} was built by streaming query {stored} but "
            f"this checkpoint ({checkpoint_dir}) is query {qid}: its batch "
            "ids do not line up with the committed batches. checkpoint_dir "
            "and index root must live and die as a pair."
        )
    if (stored is None or current is None) and qid is not None:
        tmp = os.path.join(root, f".{_RUN}.tmp")
        with open(tmp, "w") as fh:
            fh.write(qid)
        os.rename(tmp, run_path)
    return not (current is not None and current >= batch_id)


def _latest_committed_dir(root: str, sub: str) -> str | None:
    """The highest-numbered committed batch's ``sub`` table (numeric
    order — lexicographic sorting would put batch=10 before batch=2),
    for state kept as a cumulative rollup rather than per-batch
    contributions.  The batch id is parsed from each entry's own
    directory NAME, never by splitting the full path on "batch=" —
    a root path that itself contains a "batch=" substring must not
    silently select a stale rollup."""
    cur = _index_version(root)
    if cur is None:
        return None
    best = None
    for d in os.listdir(root):
        if d.startswith("batch="):
            bid = int(d.split("=", 1)[1])
            if bid <= cur and (best is None or bid > best):
                best = bid
    if best is None:
        return None
    return os.path.join(root, f"batch={best}", sub)


def _prune_superseded(root: str, sub: str) -> None:
    """Delete every committed batch's ``sub`` table BELOW the current
    pointer — for state kept as a CUMULATIVE rollup (each batch
    persists the full fold and only the latest committed copy is ever
    read), where retaining history would grow disk as
    O(n_batches × state).  Idempotent and crash-safe: the pointer's own
    batch is never touched, so :func:`_latest_committed_dir` always
    resolves; a crash mid-prune just leaves superseded dirs the next
    batch's prune removes."""
    import shutil

    cur = _index_version(root)
    if cur is None:
        return
    for d in os.listdir(root):
        if d.startswith("batch=") and int(d.split("=", 1)[1]) < cur:
            p = os.path.join(root, d, sub)
            if os.path.isdir(p):
                shutil.rmtree(p)


def _commit_batch(root: str, batch_id: int) -> None:
    tmp = os.path.join(root, f".{_POINTER}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(batch_id))
    os.rename(tmp, os.path.join(root, _POINTER))  # atomic commit


_PLANES_FILE = "_PLANES"


def _index_planes(root: str, requested: int | None = None) -> int:
    """Planes per band for the streaming index at ``root`` — an
    INDEX-CREATION-TIME property: signatures must be the same length
    across micro-batches and process restarts or buckets never
    collide, so the first batch persists the count beside the commit
    pointer and every later batch (or restart) reads it back.  The
    batch operator derives its count from the FINAL corpus size
    (``derived_band_planes``); a streaming index sizes for the
    EXPECTED corpus at creation — pass ``planes`` (or set the
    ``EMBDUP_BAND_PLANES`` override) when standing up an index for a
    corpus past ``EMBDUP_PLANE_SCALE``·2^MIN vectors, exactly as a
    production LSH service fixes its hash family at deploy time.
    Snapshot-equals-batch holds when the pinned count equals the batch
    rule's answer for the drained corpus (test corpora: both MIN)."""
    from ..operators.dedup import EMBDUP_PLANE_MIN, _EMBDUP_PLANES_ENV

    path = os.path.join(root, _PLANES_FILE)
    try:
        with open(path) as fh:
            stored = int(fh.read().strip())
        if requested is not None and requested != stored:
            raise RuntimeError(
                f"embedding index at {root} was built with {stored} planes "
                f"per band but this run requests {requested}: signature "
                "lengths would differ and buckets would never collide. "
                "Re-index to change the plane count."
            )
        return stored
    except FileNotFoundError:
        pass
    p = (
        requested
        if requested is not None
        else (int(_EMBDUP_PLANES_ENV) if _EMBDUP_PLANES_ENV else EMBDUP_PLANE_MIN)
    )
    tmp = os.path.join(root, f".{_PLANES_FILE}.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(p))
    os.rename(tmp, path)
    return p


def _sigs_for(vecs: DataFrame, planes: int) -> DataFrame:
    """(vec_id, v, band, sig) — one row per band per vector."""
    return vecs.select(
        "vec_id",
        "v",
        F.explode(F.array(*_embdup_band_structs(planes))).alias("bs"),
    ).select(
        "vec_id",
        "v",
        F.col("bs.band").alias("band"),
        F.col("bs.sig").alias("sig"),
    )


def stream_embedding_index(
    spark: SparkSession,
    vec_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
    planes: int | None = None,
) -> list:
    """Drain ``vec_stream`` (columns: vec_id, embedding) with
    availableNow, maintaining the persisted band-bucket index at
    ``root`` and returning every emitted near-dup pair row
    (doc_a, doc_b, cosine) — see module doc for the exactly-once pair
    contract.  ``on_batch(batch_id, rows)`` is an observation hook.

    Emitted pairs are the PRODUCTION SINK, not driver state: each
    batch's pairs land in ``batch=<id>/pairs`` parquet inside the same
    atomic commit as its sigs/vecs, and the return value is the
    committed pair table read back — so a process restart against a
    surviving checkpoint+index (replay-skipped batches) still returns
    the FULL emission history, and a downstream consumer tails the
    committed ``pairs`` dirs instead of holding a driver list.  Use
    :func:`stream_embedding_index_frame` to get the table without
    collecting."""
    return (
        stream_embedding_index_frame(
            spark, vec_stream, root, checkpoint_dir, on_batch, planes
        ).collect()
    )


def _embedding_batch_pairs(
    spark: SparkSession, new_vecs: DataFrame, root: str, planes: int
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch's verified embedding near-dup pairs against the
    committed hyperplane index at ``root`` — candidates are
    batch-vs-batch ∪ batch-vs-index bucket collisions (history never
    re-pairs), verified at exact cosine.  Returns ``(pairs, new_sigs)``;
    the caller persists both inside its commit.  Shared by
    :func:`stream_embedding_index_frame` and
    :func:`stream_crossmodal_clusters`."""
    new_sigs = _sigs_for(new_vecs, planes)
    sig_dirs = _committed_dirs(root, "sigs")
    vec_dirs = _committed_dirs(root, "vecs")
    cand_self = (
        new_sigs.alias("x")
        .join(new_sigs.select("band", "sig", "vec_id").alias("y"),
              ["band", "sig"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(
            F.col("x.vec_id").alias("ia"), F.col("y.vec_id").alias("ib")
        )
    )
    if sig_dirs:
        idx_sigs = spark.read.schema(_SIG_SCHEMA).parquet(*sig_dirs)
        cand_cross = (
            new_sigs.join(
                idx_sigs.select(
                    "band", "sig", F.col("vec_id").alias("old_id")
                ),
                ["band", "sig"],
            )
            # a re-ingested vec_id collides with its own committed copy
            # (cosine 1.0); the self-edge must not reach the pair table
            # — the batch operator only ever pairs a != b
            .filter(F.col("vec_id") != F.col("old_id"))
            .select(F.col("vec_id").alias("ia"), F.col("old_id").alias("ib"))
        )
        cand = cand_self.unionByName(cand_cross)
        all_vecs = new_vecs.unionByName(
            spark.read.schema(_VEC_SCHEMA).parquet(*vec_dirs)
        )
    else:
        cand = cand_self
        all_vecs = new_vecs
    cand = cand.select(
        F.least("ia", "ib").alias("doc_a"),
        F.greatest("ia", "ib").alias("doc_b"),
    ).distinct()

    va = all_vecs.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("xa"))
    vb = all_vecs.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("xb"))
    cos = F.round(
        dot_unrolled(F.col("xa"), F.col("xb"), EMBED_DIM)
        / (
            norm_unrolled(F.col("xa"), EMBED_DIM)
            * norm_unrolled(F.col("xb"), EMBED_DIM)
        ),
        4,
    )
    pairs = (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= EMBED_COSINE_THRESHOLD)
    )
    return pairs, new_sigs


def stream_embedding_index_frame(
    spark: SparkSession,
    vec_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
    planes: int | None = None,
) -> DataFrame:
    """Sink-backed form of :func:`stream_embedding_index`: returns the
    committed (doc_a, doc_b, cosine) pair TABLE.  ``planes`` pins the
    banding width at index creation (see :func:`_index_planes`)."""
    os.makedirs(root, exist_ok=True)
    n_planes = _index_planes(root, planes)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "embedding index"):
            return  # replayed batch: sigs/vecs AND pairs already committed

        new_vecs = batch_df.select(
            "vec_id", to_double_array("embedding").alias("v")
        )
        pairs, new_sigs = _embedding_batch_pairs(
            spark, new_vecs, root, n_planes
        )

        out = os.path.join(root, f"batch={batch_id}")
        pairs.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
        new_sigs.select("vec_id", "band", "sig").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "sigs"))
        new_vecs.write.mode("overwrite").parquet(os.path.join(out, "vecs"))
        _commit_batch(root, batch_id)
        if on_batch is not None:
            on_batch(
                batch_id,
                spark.read.schema(_EMB_PAIR_SCHEMA)
                .parquet(os.path.join(out, "pairs"))
                .collect(),
            )

    q = (
        vec_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pair_dirs = _committed_dirs(root, "pairs")
    if not pair_dirs:
        return spark.createDataFrame([], _EMB_PAIR_SCHEMA)
    return spark.read.schema(_EMB_PAIR_SCHEMA).parquet(*pair_dirs)


_BAND_SCHEMA = "doc_id long, band_id int, sig string"
_GRAM_SCHEMA = "doc_id long, grams array<string>, n int"


def stream_minhash_index(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> list:
    """Text twin of :func:`stream_embedding_index`: a persisted MinHash
    band-bucket index maintained per micro-batch over a document
    stream (columns: doc_id, text), emitting every Jaccard-verified
    near-dup pair (doc_a, doc_b, jaccard) exactly once — in the batch
    of its later-arriving side — so emissions across any batch cut
    equal the one-shot ``operators.dedup.dedup_minhash_lsh`` over the
    full corpus.

    Per batch: gram arrays + banded signatures map-side (the batch
    only), candidates = batch-vs-INDEX ∪ batch-vs-batch bucket
    collisions (history never re-pairs), exact-Jaccard verification
    via ``array_intersect`` on the two gram arrays, then the batch's
    (band, sig) rows and gram arrays append to the index.  The index
    side contributes its band rows to the candidate join and gram
    arrays ONLY for actual collision partners — the historical corpus
    text itself never re-shuffles (the ``dedup_incremental`` asymmetry,
    now continuous).

    Pairs persist per batch (``batch=<id>/pairs``) inside the index
    commit, exactly as :func:`stream_embedding_index` — the returned
    list is the committed table read back, replay-safe across process
    restarts; :func:`stream_minhash_index_frame` returns the table.
    """
    return (
        stream_minhash_index_frame(
            spark, doc_stream, root, checkpoint_dir, on_batch
        ).collect()
    )


def _minhash_batch_pairs(
    spark: SparkSession, batch_df: DataFrame, root: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One micro-batch's Jaccard-verified near-dup pairs against the
    committed MinHash index at ``root`` — candidates are batch-vs-batch
    ∪ batch-vs-index band collisions (history never re-pairs), verified
    at exact Jaccard.  Returns ``(pairs, bands, arr)``; the caller
    persists all three inside its commit.  Shared by
    :func:`stream_minhash_index_frame` and
    :func:`stream_crossmodal_clusters`."""
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        _doc_gram_arrays,
        _lsh_bands,
    )

    arr = _doc_gram_arrays(batch_df).localCheckpoint(eager=False)
    bands = _lsh_bands(arr)
    band_dirs = _committed_dirs(root, "bands")
    gram_dirs = _committed_dirs(root, "grams")
    cand_self = (
        bands.alias("x")
        .join(bands.select("band_id", "sig", "doc_id").alias("y"),
              ["band_id", "sig"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("ia"), F.col("y.doc_id").alias("ib"))
    )
    if band_dirs:
        idx_bands = spark.read.schema(_BAND_SCHEMA).parquet(*band_dirs)
        cand_cross = (
            bands.join(
                idx_bands.select(
                    "band_id", "sig", F.col("doc_id").alias("old_id")
                ),
                ["band_id", "sig"],
            )
            # self-edge guard: a re-ingested doc_id lands in its own
            # committed bucket (Jaccard 1.0) — batch pairs are a != b
            .filter(F.col("doc_id") != F.col("old_id"))
            .select(F.col("doc_id").alias("ia"), F.col("old_id").alias("ib"))
        )
        cand = cand_self.unionByName(cand_cross)
        all_grams = arr.unionByName(
            spark.read.schema(_GRAM_SCHEMA).parquet(*gram_dirs)
        )
    else:
        cand = cand_self
        all_grams = arr
    cand = cand.select(
        F.least("ia", "ib").alias("doc_a"),
        F.greatest("ia", "ib").alias("doc_b"),
    ).distinct()

    ga = all_grams.select(
        F.col("doc_id").alias("doc_a"),
        F.col("grams").alias("gra"),
        F.col("n").alias("na"),
    )
    gb = all_grams.select(
        F.col("doc_id").alias("doc_b"),
        F.col("grams").alias("grb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("gra", "grb"))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    pairs = (
        cand.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(jac >= JACCARD_THRESHOLD)
    )
    return pairs, bands, arr


def stream_minhash_index_frame(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Sink-backed form of :func:`stream_minhash_index`: returns the
    committed (doc_a, doc_b, jaccard) pair TABLE."""
    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "minhash index"):
            return  # replayed batch: bands/grams AND pairs already committed

        pairs, bands, arr = _minhash_batch_pairs(spark, batch_df, root)

        out = os.path.join(root, f"batch={batch_id}")
        pairs.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
        bands.select("doc_id", "band_id", "sig").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "bands"))
        arr.write.mode("overwrite").parquet(os.path.join(out, "grams"))
        _commit_batch(root, batch_id)
        if on_batch is not None:
            on_batch(
                batch_id,
                spark.read.schema(_MH_PAIR_SCHEMA)
                .parquet(os.path.join(out, "pairs"))
                .collect(),
            )

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pair_dirs = _committed_dirs(root, "pairs")
    if not pair_dirs:
        return spark.createDataFrame([], _MH_PAIR_SCHEMA)
    return spark.read.schema(_MH_PAIR_SCHEMA).parquet(*pair_dirs)


_HASH_SCHEMA = "h string"
_ACC_SCHEMA = "doc_id long, n_tokens long, quality_score double"


def stream_corpus_curation(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Production ingest curation: the streaming face of
    ``operators.text_analysis.corpus_curation``, composing the three
    gates per micro-batch against PERSISTED state —

    1. quality gate: ``text_stats`` score ≥ the curation threshold
       (per-document expressions, so the verdict is batch-invariant);
    2. exact dedup: reject a quality-passing doc whose md5(text) is
       already in the digest index (built from prior quality-passing
       docs) or held by a smaller doc_id in the same batch —
       first-arrival wins, which under id-ordered replay is exactly
       the batch operator's keep-min-id rule;
    3. near-dup: reject a doc that Jaccard-verifies ≥ threshold
       against an already-indexed doc or an earlier (smaller-id) doc
       of the same batch — the MinHash index ingests ALL arriving
       docs (mirroring the batch operator, whose loser set comes from
       the full corpus, not just quality survivors).

    Accepted rows (doc_id, n_tokens, quality_score) append to the
    curated table under the ``maintain_snapshot`` commit discipline
    (append-only ``batch=<id>`` dirs + atomic ``_CURRENT`` + run-id
    guard), so replayed batches never double-accept.  Returns the
    committed curated corpus as a DataFrame.

    Equivalence contract (tested across a mid-corpus cut): draining an
    id-ordered stream yields EXACTLY ``corpus_curation``'s output.
    Scale shape per batch: every gate is |batch|-bound — stats are
    map-side, the digest probe is a broadcast-able anti-join against
    hashes only, the near-dup leg is the ``stream_minhash_index``
    asymmetry (historical text never re-shuffles, only (band, sig)
    rows and colliding partners' gram arrays move).
    """
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        _doc_gram_arrays,
        _lsh_bands,
    )
    from ..operators.text_analysis import QUALITY_THRESHOLD, text_stats

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "curation index"):
            return  # replayed batch: accepted rows already committed
        batch_df = batch_df.localCheckpoint(eager=False)

        # gate 1: per-doc quality (batch-invariant expressions)
        stats = text_stats({"documents": batch_df}).select(
            "doc_id", "n_tokens", "quality_score"
        )
        qpass = stats.filter(
            F.col("quality_score") >= QUALITY_THRESHOLD
        )

        # gate 2: exact dedup among quality survivors, first-wins
        hashed = (
            batch_df.select("doc_id", F.md5("text").alias("h"))
            .join(qpass, "doc_id")
            .localCheckpoint(eager=False)
        )
        keepers = hashed.join(
            hashed.groupBy("h").agg(F.min("doc_id").alias("doc_id")),
            ["h", "doc_id"],
        )
        hash_dirs = _committed_dirs(root, "hashes")
        if hash_dirs:
            idx_h = spark.read.schema(_HASH_SCHEMA).parquet(*hash_dirs)
            keepers = keepers.join(F.broadcast(idx_h), "h", "left_anti")

        # gate 3: near-dup losers — ALL batch docs feed the index
        arr = _doc_gram_arrays(batch_df).localCheckpoint(eager=False)
        bands = _lsh_bands(arr)
        cand_self = (
            bands.alias("x")
            .join(
                bands.select("band_id", "sig", "doc_id").alias("y"),
                ["band_id", "sig"],
            )
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("earlier"),
                F.col("y.doc_id").alias("later"),
            )
        )
        band_dirs = _committed_dirs(root, "bands")
        if band_dirs:
            idx_bands = spark.read.schema(_BAND_SCHEMA).parquet(*band_dirs)
            cand_cross = bands.join(
                idx_bands.select(
                    "band_id", "sig", F.col("doc_id").alias("old_id")
                ),
                ["band_id", "sig"],
            ).select(
                F.col("old_id").alias("earlier"),
                F.col("doc_id").alias("later"),
            )
            cand = cand_self.unionByName(cand_cross)
            all_grams = arr.unionByName(
                spark.read.schema(_GRAM_SCHEMA).parquet(
                    *_committed_dirs(root, "grams")
                )
            )
        else:
            cand = cand_self
            all_grams = arr
        cand = cand.distinct()
        ga = all_grams.select(
            F.col("doc_id").alias("earlier"),
            F.col("grams").alias("gra"),
            F.col("n").alias("na"),
        )
        gb = all_grams.select(
            F.col("doc_id").alias("later"),
            F.col("grams").alias("grb"),
            F.col("n").alias("nb"),
        )
        inter = F.size(F.array_intersect("gra", "grb"))
        jac = inter / (F.col("na") + F.col("nb") - inter)
        losers = (
            cand.join(ga, "earlier")
            .join(gb, "later")
            .filter(jac >= JACCARD_THRESHOLD)
            .select(F.col("later").alias("doc_id"))
            .distinct()
        )

        accepted = keepers.join(
            F.broadcast(losers), "doc_id", "left_anti"
        ).select("doc_id", "n_tokens", "quality_score")

        out = os.path.join(root, f"batch={batch_id}")
        accepted.write.mode("overwrite").parquet(
            os.path.join(out, "accepted")
        )
        keepers.select("h").write.mode("overwrite").parquet(
            os.path.join(out, "hashes")
        )
        bands.select("doc_id", "band_id", "sig").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "bands"))
        arr.write.mode("overwrite").parquet(os.path.join(out, "grams"))
        _commit_batch(root, batch_id)
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    acc_dirs = _committed_dirs(root, "accepted")
    if not acc_dirs:
        return spark.createDataFrame([], _ACC_SCHEMA)
    return spark.read.schema(_ACC_SCHEMA).parquet(*acc_dirs)


_DIGEST_SCHEMA = "h long"
_NOV_SCHEMA = "doc_id long, n_grams long, n_novel long, novelty double"
_SD_VEC_SCHEMA = (
    "vec_id long, v array<double>, cell int, cent_cos double"
)
_SD_VERDICT_SCHEMA = (
    "vec_id long, cell int, cent_cos double, removed boolean"
)


def stream_semdedup(
    spark: SparkSession,
    vec_stream: DataFrame,
    quantizer: dict,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
    cell_cap: int | None = None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.semdedup`` — incremental
    semantic dedup against a FROZEN quantizer (the
    ``operators.dedup.semdedup_quantizer`` artifact: Lloyd assignment
    centroids + per-cell score centroids, kilobytes shipped to the
    ingest tier, as a production pipeline freezes its embedding-space
    model once and scores arrivals forever).

    Per micro-batch: cell assignment is the batch trainer's own
    zero-shuffle argmin map (``similarity._assign_cells``) against the
    frozen centroids; ``cent_cos`` scores against the frozen per-cell
    means; candidates = batch-vs-INDEX cell collisions ∪ batch-vs-batch
    (history never re-pairs with itself); dominance is the batch rule
    exactly (≥-threshold partner closer to the centroid removes you;
    ties to the higher id).  Removal is MONOTONE — a later arrival can
    flip an earlier keep to removed, never the reverse — so the verdict
    log is an append-only changelog: each batch commits its own rows'
    verdicts plus flip rows for the history it just dominated, and the
    materialized state is a boolean-OR fold per vec_id.  Returns the
    committed, materialized verdict table (same schema as the batch
    operator: vec_id, cell, cent_cos, removed, kept).

    Equivalence contract (tested): drain a corpus through ANY batch cut
    with the quantizer frozen from that corpus and the folded verdicts
    equal one-shot ``semdedup`` — including cross-batch flips, which the
    test pins by exhibiting a batch-0 keep that batch 1 removes.

    Scale: candidates are built as two PRE-FILTERED joins — new-vs-pool
    for the batch side's verdicts and history-vs-new for the flips —
    never one pool-vs-pool join post-filtered on "some side is new":
    the pre-filter is pushed below each join, so history-vs-history
    pairs (the O(|cell|²) bulk in a touched cell, all of which a
    post-join filter would discard) are never materialized.  Both
    joins are additionally keyed on (cell, chunk): a cell wider than
    ``cell_cap`` (default ``operators.dedup.SEMDEDUP_CELL_CAP``) is
    hash-split into k = ceil(|cell|/cap) chunks — the dominator side
    hash-places each row in ONE chunk, the dominated side replicates
    into all k — so every candidate pair meets in exactly one chunk,
    per-key buffering is bounded by ~cap rows however degenerate the
    cell, and a mega cell becomes k parallel tasks instead of one.
    The verdict is an existential over partners, so chunking (like the
    batch operator's tiling) is output-invariant at any cap.  The
    index contributes one (vec_id, v, cell, cent_cos) row per
    historical vector only in cells the batch actually touches.
    """
    from ..operators.dedup import (
        EMBED_COSINE_THRESHOLD,
        EMBED_DIM,
        SEMDEDUP_CELL_CAP,
    )
    from ..operators.similarity import _assign_cells, _cents_frame
    from ..functions.frames import local_frame
    from ..functions.vectors import dot, norm

    cap = cell_cap or SEMDEDUP_CELL_CAP

    os.makedirs(root, exist_ok=True)
    cent_schema = T.StructType(
        [
            T.StructField("cell", T.IntegerType()),
            T.StructField("cv", T.ArrayType(T.DoubleType())),
        ]
    )
    assign_cents = _cents_frame(spark, cent_schema, quantizer["assign"])
    score_cent = local_frame(spark, quantizer["score"], cent_schema)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "semdedup index"):
            return  # replayed batch: vecs AND verdicts already committed

        new = _assign_cells(
            batch_df.select(
                "vec_id", to_double_array("embedding").alias("v")
            ),
            assign_cents,
        )
        new = new.join(F.broadcast(score_cent), "cell").select(
            "vec_id",
            "v",
            "cell",
            F.round(
                dot(F.col("v"), F.col("cv"))
                / (norm(F.col("v")) * norm(F.col("cv"))),
                6,
            ).alias("cent_cos"),
        ).localCheckpoint(eager=False)

        vec_dirs = _committed_dirs(root, "vecs")
        idx = (
            spark.read.schema(_SD_VEC_SCHEMA).parquet(*vec_dirs)
            if vec_dirs
            else None
        )
        pool = new if idx is None else new.unionByName(idx)

        # per-cell chunk count k = ceil(|cell|/cap) — ≤ n_cells rows
        # (the frozen quantizer bounds the cell count), broadcast into
        # both join sides
        sizes = pool.groupBy("cell").agg(
            F.ceil(F.count(F.lit(1)) / F.lit(cap)).cast("int").alias("k")
        ).localCheckpoint(eager=False)

        def side(df: DataFrame, suffix: str, how: str) -> DataFrame:
            """One join side keyed (cell, chunk): ``chunk`` hash-places
            each row in exactly one of the cell's k chunks, ``explode``
            replicates it into all k — so every (dominated, dominator)
            pair meets in exactly one chunk and per-key buffering is
            bounded by ~cap rows of the chunked side."""
            j = df.join(F.broadcast(sizes), "cell")
            chunk = (
                F.pmod(
                    F.xxhash64("vec_id", F.lit("sd-stream-tile")), F.col("k")
                ).cast("int")
                if how == "chunk"
                else F.explode(F.sequence(F.lit(0), F.col("k") - 1))
            )
            return j.select(
                F.col("vec_id").alias(f"i{suffix}"),
                F.col("v").alias(f"v{suffix}"),
                "cell",
                F.col("cent_cos").alias(f"cc{suffix}"),
                chunk.alias("chunk"),
            )

        cos = F.round(
            dot_unrolled(F.col("va"), F.col("vb"), EMBED_DIM)
            / (
                norm_unrolled(F.col("va"), EMBED_DIM)
                * norm_unrolled(F.col("vb"), EMBED_DIM)
            ),
            4,
        )
        dom = (F.col("cca") > F.col("ccb")) | (
            (F.col("cca") == F.col("ccb")) & (F.col("ia") > F.col("ib"))
        )

        def dominated_ids(a: DataFrame, b: DataFrame) -> DataFrame:
            """vec_ids of a-side rows with some ≥-threshold b-side
            partner closer to the centroid (ties: lower id wins)."""
            return (
                a.join(b, ["cell", "chunk"])
                .filter(F.col("ia") != F.col("ib"))
                .filter(dom)
                .filter(cos >= EMBED_COSINE_THRESHOLD)
                .select(F.col("ia").alias("vec_id"))
                .distinct()
            )

        # two PRE-FILTERED joins instead of pool-vs-pool + OR filter:
        # history-vs-history pairs never materialize (see docstring)
        dominated_new = dominated_ids(
            side(new, "a", "explode"), side(pool, "b", "chunk")
        ).localCheckpoint(eager=False)
        batch_verdicts = new.join(
            dominated_new, "vec_id", "left_semi"
        ).select(
            "vec_id", "cell", "cent_cos", F.lit(True).alias("removed")
        ).unionByName(
            new.join(dominated_new, "vec_id", "left_anti").select(
                "vec_id", "cell", "cent_cos", F.lit(False).alias("removed")
            )
        )
        if idx is not None:
            dominated_hist = dominated_ids(
                side(idx, "a", "chunk"), side(new, "b", "explode")
            )
            flips = idx.join(dominated_hist, "vec_id", "left_semi").select(
                "vec_id", "cell", "cent_cos", F.lit(True).alias("removed")
            )
            batch_verdicts = batch_verdicts.unionByName(flips)

        out = os.path.join(root, f"batch={batch_id}")
        batch_verdicts.write.mode("overwrite").parquet(
            os.path.join(out, "verdicts")
        )
        new.write.mode("overwrite").parquet(os.path.join(out, "vecs"))
        _commit_batch(root, batch_id)
        if on_batch is not None:
            on_batch(
                batch_id,
                spark.read.schema(_SD_VERDICT_SCHEMA)
                .parquet(os.path.join(out, "verdicts"))
                .collect(),
            )

    q = (
        vec_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    v_dirs = _committed_dirs(root, "verdicts")
    if not v_dirs:
        return spark.createDataFrame(
            [], _SD_VERDICT_SCHEMA + ", kept boolean"
        )
    return (
        spark.read.schema(_SD_VERDICT_SCHEMA)
        .parquet(*v_dirs)
        .groupBy("vec_id", "cell", "cent_cos")
        .agg(F.max("removed").alias("removed"))
        .select(
            "vec_id", "cell", "cent_cos", "removed",
            (~F.col("removed")).alias("kept"),
        )
    )


def stream_novelty_scoring(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.novelty_scoring`` — the
    crawl-yield monitor: every micro-batch scores its documents'
    shingle novelty against ALL previously-seen shingles, then folds
    the batch's new digests into a persisted seen-set (append-only
    ``batch=<id>/digests`` under the ``maintain_snapshot`` commit
    discipline).  The per-batch novelty curve is the diminishing-
    returns signal a continuous ingest watches to decide when a source
    is mined out.

    Per batch: shingles are built map-side and reduced to 60-bit md5
    digests (15 hex chars; gram text never leaves the task); the history contributes
    ONLY digest rows to an anti-join-shaped first-occurrence check;
    the batch's previously-unseen digests — and only those — append to
    the index, so the seen-set stores each digest exactly once however
    often it reappears.

    Equivalence contract (tested): under id-ordered arrival,
    first-SEEN equals first-occurrence-by-min-doc_id, so the drained
    per-doc scores equal the one-shot ``novelty_scoring`` over the
    full corpus for ANY batch cut.  Returns the committed score table.
    """
    from ..operators.dedup import _doc_gram_arrays

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "novelty index"):
            return
        arr = _doc_gram_arrays(batch_df)
        ex = arr.select(
            "doc_id",
            F.col("n").alias("n_grams"),
            F.explode_outer("grams").alias("gram"),
        ).withColumn(
            "h",
            F.when(
                F.col("gram").isNotNull(),
                F.conv(
                    F.substring(F.md5("gram"), 1, 15), 16, 10
                ).cast("long"),
            ),
        ).localCheckpoint(eager=False)
        digest_dirs = _committed_dirs(root, "digests")
        batch_first = (
            ex.filter(F.col("h").isNotNull())
            .groupBy("h")
            .agg(F.min("doc_id").alias("first_doc"))
        )
        if digest_dirs:
            seen = spark.read.schema(_DIGEST_SCHEMA).parquet(*digest_dirs)
            fresh_first = batch_first.join(seen, "h", "left_anti")
        else:
            fresh_first = batch_first
        fresh_first = fresh_first.localCheckpoint(eager=False)
        scores = (
            ex.join(fresh_first, "h", "left")
            .groupBy("doc_id", "n_grams")
            .agg(
                F.sum(
                    F.when(
                        F.col("first_doc") == F.col("doc_id"), 1
                    ).otherwise(0)
                ).alias("n_novel")
            )
            .select(
                "doc_id",
                F.col("n_grams").cast("long").alias("n_grams"),
                F.col("n_novel").cast("long").alias("n_novel"),
                F.when(
                    F.col("n_grams") > 0,
                    F.round(F.col("n_novel") / F.col("n_grams"), 4),
                )
                .otherwise(F.lit(1.0))
                .alias("novelty"),
            )
        )
        out = os.path.join(root, f"batch={batch_id}")
        scores.write.mode("overwrite").parquet(os.path.join(out, "scores"))
        fresh_first.select("h").write.mode("overwrite").parquet(
            os.path.join(out, "digests")
        )
        _commit_batch(root, batch_id)
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    score_dirs = _committed_dirs(root, "scores")
    if not score_dirs:
        return spark.createDataFrame([], _NOV_SCHEMA)
    return spark.read.schema(_NOV_SCHEMA).parquet(*score_dirs)


# --- streaming boilerplate line-dedup ----------------------------------------

_LN_SCHEMA = "doc_id long, h long, ln_tokens int"
_LN_DF_SCHEMA = "h long, n_docs long"
_LN_DOC_SCHEMA = (
    "doc_id long, n_lines long, n_boiler long, boiler_frac double, "
    "kept_tokens long, batch long"
)


def stream_line_dedup(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.line_dedup`` — incremental
    corpus-wide boilerplate detection: each micro-batch folds its
    lines' distinct-doc counts into a persisted document-frequency
    table, scores its own documents against the UPDATED totals, and —
    because a digest's df only ever GROWS — re-emits corrected rows
    for exactly the HISTORY documents whose lines just crossed the
    ``LINE_DF_MIN`` boilerplate threshold.  Verdicts are monotone
    (keep → boiler, never back), so the per-doc rows form a
    latest-wins changelog and the materialized state is one
    row_number fold.

    State layout (``maintain_snapshot`` commit discipline, all inside
    the batch's atomic commit): ``batch=<id>/lines`` — the batch's
    (doc_id, 60-bit digest, ln_tokens) rows (text never persists);
    ``batch=<id>/dfs`` — the batch's per-digest distinct-doc
    contributions (summable across batches because a document arrives
    in exactly one batch); ``batch=<id>/docs`` — the changelog rows
    (batch docs + re-scored history docs).  Per-batch history work is
    digest-keyed and restricted to the batch's digests / the crossing
    digests' documents — the corpus is never re-paired or re-scored
    wholesale.

    Equivalence contract (tested): the folded changelog over ANY
    id-ordered batch cut equals one-shot ``line_dedup`` on the full
    corpus, including the cross-batch flips.  Returns the folded
    current state read back from the committed tables.
    """
    from ..operators.dedup import LINE_DF_MIN, _doc_lines, _line_rollup

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "line-dedup index"):
            return
        ln = _doc_lines(batch_df).localCheckpoint(eager=False)
        bdf = (
            ln.groupBy("h")
            .agg(F.count_distinct("doc_id").cast("long").alias("n_docs"))
            .localCheckpoint(eager=False)
        )
        df_dirs = _committed_dirs(root, "dfs")
        line_dirs = _committed_dirs(root, "lines")
        if df_dirs:
            # history df totals for the BATCH's digests only (keyed
            # semi-join before the aggregate — never a corpus-vocab
            # rollup per batch)
            hist_tot = (
                spark.read.schema(_LN_DF_SCHEMA)
                .parquet(*df_dirs)
                .join(bdf.select("h"), "h", "left_semi")
                .groupBy("h")
                .agg(F.sum("n_docs").alias("hist_docs"))
            )
            tot = (
                bdf.join(hist_tot, "h", "left")
                .select(
                    "h",
                    F.coalesce(F.col("hist_docs"), F.lit(0)).alias("df_hist"),
                    (
                        F.col("n_docs")
                        + F.coalesce(F.col("hist_docs"), F.lit(0))
                    ).alias("df"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            tot = bdf.select(
                "h", F.lit(0).cast("long").alias("df_hist"),
                F.col("n_docs").alias("df"),
            ).localCheckpoint(eager=False)
        rows = _line_rollup(ln.join(tot.select("h", "df"), "h"))
        # digests flipping to boilerplate THIS batch re-score the
        # history documents that contain them; the guard makes the
        # common no-flip batch skip the history-lines read entirely
        # (at 100 TB the lines table is additionally digest-bucketed
        # so a flip batch prunes to the crossing digests' buckets)
        crossed = tot.filter(
            (F.col("df_hist") < LINE_DF_MIN)
            & (F.col("df") >= LINE_DF_MIN)
            & (F.col("df_hist") > 0)
        ).select("h")
        if line_dirs and not crossed.isEmpty():
            hist_ln = spark.read.schema(_LN_SCHEMA).parquet(*line_dirs)
            aff_ids = (
                hist_ln.join(crossed, "h", "left_semi")
                .select("doc_id")
                .distinct()
            )
            aff_ln = hist_ln.join(aff_ids, "doc_id", "left_semi")
            need_h = aff_ln.select("h").distinct()
            need_tot = (
                spark.read.schema(_LN_DF_SCHEMA)
                .parquet(*df_dirs)
                .join(need_h, "h", "left_semi")
                .unionByName(bdf.join(need_h, "h", "left_semi"))
                .groupBy("h")
                .agg(F.sum("n_docs").alias("df"))
            )
            rows = rows.unionByName(
                _line_rollup(aff_ln.join(need_tot, "h"))
            )
        out = os.path.join(root, f"batch={batch_id}")
        rows.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "docs"))
        ln.write.mode("overwrite").parquet(os.path.join(out, "lines"))
        bdf.write.mode("overwrite").parquet(os.path.join(out, "dfs"))
        _commit_batch(root, batch_id)
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    doc_dirs = _committed_dirs(root, "docs")
    if not doc_dirs:
        return spark.createDataFrame(
            [], _LN_DOC_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_LN_DOC_SCHEMA).parquet(*doc_dirs)
    w = Window.partitionBy("doc_id").orderBy(F.col("batch").desc())
    return (
        allr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "batch")
    )


# --- streaming domain-KL mixture monitor --------------------------------------

_KL_CNT_SCHEMA = "source string, term string, c_st long"
_KL_SNAP_SCHEMA = (
    "source string, n_terms long, n_tokens long, kl_nats double, batch long"
)


def stream_domain_kl(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.selection.domain_kl`` — the
    mixture-drift monitor a continuous ingest watches: every
    micro-batch folds its (source, term) token counts into a persisted
    vocabulary-sized count table and emits a full per-source KL
    snapshot over the CUMULATIVE counts (KL is a global functional —
    every source's divergence moves when the corpus distribution
    moves, so each snapshot recomputes from the folded counts rather
    than patching).

    State layout (``maintain_snapshot`` commit discipline):
    ``batch=<id>/counts`` — the CUMULATIVE (source, term, c_st)
    rollup as of this batch (vocabulary-sized, so rewriting it costs
    the same O(vocab) as reading it); ``batch=<id>/kl`` — the
    snapshot (the monitor curve a dashboard tails).  Each batch reads
    only the LATEST committed rollup plus its own counts, so per-batch
    work is VOCABULARY-sized and independent of how many batches have
    ever run; document text never persists.  Superseded ``counts``
    rollups are PRUNED right after each commit (only the latest is
    ever read), so on-disk state is one vocabulary-sized table plus
    the per-batch KL snapshots (n_sources rows each — the curve IS
    the product) instead of O(n_batches × vocab).

    Equivalence contract (tested): every batch's snapshot equals the
    one-shot ``domain_kl`` over exactly the documents ingested so far
    — at EVERY cut, not just the last.  Returns the latest committed
    snapshot.
    """
    from ..functions.text import words
    from ..operators.selection import _kl_from_counts

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "domain-KL monitor"):
            return
        bc = (
            batch_df.select(
                "source",
                F.explode_outer(words(F.col("text"))).alias("term"),
            )
            .filter(F.col("term").isNotNull())
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("c_st"))
            .localCheckpoint(eager=False)
        )
        # each batch persists the CUMULATIVE rollup (vocabulary-sized,
        # so rewriting it is the same O(vocab) as reading it), and the
        # next batch reads ONLY the latest committed dir — per-batch
        # work is independent of how many batches have ever run
        latest = _latest_committed_dir(root, "counts")
        if latest is not None:
            cum = (
                spark.read.schema(_KL_CNT_SCHEMA)
                .parquet(latest)
                .unionByName(bc)
                .groupBy("source", "term")
                .agg(F.sum("c_st").alias("c_st"))
            )
        else:
            cum = bc
        cum = cum.localCheckpoint(eager=False)
        snap = _kl_from_counts(cum)
        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "kl"))
        cum.write.mode("overwrite").parquet(os.path.join(out, "counts"))
        _commit_batch(root, batch_id)
        # the rollup is cumulative: every pre-pointer copy is dead
        # state — drop it so disk holds ONE vocab-sized table, not
        # O(n_batches × vocab)
        _prune_superseded(root, "counts")
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    kl_dirs = _committed_dirs(root, "kl")
    if not kl_dirs:
        return spark.createDataFrame(
            [], _KL_SNAP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_KL_SNAP_SCHEMA).parquet(*kl_dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


_DE_SNAP_SCHEMA = (
    "source string, n_terms long, n_tokens long, entropy_nats double,"
    " entropy_ratio double, batch long"
)


def stream_domain_entropy(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.selection.domain_entropy`` —
    per-source unigram Shannon entropy maintained continuously, the
    diversity companion the mixture dashboard reads NEXT TO
    ``stream_domain_kl`` (round 13): a source whose entropy decays as
    it streams is collapsing into boilerplate even if its KL to the
    pooled corpus stays put.  Entropy is a per-source functional of
    the cumulative counts, so each snapshot derives from the same
    folded vocabulary rollup ``stream_domain_kl`` keeps — identical
    state layout, fold, commit protocol, and pruning; the snapshot
    math is ``_entropy_from_counts``, the SAME function the batch op
    runs, so the two faces cannot diverge.

    Equivalence contract (tested): every batch's snapshot equals the
    one-shot ``domain_entropy`` over exactly the documents ingested so
    far — at EVERY cut.  Returns the latest committed snapshot.
    """
    from ..functions.text import words
    from ..operators.selection import _entropy_from_counts

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(
            root, checkpoint_dir, batch_id, "domain-entropy monitor"
        ):
            return
        bc = (
            batch_df.select(
                "source",
                F.explode_outer(words(F.col("text"))).alias("term"),
            )
            .filter(F.col("term").isNotNull())
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("c_st"))
            .localCheckpoint(eager=False)
        )
        latest = _latest_committed_dir(root, "counts")
        if latest is not None:
            cum = (
                spark.read.schema(_KL_CNT_SCHEMA)
                .parquet(latest)
                .unionByName(bc)
                .groupBy("source", "term")
                .agg(F.sum("c_st").alias("c_st"))
            )
        else:
            cum = bc
        cum = cum.localCheckpoint(eager=False)
        snap = _entropy_from_counts(cum)
        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "entropy"))
        cum.write.mode("overwrite").parquet(os.path.join(out, "counts"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "counts")
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    e_dirs = _committed_dirs(root, "entropy")
    if not e_dirs:
        return spark.createDataFrame(
            [], _DE_SNAP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_DE_SNAP_SCHEMA).parquet(*e_dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming DoReMi reweighting ------------------------------------------

_DOREMI_SNAP_SCHEMA = (
    "source string, n_tokens long, excess_loss double, base_share double, "
    "weight double, batch long"
)


def stream_doremi_weights(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.selection.doremi_weights`` — the
    DoReMi mixture weights maintained continuously: every micro-batch
    folds its (source, term) token counts into the SAME persisted
    vocabulary rollup discipline as ``stream_domain_kl`` and emits a
    full weight-table snapshot via the shared batch kernels
    (``_kl_from_counts`` → ``_doremi_from_kl``), because the weights
    are a global functional of the corpus distribution — one source's
    arrival retilts every weight, so each snapshot recomputes from the
    folded counts rather than patching.

    State layout and pruning follow ``stream_domain_kl`` exactly: one
    cumulative vocabulary-sized ``counts`` table (superseded copies
    pruned post-commit), per-batch ``doremi`` snapshots of ≤ n_sources
    rows — the reweighting curve a training scheduler tails.  Document
    text never persists.

    Equivalence contract (tested): every batch's snapshot equals the
    one-shot ``doremi_weights`` over exactly the documents ingested so
    far — at EVERY cut.  Returns the latest committed snapshot.
    """
    from ..functions.text import words
    from ..operators.selection import _doremi_from_kl, _kl_from_counts

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "DoReMi monitor"):
            return
        bc = (
            batch_df.select(
                "source",
                F.explode_outer(words(F.col("text"))).alias("term"),
            )
            .filter(F.col("term").isNotNull())
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("c_st"))
            .localCheckpoint(eager=False)
        )
        latest = _latest_committed_dir(root, "counts")
        if latest is not None:
            cum = (
                spark.read.schema(_KL_CNT_SCHEMA)
                .parquet(latest)
                .unionByName(bc)
                .groupBy("source", "term")
                .agg(F.sum("c_st").alias("c_st"))
            )
        else:
            cum = bc
        cum = cum.localCheckpoint(eager=False)
        snap = _doremi_from_kl(_kl_from_counts(cum))
        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "doremi"))
        cum.write.mode("overwrite").parquet(os.path.join(out, "counts"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "counts")
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dirs = _committed_dirs(root, "doremi")
    if not dirs:
        return spark.createDataFrame(
            [], _DOREMI_SNAP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_DOREMI_SNAP_SCHEMA).parquet(*dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming Zipf vocabulary monitor --------------------------------------

_ZIPF_CNT_SCHEMA = "term string, c long"
_ZIPF_SNAP_SCHEMA = (
    "n_terms long, n_tokens long, zipf_exponent double, ln_c0 double, "
    "r2 double, batch long"
)


def stream_zipf_fit(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.text_analysis.zipf_fit`` — the
    vocabulary power-law audit maintained continuously: every
    micro-batch folds its term counts into ONE persisted
    vocabulary-sized count table (the ``stream_domain_kl`` commit/prune
    discipline) and emits a full fit snapshot via the shared batch
    kernel (``_zipf_from_counts``), because rank–frequency structure is
    a global functional of the cumulative counts — one hot term's
    arrival re-ranks the whole vocabulary, so each snapshot recomputes
    from the folded counts rather than patching.

    A collapsing exponent over ingest time is the boilerplate-flood
    alarm this face exists for: the batch audit sees it after the
    crawl, the stream sees WHEN it started.

    Equivalence contract (tested): every batch's snapshot equals the
    one-shot ``zipf_fit`` over exactly the documents ingested so far —
    at EVERY cut.  Returns the latest committed snapshot.
    """
    from ..functions.text import words
    from ..operators.text_analysis import _zipf_from_counts

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "Zipf monitor"):
            return
        bc = (
            batch_df.select(
                F.explode_outer(words(F.col("text"))).alias("term")
            )
            .filter(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .localCheckpoint(eager=False)
        )
        latest = _latest_committed_dir(root, "counts")
        if latest is not None:
            cum = (
                spark.read.schema(_ZIPF_CNT_SCHEMA)
                .parquet(latest)
                .unionByName(bc)
                .groupBy("term")
                .agg(F.sum("c").cast("long").alias("c"))
            )
        else:
            cum = bc
        cum = cum.localCheckpoint(eager=False)
        snap = _zipf_from_counts(cum)
        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "zipf"))
        cum.write.mode("overwrite").parquet(os.path.join(out, "counts"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "counts")
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dirs = _committed_dirs(root, "zipf")
    if not dirs:
        return spark.createDataFrame(
            [], _ZIPF_SNAP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_ZIPF_SNAP_SCHEMA).parquet(*dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming mixture-plan decision table -------------------------------------

_MP_SCHEMA = (
    "source string, avail_tokens long, n_terms long, kl_nats double, "
    "unimax_capped boolean, unimax_tokens double, unimax_epochs double, "
    "temp_weight double, temp_tokens double, temp_epochs double, "
    "epoch_delta double, batch long"
)


def stream_mixture_plan(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.selection.mixture_plan`` — the
    full mixture decision table maintained continuously: every
    micro-batch folds its (source, term) token counts into ONE
    persisted vocabulary-sized rollup (the same state as
    ``stream_domain_kl`` — the per-source availability the allocation
    policies need is just that table's per-source sum, because
    ``token_budget`` and ``domain_kl`` tokenize identically) and emits
    the joined KL / UniMax / temperature snapshot via the batch
    operators' own kernels (``_kl_from_counts``, ``_unimax_fill``,
    ``_temperature_fill``, ``_mixture_table``), so the two faces
    cannot diverge.  All three diagnostics are global functionals —
    snapshots recompute from the folded counts, never patch.

    State: ``batch=<id>/counts`` (cumulative, superseded copies
    pruned) + ``batch=<id>/plan`` (the decision-table snapshot, the
    curve a mixture review tails).  Equivalence contract (tested):
    every batch's snapshot equals one-shot ``mixture_plan`` over
    exactly the documents ingested so far.  Returns the latest
    committed snapshot.
    """
    from ..functions.text import words
    from ..operators.selection import (
        _kl_from_counts,
        _mixture_table,
        _temperature_fill,
        _unimax_fill,
    )

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(
            root, checkpoint_dir, batch_id, "mixture-plan monitor"
        ):
            return
        bc = (
            batch_df.select(
                "source",
                F.explode_outer(words(F.col("text"))).alias("term"),
            )
            .filter(F.col("term").isNotNull())
            .groupBy("source", "term")
            .agg(F.count(F.lit(1)).cast("long").alias("c_st"))
            .localCheckpoint(eager=False)
        )
        latest = _latest_committed_dir(root, "counts")
        if latest is not None:
            cum = (
                spark.read.schema(_KL_CNT_SCHEMA)
                .parquet(latest)
                .unionByName(bc)
                .groupBy("source", "term")
                .agg(F.sum("c_st").alias("c_st"))
            )
        else:
            cum = bc
        cum = cum.localCheckpoint(eager=False)
        avail = cum.groupBy("source").agg(F.sum("c_st").alias("avail"))
        snap = _mixture_table(
            _kl_from_counts(cum), _unimax_fill(avail), _temperature_fill(avail)
        )
        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "plan"))
        cum.write.mode("overwrite").parquet(os.path.join(out, "counts"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "counts")  # cumulative: latest only
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    plan_dirs = _committed_dirs(root, "plan")
    if not plan_dirs:
        return spark.createDataFrame(
            [], _MP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_MP_SCHEMA).parquet(*plan_dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming filter-attribution cascade monitor -----------------------------

_FA_CNT_SCHEMA = (
    "source string, n_docs long, n_gopher_rejected long, "
    "n_quality_rejected long, n_exact_dup long, n_near_dup long, "
    "n_rejected_any long, n_multi_rejected long"
)


def stream_filter_attribution(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.selection.filter_attribution`` —
    the ingest-time cascade monitor: every micro-batch scores its
    documents against the four standing gates and folds per-source
    rejection counters cumulatively.  Under id-ordered arrival every
    verdict is FINAL at arrival, so the counters are purely additive
    (no history re-scoring, unlike ``stream_line_dedup``'s flips):

    - Gopher and quality are per-row expressions (batch-invariant);
    - exact-dup's batch rule ("not the min-id of my hash group") is
      first-arrival-wins — flag a doc whose md5(text) is already in
      the persisted digest index or held by a smaller id in the same
      batch;
    - near-dup's batch rule ("the HIGHER id of a verified pair") means
      the flagged side is always the later-arriving one — flag a doc
      that Jaccard-verifies against an indexed doc or an earlier
      (smaller-id) doc of the same batch.  The indexes ingest ALL
      arriving docs (the batch operator's pair population is the full
      corpus, not gate survivors).

    State (``maintain_snapshot`` commit discipline): per batch its
    digest/band/gram contributions (append-only, the
    ``stream_minhash_index`` asymmetry — history text never
    re-shuffles), plus the CUMULATIVE per-source counter rollup
    (n_sources rows, superseded copies pruned).  Equivalence contract
    (tested): after draining an id-ordered stream the latest snapshot
    equals one-shot ``filter_attribution`` over the full corpus.
    Returns the latest committed snapshot (same schema as the batch
    operator).
    """
    from ..operators.dedup import (
        JACCARD_THRESHOLD,
        _doc_gram_arrays,
        _lsh_bands,
    )
    from ..operators.selection import gopher_rules
    from ..operators.text_analysis import QUALITY_THRESHOLD, text_stats

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(
            root, checkpoint_dir, batch_id, "filter-attribution monitor"
        ):
            return
        batch_df = batch_df.localCheckpoint(eager=False)
        t_b = {"documents": batch_df}

        g = gopher_rules(t_b).select(
            "doc_id", (~F.col("keep")).alias("r_gopher")
        )
        q = text_stats(t_b).select(
            "doc_id",
            (F.col("quality_score") < QUALITY_THRESHOLD).alias("r_quality"),
        )

        # exact-dup: in the digest index, or a smaller batch id holds it
        hashed = batch_df.select(
            "doc_id", "source", F.md5("text").alias("h")
        ).localCheckpoint(eager=False)
        first = hashed.groupBy("h").agg(F.min("doc_id").alias("first_id"))
        ex = hashed.join(first, "h").select(
            "doc_id",
            "source",
            (F.col("doc_id") != F.col("first_id")).alias("later_copy"),
            "h",
        )
        hash_dirs = _committed_dirs(root, "hashes")
        if hash_dirs:
            # distinct BEFORE the flag join: the index holds one row per
            # historical DOC, so a twice-seen digest would otherwise fan
            # the probe join out and inflate the counters
            idx_h = (
                spark.read.schema(_HASH_SCHEMA)
                .parquet(*hash_dirs)
                .distinct()
                .withColumn("seen", F.lit(True))
            )
            ex = ex.join(F.broadcast(idx_h), "h", "left").select(
                "doc_id",
                "source",
                (
                    F.col("later_copy")
                    | F.coalesce(F.col("seen"), F.lit(False))
                ).alias("r_exact"),
            )
        else:
            ex = ex.select(
                "doc_id", "source", F.col("later_copy").alias("r_exact")
            )

        # near-dup: verified against an earlier doc (index or batch)
        arr = _doc_gram_arrays(batch_df).localCheckpoint(eager=False)
        bands = _lsh_bands(arr)
        cand_self = (
            bands.alias("x")
            .join(
                bands.select("band_id", "sig", "doc_id").alias("y"),
                ["band_id", "sig"],
            )
            .filter(F.col("y.doc_id") < F.col("x.doc_id"))
            .select(
                F.col("x.doc_id").alias("later"),
                F.col("y.doc_id").alias("earlier"),
            )
        )
        band_dirs = _committed_dirs(root, "bands")
        if band_dirs:
            idx_b = spark.read.schema(_BAND_SCHEMA).parquet(*band_dirs)
            cand_cross = (
                bands.join(
                    idx_b.select(
                        "band_id", "sig", F.col("doc_id").alias("old_id")
                    ),
                    ["band_id", "sig"],
                )
                # self-edge guard: a re-ingested doc_id must not
                # near-dup-flag itself against its own committed copy
                .filter(F.col("doc_id") != F.col("old_id"))
                .select(
                    F.col("doc_id").alias("later"),
                    F.col("old_id").alias("earlier"),
                )
            )
            cand = cand_self.unionByName(cand_cross)
            all_grams = arr.unionByName(
                spark.read.schema(_GRAM_SCHEMA).parquet(
                    *_committed_dirs(root, "grams")
                )
            )
        else:
            cand = cand_self
            all_grams = arr
        cand = cand.distinct()
        ga = all_grams.select(
            F.col("doc_id").alias("later"),
            F.col("grams").alias("gra"),
            F.col("n").alias("na"),
        )
        gb = all_grams.select(
            F.col("doc_id").alias("earlier"),
            F.col("grams").alias("grb"),
            F.col("n").alias("nb"),
        )
        inter = F.size(F.array_intersect("gra", "grb"))
        jac = inter / (F.col("na") + F.col("nb") - inter)
        near = (
            cand.join(ga, "later")
            .join(gb, "earlier")
            .filter(jac >= JACCARD_THRESHOLD)
            .select(F.col("later").alias("doc_id"))
            .distinct()
            .withColumn("r_near", F.lit(True))
        )

        # no forced broadcast: the loser list is a large fraction of a
        # dup-heavy corpus — AQE picks the join strategy (mirrors the
        # batch _gate_flags)
        flags = (
            ex.join(g, "doc_id")
            .join(q, "doc_id")
            .join(near, "doc_id", "left")
            .select(
                "source",
                "r_gopher",
                "r_quality",
                "r_exact",
                F.coalesce(F.col("r_near"), F.lit(False)).alias("r_near"),
            )
            .withColumn(
                "n_rej",
                sum(
                    F.col(c).cast("int")
                    for c in ("r_gopher", "r_quality", "r_exact", "r_near")
                ),
            )
        )
        cnt = lambda c: F.sum(F.col(c).cast("int")).cast("long")  # noqa: E731
        bc = flags.groupBy("source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            cnt("r_gopher").alias("n_gopher_rejected"),
            cnt("r_quality").alias("n_quality_rejected"),
            cnt("r_exact").alias("n_exact_dup"),
            cnt("r_near").alias("n_near_dup"),
            F.sum(F.when(F.col("n_rej") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_rejected_any"),
            F.sum(F.when(F.col("n_rej") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_multi_rejected"),
        )
        latest = _latest_committed_dir(root, "counters")
        if latest is not None:
            prev = spark.read.schema(_FA_CNT_SCHEMA).parquet(latest)
            cum = (
                prev.unionByName(bc)
                .groupBy("source")
                .agg(
                    *[
                        F.sum(c).cast("long").alias(c)
                        for c in (
                            "n_docs",
                            "n_gopher_rejected",
                            "n_quality_rejected",
                            "n_exact_dup",
                            "n_near_dup",
                            "n_rejected_any",
                            "n_multi_rejected",
                        )
                    ]
                )
            )
        else:
            cum = bc
        cum = cum.localCheckpoint(eager=False)

        out = os.path.join(root, f"batch={batch_id}")
        cum.write.mode("overwrite").parquet(os.path.join(out, "counters"))
        hashed.select("h").write.mode("overwrite").parquet(
            os.path.join(out, "hashes")
        )
        bands.select("doc_id", "band_id", "sig").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "bands"))
        arr.write.mode("overwrite").parquet(os.path.join(out, "grams"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "counters")  # cumulative: latest only
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    latest = _latest_committed_dir(root, "counters")
    if latest is None:
        return spark.createDataFrame(
            [], _FA_CNT_SCHEMA + ", survival_frac double"
        )
    cum = spark.read.schema(_FA_CNT_SCHEMA).parquet(latest)
    return cum.select(
        "*",
        F.round(
            (F.col("n_docs") - F.col("n_rejected_any")) / F.col("n_docs"), 4
        ).alias("survival_frac"),
    )


# --- streaming UniMax token-budget controller ---------------------------------

_TB_AVAIL_SCHEMA = "source string, avail long"
_TB_ALLOC_SCHEMA = (
    "source string, avail_tokens long, capped boolean, "
    "alloc_tokens double, epochs double, batch long"
)


def stream_token_budget(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.selection.token_budget`` — the
    mixture CONTROLLER a continuous ingest tails: every micro-batch
    folds its per-source whitespace-token counts into a persisted
    n_sources-row availability rollup and emits the full UniMax
    water-fill allocation over the CUMULATIVE counts (the allocation is
    a global functional of all sources' availability — every source's
    share moves when any source grows, so each snapshot recomputes via
    the shared ``selection._unimax_fill``, the batch operator's own
    math).

    State layout (``maintain_snapshot`` commit discipline):
    ``batch=<id>/avail`` — the CUMULATIVE (source, avail) rollup
    (n_sources rows; superseded copies pruned after commit, like
    ``stream_domain_kl``'s counts); ``batch=<id>/alloc`` — the
    allocation snapshot (the controller curve).  Per-batch work is one
    batch-sized tokenize rollup plus window math over n_sources rows;
    document text never persists.

    Equivalence contract (tested): every batch's snapshot equals the
    one-shot ``token_budget`` over exactly the documents ingested so
    far — at every cut.  Returns the latest committed snapshot.
    """
    from ..functions.text import words
    from ..operators.selection import _unimax_fill

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(
            root, checkpoint_dir, batch_id, "token-budget controller"
        ):
            return
        bc = (
            batch_df.select(
                "source", F.size(words(F.col("text"))).alias("n")
            )
            .groupBy("source")
            .agg(F.sum("n").alias("avail"))
            .localCheckpoint(eager=False)
        )
        latest = _latest_committed_dir(root, "avail")
        if latest is not None:
            cum = (
                spark.read.schema(_TB_AVAIL_SCHEMA)
                .parquet(latest)
                .unionByName(bc)
                .groupBy("source")
                .agg(F.sum("avail").alias("avail"))
            )
        else:
            cum = bc
        cum = cum.localCheckpoint(eager=False)
        snap = _unimax_fill(cum)
        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "alloc"))
        cum.write.mode("overwrite").parquet(os.path.join(out, "avail"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "avail")  # cumulative rollup: latest only
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    alloc_dirs = _committed_dirs(root, "alloc")
    if not alloc_dirs:
        return spark.createDataFrame(
            [], _TB_ALLOC_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_TB_ALLOC_SCHEMA).parquet(*alloc_dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming cross-modal duplicate entity resolution -------------------------

_CM_LABEL_SCHEMA = "doc_id long, cluster_id long"
_CM_FLAG_SCHEMA = "doc_id long, text_dup boolean, embed_dup boolean"
_CM_SNAP_SCHEMA = (
    "doc_id long, cluster_id long, text_dup boolean, embed_dup boolean, "
    "cluster_size long, cross_modal boolean, batch long"
)


def _fold_labels(
    spark: SparkSession, root: str, new_pairs: DataFrame
) -> DataFrame:
    """The monotone union-find fold shared by every streaming
    clusterer: map each new pair's endpoints to their COMMITTED cluster
    label (unseen ids to themselves), run the batch CC kernel over the
    tiny cluster-graph, and relabel only the affected rows of the
    persisted label table at ``root``'s latest ``labels`` state.
    Merges only ever move labels toward the component min id, so the
    fold commutes with batch order and every snapshot carries the
    one-shot labeling.  Returns the updated (doc_id, cluster_id) table
    (lazily checkpointed); the CALLER persists it inside its commit and
    prunes superseded copies."""
    from ..operators.dedup import _connected_components

    lab_dir = _latest_committed_dir(root, "labels")
    prev = (
        spark.read.schema(_CM_LABEL_SCHEMA).parquet(lab_dir)
        if lab_dir is not None
        else spark.createDataFrame([], _CM_LABEL_SCHEMA)
    )
    ma = prev.select(
        F.col("doc_id").alias("doc_a"), F.col("cluster_id").alias("ca_old")
    )
    mb = prev.select(
        F.col("doc_id").alias("doc_b"), F.col("cluster_id").alias("cb_old")
    )
    cluster_edges = (
        new_pairs.join(ma, "doc_a", "left")
        .join(mb, "doc_b", "left")
        .select(
            F.coalesce("ca_old", F.col("doc_a")).alias("doc_a"),
            F.coalesce("cb_old", F.col("doc_b")).alias("doc_b"),
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
    )
    mapping = _connected_components(cluster_edges).select(
        F.col("doc_id").alias("old_label"),
        F.col("cluster_id").alias("new_label"),
    )
    ends = (
        new_pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(new_pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    new_nodes = ends.join(prev, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    )
    base = prev.unionByName(new_nodes)
    return (
        base.join(mapping, base["cluster_id"] == mapping["old_label"], "left")
        .select(
            "doc_id",
            F.coalesce("new_label", "cluster_id").alias("cluster_id"),
        )
        .localCheckpoint(eager=False)
    )


def stream_crossmodal_clusters(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
    planes: int | None = None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.crossmodal_clusters`` — the
    cross-modal duplicate ENTITY resolution maintained continuously
    over a multimodal ingest (columns: doc_id, text, embedding; text
    and embedding rows share ids, the testdata convention).

    Per micro-batch, three folds inside ONE atomic commit:

    1. **both pair families** via the shared per-batch kernels
       (:func:`_minhash_batch_pairs` / :func:`_embedding_batch_pairs`)
       — batch-vs-batch ∪ batch-vs-index collisions, verified exactly;
       history never re-pairs, so every union-graph edge arrives
       exactly once, in the batch of its later side;
    2. **incremental connected components** — the monotone union-find
       changelog: each new pair becomes an edge BETWEEN CURRENT
       CLUSTERS (endpoints map to their committed label, unseen ids to
       themselves), the tiny cluster-graph runs the batch CC kernel
       (``_connected_components``), and the resulting old→new label
       mapping relabels only the affected rows of the persisted label
       table.  Merges are monotone (labels only ever decrease toward
       the component min-id), so the fold commutes with batch order and
       every snapshot carries exactly the one-shot labeling;
    3. **family-membership flags** folded per doc (max over arrivals),
       then the full decision table (cluster size, cross_modal) is
       recomputed from the folded state and persisted as the batch's
       snapshot — the monitor curve IS the product.

    State: ``batch=<id>/labels|flags`` are CUMULATIVE (superseded
    copies pruned after commit — disk holds ONE dup-population-sized
    table, not O(n_batches × dups)); ``bands|grams|sigs|vecs`` are the
    two indexes' append-only batch contributions;
    ``batch=<id>/clusters`` is the per-batch snapshot.  Per-batch cost:
    the two index folds + CC over |new pairs| cluster-edges + one keyed
    relabel join — never a re-cluster of history.

    Equivalence contract (tested): every batch's snapshot equals
    one-shot ``crossmodal_clusters`` over exactly the documents
    ingested so far.  Returns the latest committed snapshot.

    Reference shape note: kept-forever keyed state folded per arrival
    is the Kafka Streams aggregation pattern
    (``streams/.../Streams.java``'s KTable aggregations); here the
    state is the union-find label table.
    """
    os.makedirs(root, exist_ok=True)
    n_planes = _index_planes(root, planes)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(
            root, checkpoint_dir, batch_id, "crossmodal cluster index"
        ):
            return

        tp_raw, bands, arr = _minhash_batch_pairs(
            spark, batch_df.select("doc_id", "text"), root
        )
        new_vecs = batch_df.select(
            F.col("doc_id").alias("vec_id"),
            to_double_array("embedding").alias("v"),
        )
        ep_raw, new_sigs = _embedding_batch_pairs(
            spark, new_vecs, root, n_planes
        )
        tp = tp_raw.select("doc_a", "doc_b").localCheckpoint(eager=False)
        ep = ep_raw.select("doc_a", "doc_b").localCheckpoint(eager=False)
        new_pairs = tp.unionByName(ep).distinct().localCheckpoint(eager=False)

        # --- monotone union-find fold over the committed label table
        labels = _fold_labels(spark, root, new_pairs)

        # --- family-membership flags, folded per doc
        def members(pairs: DataFrame, flag: str) -> DataFrame:
            return (
                pairs.select(F.col("doc_a").alias("doc_id"))
                .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
                .distinct()
                .withColumn(flag, F.lit(True))
            )

        batch_flags = (
            members(tp, "text_dup")
            .join(members(ep, "embed_dup"), "doc_id", "full_outer")
            .select(
                "doc_id",
                F.coalesce("text_dup", F.lit(False)).alias("text_dup"),
                F.coalesce("embed_dup", F.lit(False)).alias("embed_dup"),
            )
        )
        flag_dir = _latest_committed_dir(root, "flags")
        if flag_dir is not None:
            flags = (
                spark.read.schema(_CM_FLAG_SCHEMA)
                .parquet(flag_dir)
                .unionByName(batch_flags)
                .groupBy("doc_id")
                .agg(
                    F.max("text_dup").alias("text_dup"),
                    F.max("embed_dup").alias("embed_dup"),
                )
            )
        else:
            flags = batch_flags
        flags = flags.localCheckpoint(eager=False)

        # --- snapshot: the full decision table from the folded state
        m = labels.join(flags, "doc_id")
        cstats = m.groupBy("cluster_id").agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.max("text_dup").alias("has_text"),
            F.max("embed_dup").alias("has_embed"),
        )
        snap = m.join(cstats, "cluster_id").select(
            "doc_id",
            "cluster_id",
            "text_dup",
            "embed_dup",
            "cluster_size",
            (F.col("has_text") & F.col("has_embed")).alias("cross_modal"),
        )

        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "clusters"))
        labels.write.mode("overwrite").parquet(os.path.join(out, "labels"))
        flags.write.mode("overwrite").parquet(os.path.join(out, "flags"))
        bands.select("doc_id", "band_id", "sig").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "bands"))
        arr.write.mode("overwrite").parquet(os.path.join(out, "grams"))
        new_sigs.select("vec_id", "band", "sig").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "sigs"))
        new_vecs.write.mode("overwrite").parquet(os.path.join(out, "vecs"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "labels")  # cumulative: latest only
        _prune_superseded(root, "flags")
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap_dirs = _committed_dirs(root, "clusters")
    if not snap_dirs:
        return spark.createDataFrame(
            [], _CM_SNAP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_CM_SNAP_SCHEMA).parquet(*snap_dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming quality-aware dedup (keep the BEST copy, continuously) ----------

_QA_SCORE_SCHEMA = "doc_id long, quality_score double"
_QA_SNAP_SCHEMA = (
    "doc_id long, cluster_id long, quality_score double, keeper_id long, "
    "kept boolean, batch long"
)


def stream_quality_aware(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.dedup_quality_aware`` — the
    keep-the-cleanest keeper rule maintained continuously over a
    document ingest (columns: doc_id, text): every near-dup cluster's
    keeper is its HIGHEST-quality member (ties to the lowest doc_id),
    re-decided per micro-batch as clusters grow and merge — a keeper
    is only ever DEMOTED by a strictly better later arrival, exactly
    like the batch rule replayed on the corpus so far.

    Per micro-batch, three folds inside ONE atomic commit:

    1. the MinHash pair kernel (:func:`_minhash_batch_pairs`) —
       batch-vs-batch ∪ batch-vs-index collisions, exact-Jaccard
       verified; history never re-pairs;
    2. the shared monotone union-find fold (:func:`_fold_labels`) —
       the same incremental CC state as
       :func:`stream_crossmodal_clusters`;
    3. per-doc quality scores (``text_analysis.text_stats`` is a
       narrow per-row map, so scores are FINAL at arrival) appended to
       a per-batch score table; the snapshot joins the clustered label
       table against the committed scores and re-derives each
       cluster's ``max(struct(score, −id))`` keeper.

    State: ``batch=<id>/labels`` cumulative (pruned to latest);
    ``bands|grams|scores`` append-only per batch; ``batch=<id>/clusters``
    the per-batch decision snapshot.  Equivalence contract (tested):
    every batch's snapshot equals one-shot ``dedup_quality_aware``
    over exactly the documents ingested so far.  Returns the latest
    committed snapshot.
    """
    from ..operators.text_analysis import text_stats

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(
            root, checkpoint_dir, batch_id, "quality-aware dedup index"
        ):
            return

        pairs, bands, arr = _minhash_batch_pairs(spark, batch_df, root)
        new_pairs = (
            pairs.select("doc_a", "doc_b").distinct().localCheckpoint(eager=False)
        )
        labels = _fold_labels(spark, root, new_pairs)

        batch_scores = text_stats({"documents": batch_df}).select(
            "doc_id", "quality_score"
        )
        score_dirs = _committed_dirs(root, "scores")
        all_scores = (
            batch_scores.unionByName(
                spark.read.schema(_QA_SCORE_SCHEMA).parquet(*score_dirs)
            )
            if score_dirs
            else batch_scores
        )
        # one score row per doc even if an id is re-ingested in a later
        # micro-batch (its committed copy already holds the row): max is
        # deterministic, order-independent, and a no-op for the
        # in-contract case (same text ⇒ identical score)
        all_scores = all_scores.groupBy("doc_id").agg(
            F.max("quality_score").alias("quality_score")
        )

        m = labels.join(all_scores, "doc_id").localCheckpoint(eager=False)
        best = (
            m.groupBy("cluster_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("quality_score"), (-F.col("doc_id")).alias("neg_id")
                    )
                ).alias("b")
            )
            .select(
                "cluster_id", (-F.col("b.neg_id")).cast("long").alias("keeper_id")
            )
        )
        snap = m.join(best, "cluster_id").select(
            "doc_id",
            "cluster_id",
            "quality_score",
            "keeper_id",
            (F.col("doc_id") == F.col("keeper_id")).alias("kept"),
        )

        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "clusters"))
        labels.write.mode("overwrite").parquet(os.path.join(out, "labels"))
        batch_scores.write.mode("overwrite").parquet(
            os.path.join(out, "scores")
        )
        bands.select("doc_id", "band_id", "sig").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "bands"))
        arr.write.mode("overwrite").parquet(os.path.join(out, "grams"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "labels")  # cumulative: latest only
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap_dirs = _committed_dirs(root, "clusters")
    if not snap_dirs:
        return spark.createDataFrame(
            [], _QA_SNAP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_QA_SNAP_SCHEMA).parquet(*snap_dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming train/val leakage audit ----------------------------------------

_LK_CNT_SCHEMA = "n_train long, n_val long"
_LK_SNAP_SCHEMA = (
    "n_train long, n_val long, n_pairs long, n_straddle long, "
    "n_train_evicted long, n_val_contaminated long, straddle_frac double, "
    "batch long"
)


def stream_leakage_split(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.leakage_split`` — the
    train/val near-dup leakage audit maintained continuously over a
    document ingest: every micro-batch extends the MinHash pair index
    (the shared :func:`_minhash_batch_pairs` kernel — each verified
    pair emitted exactly once, in the batch of its later side) and the
    snapshot re-derives the one-row audit over the committed pair
    population, so an arriving doc that near-dups ACROSS the split cut
    retro-appears in the straddle/evict counts the moment its pair is
    verified.

    The split itself is a PURE FUNCTION of doc_id (the deterministic
    md5 bucket the batch operator uses), so no membership state is
    kept: pair endpoints re-derive their side map-side at snapshot
    time, and only (n_train, n_val) fold as a cumulative one-row
    counter.  Distinct-eviction counts are NOT additive across batches
    (one train doc can straddle many pairs in many batches), so the
    snapshot computes them over the full committed pair table — a
    pair-sized (collision-bounded) aggregate, never a corpus rescan.

    State: ``bands|grams|pairs`` append-only per batch;
    ``batch=<id>/counts`` cumulative one-row (pruned to latest);
    ``batch=<id>/audit`` the per-batch snapshot row.  Equivalence
    contract (tested): every batch's audit row equals one-shot
    ``leakage_split`` over exactly the documents ingested so far.
    Returns the latest committed audit row.
    """
    from ..operators.dedup import VAL_PCT, _hash_bucket

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(
            root, checkpoint_dir, batch_id, "leakage-split audit"
        ):
            return

        pairs, bands, arr = _minhash_batch_pairs(spark, batch_df, root)
        bc = batch_df.select(
            (_hash_bucket(F.col("doc_id")) < VAL_PCT).alias("is_val")
        ).agg(
            F.sum(F.when(~F.col("is_val"), 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("is_val"), 1).otherwise(0))
            .cast("long")
            .alias("n_val"),
        )
        cnt_dir = _latest_committed_dir(root, "counts")
        if cnt_dir is not None:
            prev = spark.read.schema(_LK_CNT_SCHEMA).parquet(cnt_dir)
            cum = prev.unionByName(bc).agg(
                F.sum("n_train").cast("long").alias("n_train"),
                F.sum("n_val").cast("long").alias("n_val"),
            )
        else:
            cum = bc
        cum = cum.localCheckpoint(eager=False)

        out = os.path.join(root, f"batch={batch_id}")
        pairs.select("doc_a", "doc_b").write.mode("overwrite").parquet(
            os.path.join(out, "pairs")
        )

        # audit over ALL committed pairs (this batch's included): the
        # split side re-derives from the id, map-side
        pair_dirs = _committed_dirs(root, "pairs") + [
            os.path.join(out, "pairs")
        ]
        allp = spark.read.schema("doc_a long, doc_b long").parquet(
            *pair_dirs
        )
        tagged = allp.select(
            "doc_a",
            "doc_b",
            (_hash_bucket(F.col("doc_a")) < VAL_PCT).alias("va"),
            (_hash_bucket(F.col("doc_b")) < VAL_PCT).alias("vb"),
        ).localCheckpoint(eager=False)
        pair_counts = tagged.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("va") != F.col("vb"), 1).otherwise(0))
            .cast("long")
            .alias("n_straddle"),
        )
        evict = tagged.filter(F.col("va") != F.col("vb")).select(
            F.when(F.col("va"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("train_doc"),
            F.when(F.col("va"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("val_doc"),
        ).agg(
            F.count_distinct("train_doc").cast("long").alias("n_train_evicted"),
            F.count_distinct("val_doc").cast("long").alias("n_val_contaminated"),
        )
        snap = (
            cum.crossJoin(F.broadcast(pair_counts))
            .crossJoin(F.broadcast(evict))
            .select(
                "n_train",
                "n_val",
                "n_pairs",
                "n_straddle",
                "n_train_evicted",
                "n_val_contaminated",
                F.when(
                    F.col("n_pairs") > 0,
                    F.round(F.col("n_straddle") / F.col("n_pairs"), 4),
                )
                .otherwise(F.lit(0.0))
                .alias("straddle_frac"),
            )
        )
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "audit"))
        cum.write.mode("overwrite").parquet(os.path.join(out, "counts"))
        bands.select("doc_id", "band_id", "sig").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "bands"))
        arr.write.mode("overwrite").parquet(os.path.join(out, "grams"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "counts")  # cumulative: latest only
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap_dirs = _committed_dirs(root, "audit")
    if not snap_dirs:
        return spark.createDataFrame(
            [], _LK_SNAP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_LK_SNAP_SCHEMA).parquet(*snap_dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming benchmark decontamination ---------------------------------------

_DC_EGRAM_SCHEMA = "gram string"
_DC_TGRAM_SCHEMA = "doc_id long, grams array<string>, n int"
_DC_CNT_SCHEMA = "doc_id long, n_grams long, n_shared long"
_DC_SNAP_SCHEMA = (
    "doc_id long, n_grams long, n_shared_grams long, "
    "contaminated_frac double, batch long"
)


def stream_decontaminate(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.decontaminate`` — the
    train/test n-gram overlap scrub maintained continuously: an
    arriving EVAL doc (the deterministic md5-bucket benchmark side)
    must RETRO-FLAG every historical train doc that shares a word
    4-gram with it, and an arriving train doc is flagged against the
    full eval gram set seen so far.

    Per micro-batch, inside one atomic commit:

    1. the batch's docs split map-side by the id bucket (a pure
       function — no membership state);
    2. NEW eval grams = the batch's eval-doc grams anti-joined against
       the committed eval gram set (set semantics: a gram enters the
       eval set exactly once, so per-(doc, gram) hits are additive);
    3. forward hits: batch TRAIN docs' grams against the FULL eval set
       (committed ∪ new — the broadcast side is benchmark-sized, the
       same asymmetry the batch operator exploits);
    4. retro hits: committed train-doc gram arrays against the NEW
       eval grams only (broadcast, batch-bounded) — skipped entirely
       when the batch adds no eval grams, so steady-state train-only
       ingest never rescans history;
    5. per-doc (n_grams, n_shared) deltas fold into the cumulative
       count table; the snapshot is docs with n_shared > 0 plus the
       contaminated fraction — exactly the batch operator's output.

    State: ``batch=<id>/egrams|tgrams`` append-only (the train gram
    arrays are the linear-state price of retro-flagging without a
    corpus rescan — the same store a production scrubber keeps);
    ``batch=<id>/counts`` cumulative (pruned); ``batch=<id>/scrub``
    the per-batch snapshot.  Equivalence contract (tested): every
    batch's snapshot equals one-shot ``decontaminate`` over exactly
    the documents ingested so far — at every cut, including cuts where
    eval docs arrive AFTER the train docs they contaminate.  Returns
    the latest committed snapshot.
    """
    from ..functions.text import word_ngrams, words
    from ..operators.dedup import DECON_EVAL_PCT, DECON_NGRAM, _hash_bucket

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(
            root, checkpoint_dir, batch_id, "decontamination scrub"
        ):
            return

        ga = batch_df.select(
            "doc_id",
            F.array_distinct(
                word_ngrams(words(F.col("text")), DECON_NGRAM)
            ).alias("grams"),
            _hash_bucket(F.col("doc_id")).alias("bucket"),
        ).localCheckpoint(eager=False)

        ev_batch = (
            ga.filter(F.col("bucket") < DECON_EVAL_PCT)
            .select(F.explode_outer("grams").alias("gram"))
            .filter(F.col("gram").isNotNull())
            .distinct()
        )
        eg_dirs = _committed_dirs(root, "egrams")
        if eg_dirs:
            prev_eg = spark.read.schema(_DC_EGRAM_SCHEMA).parquet(*eg_dirs)
            new_eg = ev_batch.join(prev_eg, "gram", "left_anti")
        else:
            prev_eg = None
            new_eg = ev_batch
        new_eg = new_eg.localCheckpoint(eager=False)
        full_eg = (
            prev_eg.unionByName(new_eg) if prev_eg is not None else new_eg
        )

        tr = ga.filter(F.col("bucket") >= DECON_EVAL_PCT).select(
            "doc_id", "grams", F.size("grams").cast("int").alias("n")
        )
        fwd = (
            tr.select(
                "doc_id",
                F.col("n").cast("long").alias("n_grams"),
                F.explode_outer("grams").alias("gram"),
            )
            .filter(F.col("gram").isNotNull())
            .join(F.broadcast(full_eg), "gram")
            .groupBy("doc_id", "n_grams")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        )
        deltas = fwd
        tg_dirs = _committed_dirs(root, "tgrams")
        if tg_dirs and not new_eg.isEmpty():
            idx = spark.read.schema(_DC_TGRAM_SCHEMA).parquet(*tg_dirs)
            retro = (
                idx.select(
                    "doc_id",
                    F.col("n").cast("long").alias("n_grams"),
                    F.explode_outer("grams").alias("gram"),
                )
                .filter(F.col("gram").isNotNull())
                .join(F.broadcast(new_eg), "gram")
                .groupBy("doc_id", "n_grams")
                .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            )
            deltas = deltas.unionByName(retro)

        cnt_dir = _latest_committed_dir(root, "counts")
        if cnt_dir is not None:
            cum = (
                spark.read.schema(_DC_CNT_SCHEMA)
                .parquet(cnt_dir)
                .unionByName(deltas)
                .groupBy("doc_id")
                .agg(
                    F.max("n_grams").alias("n_grams"),
                    F.sum("n_shared").cast("long").alias("n_shared"),
                )
            )
        else:
            cum = deltas
        cum = cum.localCheckpoint(eager=False)

        snap = cum.filter(F.col("n_shared") > 0).select(
            "doc_id",
            "n_grams",
            F.col("n_shared").alias("n_shared_grams"),
            F.round(F.col("n_shared") / F.col("n_grams"), 4).alias(
                "contaminated_frac"
            ),
        )
        out = os.path.join(root, f"batch={batch_id}")
        snap.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "scrub"))
        cum.write.mode("overwrite").parquet(os.path.join(out, "counts"))
        new_eg.write.mode("overwrite").parquet(os.path.join(out, "egrams"))
        tr.write.mode("overwrite").parquet(os.path.join(out, "tgrams"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "counts")  # cumulative: latest only
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap_dirs = _committed_dirs(root, "scrub")
    if not snap_dirs:
        return spark.createDataFrame(
            [], _DC_SNAP_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_DC_SNAP_SCHEMA).parquet(*snap_dirs)
    last = allr.agg(F.max("batch").alias("b")).collect()[0]["b"]
    return allr.filter(F.col("batch") == last).drop("batch")


# --- streaming exact-span dedup (first-occurrence ownership) -------------------

_SP_INST_SCHEMA = "doc_id long, h string, c long"
_SP_MIN_SCHEMA = "h string, first_doc long"
_SP_DOC_SCHEMA = (
    "doc_id long, n_spans long, n_stale long, stale_frac double, batch long"
)


def stream_span_dedup(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.span_dedup`` — exact
    span-level dedup accounting maintained continuously under
    ARBITRARY arrival order: a word 8-gram instance is stale iff its
    hash's global first-occurrence owner (min doc_id over the corpus
    so far) is a smaller id, and ownership is a monotone MIN-fold, so
    a span's owner only ever decreases and a doc's verdicts only ever
    move keep→stale (the ``stream_line_dedup`` changelog discipline).

    The flip set is provably TINY: for any span hash, the only
    history doc whose staleness can change when a smaller id arrives
    is the span's PREVIOUS OWNER (every other holder already trails
    some smaller holder).  So each batch: scores its own docs against
    the folded owner table (keyed semi-join — never a vocab rollup),
    detects owner changes (previous owner exists AND the batch min
    undercuts it), and re-scores exactly the dethroned docs from the
    committed per-doc span table; a batch that dethrones nothing
    never touches history.

    State (all inside the atomic commit): ``batch=<id>/spans`` — the
    batch's (doc_id, h, c) instance counts (text never persists);
    ``batch=<id>/owners`` — the batch's per-hash min contributions
    (min-foldable across batches exactly as ``stream_line_dedup``'s
    df counts are sum-foldable); ``batch=<id>/docs`` — changelog rows
    (batch docs + re-scored dethroned docs), materialized latest-wins.

    Equivalence contract (tested): the folded changelog over ANY
    batch cut — including id-DESCENDING arrival, the all-flips case —
    equals one-shot ``span_dedup`` on the corpus so far.  Returns the
    folded current state.
    """
    from ..functions.text import word_ngrams, words
    from ..operators.dedup import SPAN_N

    os.makedirs(root, exist_ok=True)

    def doc_rows(inst: DataFrame, owner: DataFrame) -> DataFrame:
        stale_c = F.when(
            F.col("first_doc") < F.col("doc_id"), F.col("c")
        ).otherwise(F.lit(0))
        return (
            inst.join(owner, "h")
            .groupBy("doc_id")
            .agg(
                F.sum("c").cast("long").alias("n_spans"),
                F.sum(stale_c).cast("long").alias("n_stale"),
            )
            .select(
                "doc_id",
                "n_spans",
                "n_stale",
                F.round(F.col("n_stale") / F.col("n_spans"), 4).alias(
                    "stale_frac"
                ),
            )
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "span-dedup index"):
            return
        sp = batch_df.select(
            "doc_id",
            F.explode_outer(
                F.transform(word_ngrams(words(F.col("text")), SPAN_N), F.md5)
            ).alias("h"),
        ).filter(F.col("h").isNotNull())
        inst = (
            sp.groupBy("doc_id", "h")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .localCheckpoint(eager=False)
        )
        bmin = (
            inst.groupBy("h")
            .agg(F.min("doc_id").alias("first_doc"))
            .localCheckpoint(eager=False)
        )
        own_dirs = _committed_dirs(root, "owners")
        inst_dirs = _committed_dirs(root, "spans")
        if own_dirs:
            hist_min = (
                spark.read.schema(_SP_MIN_SCHEMA)
                .parquet(*own_dirs)
                .join(bmin.select("h"), "h", "left_semi")
                .groupBy("h")
                .agg(F.min("first_doc").alias("prev_doc"))
            )
            own = (
                bmin.join(hist_min, "h", "left")
                .select(
                    "h",
                    F.col("first_doc").alias("bdoc"),
                    "prev_doc",
                    F.least(
                        "first_doc", F.coalesce("prev_doc", "first_doc")
                    ).alias("first_doc"),
                )
                .localCheckpoint(eager=False)
            )
        else:
            own = bmin.select(
                "h",
                F.col("first_doc").alias("bdoc"),
                F.lit(None).cast("long").alias("prev_doc"),
                "first_doc",
            ).localCheckpoint(eager=False)
        rows = doc_rows(inst, own.select("h", "first_doc"))

        # dethroned owners: smaller batch id undercut a committed owner
        dethroned = (
            own.filter(
                F.col("prev_doc").isNotNull()
                & (F.col("bdoc") < F.col("prev_doc"))
            )
            .select(F.col("prev_doc").alias("doc_id"))
            .distinct()
        )
        if inst_dirs and not dethroned.isEmpty():
            hist_inst = (
                spark.read.schema(_SP_INST_SCHEMA)
                .parquet(*inst_dirs)
                .join(dethroned, "doc_id", "left_semi")
            )
            need_h = hist_inst.select("h").distinct()
            need_min = (
                spark.read.schema(_SP_MIN_SCHEMA)
                .parquet(*own_dirs)
                .join(need_h, "h", "left_semi")
                .unionByName(bmin.join(need_h, "h", "left_semi"))
                .groupBy("h")
                .agg(F.min("first_doc").alias("first_doc"))
            )
            rows = rows.unionByName(doc_rows(hist_inst, need_min))

        out = os.path.join(root, f"batch={batch_id}")
        rows.withColumn("batch", F.lit(batch_id).cast("long")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "docs"))
        inst.write.mode("overwrite").parquet(os.path.join(out, "spans"))
        bmin.write.mode("overwrite").parquet(os.path.join(out, "owners"))
        _commit_batch(root, batch_id)
        if on_batch is not None:
            on_batch(batch_id)

    q = (
        doc_stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    doc_dirs = _committed_dirs(root, "docs")
    if not doc_dirs:
        return spark.createDataFrame(
            [], _SP_DOC_SCHEMA.replace(", batch long", "")
        )
    allr = spark.read.schema(_SP_DOC_SCHEMA).parquet(*doc_dirs)
    w = Window.partitionBy("doc_id").orderBy(F.col("batch").desc())
    return (
        allr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "batch")
    )


# ---------------------------------------------------------------------------
# Streaming hard-negative miner
# ---------------------------------------------------------------------------

_HN_VEC_SCHEMA = "vec_id long, label int, v array<double>, nrm double"
_HN_QID_SCHEMA = "query_id long"
_HN_NEG_SCHEMA = (
    "query_id long, rank long, cand_id long, q_label int, neg_label int, "
    "cosine double"
)


def stream_hard_negatives(
    spark: SparkSession,
    vec_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.similarity.hard_negative_mining``:
    the per-query cross-label top-k negative table maintained
    continuously as the embedding corpus streams in — the ANCE miner's
    "refresh negatives as the index grows" loop (Xiong et al. 2021)
    without ever rescanning history for history.

    Incremental fold, exactly two bounded score legs per batch:

    - every NEW vector scores as a CANDIDATE against all current
      queries (|batch| × |queries| — queries are the module's capped
      broadcast);
    - queries that ENTER the capped query set this batch (new
      ``% QUERY_MOD`` arrivals, or cap displacement re-admitting a
      lower id) score against the committed corpus once.

    A committed query's snapshot rows stay valid because the corpus
    only grows: its previous top-k dominates every older candidate, so
    merging (previous rows ∪ new-candidate scores) and re-ranking IS
    the exact cumulative top-k — the same monotone-fold argument as
    ``stream_span_dedup``'s ownership merge.  Queries the cap
    displaces drop their rows in the same commit.

    State: per-batch ``vecs`` contributions (append-only),
    cumulative ``negs``/``qids`` snapshots (superseded copies pruned).
    Equivalence contract (tested): after every commit the snapshot
    equals one-shot ``hard_negative_mining`` over exactly the vectors
    ingested so far.  Returns the latest committed snapshot.
    """
    from ..operators.similarity import (
        DIM,
        QUERY_MOD,
        TOP_K,
        derived_mrl_query_cap,
    )

    os.makedirs(root, exist_ok=True)

    def score(cands: DataFrame, q: DataFrame) -> DataFrame:
        cos = F.round(
            dot_unrolled(F.col("qv"), F.col("v"), DIM)
            / (F.col("qn") * F.col("nrm")),
            6,
        ).alias("cosine")
        return (
            cands.crossJoin(F.broadcast(q))
            .filter(F.col("label") != F.col("q_label"))
            .filter(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("vec_id").alias("cand_id"),
                "q_label",
                F.col("label").alias("neg_label"),
                cos,
            )
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "HN miner"):
            return
        new = (
            batch_df.select(
                "vec_id",
                F.col("label").cast("int").alias("label"),
                to_double_array("embedding").alias("v"),
            )
            .withColumn("nrm", norm_unrolled(F.col("v"), DIM))
            .localCheckpoint(eager=False)
        )
        vec_dirs = _committed_dirs(root, "vecs")
        old = (
            spark.read.schema(_HN_VEC_SCHEMA).parquet(*vec_dirs)
            if vec_dirs
            else None
        )
        all_vecs = new.unionByName(old) if old is not None else new
        # the anchor batch derives from the CUMULATIVE corpus size,
        # recomputed per commit — the batch operator's contract; a
        # shrinking cap displaces committed anchors exactly like cap
        # displacement below (their rows drop in the same commit)
        qcap = derived_mrl_query_cap(all_vecs.count())
        q = (
            all_vecs.filter(F.col("vec_id") % QUERY_MOD == 0)
            .orderBy("vec_id")
            .limit(qcap)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("q_label"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qn"),
            )
            .localCheckpoint(eager=False)
        )
        qids_dir = _latest_committed_dir(root, "qids")
        prev_qids = (
            spark.read.schema(_HN_QID_SCHEMA).parquet(qids_dir)
            if qids_dir
            else spark.createDataFrame([], _HN_QID_SCHEMA)
        )
        new_q = q.join(prev_qids, "query_id", "left_anti")
        legs = [score(new, q)]
        if old is not None:
            legs.append(score(old, new_q))
        negs_dir = _latest_committed_dir(root, "negs")
        if negs_dir is not None:
            prev = spark.read.schema(_HN_NEG_SCHEMA).parquet(negs_dir)
            # cap displacement: only rows whose query survives merge
            legs.append(
                prev.join(
                    q.select("query_id"), "query_id", "left_semi"
                ).select(
                    "query_id", "cand_id", "q_label", "neg_label", "cosine"
                )
            )
        merged = legs[0]
        for leg in legs[1:]:
            merged = merged.unionByName(leg)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("cand_id")
        )
        snap = (
            merged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select(
                "query_id",
                F.col("rank").cast("long").alias("rank"),
                "cand_id",
                "q_label",
                "neg_label",
                "cosine",
            )
        )
        out = os.path.join(root, f"batch={batch_id}")
        snap.write.mode("overwrite").parquet(os.path.join(out, "negs"))
        q.select("query_id").write.mode("overwrite").parquet(
            os.path.join(out, "qids")
        )
        new.select("vec_id", "label", "v", "nrm").write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "vecs"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "negs")
        _prune_superseded(root, "qids")
        # every consumer of the two per-batch checkpoints has written;
        # release now or a long stream pins one copy per batch
        from ..functions.caching import release_local_checkpoint

        release_local_checkpoint(new)
        release_local_checkpoint(q)
        if on_batch is not None:
            on_batch(batch_id)

    (
        vec_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    negs_dir = _latest_committed_dir(root, "negs")
    if negs_dir is None:
        return spark.createDataFrame([], _HN_NEG_SCHEMA)
    return spark.read.schema(_HN_NEG_SCHEMA).parquet(negs_dir)


# --- streaming Hamming/MIH radius index ---------------------------------------

# derived from HAMMING_CHUNKS so the committed state layout tracks the
# constant — a chunk-count change fails fast at schema definition time
# instead of silently schema-on-read-dropping the extra chunk columns
from ..operators.dedup import HAMMING_CHUNKS as _HM_CHUNKS

_HM_CODE_SCHEMA = "doc_id long, " + ", ".join(
    f"c{c} long" for c in range(_HM_CHUNKS)
)
_HM_QID_SCHEMA = "query_id long"
_HM_PAIR_SCHEMA = "query_id long, cand_id long, hamming long"


def stream_hamming_neighbors(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.hamming_neighbors`` — the
    exact multi-index-hashing radius search (Norouzi, Punjani & Fleet
    2012) maintained continuously as documents stream in.  The 8-byte
    code is the cheapest per-doc state in the repo, which makes this
    the index a 100 TB ingest keeps hot while the float-ANN faces stay
    offline.

    Incremental fold, exactly two bounded score legs per batch (the
    ``stream_hard_negatives`` skeleton):

    - every NEW doc's code scores as a CANDIDATE against all current
      queries (|batch| × |queries| bounded by the MIH bucket join —
      queries are the batch operator's capped broadcast);
    - queries that ENTER the capped query set this batch (new
      ``% QUERY_MOD`` arrivals, or cap displacement re-admitting a
      lower id) score against the committed code table once.

    Unlike the top-k faces there is NO re-ranking: a radius verdict is
    a pure function of the two fixed codes, so committed pair rows
    stay valid verbatim and the merge is a distinct union (pairs of a
    displaced query drop in the same commit).  Re-ingested doc_ids are
    dropped against the committed code table (codes are deterministic
    in the text, so the first arrival's row already carries the
    verdicts).

    State: per-batch ``codes`` contributions (append-only, 8 bytes a
    doc + the id), cumulative ``pairs``/``qids`` snapshots (superseded
    copies pruned).  Equivalence contract (tested): after every commit
    the snapshot equals one-shot ``hamming_neighbors`` over exactly
    the documents ingested so far, under arbitrary arrival order
    including re-ingested ids.  Returns the latest committed snapshot.
    """
    from ..operators.dedup import (
        HAMMING_CHUNKS,
        HAMMING_QUERY_CAP,
        HAMMING_RADIUS,
        QUERY_MOD,
        _simhash64_codes,
    )

    os.makedirs(root, exist_ok=True)
    ccols = [f"c{c}" for c in range(HAMMING_CHUNKS)]

    def score(cands: DataFrame, qcodes: DataFrame) -> DataFrame:
        # the batch operator's MIH shape: both sides explode to
        # (chunk, value) rows carrying their full code, the bucket
        # equi-join both finds and scores candidates in place, and
        # multi-chunk collisions dedupe on the pair key alone
        corpus_long = cands.select(
            "doc_id",
            *ccols,
            F.posexplode(F.array(*[F.col(c) for c in ccols])).alias(
                "chunk", "cval"
            ),
        )
        qlong = qcodes.select(
            "query_id",
            *[F.col(f"q{c}") for c in range(HAMMING_CHUNKS)],
            F.posexplode(
                F.array(*[F.col(f"q{c}") for c in range(HAMMING_CHUNKS)])
            ).alias("chunk", "cval"),
        )
        ham = None
        for c in range(HAMMING_CHUNKS):
            term = F.bit_count(F.col(f"c{c}").bitwiseXOR(F.col(f"q{c}")))
            ham = term if ham is None else ham + term
        return (
            corpus_long.join(F.broadcast(qlong), ["chunk", "cval"])
            .filter(F.col("doc_id") != F.col("query_id"))
            .select(
                "query_id",
                F.col("doc_id").alias("cand_id"),
                ham.cast("long").alias("hamming"),
            )
            .filter(F.col("hamming") <= HAMMING_RADIUS)
            .distinct()
        )

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "MIH index"):
            return
        code_dirs = _committed_dirs(root, "codes")
        old = (
            spark.read.schema(_HM_CODE_SCHEMA).parquet(*code_dirs)
            if code_dirs
            else None
        )
        new = _simhash64_codes(batch_df).dropDuplicates(["doc_id"])
        if old is not None:  # re-ingested ids: first arrival wins
            new = new.join(old, "doc_id", "left_anti")
        new = new.localCheckpoint(eager=False)
        all_codes = new.unionByName(old) if old is not None else new
        q = (
            all_codes.filter(F.col("doc_id") % QUERY_MOD == 0)
            .orderBy("doc_id")
            .limit(HAMMING_QUERY_CAP)
            .select(
                F.col("doc_id").alias("query_id"),
                *[F.col(f"c{c}").alias(f"q{c}") for c in range(HAMMING_CHUNKS)],
            )
            .localCheckpoint(eager=False)
        )
        qids_dir = _latest_committed_dir(root, "qids")
        prev_qids = (
            spark.read.schema(_HM_QID_SCHEMA).parquet(qids_dir)
            if qids_dir
            else spark.createDataFrame([], _HM_QID_SCHEMA)
        )
        new_q = q.join(prev_qids, "query_id", "left_anti")
        legs = [score(new, q)]
        if old is not None:
            legs.append(score(old, new_q))
        pairs_dir = _latest_committed_dir(root, "pairs")
        if pairs_dir is not None:
            prev = spark.read.schema(_HM_PAIR_SCHEMA).parquet(pairs_dir)
            # cap displacement: only rows whose query survives merge
            legs.append(
                prev.join(q.select("query_id"), "query_id", "left_semi")
            )
        merged = legs[0]
        for leg in legs[1:]:
            merged = merged.unionByName(leg)
        out = os.path.join(root, f"batch={batch_id}")
        merged.distinct().write.mode("overwrite").parquet(
            os.path.join(out, "pairs")
        )
        q.select("query_id").write.mode("overwrite").parquet(
            os.path.join(out, "qids")
        )
        new.write.mode("overwrite").parquet(os.path.join(out, "codes"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "pairs")
        _prune_superseded(root, "qids")
        from ..functions.caching import release_local_checkpoint

        release_local_checkpoint(new)
        release_local_checkpoint(q)
        if on_batch is not None:
            on_batch(batch_id)

    (
        doc_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    pairs_dir = _latest_committed_dir(root, "pairs")
    if pairs_dir is None:
        return spark.createDataFrame([], _HM_PAIR_SCHEMA)
    return spark.read.schema(_HM_PAIR_SCHEMA).parquet(pairs_dir)


# --- streaming dedup-inflation accounting --------------------------------------

_DI_HSTAT_SCHEMA = "h string, n_docs long, sum_tok long"
_DI_ID_SCHEMA = "doc_id long"
_DI_SNAP_SCHEMA = (
    "n_docs long, n_dup_docs long, dup_doc_frac double, tokens_total long,"
    " tokens_dup long, dup_token_frac double, inflation double"
)


def stream_dedup_inflation(
    spark: SparkSession,
    doc_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    on_batch=None,
) -> DataFrame:
    """Streaming face of ``operators.dedup.dedup_inflation`` — the
    token-weighted duplication dashboard maintained continuously as
    the corpus streams in (the number an ingest pipeline watches to
    decide WHEN the next dedup pass pays for itself).

    The fold is pure per-hash sums, the cheapest state in the
    streaming family: every member of a content-hash group carries
    IDENTICAL text, hence an identical token count t_h, so the group's
    duplicate tokens are (n_h − 1)·t_h = sum_tok − sum_tok/n_h —
    keeper IDENTITY never matters for the accounting, only the counts
    (contrast ``stream_span_dedup``, whose ownership rule forces
    dethroned-owner rescores).  Per batch: new docs (re-ingested ids
    dropped against the committed id set) contribute (h, n_docs,
    sum_tok) rows that SUM-fold across batches; the one-row snapshot
    derives from the folded table.

    State: per-batch ``hstats`` + ``ids`` contributions (append-only;
    text never persists), cumulative ``snap`` (superseded copies
    pruned).  Equivalence contract (tested): after every commit the
    snapshot equals one-shot ``dedup_inflation`` over exactly the
    documents ingested so far, under arbitrary arrival order including
    re-ingested ids.  Returns the latest committed snapshot.
    """
    from ..functions.text import words

    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if not _begin_batch(root, checkpoint_dir, batch_id, "inflation fold"):
            return
        new = (
            batch_df.select(
                "doc_id",
                F.md5("text").alias("h"),
                F.size(words(F.col("text"))).cast("long").alias("n_tok"),
            )
            .dropDuplicates(["doc_id"])
        )
        id_dirs = _committed_dirs(root, "ids")
        if id_dirs:
            old_ids = spark.read.schema(_DI_ID_SCHEMA).parquet(*id_dirs)
            new = new.join(old_ids, "doc_id", "left_anti")
        new = new.localCheckpoint(eager=False)
        contrib = new.groupBy("h").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tok"),
        )
        out = os.path.join(root, f"batch={batch_id}")
        contrib.write.mode("overwrite").parquet(os.path.join(out, "hstats"))
        new.select("doc_id").write.mode("overwrite").parquet(
            os.path.join(out, "ids")
        )
        hs_dirs = _committed_dirs(root, "hstats") + [
            os.path.join(out, "hstats")
        ]
        folded = (
            spark.read.schema(_DI_HSTAT_SCHEMA)
            .parquet(*hs_dirs)
            .groupBy("h")
            .agg(
                F.sum("n_docs").alias("n"),
                F.sum("sum_tok").alias("tok"),
            )
        )
        snap = folded.agg(
            F.sum("n").cast("long").alias("n_docs"),
            (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
            F.sum("tok").cast("long").alias("tokens_total"),
            # per group: dup tokens = tok - tok/n (tok/n is exact: every
            # member's token count is identical)
            F.sum(F.col("tok") - (F.col("tok") / F.col("n")).cast("long"))
            .cast("long")
            .alias("tokens_dup"),
        ).select(
            "n_docs",
            "n_dup_docs",
            # NULL-by-contract on non-positive denominators, matching
            # the batch face (dedup_inflation) guard exactly
            F.when(
                F.col("n_docs") > 0,
                F.round(F.col("n_dup_docs") / F.col("n_docs"), 6),
            ).alias("dup_doc_frac"),
            "tokens_total",
            "tokens_dup",
            F.when(
                F.col("tokens_total") > 0,
                F.round(F.col("tokens_dup") / F.col("tokens_total"), 6),
            ).alias("dup_token_frac"),
            F.when(
                (F.col("tokens_total") - F.col("tokens_dup")) > 0,
                F.round(
                    F.col("tokens_total")
                    / (F.col("tokens_total") - F.col("tokens_dup")),
                    6,
                ),
            ).alias("inflation"),
        )
        snap.write.mode("overwrite").parquet(os.path.join(out, "snap"))
        _commit_batch(root, batch_id)
        _prune_superseded(root, "snap")
        from ..functions.caching import release_local_checkpoint

        release_local_checkpoint(new)
        if on_batch is not None:
            on_batch(batch_id)

    (
        doc_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    snap_dir = _latest_committed_dir(root, "snap")
    if snap_dir is None:
        return spark.createDataFrame([], _DI_SNAP_SCHEMA)
    return spark.read.schema(_DI_SNAP_SCHEMA).parquet(snap_dir)
