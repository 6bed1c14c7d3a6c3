"""Semantic invariants of the sketch/graph/retrieval families — the
mathematical contracts the operators advertise, checked ON TOP of the
DuckDB oracle parity (which only proves engine agreement): CMS error is
one-sided, Bloom never false-negatives, histogram quantiles are bounded
and monotone, SCD2 intervals tile each user's timeline, PageRank
conserves probability mass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_repartition_spark.operators import (
    dedup as dd,
    graph as gr,
    sketches as sk,
    text_analysis as tx,
    windows as win,
)
from kafka_streams_repartition_spark.sources.tables import load_tables


@pytest.fixture(scope="module")
def t(spark, sf_dir):
    return load_tables(spark, sf_dir)


def test_cms_overestimates_only(t):
    """Count-min error is ONE-sided: collisions can only inflate."""
    rows = sk.cms_heavy_hitters(t).collect()
    assert rows
    assert all(r["cms_estimate"] >= r["n_exact"] for r in rows)


def test_bloom_never_false_negative(t):
    """Every exact match passes the filter; false positives are the
    only error direction."""
    [r] = sk.bloom_semi_join(t).collect()
    assert r["n_bloom_pass"] >= r["n_exact_match"]
    assert r["false_positives"] == r["n_bloom_pass"] - r["n_exact_match"]
    assert 0 <= r["n_bloom_pass"] <= r["n_fact_keys"]


def test_histogram_quantiles_bounded_and_monotone(t):
    """Estimates stay inside [min, max] and increase with q."""
    rows = sk.histogram_quantiles(t).collect()
    rng = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in t["events"]
        .groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    by_type: dict = {}
    for r in rows:
        lo, hi = rng[r["event_type"]]
        assert lo - 1e-9 <= r["est"] <= hi + 1e-9
        by_type.setdefault(r["event_type"], []).append((r["q"], r["est"]))
    for ests in by_type.values():
        ests.sort()
        assert all(a[1] <= b[1] + 1e-9 for a, b in zip(ests, ests[1:]))


def test_scd2_intervals_tile_the_timeline(t):
    """Per user: intervals are disjoint and adjacent (each run's end is
    the next run's start, the last is open), and run sizes sum to the
    user's event count."""
    rows = win.scd2_history(t).collect()
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    counts = dict(
        t["events"].groupBy("user_id").count().collect()
    )
    for uid, ivs in per_user.items():
        ivs.sort(key=lambda r: r["valid_from_ms"])
        for a, b in zip(ivs, ivs[1:]):
            assert a["valid_to_ms"] == b["valid_from_ms"]
            assert a["event_type"] != b["event_type"]  # runs are maximal
        assert ivs[-1]["valid_to_ms"] == win.SCD2_END_MS
        assert sum(r["n_events"] for r in ivs) == counts[uid]


def test_pagerank_conserves_mass(t):
    """No dangling nodes by construction (edges are symmetric), so each
    power iteration preserves total probability mass ≈ 1."""
    rows = gr.pagerank_copurchase(t).collect()
    assert rows
    total = sum(r["pagerank"] for r in rows)
    # per-node round(6) noise bounds the drift
    assert abs(total - 1.0) < len(rows) * 5e-6 + 1e-6
    assert all(r["pagerank"] > 0 for r in rows)


def test_bm25_topk_shape(t):
    """Per query: ≤ k results, contiguous ranks, scores descending."""
    rows = tx.bm25_search(t).collect()
    per_q: dict = {}
    for r in rows:
        per_q.setdefault(r["q_doc_id"], []).append(r)
    assert per_q
    for rs in per_q.values():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= tx.BM25_TOP_K
        assert all(
            round(a["bm25"], 4) >= round(b["bm25"], 4) - 1e-4
            for a, b in zip(rs, rs[1:])
        )
        assert all(r["doc_id"] != r["q_doc_id"] for r in rs)


def test_incremental_dedup_verdicts_consistent(t):
    """Output covers exactly the incoming batch; kept is the negation
    of the two dup verdicts; exact dups are also caught at least as
    often as their verbatim text demands."""
    rows = dd.dedup_incremental(t).collect()
    assert rows
    assert all(
        r["kept"] == (not (r["exact_dup"] or r["near_dup"])) for r in rows
    )
    parity = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1), 16, 10)
        .cast("long")
        % 2
    )
    new_ids = {
        r["doc_id"]
        for r in t["documents"].filter(parity == 1).select("doc_id").collect()
    }
    assert {r["doc_id"] for r in rows} == new_ids


def test_semdedup_keeps_cell_outlier(t):
    """SemDeDup's keep rule: within every cell the lexicographic
    minimum (cent_cos, vec_id) member is NEVER removed (nothing
    dominates it), verdicts partition each cell, and every removal is
    justified by a ≥-threshold partner farther from the centroid."""
    rows = dd.semdedup(t).collect()
    assert rows
    by_cell: dict = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r)
    for cell, members in by_cell.items():
        assert all(r["kept"] == (not r["removed"]) for r in members)
        anchor = min(members, key=lambda r: (r["cent_cos"], r["vec_id"]))
        assert not anchor["removed"], (cell, anchor)
    # pruning actually happened somewhere (the corpus has near-dups)
    assert any(r["removed"] for r in rows)


def test_semdedup_recall_gate_well_formed(t):
    """The cell-blocking recall gate: co-cell pairs are a subset of
    truth (recall ≤ 1), truth is non-empty on this corpus, and the
    number is strictly positive (cells do catch some pairs)."""
    [r] = dd.semdedup_recall(t).collect()
    assert r["n_truth_pairs"] > 0
    assert 0 < r["n_co_cell"] <= r["n_truth_pairs"]
    assert 0 < r["recall"] <= 1.0


def test_dedup_stacked_verdicts_superset_of_semdedup(t):
    """The union-of-verdicts operator only ever ADDS removals on top of
    the cell-blocked verdict (monotone stacking), every extra removal is
    a member of some LSH-verified pair, and cells/cent_cos pass through
    unchanged."""
    sd = {r["vec_id"]: r for r in dd.semdedup(t).collect()}
    st = {r["vec_id"]: r for r in dd.dedup_stacked(t).collect()}
    assert set(sd) == set(st)
    lsh_members = set()
    for r in dd.dedup_embedding_lsh(t).collect():
        lsh_members |= {r["doc_a"], r["doc_b"]}
    extra = set()
    for vid, r in st.items():
        assert (r["cell"], r["cent_cos"]) == (
            sd[vid]["cell"], sd[vid]["cent_cos"],
        )
        assert r["removed"] != r["kept"]
        if sd[vid]["removed"]:
            assert r["removed"]  # never un-removes
        elif r["removed"]:
            extra.add(vid)
    assert extra and extra <= lsh_members


def test_stacked_recall_dominates_each_blocker(t):
    """Stacking the two blocking families must measurably pay: the
    union's recall is strictly greater than EACH single family on this
    fixture (each family catches pairs the other forfeits), and the
    stacked hit set is bounded by truth and by the per-family sum."""
    [r] = dd.dedup_stacked_recall(t).collect()
    assert r["n_truth_pairs"] > 0
    assert r["n_stacked"] <= r["n_truth_pairs"]
    assert r["n_stacked"] <= r["n_lsh_found"] + r["n_co_cell"]
    assert r["recall_stacked"] > r["recall_lsh"]
    assert r["recall_stacked"] > r["recall_cells"]
    assert r["recall_stacked"] <= 1.0


def test_semdedup_blocked_verify_equivalent(t, monkeypatch):
    """The row-blocked in-cell matmul is a pure memory shape: forcing a
    tiny block (3 rows per step, many blocks per cell) must reproduce
    the default run verdict-for-verdict."""
    base = sorted(map(tuple, dd.semdedup(t).collect()))
    monkeypatch.setattr(dd, "SEMDEDUP_BLOCK", 3)
    tiny = sorted(map(tuple, dd.semdedup(t).collect()))
    assert tiny == base


def test_dedup_collapsed_replication_invariant(spark, t):
    """The collapse-then-minhash verdict must be invariant to exact
    replication: replicating the corpus 3x (fresh doc_ids, identical
    texts) changes ONLY the exact_dup flags — the kept set stays the
    original keepers, and no replica ever becomes a near-dup candidate
    (the BENCH_sf10 quadratic term is gone by construction)."""
    base = dd.dedup_collapsed(t).toPandas()
    docs = t["documents"]
    rep = docs
    for i in range(1, 3):
        rep = rep.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
        )
    out = dd.dedup_collapsed({"documents": rep}).toPandas()
    assert len(out) == 3 * len(base)
    assert int(out["exact_dup"].sum()) == int(base["exact_dup"].sum()) + 2 * len(base)
    # keepers identical to the unreplicated corpus
    assert set(out[out.kept].doc_id) == set(base[base.kept].doc_id)
    # near-dup verdicts live on representatives only, unchanged
    reps = out[~out.exact_dup]
    assert set(reps[reps.near_dup].doc_id) == set(
        base[base.near_dup & ~base.exact_dup].doc_id
    )


def test_bpe_train_merges_matches_pure_python(t):
    """The distributed greedy BPE trainer must reproduce, round for
    round, a pure-Python reference implementation of Sennrich
    learn_bpe (dict-of-tuples vocab, argmax with lexicographic
    tiebreak, left-to-right non-overlapping merge)."""
    from collections import Counter

    from kafka_streams_repartition_spark.operators.text_analysis import (
        BPE_MERGE_ROUNDS,
    )

    vocab = Counter()
    for r in t["documents"].select("text").collect():
        for tok in (r["text"] or "").lower().split(" "):
            if tok:
                vocab[tuple(tok)] += 1

    def pair_counts(v):
        pc = Counter()
        for syms, freq in v.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += freq
        return pc

    def merge_word(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return tuple(out)

    want = []
    for rnd in range(1, BPE_MERGE_ROUNDS + 1):
        pc = pair_counts(vocab)
        if not pc:
            break
        # max count, then lexicographically smallest (a, b)
        (a, b), n = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, a, b, a + b, n))
        merged = Counter()
        for syms, freq in vocab.items():
            merged[merge_word(syms, a, b)] += freq
        vocab = merged

    got = [
        (r["round"], r["lhs"], r["rhs"], r["merged"], r["n"])
        for r in tx.bpe_train_merges(t).orderBy("round").collect()
    ]
    assert got == want and len(got) == BPE_MERGE_ROUNDS


def test_embdup_hot_bucket_tiled_and_exact(spark):
    """Adversarial hot bucket: hundreds of near-identical vectors all
    land on ONE (band, sig) signature per band.  The cap must split
    that bucket into bounded chunk-pair tiles (no tile task ever holds
    more than a few chunks' rows) while the output stays EXACTLY the
    full within-bucket pair set — tiling partitions pairs, it never
    drops or duplicates one."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    n, cap = 400, 64
    vecs = [
        (i, (base + 1e-9 * rng.normal(size=64)).tolist()) for i in range(n)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    t2 = {"embeddings": emb}

    out = dd.dedup_embedding_lsh(t2, bucket_cap=cap).toPandas()
    # every pair survives (cosine ≈ 1): the exact full pair set, once
    assert len(out) == n * (n - 1) // 2
    assert not out.duplicated(["doc_a", "doc_b"]).any()
    assert (out["cosine"] >= 0.999).all()

    # the tile construction actually bounded the tasks: every
    # (band, sig, tile) group holds ≤ 2 hash-chunks' rows (≲ 2·cap up
    # to multinomial skew), and the degenerate bucket became k(k+1)/2
    # tiles per band instead of one n-row group
    from kafka_streams_repartition_spark.functions.vectors import (
        to_double_array,
    )
    from kafka_streams_repartition_spark.sources.tables import fan_out

    sigs = (
        fan_out(emb)
        .select("vec_id", to_double_array("embedding").alias("v"))
        .select(
            "vec_id",
            "v",
            F.explode(
                F.array(
                    *dd._embdup_band_structs(
                        dd.derived_band_planes(emb.count())
                    )
                )
            ).alias("bs"),
        )
        .select("vec_id", "v", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    )
    tiled = dd._embdup_tiled_sigs(sigs, cap)
    per_tile = (
        tiled.groupBy("band", "sig", "tile_i", "tile_j").count().toPandas()
    )
    k = -(-n // cap)  # ceil
    assert per_tile["count"].max() <= 4 * cap
    assert (
        per_tile.groupby("band").size().max() == k * (k + 1) // 2
    )


def test_ann_vectorized_query_set_capped(t, monkeypatch):
    """The driver-side collect of ann_topk_vectorized must be bounded by
    ANN_QUERY_CAP regardless of corpus size: with a tiny cap, only the
    cap lowest-id queries are served (TakeOrderedAndProject semantics),
    and each served query's top-k equals the uncapped brute-force
    ranking for that query — the cap bounds WHICH queries run, never
    their answers."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "ANN_QUERY_CAP", 3)
    out = sim.ann_topk_vectorized(t).toPandas()
    served = sorted(out["query_id"].unique())
    all_q = sorted(
        r["vec_id"]
        for r in t["embeddings"]
        .filter(F.col("vec_id") % sim.QUERY_MOD == 0)
        .select("vec_id")
        .collect()
    )
    assert served == all_q[:3]
    full = sim.ann_topk_bruteforce(t).toPandas()
    key = lambda df: sorted(
        map(tuple, df[["query_id", "rank", "cand_id", "cosine"]].values)
    )
    assert key(out) == key(full[full["query_id"].isin(served)])


def test_ann_family_query_set_capped(t, monkeypatch):
    """The round-9 backport of the bounded-query contract to the
    ORIGINAL ANN quartet + the composed index: under a tiny
    ANN_QUERY_CAP every op serves only queries from the cap lowest-id
    slice of the %-subset, and each served query's rows equal the
    uncapped run's rows for that query — the cap bounds WHICH queries
    run, never their answers (per-query results are independent)."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    ops = [
        sim.ann_topk_bruteforce,
        sim.ann_topk_lsh,
        sim.ann_topk_ivf,
        sim.ann_topk_pq,
        sim.ann_topk_ivfpq,
        sim.ann_topk_ivfpq_residual,
    ]
    mod_ids = sorted(
        r["vec_id"]
        for r in t["embeddings"]
        .filter(F.col("vec_id") % 100 == 0)
        .select("vec_id")
        .collect()
    )
    assert len(mod_ids) > 2  # the cap below genuinely cuts
    fulls = {op.__name__: op(t).toPandas() for op in ops}
    monkeypatch.setattr(sim, "ANN_QUERY_CAP", 2)
    capped_ids = set(mod_ids[:2])
    for op in ops:
        full = fulls[op.__name__]
        out = op(t).toPandas()
        assert set(out["query_id"].unique()) <= capped_ids, op.__name__
        cols = list(full.columns)
        key = lambda df: sorted(map(tuple, df[cols].values))  # noqa: E731
        want = full[full["query_id"].isin(capped_ids)]
        assert key(out) == key(want), op.__name__


def test_ivfpq_residual_beats_raw_encoding(t):
    """The point of by_residual=true: at the SAME cells, probe budget
    and code budget, residual encoding must not lose to raw-vector
    quantization on the fixture (Jégou §IV-A's empirical claim, here a
    pinned acceptance) — and both gates measure against the same
    brute-force truth so the comparison is apples-to-apples."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    raw = sim.ivfpq_recall(t).collect()[0]
    res = sim.ivfpq_residual_recall(t).collect()[0]
    assert res["n_truth"] == raw["n_truth"]  # same capped truth
    assert res["recall"] >= raw["recall"]
    assert 0.0 <= res["recall"] <= 1.0


def test_ngram_jaccard_query_set_capped(t, monkeypatch):
    """dedup_ngram_jaccard's broadcast query-doc set is bounded by
    JACCARD_QUERY_CAP: with a tiny cap only queries from the cap
    lowest-id slice appear, and their pair sets match the uncapped run
    exactly."""
    full = dd.dedup_ngram_jaccard(t).toPandas()
    mod_ids = sorted(
        r["doc_id"]
        for r in t["documents"]
        .filter(F.col("doc_id") % dd.QUERY_MOD == 0)
        .select("doc_id")
        .collect()
    )
    assert len(mod_ids) > 2
    monkeypatch.setattr(dd, "JACCARD_QUERY_CAP", 2)
    out = dd.dedup_ngram_jaccard(t).toPandas()
    capped_ids = set(mod_ids[:2])
    assert set(out["query_id"].unique()) <= capped_ids
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df[["query_id", "cand_id", "jaccard"]].values)
    )
    assert key(out) == key(full[full["query_id"].isin(capped_ids)])


def test_hamming_neighbors_exact_by_pigeonhole(t):
    """Multi-index Hamming search is EXACT, not approximate: the
    pigeonhole precondition (radius < chunk count) must hold, and the
    chunk-collision index must return the identical pair set a
    quadratic brute-force scan computes at the same radius — recall
    1.0 is structural (Norouzi et al. 2012 §III), so unlike the
    LSH/IVF/PQ gates this one pins equality, never a ratio."""
    assert dd.HAMMING_RADIUS < dd.HAMMING_CHUNKS
    assert dd.HAMMING_CHUNKS * dd.HAMMING_CHUNK_BITS == dd.HAMMING_BITS
    codes = dd._simhash64_codes(t["documents"]).toPandas()
    got = dd.hamming_neighbors(t).toPandas()
    by_id = {
        r.doc_id: (r.c0, r.c1, r.c2, r.c3) for r in codes.itertuples()
    }
    qids = sorted(i for i in by_id if i % dd.QUERY_MOD == 0)[
        : dd.HAMMING_QUERY_CAP
    ]
    want = sorted(
        (q, c, h)
        for q in qids
        for c, cc in by_id.items()
        if c != q
        for h in [
            sum(bin(a ^ b).count("1") for a, b in zip(by_id[q], cc))
        ]
        if h <= dd.HAMMING_RADIUS
    )
    assert (
        sorted(map(tuple, got[["query_id", "cand_id", "hamming"]].values))
        == want
    )


def test_hamming_threshold_curve_consistent_with_index(t):
    """The radius design table agrees with the operators it sizes: its
    cumulative pair count at the default radius equals the MIH index's
    output size, its total mass is exactly queries × (corpus − 1), and
    cum_pairs is strictly the running sum of a complete histogram."""
    curve = (
        dd.hamming_threshold_curve(t)
        .toPandas()
        .sort_values("hamming", ignore_index=True)
    )
    idx_rows = dd.hamming_neighbors(t).count()
    at_default = curve[curve["hamming"] <= dd.HAMMING_RADIUS]
    assert at_default["n_pairs"].sum() == idx_rows
    assert (at_default["within_default"]).all()
    assert (~curve[curve["hamming"] > dd.HAMMING_RADIUS]["within_default"]).all()
    n_codes = dd._simhash64_codes(t["documents"]).count()
    n_q = curve["n_queries_hit"].max()  # the distance every query hits
    total = curve["n_pairs"].sum()
    qids = dd._simhash64_codes(t["documents"]).filter(
        F.col("doc_id") % dd.QUERY_MOD == 0
    )
    assert total == min(qids.count(), dd.HAMMING_QUERY_CAP) * (n_codes - 1)
    assert n_q <= min(qids.count(), dd.HAMMING_QUERY_CAP)
    assert (curve["cum_pairs"] == curve["n_pairs"].cumsum()).all()


def test_hamming_neighbors_query_set_capped(t, monkeypatch):
    """hamming_neighbors inherits the bounded-query contract: a tiny
    HAMMING_QUERY_CAP serves only the cap lowest-id slice of the
    %-subset, with each served query's rows identical to the uncapped
    run's."""
    full = dd.hamming_neighbors(t).toPandas()
    mod_ids = sorted(
        r["doc_id"]
        for r in t["documents"]
        .filter(F.col("doc_id") % dd.QUERY_MOD == 0)
        .select("doc_id")
        .collect()
    )
    assert len(mod_ids) > 2
    monkeypatch.setattr(dd, "HAMMING_QUERY_CAP", 2)
    out = dd.hamming_neighbors(t).toPandas()
    capped_ids = set(mod_ids[:2])
    assert set(out["query_id"].unique()) <= capped_ids
    key = lambda df: sorted(  # noqa: E731
        map(tuple, df[["query_id", "cand_id", "hamming"]].values)
    )
    assert key(out) == key(full[full["query_id"].isin(capped_ids)])


def test_memo_slots_bounded_and_unpersist_on_eviction(spark):
    """The memoization helper bounds executor storage to its capacity:
    resident entries stay cached (and their keys strongly referenced —
    a downstream plan built over a transient key must keep its
    InMemoryRelation, the pretrain_pipeline regression), and the
    least-recently-used frame is UNPERSISTED when capacity is exceeded
    (the round-9 advisor's storage-leak finding — the old
    WeakKeyDictionary left evicted entries' blocks pinned for the
    session)."""
    from kafka_streams_repartition_spark.functions.caching import MemoSlots

    slots = MemoSlots(capacity=2)
    k1, k2, k3 = (spark.range(n + 3) for n in range(3))
    b1 = slots.get_or_build(k1, lambda: k1.selectExpr("id * 2 AS x"))
    assert b1.is_cached
    assert slots.get_or_build(k1, lambda: 1 / 0) is b1  # memo hit
    b2 = slots.get_or_build(k2, lambda: k2.selectExpr("id * 3 AS x"))
    assert b1.is_cached and b2.is_cached  # both resident at capacity 2
    b3 = slots.get_or_build(k3, lambda: k3.selectExpr("id * 4 AS x"))
    assert not b1.is_cached  # LRU evicted AND unpersisted
    assert b2.is_cached and b3.is_cached
    assert len(slots) == 2


def test_dedup_embedding_query_set_capped(t, monkeypatch):
    """dedup_embedding's broadcast query subset is bounded by
    EMBDUP_QUERY_CAP: with a tiny cap only the cap lowest-id queries
    appear, and their pair sets match the uncapped run exactly."""
    full = dd.dedup_embedding(t).toPandas()
    monkeypatch.setattr(dd, "EMBDUP_QUERY_CAP", 2)
    out = dd.dedup_embedding(t).toPandas()
    all_q = sorted(full["query_id"].unique())
    assert sorted(out["query_id"].unique()) == all_q[:2]
    key = lambda df: sorted(
        map(tuple, df[["query_id", "cand_id", "cosine"]].values)
    )
    assert key(out) == key(full[full["query_id"].isin(all_q[:2])])


def test_sq_recall_query_set_capped(t, monkeypatch):
    """sq_recall inherits the bounded-query contract (the same
    ANN_QUERY_CAP as ann_topk_vectorized): with a tiny cap the gate
    measures recall over exactly the cap lowest-id queries — the
    truth AND approx sides are cut to the same capped list, so
    n_truth equals the brute-force rows of just those queries and the
    broadcast query matrix is ≤ cap × DIM doubles at any corpus
    size."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    full_truth = sim.ann_topk_bruteforce(t).toPandas()
    all_q = sorted(full_truth["query_id"].unique())
    assert len(all_q) > 2  # the cap below genuinely cuts
    monkeypatch.setattr(sim, "ANN_QUERY_CAP", 2)
    out = sim.sq_recall(t).collect()[0]
    served = all_q[:2]
    assert out["n_truth"] == int(
        (full_truth["query_id"].isin(served)).sum()
    )
    assert out["n_approx"] == 2 * sim.TOP_K
    assert out["n_hits"] <= out["n_truth"]
    assert 0.0 <= out["recall"] <= 1.0


def test_dedup_quality_aware_keeper_is_best(t):
    """The keeper of every near-dup cluster is its highest-quality
    member (ties to the lowest doc_id), exactly one keeper exists per
    cluster, and the clustering itself is dedup_clusters unchanged."""
    rows = dd.dedup_quality_aware(t).collect()
    assert rows
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    want_clusters = {
        (r["doc_id"], r["cluster_id"]) for r in dd.dedup_clusters(t).collect()
    }
    assert {(r["doc_id"], r["cluster_id"]) for r in rows} == want_clusters
    for members in by_cluster.values():
        keepers = [r for r in members if r["kept"]]
        assert len(keepers) == 1
        best = max(members, key=lambda r: (r["quality_score"], -r["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]
        assert all(r["keeper_id"] == best["doc_id"] for r in members)
    # the rule genuinely differs from min-id somewhere on real data,
    # or the operator would be dedup_clusters with extra columns
    assert any(
        min(m["doc_id"] for m in members) != next(
            r["doc_id"] for r in members if r["kept"]
        )
        for members in by_cluster.values()
        if len(members) > 1
    )


def test_leakage_split_accounting(spark):
    """Constructed leak: two near-identical docs whose md5(doc_id)
    buckets straddle the val cut must be counted as one straddling
    pair, one train eviction and one contaminated val doc."""
    base = " ".join(f"tok{i}" for i in range(40))
    # bucket(doc_id): find one val-side and one train-side id
    import hashlib

    def bucket(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100

    val_id = next(i for i in range(1000) if bucket(i) < dd.VAL_PCT)
    train_id = next(i for i in range(1000) if bucket(i) >= dd.VAL_PCT)
    docs = spark.createDataFrame(
        [
            (val_id, base + " tailv"),
            (train_id, base + " tailt"),
        ],
        "doc_id long, text string",
    )
    [r] = dd.leakage_split({"documents": docs}).collect()
    assert r["n_train"] == 1 and r["n_val"] == 1
    assert r["n_pairs"] == 1 and r["n_straddle"] == 1
    assert r["n_train_evicted"] == 1 and r["n_val_contaminated"] == 1
    assert r["straddle_frac"] == 1.0


def test_leakage_split_bounds(t):
    """On real data the audit's internal arithmetic holds: straddling
    pairs are a subset of all pairs, evictions are bounded by straddle
    count, and the split partitions the corpus."""
    [r] = dd.leakage_split(t).collect()
    n_docs = t["documents"].count()
    assert r["n_train"] + r["n_val"] == n_docs
    assert 0 <= r["n_straddle"] <= r["n_pairs"]
    assert r["n_train_evicted"] <= r["n_straddle"]
    assert r["n_val_contaminated"] <= r["n_straddle"]


def test_minhash_band_tuning_s_curve(t):
    """More bands (fewer rows per band) can only increase the catch
    probability of any fixed pair — expected recall is nondecreasing
    in the band count across factorizations of the same signature; the
    production layout appears; every expectation is a probability."""
    rows = {r["bands"]: r for r in dd.minhash_band_tuning(t).collect()}
    assert set(rows) == {b for b, _ in dd.BAND_LAYOUTS}
    n_pairs = {r["n_pairs"] for r in rows.values()}
    assert len(n_pairs) == 1  # one shared pair population
    prev = -1.0
    for b in sorted(rows):
        r = rows[b]
        assert 0.0 <= r["expected_recall"] <= 1.0
        assert r["expected_recall"] >= prev
        prev = r["expected_recall"]
        assert 0.0 < r["s_curve_threshold"] <= 1.0
    # the production design point (MINHASH_BANDS x rows) is in the table
    assert rows[dd.MINHASH_BANDS]["rows_per_band"] == (
        dd.MINHASH_SEEDS // dd.MINHASH_BANDS
    )


def test_ann_ivfpq_consistent_with_pq(t):
    """IVF-PQ is the PQ scorer restricted to probed cells: every ADC
    value it reports equals ann_topk_pq's ADC for the same (query,
    cand) pair where both rank it, and per-query output is a
    contiguous rank prefix of at most TOP_K rows."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    ivfpq = sim.ann_topk_ivfpq(t).collect()
    assert ivfpq
    by_q: dict[int, list] = {}
    for r in ivfpq:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        ranks = sorted(r["rank"] for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        assert len(rs) <= sim.TOP_K
    pq_adc = {
        (r["query_id"], r["cand_id"]): r["adc"]
        for r in sim.ann_topk_pq(t).collect()
    }
    overlap = [
        r for r in ivfpq if (r["query_id"], r["cand_id"]) in pq_adc
    ]
    assert overlap  # probing rank 1 is the query's own cell
    assert all(
        r["adc"] == pq_adc[(r["query_id"], r["cand_id"])] for r in overlap
    )


def test_filter_attribution_arithmetic(t):
    """The cascade accounting is internally consistent per source:
    any-gate rejections are bounded by the per-gate sum (overlap can
    only shrink the union) and by the doc count; multi-gate rejections
    are bounded by every pairwise implication; survival is exactly the
    untouched fraction."""
    from kafka_streams_repartition_spark.operators import selection as sl

    rows = sl.filter_attribution(t).collect()
    assert rows
    for r in rows:
        per_gate = (
            r["n_gopher_rejected"]
            + r["n_quality_rejected"]
            + r["n_exact_dup"]
            + r["n_near_dup"]
        )
        assert r["n_rejected_any"] <= min(per_gate, r["n_docs"])
        assert r["n_multi_rejected"] <= r["n_rejected_any"]
        # union >= largest single gate
        assert r["n_rejected_any"] >= max(
            r["n_gopher_rejected"],
            r["n_quality_rejected"],
            r["n_exact_dup"],
            r["n_near_dup"],
        )
        want = (r["n_docs"] - r["n_rejected_any"]) / r["n_docs"]
        assert abs(r["survival_frac"] - want) < 5.1e-5  # round(.,4) slack
    # totals must cover the whole corpus exactly once
    assert sum(r["n_docs"] for r in rows) == t["documents"].count()


def test_crossmodal_clusters_union_refines_families(t):
    """The union graph can only MERGE clusters, never split them:
    every text-only cluster (dedup_clusters) maps entirely inside one
    cross-modal cluster; every member is implicated by at least one
    family; cross_modal clusters really hold evidence from both."""
    rows = dd.crossmodal_clusters(t).collect()
    assert rows
    assert all(r["text_dup"] or r["embed_dup"] for r in rows)
    cm = {r["doc_id"]: r["cluster_id"] for r in rows}
    # refinement: text clusters never straddle cross-modal clusters
    text_groups: dict[int, set] = {}
    for x in dd.dedup_clusters(t).collect():
        text_groups.setdefault(x["cluster_id"], set()).add(cm[x["doc_id"]])
    assert text_groups and all(len(g) == 1 for g in text_groups.values())
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for members in by_cluster.values():
        sizes = {m["cluster_size"] for m in members}
        assert sizes == {len(members)}
        want_cm = any(m["text_dup"] for m in members) and any(
            m["embed_dup"] for m in members
        )
        assert all(m["cross_modal"] == want_cm for m in members)
    # the corpus genuinely exhibits a cross-modal stitch
    assert any(r["cross_modal"] for r in rows)


def test_jl_project_distortion_sane(t):
    """The projection gate's numbers are probabilities/ratios in
    range, the pair population matches the capped-query contract, and
    with k=DIM/4 the typical distortion is moderate (JL bound) while
    max can exceed it — avg strictly below max on real data."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    [r] = sim.jl_project(t).collect()
    assert r["k_dims"] == sim.JL_K
    n_q = (
        t["embeddings"].filter(F.col("vec_id") % sim.QUERY_MOD == 0).count()
    )
    n = t["embeddings"].count()
    assert r["n_pairs"] <= min(n_q, sim.derived_ann_query_cap(n)) * (n - 1)
    assert 0.0 <= r["avg_rel_err"] <= r["max_rel_err"]
    assert 0.0 <= r["frac_within_10pct"] <= 1.0
    # 16 random signs per dim: typical relative distance error should
    # land well under 100% (sanity that the math is a projection, not
    # noise) — JL with k=16 gives ~1/sqrt(k) scale distortion
    assert r["avg_rel_err"] < 0.5


def test_token_yield_funnel_monotone(t):
    """The token funnel can only shrink through the cascade, and its
    endpoints are consistent: totals cover the corpus' tokens and the
    survival fraction is the last stage over the first."""
    from kafka_streams_repartition_spark.operators import selection as sl
    from kafka_streams_repartition_spark.operators import text_analysis as tx

    rows = sl.token_yield(t).collect()
    assert rows
    for r in rows:
        chain = [
            r["n_tokens_total"],
            r["tokens_after_gopher"],
            r["tokens_after_quality"],
            r["tokens_after_exact"],
            r["tokens_after_near"],
        ]
        assert all(a >= b >= 0 for a, b in zip(chain, chain[1:]))
        want = r["tokens_after_near"] / r["n_tokens_total"]
        assert abs(r["token_survival_frac"] - want) < 5.1e-5
    total = sum(r["n_tokens_total"] for r in rows)
    want_total = (
        tx.text_stats(t).agg(F.sum("n_tokens")).collect()[0][0]
    )
    assert total == want_total


def test_ann_recall_gates_bounds(t):
    """Every ANN acceptance gate reports a probability, and the
    full-scan PQ gate ranks exactly the truth's query set (only the
    distance is compressed) while the blocked LSH gate may rank
    fewer."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    [pq] = sim.pq_recall(t).collect()
    [lsh] = sim.lsh_recall(t).collect()
    for r in (pq, lsh):
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hits"] <= min(r["n_truth"], r["n_approx"])
    assert pq["n_approx"] == pq["n_truth"]  # full scan: same (q, k) grid
    assert lsh["n_approx"] <= lsh["n_truth"]


def test_embdup_plane_tuning_s_curve(t):
    """The hyperplane design table obeys the banding laws: at fixed
    bands, MORE planes per band can only lower any pair's catch
    probability (p^r is nonincreasing in r for p in [0,1]); at fixed
    planes, more bands can only raise it; every expectation is a
    probability over one shared pair population; the production layout
    (EMBDUP_BANDS x derived planes) appears."""
    rows = {
        (r["bands"], r["planes"]): r
        for r in dd.embdup_plane_tuning(t).collect()
    }
    assert set(rows) == set(dd.PLANE_LAYOUTS)
    assert len({r["n_pairs"] for r in rows.values()}) == 1
    for r in rows.values():
        assert 0.0 <= r["expected_recall"] <= 1.0
        assert -1.0 <= r["s_curve_cosine"] <= 1.0
    for b in {b for b, _ in dd.PLANE_LAYOUTS}:
        planes = sorted(p for bb, p in dd.PLANE_LAYOUTS if bb == b)
        for lo, hi in zip(planes, planes[1:]):
            assert (
                rows[(b, hi)]["expected_recall"]
                <= rows[(b, lo)]["expected_recall"]
            )
    for p in {p for _, p in dd.PLANE_LAYOUTS}:
        bands = sorted(bb for bb, pp in dd.PLANE_LAYOUTS if pp == p)
        for lo, hi in zip(bands, bands[1:]):
            assert (
                rows[(hi, p)]["expected_recall"]
                >= rows[(lo, p)]["expected_recall"]
            )
    n_vecs = t["embeddings"].count()
    assert (dd.EMBDUP_BANDS, dd.derived_band_planes(n_vecs)) in rows


def test_minhash_band_tuning_python_replica(t):
    """The S-curve expectations equal an independent plain-python
    replay over the same verified pairs: p = 1-(1-j^r)^b with integer
    powers as left-assoc multiplication chains, per-pair rounding to
    6, exact decimal summation — the operator's documented contract,
    reproduced outside both engines."""
    from decimal import ROUND_HALF_UP, Decimal

    jacs = [r["jaccard"] for r in dd.dedup_minhash_lsh(t).collect()]
    assert jacs

    def ipow(x: float, n: int) -> float:
        out = 1.0
        for _ in range(n):
            out = out * x
        return out

    def r4(d: Decimal) -> float:  # Spark round() is HALF_UP
        return float(d.quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))

    rows = {r["bands"]: r for r in dd.minhash_band_tuning(t).collect()}
    for b, r_ in dd.BAND_LAYOUTS:
        want = sum(
            Decimal(str(round(1.0 - ipow(1.0 - ipow(j, r_), b), 6)))
            for j in jacs
        )
        got = rows[b]
        assert got["n_pairs"] == len(jacs)
        assert got["expected_caught"] == r4(want)
        assert got["expected_recall"] == round(
            float(want) / len(jacs), 4
        )


def test_jl_project_numpy_replica(spark):
    """On a tiny constructed corpus the distortion gate equals an
    independent numpy replay of the whole pipeline (signs from
    hex_sign, 1/sqrt(k) scaling, per-value rounding at each stage the
    operator rounds)."""
    import numpy as np

    from kafka_streams_repartition_spark.functions.hashing import hex_sign
    from kafka_streams_repartition_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    n = 25
    vecs = [(i * sim.QUERY_MOD if i < 3 else i, rng.normal(size=64).tolist(), 0) for i in range(n)]
    # ids 0, 100, 200 are queries; the rest are corpus-only
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    )
    [got] = sim.jl_project({"embeddings": emb}).collect()

    S = np.array(
        [[hex_sign(f"jl{k}:{j}") for j in range(64)] for k in range(sim.JL_K)],
        dtype=np.float64,
    )
    ids = np.array([v[0] for v in vecs])
    X = np.array([v[1] for v in vecs])
    Y = np.round(X @ S.T / np.sqrt(sim.JL_K), 6)
    q_idx = [i for i, v in enumerate(ids) if v % sim.QUERY_MOD == 0]
    q_idx = sorted(q_idx, key=lambda i: ids[i])[: sim.derived_ann_query_cap(n)]
    rels = []
    for qi in q_idx:
        for ci in range(n):
            if ids[ci] == ids[qi]:
                continue
            d0 = round(float(np.sqrt(((X[qi] - X[ci]) ** 2).sum())), 6)
            dp = round(float(np.sqrt(((Y[qi] - Y[ci]) ** 2).sum())), 6)
            if d0 > 0:
                rels.append(round(abs(dp - d0) / d0, 6))
    assert got["n_pairs"] == len(rels)
    assert got["max_rel_err"] == round(max(rels), 6)
    from decimal import Decimal

    s = sum(Decimal(str(r)) for r in rels)
    assert got["avg_rel_err"] == float(round(s / len(rels), 6))
    assert got["frac_within_10pct"] == round(
        sum(1 for r in rels if r <= 0.10) / len(rels), 4
    )


def test_quality_calibration_arithmetic(t):
    """The reliability table is internally consistent: bins partition
    the scored corpus, confidences live inside their bin's range,
    every gap is |conf - acc|, and the shared ECE equals the
    doc-weighted mean gap."""
    from decimal import Decimal

    from kafka_streams_repartition_spark.operators import selection as sl

    rows = sl.quality_calibration(t).collect()
    assert rows
    n_total = sum(r["n_docs"] for r in rows)
    assert n_total == sl.quality_logreg(t).count()
    eces = {r["ece"] for r in rows}
    assert len(eces) == 1  # one corpus-level number, repeated per bin
    want = sum(
        Decimal(r["n_docs"]) * Decimal(str(r["abs_gap"])) for r in rows
    )
    assert abs(next(iter(eces)) - float(want) / n_total) < 1.1e-6
    for r in rows:
        lo, hi = r["bin"] / 10.0, (r["bin"] + 1) / 10.0 + (
            1e-9 if r["bin"] == 9 else 0.0
        )
        assert lo - 1e-6 <= r["avg_conf"] <= (1.0 if r["bin"] == 9 else hi) + 1e-6
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert abs(
            r["abs_gap"] - round(abs(r["avg_conf"] - r["frac_pos"]), 6)
        ) < 1e-9


def test_semdedup_hot_cell_tiled_and_exact(spark):
    """Adversarial mega-cell: hundreds of near-identical vectors (one
    label, so one seed centroid) all collapse into ONE k-means cell —
    the near-duplicate-saturated-corpus shape.  The cell cap must
    hash-split that cell into bounded chunk-pair tiles while the
    verdicts stay EXACTLY the untiled output: tiling partitions the
    pair set and removal is an existential over partners, so the OR
    of partial verdicts is invariant to the cap."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.normal(size=64)
    n, cap = 400, 64
    vecs = [
        (i, (base + 1e-9 * rng.normal(size=64)).tolist(), 0)
        for i in range(n)
    ]
    emb = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>, label int"
    )
    t2 = {"embeddings": emb}

    untiled = (
        dd.semdedup(t2, cell_cap=10**9)
        .orderBy("vec_id")
        .toPandas()
    )
    tiled = dd.semdedup(t2, cell_cap=cap).orderBy("vec_id").toPandas()
    assert untiled.equals(tiled)
    # everything lands in one cell, pairwise cosine ≈ 1: exactly one
    # keeper survives (keep-the-outlier, ties to the lowest id)
    assert len(tiled) == n
    assert tiled["kept"].sum() == 1
    # the tile construction actually bounded the tasks: ≤ 2 chunks'
    # rows per (cell, tile) group and k(k+1)/2 tiles for the mega-cell
    k = -(-n // cap)  # ceil
    from kafka_streams_repartition_spark.functions.vectors import (
        to_double_array,
    )
    from kafka_streams_repartition_spark.operators.similarity import (
        kmeans_cells,
    )
    from kafka_streams_repartition_spark.sources.tables import fan_out

    assign = kmeans_cells(t2)
    with_c = (
        fan_out(emb)
        .select("vec_id", to_double_array("embedding").alias("v"))
        .join(assign, "vec_id")
    )
    sizes = assign.groupBy("cell").agg(F.count(F.lit(1)).alias("bn"))
    per_tile = (
        with_c.join(F.broadcast(sizes), "cell")
        .withColumn("n_chunks", F.ceil(F.col("bn") / F.lit(cap)).cast("int"))
        .withColumn(
            "chunk",
            F.pmod(
                F.xxhash64("vec_id", F.lit("semdedup-tile")),
                F.col("n_chunks"),
            ).cast("int"),
        )
        .select(
            "vec_id",
            "cell",
            "chunk",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
                "other"
            ),
        )
        .select(
            "cell",
            F.least("chunk", "other").alias("tile_i"),
            F.greatest("chunk", "other").alias("tile_j"),
        )
        .groupBy("cell", "tile_i", "tile_j")
        .count()
        .toPandas()
    )
    assert per_tile["count"].max() <= 4 * cap
    assert per_tile.groupby("cell").size().max() == k * (k + 1) // 2


def test_pca_unit_norm_and_positive_eigenvalue(spark, sf_dir):
    """The power-iteration output must be a unit vector (L2 norm 1 up
    to the 12-decimal resync) with a positive eigenvalue — the Gram
    matrix is PSD, so a negative Rayleigh quotient means a math bug."""
    from kafka_streams_repartition_spark.operators import similarity as sim
    from kafka_streams_repartition_spark.sources.tables import load_tables

    rows = sim.pca_power_iteration(load_tables(spark, sf_dir)).collect()
    assert len(rows) == sim.PCA_D
    norm2 = sum(r["loading"] ** 2 for r in rows)
    assert abs(norm2 - 1.0) < 1e-6, norm2
    assert rows[0]["eigenvalue"] > 0


def test_sq_codes_matches_numpy_replica(t):
    """Per-vector mse / max_abs_err / avg_code / n_saturated equal a
    numpy replica of per-dim affine int8 quantization, and every
    dimension's corpus min/max land on codes 0 and 255 (the codebook is
    trained from the corpus, so the range is tight)."""
    import numpy as np

    from kafka_streams_repartition_spark.operators import similarity as sim

    pdf = t["embeddings"].select("vec_id", "label", "embedding").toPandas()
    X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    lo, hi = X.min(axis=0), X.max(axis=0)
    scale = np.where(hi == lo, 0.0, (hi - lo) / sim.SQ_LEVELS)
    safe = np.where(scale == 0.0, 1.0, scale)
    code = np.clip(np.floor((X - lo) / safe + 0.5), 0, 255)
    code = np.where(scale == 0.0, 0.0, code)
    err = X - (lo + code * scale)
    got = sim.sq_codes(t).toPandas().set_index("vec_id")
    assert len(got) == len(pdf)
    for i, vid in enumerate(pdf["vec_id"]):
        r = got.loc[vid]
        assert abs(r["mse"] - (err[i] ** 2).mean()) < 1e-10, vid
        assert abs(r["max_abs_err"] - np.abs(err[i]).max()) < 1e-8, vid
        assert abs(r["avg_code"] - code[i].mean()) < 1e-3, vid
        assert r["n_saturated"] == int(((code[i] == 0) | (code[i] == 255)).sum())
    # reconstruction error is bounded by half a quantization step
    assert (got["max_abs_err"] <= scale.max() / 2 + 1e-12).all()
    # the trained range is tight: codes 0 and 255 both occur corpus-wide
    assert int(got["n_saturated"].sum()) >= 2 * sim.DIM


def test_sq_recall_gate_shape_and_bounds(t):
    """The SQ recall gate serves exactly the brute-force query set
    (n_approx == n_truth: both emit TOP_K per query), hits never exceed
    either side, and 8-bit quantization at 64 dims retains most of the
    exact top-k (recall well above the IVF gate's floor)."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    row = sim.sq_recall(t).collect()[0]
    n_q = t["embeddings"].filter(F.col("vec_id") % sim.QUERY_MOD == 0).count()
    assert row["n_truth"] == n_q * sim.TOP_K
    assert row["n_approx"] == n_q * sim.TOP_K
    assert 0 <= row["n_hits"] <= row["n_truth"]
    assert row["recall"] == round(row["n_hits"] / row["n_truth"], 4)
    assert row["recall"] >= 0.8


def test_source_overlap_matches_set_replica(t):
    """n_shared / jaccard equal a plain-python set replica over word
    8-gram digest sets per source; pairs are canonical (src_a < src_b)
    and only overlapping pairs appear."""
    import hashlib

    docs = t["documents"].select("source", "text").toPandas()
    spans: dict[str, set] = {}
    for _, r in docs.iterrows():
        ws = [w for w in r["text"].lower().split(" ") if w != ""]
        s = spans.setdefault(r["source"], set())
        for i in range(len(ws) - dd.SPAN_N + 1):
            g = " ".join(ws[i : i + dd.SPAN_N])
            s.add(int(hashlib.md5(g.encode()).hexdigest()[:15], 16))
    got = dd.source_overlap(t).toPandas()
    assert (got["src_a"] < got["src_b"]).all()
    want = {}
    for a in spans:
        for b in spans:
            if a < b and spans[a] & spans[b]:
                inter = len(spans[a] & spans[b])
                want[(a, b)] = (
                    inter,
                    round(inter / len(spans[a] | spans[b]), 6),
                )
    assert {
        (r["src_a"], r["src_b"]): (r["n_shared"], round(r["jaccard"], 6))
        for _, r in got.iterrows()
    } == want
    assert len(want) > 0  # the fixture actually exercises the op


def test_dedup_threshold_curve_monotone_and_consistent(t):
    """The curve equals filtering dedup_minhash_lsh's own verified
    pairs at each threshold, and both counts are monotone
    non-increasing in the threshold."""
    pairs = dd.dedup_minhash_lsh(t).toPandas()
    got = (
        dd.dedup_threshold_curve(t)
        .toPandas()
        .sort_values("threshold", ignore_index=True)
    )
    for _, r in got.iterrows():
        sub = pairs[pairs["jaccard"] >= r["threshold"]]
        assert r["n_pairs"] == len(sub)
        assert r["n_docs_removed"] == sub["doc_b"].nunique()
    assert (got["n_pairs"].diff().dropna() <= 0).all()
    assert (got["n_docs_removed"].diff().dropna() <= 0).all()
    assert got.iloc[0]["threshold"] == dd.JACCARD_THRESHOLD
    assert got.iloc[0]["n_pairs"] == len(pairs)


def test_connected_components_adversarial_chain_sublinear_rounds(spark):
    """The CC kernel is the large-star/small-star alternating
    contraction (Kiveris et al. 2014): an adversarial 64-node chain —
    the serial near-dup-edit topology min-label propagation needed
    O(diameter) = 63 rounds (63 Spark jobs) to label — must converge
    in O(log² n) rounds with every node labeled by the chain head.
    Also pins correctness on the merge-heavy topology (two cliques
    plus a bridge) and on reversed/duplicate pair rows."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dd._connected_components(chain).collect()
    }
    assert got == {i: 1 for i in range(1, 65)}
    assert dd._CC_LAST_ROUNDS <= 12, dd._CC_LAST_ROUNDS

    cliques = (
        [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
        + [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
        + [(100, 5), (9, 3), (3, 9), (201, 202)]  # bridge, reversed+dup, pair
    )
    pdf = spark.createDataFrame(cliques, "doc_a long, doc_b long")
    got2 = {
        r["doc_id"]: r["cluster_id"]
        for r in dd._connected_components(pdf).collect()
    }
    # 9 hangs off clique node 3; the bridge joins both cliques → one
    # component labeled 1; (201, 202) is its own two-node component
    comp = set(range(1, 6)) | set(range(100, 105)) | {9}
    assert got2 == ({n: 1 for n in comp} | {201: 201, 202: 201})


def test_derived_band_planes_rule_and_sql_mirror():
    """The corpus-size → planes-per-band rule (one plane per corpus
    doubling past EMBDUP_PLANE_SCALE·2^MIN, clamped to the measured
    [MIN, MAX] range): pins the fixture scales at 4 planes, the 100×
    decade-probe corpus (200k vecs) at the measured 8-plane
    mitigation, monotonicity, the cap, and that the DuckDB scalar
    mirror agrees with the Python rule at every threshold boundary."""
    import duckdb

    assert dd.derived_band_planes(1) == 4
    assert dd.derived_band_planes(500) == 4      # sf0.001 / sf0.01
    assert dd.derived_band_planes(2000) == 4     # sf0.1
    assert dd.derived_band_planes(12800) == 4    # boundary: SCALE * 2^4
    assert dd.derived_band_planes(12801) == 5
    assert dd.derived_band_planes(20000) == 5    # sf1 probe corpus
    assert dd.derived_band_planes(200000) == 8   # sf10 probe corpus
    assert dd.derived_band_planes(10**9) == 8    # clamped: re-measure
    vals = [dd.derived_band_planes(n) for n in range(1, 10**6, 9973)]
    assert vals == sorted(vals)
    expr = dd._derived_planes_sql()
    for n in (1, 500, 2000, 12800, 12801, 25600, 25601, 51200, 51201,
              102400, 102401, 10**7):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM range({n})")
        got = con.execute(f"SELECT {expr}").fetchone()[0]
        assert got == dd.derived_band_planes(n), n


def test_derived_mrl_query_cap_rule_and_sql_mirror():
    """The corpus-size → MRL query cap rule (per-leg Q·N comparison
    budget, clamp(BUDGET // n, MIN, MAX), integer arithmetic only):
    pins the fixture scales at the MAX clamp (behavior unchanged where
    the natural %-subset binds), the decade-probe corpora at the
    budget-derived values that keep the default leg linear, the MIN
    clamp, monotone nonincrease, and that the DuckDB scalar mirror
    agrees with the Python rule at every threshold boundary."""
    import duckdb

    from kafka_streams_repartition_spark.operators import similarity as sim

    assert sim.derived_mrl_query_cap(1) == 1024
    assert sim.derived_mrl_query_cap(500) == 1024    # sf0.001 / sf0.01
    assert sim.derived_mrl_query_cap(2000) == 1024   # sf0.1
    assert sim.derived_mrl_query_cap(12500) == 1024  # boundary: BUDGET/MAX
    assert sim.derived_mrl_query_cap(12501) == 1023
    assert sim.derived_mrl_query_cap(20000) == 640   # sf1 probe corpus
    assert sim.derived_mrl_query_cap(200000) == 64   # sf10 probe: MIN binds
    assert sim.derived_mrl_query_cap(10**9) == 64    # clamped floor
    vals = [sim.derived_mrl_query_cap(n) for n in range(1, 10**6, 9973)]
    assert vals == sorted(vals, reverse=True)
    expr = sim._mrl_qcap_sql()
    for n in (1, 500, 2000, 12499, 12500, 12501, 20000, 199999, 200000,
              200001, 10**7):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM range({n})")
        got = con.execute(f"SELECT {expr}").fetchone()[0]
        assert got == sim.derived_mrl_query_cap(n), n


def test_derived_ann_query_cap_rule_and_sql_mirror(monkeypatch):
    """The MODULE-WIDE corpus-size → ANN query cap rule (round 12: the
    ``derived_mrl_query_cap`` discipline generalized to every
    query-vs-corpus op sharing ``_queries``/``_QCAP_SQL``): pins the
    fixture scales at the MAX clamp = 4096 (the old fixed default, so
    behavior there is unchanged — the natural %-subset is what binds),
    the decade-probe corpora at the budget-derived values that keep
    the default legs linear (sf1 probe 20k → 640 ≥ its natural 200
    queries; sf10 probe 200k → MIN = 64 binds), monotone nonincrease,
    the manual-override contract, and that the DuckDB scalar mirror
    agrees with the Python rule at every threshold boundary."""
    import duckdb

    from kafka_streams_repartition_spark.operators import similarity as sim

    assert sim.ANN_QCAP_MAX == 4096  # the pre-r12 fixed default
    assert sim.derived_ann_query_cap(1) == 4096
    assert sim.derived_ann_query_cap(500) == 4096    # sf0.001 / sf0.01
    assert sim.derived_ann_query_cap(2000) == 4096   # sf0.1
    assert sim.derived_ann_query_cap(3125) == 4096   # boundary: BUDGET/MAX
    assert sim.derived_ann_query_cap(3126) == 4094
    assert sim.derived_ann_query_cap(20000) == 640   # sf1 probe corpus
    assert sim.derived_ann_query_cap(200000) == 64   # sf10 probe: MIN binds
    assert sim.derived_ann_query_cap(10**9) == 64    # clamped floor
    vals = [sim.derived_ann_query_cap(n) for n in range(1, 10**6, 9973)]
    assert vals == sorted(vals, reverse=True)
    expr = sim._ann_qcap_sql()
    for n in (1, 500, 2000, 3124, 3125, 3126, 20000, 199999, 200000,
              200001, 10**7):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM range({n})")
        got = con.execute(f"SELECT {expr}").fetchone()[0]
        assert got == sim.derived_ann_query_cap(n), n
    # manual override (env at import / monkeypatched attribute) wins at
    # EVERY corpus size, in the rule and in the SQL mirror
    monkeypatch.setattr(sim, "ANN_QUERY_CAP", 7)
    assert sim.derived_ann_query_cap(1) == 7
    assert sim.derived_ann_query_cap(10**9) == 7
    assert sim._ann_qcap_sql() == "7"
    # round-13: the ORACLE strings late-bind the scalar too — a runtime
    # override (monkeypatched attribute / env-after-import) reaches the
    # SQL side at oracle_sql() call time, not whatever was frozen at
    # import (the r12 advisor divergence).  The raw module constants
    # carry an un-renderable bare token so a path that skips
    # render_oracle fails fast in the binder instead of silently
    # comparing against an empty query set.
    assert sim._QCAP_TOKEN in sim.ANN_TOPK_MRL_ORACLE
    rendered = sim.render_oracle(sim.ANN_TOPK_MRL_ORACLE)
    assert sim._QCAP_TOKEN not in rendered
    assert "qrn <= (7)" in rendered
    monkeypatch.setattr(sim, "ANN_QUERY_CAP", None)
    rendered_derived = sim.render_oracle(sim.ANN_TOPK_MRL_ORACLE)
    assert "count(*)" in rendered_derived  # corpus-derived scalar subquery
    import __spark_entry__ as entrymod

    assert all(
        sim._QCAP_TOKEN not in v for v in entrymod.oracle_sql().values()
    )


def test_ivf_cell_balance_consistent_with_trainer(t):
    """The balance table is an exact rollup of the trainer's own
    assignment: occupancies sum to the corpus, shares to 1, the
    load_factor averages 1 by construction (n·k/N over k cells), and
    every cell's row reproduces its assignment count."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    bal = sim.ivf_cell_balance(t).toPandas()
    want = (
        sim.kmeans_cells(t)
        .groupBy("cell")
        .count()
        .toPandas()
        .set_index("cell")["count"]
    )
    assert set(bal["cell"]) == set(want.index)
    for _, r in bal.iterrows():
        assert r["n_vecs"] == want[r["cell"]]
    n = want.sum()
    k = len(bal)
    assert bal["n_vecs"].sum() == n
    assert abs(bal["share"].sum() - 1.0) < 5e-6 * k
    assert abs(bal["load_factor"].mean() - 1.0) < 5e-4


def test_zipf_fit_consistent_with_entropy_audit(t):
    """zipf_fit's vocabulary/token totals equal corpus_token_entropy's
    (same tokenizer, same corpus), and the fit is a genuine OLS on the
    rank-frequency log-log points (r2 in [0, 1], exponent finite) —
    on the synthetic flat-vocabulary fixture the exponent is SMALL,
    which is the audit doing its job, not a bug."""
    from kafka_streams_repartition_spark.operators import text_analysis as tx

    z = tx.zipf_fit(t).toPandas()
    e = tx.corpus_token_entropy(t).toPandas()
    assert len(z) == 1
    assert z["n_terms"][0] == e["vocab_size"][0]
    assert z["n_tokens"][0] == e["n_tokens"][0]
    assert 0.0 <= z["r2"][0] <= 1.0
    assert abs(z["zipf_exponent"][0]) < 20


def test_mrl_recall_curve_sanity_leg_and_shape(t):
    """The dimension-budget table carries its own proof obligations:
    one row per configured prefix length, every leg measured against
    the SAME truth (n_truth constant), every leg emitting a full top-k
    list per query (n_approx == n_truth — prefix scoring changes the
    ranking, never the list size), and the full-dimension leg reads
    recall exactly 1.0 because its score expression is bit-identical
    to the truth scorer."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    cur = sim.mrl_recall_curve(t).toPandas().sort_values("dims")
    assert list(cur["dims"]) == list(sim.MRL_DIMS)
    assert cur["n_truth"].nunique() == 1
    assert (cur["n_approx"] == cur["n_truth"]).all()
    full = cur[cur["dims"] == sim.DIM]
    assert len(full) == 1 and full["recall"].iloc[0] == 1.0
    assert ((cur["recall"] >= 0) & (cur["recall"] <= 1)).all()


def test_ivfpq_design_table_monotone_in_probe_budget(t):
    """The residual-IVFADC deploy grid obeys its laws: every leg shares
    the same capped truth, every recall is a well-formed probability,
    the production point appears, and recall is NONDECREASING in
    n_probe at fixed codebook size — more probed cells only widen the
    candidate pool.  (Strictly, fixed-k ADC reranking over a wider
    pool could in principle displace a truth hit; this pin is the
    MEASURED invariant on the fixture corpus, which is exactly what
    the design table exists to record — a violation means the grid
    stopped being a usable tuning curve.)"""
    from kafka_streams_repartition_spark.operators import similarity as sim

    rows = {
        (r["n_probe"], r["rpq_k"]): r
        for r in sim.ivfpq_design_table(t).collect()
    }
    assert set(rows) == set(sim.IVFPQ_GRID)
    assert len({r["n_truth"] for r in rows.values()}) == 1
    for r in rows.values():
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_hits"] <= min(r["n_truth"], r["n_approx"])
    assert (sim.N_PROBE, sim.RPQ_K) in rows
    # monotone in the probe budget at fixed codebook size
    for k in sorted({kk for _, kk in sim.IVFPQ_GRID}):
        probes = sorted(np_ for np_, kk in sim.IVFPQ_GRID if kk == k)
        for lo, hi in zip(probes, probes[1:]):
            assert rows[(hi, k)]["recall"] >= rows[(lo, k)]["recall"], (
                k, lo, hi,
            )


def test_ann_topk_mrl_shortlist_dominates_prefix_topk(t):
    """The shortlist-rerank pipeline's recall is bounded BELOW by the
    recall curve's d=MRL_SHORTLIST_DIM row, structurally: a truth hit
    inside the prefix top-10 is inside the prefix top-40 shortlist, and
    the exact rerank can never rank a true global-top-k member out of
    the final top-k (nothing in the shortlist outscores it).  Also pins
    the output contract: ≤ TOP_K rows per query, ranks contiguous from
    1, and every (query, cand) pair label-agnostic distinct."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    out = sim.ann_topk_mrl(t).toPandas()
    per = out.groupby("query_id")["rank"]
    assert (per.max() <= sim.TOP_K).all()
    assert (per.min() == 1).all()
    assert not out.duplicated(["query_id", "cand_id"]).any()

    gate = sim.mrl_shortlist_recall(t).toPandas()
    assert len(gate) == 1
    curve = sim.mrl_recall_curve(t).toPandas()
    r16 = curve[curve["dims"] == sim.MRL_SHORTLIST_DIM]["recall"].iloc[0]
    assert gate["recall"].iloc[0] >= r16


def test_kcenter_select_ladder(t):
    """Farthest-first traversal invariants: exactly k distinct centers,
    selection orders 1..k, the seed at distance 0, and the coverage
    ladder NONINCREASING from round 2 on (each added center can only
    shrink every point's min-dist, so successive maxima cannot grow)."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    out = (
        sim.kcenter_select(t).toPandas().sort_values("sel_order")
    )
    assert list(out["sel_order"]) == list(range(1, sim.KCENTER_K + 1))
    assert out["vec_id"].nunique() == sim.KCENTER_K
    assert out["dist"].iloc[0] == 0.0
    ladder = out["dist"].iloc[1:].tolist()
    assert all(ladder[i] >= ladder[i + 1] for i in range(len(ladder) - 1))
    assert all(d >= 0 for d in ladder)


def test_d4_select_consistent_with_semdedup(t):
    """D4's verdicts are an exact refinement of semdedup's: same row
    set, 'semdedup' exactly where semdedup removed, and per cell the
    'prototype' count is exactly n_kept // D4_PROTO_DIV taken from the
    TOP of the centroid-cosine ranking (no kept row may be more
    prototypical than a pruned one)."""
    from kafka_streams_repartition_spark.operators import dedup as dd

    d4 = dd.d4_select(t).toPandas()
    sd = dd.semdedup(t).toPandas()
    assert len(d4) == len(sd)
    merged = d4.merge(sd[["vec_id", "removed"]], on="vec_id")
    assert ((merged["stage"] == "semdedup") == merged["removed"]).all()
    surv = d4[d4["stage"] != "semdedup"]
    for cell, grp in surv.groupby("cell"):
        n_proto = int((grp["stage"] == "prototype").sum())
        assert n_proto == len(grp) // dd.D4_PROTO_DIV, cell
        if n_proto:
            worst_pruned = grp[grp["stage"] == "prototype"]["cent_cos"].min()
            best_kept = grp[grp["stage"] == "kept"]["cent_cos"].max()
            assert worst_pruned >= best_kept


def test_hard_negative_mining_cross_label_only(t):
    """Every mined negative carries a label DIFFERENT from its query's
    (that is the operator's whole contract), at most TOP_K per query,
    ranks contiguous, cosines in [-1, 1], and the hardest negative's
    cosine never exceeds the brute-force global top-1 for that query."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    out = sim.hard_negative_mining(t).toPandas()
    assert (out["q_label"] != out["neg_label"]).all()
    per = out.groupby("query_id")["rank"]
    assert (per.max() <= sim.TOP_K).all()
    assert (per.min() == 1).all()
    assert out["cosine"].between(-1.0, 1.0).all()
    bf = sim.ann_topk_bruteforce(t).toPandas()
    top1 = bf[bf["rank"] == 1].set_index("query_id")["cosine"]
    hard1 = out[out["rank"] == 1].set_index("query_id")["cosine"]
    joined = hard1.to_frame("h").join(top1.to_frame("b"), how="inner")
    assert (joined["h"] <= joined["b"]).all()


def test_readability_score_counting_laws(t):
    """Counting invariants on real docs: every word contributes ≥1
    syllable (so n_syllables ≥ n_words), sentence count ≥ 1, and both
    scores are finite; a doc with more syllables per word can only
    read HARDER at fixed words-per-sentence (spot-checked via the
    formula's sign: fk_grade rises with syllables/word)."""
    import numpy as np

    from kafka_streams_repartition_spark.operators import text_analysis as tx

    out = tx.readability_score(t).toPandas()
    pos = out[out["n_words"] > 0]
    assert (pos["n_syllables"] >= pos["n_words"]).all()
    assert (out["n_sentences"] >= 1).all()
    assert np.isfinite(out["flesch"]).all()
    assert np.isfinite(out["fk_grade"]).all()
    # formula check on the frame itself (tolerance, not equality:
    # pandas .round is half-even, Spark's is half-up)
    recomputed = (
        0.39 * (pos["n_words"] / pos["n_sentences"])
        + 11.8 * (pos["n_syllables"] / pos["n_words"])
        - 15.59
    )
    assert (recomputed - pos["fk_grade"]).abs().max() < 1e-4


def test_dedup_containment_dominates_jaccard(t):
    """Containment laws: C = I/|A| lies in (0, 1] (per-doc grams are
    distinct, so the intersection can never exceed the query's gram
    count), and for every pair the Jaccard family also surfaces,
    containment >= jaccard (I/|A| >= I/|A∪B| always) — the structural
    reason the asymmetric table catches subsumed documents resemblance
    misses."""
    from kafka_streams_repartition_spark.operators import dedup as dd

    c = dd.dedup_containment(t).toPandas()
    assert ((c["containment"] > 0) & (c["containment"] <= 1.0)).all()
    assert (c["containment"] >= dd.CONTAINMENT_THRESHOLD).all()
    j = dd.dedup_ngram_jaccard(t).toPandas()
    m = c.merge(j, on=["query_id", "cand_id"], how="inner")
    assert (m["containment"] >= m["jaccard"] - 1e-9).all()


def test_langid_confusion_is_exact_rollup(t):
    """The confusion table is an exact rollup of lang_id joined on the
    recorded lang column: per-true-language shares sum to 1, counts
    sum to the corpus size, and each cell reproduces the underlying
    per-document join."""
    from kafka_streams_repartition_spark.operators import (
        text_analysis as tx,
    )

    conf = tx.langid_confusion(t).toPandas()
    docs = t["documents"].select("doc_id", "lang").toPandas()
    assert conf["n"].sum() == len(docs)
    for lang, grp in conf.groupby("lang"):
        assert abs(grp["share"].sum() - 1.0) < 1e-5, lang
    pred = tx.lang_id(t).toPandas()[["doc_id", "pred_lang"]]
    cell = (
        docs.merge(pred, on="doc_id")
        .groupby(["lang", "pred_lang"])
        .size()
        .reset_index(name="n2")
    )
    m = conf.merge(cell, on=["lang", "pred_lang"], how="outer")
    assert m["n"].equals(m["n2"].astype("int64"))


def test_kcenter_coverage_accounts_every_vector(t):
    """The coverage histogram is a partition of the corpus: counts sum
    to the corpus size, shares to 1, buckets lie in [0, 20] (cosine
    distance ≤ 2), bucket 0 holds at least the k centers themselves
    (self-distance 0), and the max occupied bucket is consistent with
    the selection ladder's final radius (every remaining vector is
    within the last selected center's distance — the 2-approx
    invariant's measurable face)."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    cov = sim.kcenter_coverage(t).toPandas()
    n_corpus = t["embeddings"].count()
    assert cov["n"].sum() == n_corpus
    assert abs(cov["share"].sum() - 1.0) < 1e-5
    assert cov["bucket"].between(0, 2 * sim.KCENTER_BUCKET_SCALE).all()
    z = cov[cov["bucket"] == 0]
    assert len(z) == 1 and z["n"].iloc[0] >= sim.KCENTER_K
    sel = sim.kcenter_select(t).toPandas().sort_values("sel_order")
    radius = sel["dist"].iloc[-1]
    # every vector's min-dist <= the k-th selection distance (the
    # greedy picks the global max at each step)
    assert cov["bucket"].max() <= int(radius * sim.KCENTER_BUCKET_SCALE)


def test_tokenizer_fertility_consistent_with_bpe_encode(t):
    """The per-language equity table and the per-source compression
    table are the SAME encoding pass rolled up two ways: corpus-total
    whitespace and BPE token counts must agree exactly between them,
    fertility >= 1 is NOT required (merges shrink symbol counts but a
    word is >= 1 symbol, so bpe >= ws ALWAYS holds here — pinned), and
    the weighted mean of rel_fertility is 1 by construction."""
    from kafka_streams_repartition_spark.operators import (
        text_analysis as tx,
    )

    fert = tx.tokenizer_fertility(t).toPandas()
    enc = tx.bpe_encode(t).toPandas()
    assert fert["n_ws_tokens"].sum() == enc["n_ws_tokens"].sum()
    assert fert["n_bpe_tokens"].sum() == enc["n_bpe_tokens"].sum()
    assert (fert["n_bpe_tokens"] >= fert["n_ws_tokens"]).all()
    assert (fert["fertility"] >= 1.0).all()
    # rel = (bpe_l/ws_l) / (BPE/WS), so the ws-weighted mean of rel is
    # exactly 1 (sum_l ws_l·rel_l = sum_l bpe_l·WS/BPE = WS) — up to the
    # stored 4-decimal rounding of rel
    wmean = (fert["rel_fertility"] * fert["n_ws_tokens"]).sum() / fert[
        "n_ws_tokens"
    ].sum()
    assert abs(wmean - 1.0) < 1e-3


def test_cluster_purity_accounts_every_vector(t):
    """Purity is an exact rollup of the trainer's own assignment: cell
    populations sum to the corpus, every purity is the majority-label
    share (≥ 1/n_labels, ≤ 1), and the majority label reproduces a
    pandas recount of kmeans_cells ⋈ labels with the count-desc /
    label-asc tie-break."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    pur = sim.cluster_purity(t).toPandas().set_index("cell")
    cells = sim.kmeans_cells(t).toPandas()
    labs = (
        t["embeddings"].select("vec_id", "label").toPandas()
    )
    j = cells.merge(labs, on="vec_id")
    assert pur["n_vecs"].sum() == len(j)
    for cell, grp in j.groupby("cell"):
        counts = (
            grp.groupby("label").size().reset_index(name="c")
            .sort_values(["c", "label"], ascending=[False, True])
        )
        top = counts.iloc[0]
        r = pur.loc[cell]
        assert r["n_vecs"] == len(grp)
        assert r["n_labels"] == len(counts)
        assert r["top_label"] == top["label"]
        assert abs(r["purity"] - round(top["c"] / len(grp), 6)) < 1e-9
        assert 1.0 / r["n_labels"] - 1e-9 <= r["purity"] <= 1.0


def test_silhouette_range_and_accounting(t):
    """The simplified silhouette table covers every vector exactly
    once and every statistic is a genuine silhouette: s ∈ [-1, 1],
    min ≤ mean ≤ max per cell, and cells agree with the trainer's
    assignment populations."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    sil = sim.silhouette_simplified(t).toPandas()
    want = (
        sim.kmeans_cells(t).groupBy("cell").count().toPandas()
        .set_index("cell")["count"]
    )
    assert set(sil["cell"]) == set(want.index)
    assert sil["n_vecs"].sum() == want.sum()
    for _, r in sil.iterrows():
        assert r["n_vecs"] == want[r["cell"]]
        assert -1.0 <= r["min_s"] <= r["mean_s"] + 1e-4
        assert r["mean_s"] - 1e-4 <= r["max_s"] <= 1.0


def test_ngram_coverage_curve_monotone_and_consistent(t):
    """The coverage curve is a genuine cumulative distribution: one
    row per configured k, coverage nondecreasing in k, grams-used =
    min(k, vocabulary), covered ≤ total, and the k=10 row equals the
    mass of ngram_counts' top 10 rows (same gram law, same
    tie-break)."""
    from kafka_streams_repartition_spark.operators import text_analysis as tx

    cur = (
        tx.ngram_coverage_curve(t).toPandas().sort_values("top_k")
        .reset_index(drop=True)
    )
    assert list(cur["top_k"]) == sorted(tx.NGRAM_COVERAGE_KS)
    assert (cur["coverage"].diff().dropna() >= 0).all()
    assert (cur["covered_occurrences"] <= cur["total_occurrences"]).all()
    assert (cur["n_grams_used"] <= cur["top_k"]).all()
    top = tx.ngram_counts(t).toPandas()
    want10 = top.sort_values(
        ["occurrences", "gram"], ascending=[False, True]
    ).head(10)["occurrences"].sum()
    assert cur.iloc[0]["covered_occurrences"] == want10


def test_dedup_inflation_consistent_with_dedup_exact(t):
    """The one-row inflation table is exactly dedup_exact weighted by
    token_count: dup docs = Σ (n_dups − 1) over the exact groups,
    total tokens = token_count's whitespace column summed, and the
    inflation multiplier is total / kept."""
    from kafka_streams_repartition_spark.operators import dedup as dd
    from kafka_streams_repartition_spark.operators import text_analysis as tx

    [r] = dd.dedup_inflation(t).collect()
    groups = dd.dedup_exact(t).toPandas()
    toks = tx.token_count(t).toPandas()
    assert r["n_docs"] == groups["n_dups"].sum()
    assert r["n_dup_docs"] == (groups["n_dups"] - 1).sum()
    assert r["tokens_total"] == toks["n_ws_tokens"].sum()
    assert 0 <= r["tokens_dup"] < r["tokens_total"]
    assert r["inflation"] >= 1.0
    kept = r["tokens_total"] - r["tokens_dup"]
    assert abs(r["inflation"] - round(r["tokens_total"] / kept, 6)) < 1e-9


def test_dedup_inflation_zero_denominator_contract(spark):
    """Round-13 advisor guard: ratios are NULL by contract (not a
    division-by-zero artifact) when their denominator is not positive
    — a corpus whose keepers all carry 0 tokens yields NULL
    dup_token_frac/inflation, and Spark and DuckDB agree on it."""
    import duckdb
    import pandas as pd

    from kafka_streams_repartition_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, " ", "a"), (2, " ", "a"), (3, "", "b")],
        "doc_id long, text string, source string",
    )
    [r] = dd.dedup_inflation({"documents": docs}).collect()
    assert r["n_docs"] == 3 and r["n_dup_docs"] == 1
    assert r["tokens_total"] == 0 and r["tokens_dup"] == 0
    assert r["dup_token_frac"] is None and r["inflation"] is None
    assert abs(r["dup_doc_frac"] - round(1 / 3, 6)) < 1e-9
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": [" ", " ", ""],
             "source": ["a", "a", "b"]}
        ),
    )
    [o] = con.execute(dd.DEDUP_INFLATION_ORACLE).fetchall()
    cols = [d[0] for d in con.description]
    o = dict(zip(cols, o))
    assert o["dup_token_frac"] is None and o["inflation"] is None
    assert o["n_dup_docs"] == 1 and o["tokens_total"] == 0


def test_domain_entropy_replays_in_python(t, spark):
    """The per-source entropy table IS the c·ln(c/n) law: a pure-Python
    Counter replay over the fixture docs (same whitespace tokenizer,
    decimal-quantized contributions) reproduces every row, and the
    single-term-vocabulary NULL contract holds for entropy_ratio."""
    import math
    from collections import Counter
    from decimal import Decimal

    from kafka_streams_repartition_spark.operators import selection as sl

    out = {
        r["source"]: r
        for r in sl.domain_entropy(t).collect()
    }
    counts: dict[str, Counter] = {}
    for r in t["documents"].select("source", "text").collect():
        toks = [w for w in (r["text"] or "").lower().split(" ") if w]
        counts.setdefault(r["source"], Counter()).update(toks)
    assert set(out) == {s for s, c in counts.items() if c}
    q = Decimal("0.0000000001")
    for s, c in counts.items():
        if not c:
            continue
        n = sum(c.values())
        sm = float(
            sum(
                Decimal(v * math.log(v / n)).quantize(q)
                for v in c.values()
            )
        )
        r = out[s]
        assert r["n_terms"] == len(c)
        assert r["n_tokens"] == n
        assert abs(r["entropy_nats"] - round(-sm / n, 4)) < 1e-9
        if len(c) > 1:
            assert (
                abs(r["entropy_ratio"] - round((-sm / n) / math.log(len(c)), 4))
                < 1e-9
            )
    # single-term vocabulary: entropy 0, ratio NULL by contract
    one = spark.createDataFrame(
        [(1, "spam spam spam", "mono")],
        "doc_id long, text string, source string",
    )
    [r1] = sl.domain_entropy({"documents": one}).collect()
    assert r1["n_terms"] == 1 and r1["entropy_nats"] == 0.0
    assert r1["entropy_ratio"] is None


def test_repeated_ngram_scan_consistent_with_dedup_exact(t, spark):
    """Exact whole-text duplicates are the scan's floor: every member
    of a dedup_exact group with >=RNS_NGRAM tokens must show
    repeated_frac == 1.0 (all its 13-grams recur verbatim in its
    twin), and a hand-built fixture pins the partial-overlap law."""
    from kafka_streams_repartition_spark.operators import dedup as dd

    out = dd.repeated_ngram_scan(t).toPandas().set_index("doc_id")
    docs = t["documents"].select("doc_id", "text").toPandas()
    by_text = docs.groupby("text")["doc_id"].agg(list)
    for ids in by_text[by_text.str.len() > 1]:
        # sf0.001 carries no exact dups; if a fixture ever does, every
        # member with >= RNS_NGRAM tokens must read as fully repeated
        for i in ids:
            if i in out.index:
                assert out.loc[i, "repeated_frac"] == 1.0
    # partial overlap: docs 1/2 share exactly one 13-gram window;
    # docs 4/5 are verbatim twins (the dedup_exact floor: frac 1.0)
    shared = " ".join(f"s{i}" for i in range(13))
    twin = " ".join(f"t{i}" for i in range(15))
    docs = spark.createDataFrame(
        [
            (1, shared + " a1 a2 a3", "x"),
            (2, "b1 b2 " + shared, "x"),
            (3, " ".join(f"c{i}" for i in range(20)), "x"),
            (4, twin, "x"),
            (5, twin, "y"),
        ],
        "doc_id long, text string, source string",
    )
    got = (
        dd.repeated_ngram_scan({"documents": docs})
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    # doc1: 16 tokens -> 4 grams, only the leading one is shared
    assert got.loc[1, "n_grams"] == 4 and got.loc[1, "n_repeated"] == 1
    # doc2: 15 tokens -> 3 grams, only the trailing one is shared
    assert got.loc[2, "n_grams"] == 3 and got.loc[2, "n_repeated"] == 1
    assert got.loc[3, "n_repeated"] == 0
    assert got.loc[1, "repeated_frac"] == 0.25
    # verbatim twins: every gram recurs -> fully repeated, both copies
    assert got.loc[4, "repeated_frac"] == 1.0
    assert got.loc[5, "repeated_frac"] == 1.0
    assert got.loc[4, "n_grams"] == 3


def test_repeated_ngram_summary_consistent_with_scan(t):
    """The one-row summary is an exact rollup of the per-doc scan's
    law: doc counts/affected counts tie to the scan table, gram-level
    numbers tie to an independent pandas groupby over the same md5'd
    gram instances, and every ratio divides its own numerator."""
    from kafka_streams_repartition_spark.operators import dedup as dd

    [s] = dd.repeated_ngram_summary(t).collect()
    scan = dd.repeated_ngram_scan(t).toPandas()
    assert s["n_docs"] == len(scan)
    assert s["n_docs_affected"] == int((scan["n_repeated"] > 0).sum())
    assert s["n_grams_distinct"] >= s["n_grams_repeated"] >= 0
    assert s["n_instances"] == scan["n_grams"].sum()
    # per-doc repeated gram counts sum to the repeated instances
    assert s["n_instances_repeated"] == scan["n_repeated"].sum()
    assert (
        abs(
            s["affected_doc_frac"]
            - round(s["n_docs_affected"] / s["n_docs"], 6)
        )
        < 1e-9
    )
    assert (
        abs(
            s["repeated_instance_frac"]
            - round(s["n_instances_repeated"] / s["n_instances"], 6)
        )
        < 1e-9
    )


def test_mmr_memo_eviction_releases_checkpoints(spark, monkeypatch):
    """Round-13 advisor guard: _MMR_MEMO eviction releases BOTH of the
    evicted entry's localCheckpoint frames eagerly (the MemoSlots
    discipline) instead of leaving the blocks to JVM-side GC."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    released = []
    monkeypatch.setattr(
        sim, "release_local_checkpoint", lambda df: released.append(df)
    )
    monkeypatch.setattr(sim, "_MMR_MEMO", type(sim._MMR_MEMO)())

    def frames(seed):
        return {
            "embeddings": spark.createDataFrame(
                [
                    (
                        i * 10,
                        [float((i + seed + d) % 7) + 0.5 for d in range(64)],
                    )
                    for i in range(8)
                ],
                "vec_id long, embedding array<double>",
            )
        }

    ts = [frames(s) for s in range(3)]
    outs = [sim._mmr_pool_pairs(tt) for tt in ts]
    assert len(sim._MMR_MEMO) == 2
    # the first entry was evicted; both its frames were released
    assert set(map(id, released)) == set(map(id, outs[0]))
    # resident entries still hit without a rebuild or release
    n_rel = len(released)
    assert sim._mmr_pool_pairs(ts[2]) is not None
    assert len(released) == n_rel


def test_mmr_rerank_replays_greedy_in_numpy(t):
    """The MMR table IS the greedy loop: a numpy replay (cosines
    rounded at 6, the exact integer score law, count-desc/cand-asc
    tie-breaks) over every capped query's top-MMR_POOL shortlist
    reproduces every (rank, pick, score) row bit-for-bit."""
    import numpy as np

    from kafka_streams_repartition_spark.operators import similarity as sim

    out = sim.mmr_rerank(t).toPandas()
    vecs = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in t["embeddings"].select("vec_id", "embedding").collect()
    )
    ids = np.array([v[0] for v in vecs])
    X = np.array([v[1] for v in vecs], dtype=np.float64)
    nrm = np.sqrt((X * X).sum(axis=1))
    cos = np.round((X @ X.T) / np.outer(nrm, nrm), 6)
    n = len(ids)
    qcap = sim.derived_ann_query_cap(n)
    q_idx = [i for i in range(n) if ids[i] % sim.QUERY_MOD == 0][:qcap]
    want = []
    lam10 = int(sim.MMR_LAMBDA * 10)
    mu10 = 10 - lam10
    for qi in q_idx:
        rel = [(cos[qi, ci], ids[ci], ci) for ci in range(n) if ci != qi]
        pool = sorted(rel, key=lambda x: (-x[0], x[1]))[: sim.MMR_POOL]
        sel = []
        for rank in range(1, sim.MMR_K + 1):
            best = None
            for relv, cid, ci in pool:
                if any(cid == s[1] for s in sel):
                    continue
                pen = max((cos[ci, sj] for _, _, sj in sel), default=0.0)
                score = (
                    lam10 * round(relv * 1e6) - mu10 * round(pen * 1e6)
                ) / 1e7
                key = (-score, cid)
                if best is None or key < best[0]:
                    best = (key, cid, ci, relv, score)
            if best is None:
                break
            sel.append((best[0], best[1], best[2]))
            want.append(
                (ids[qi], rank, best[1], round(best[3], 6), best[4])
            )
    got = sorted(
        map(
            tuple,
            out[["query_id", "mmr_rank", "cand_id", "rel", "mmr_score"]].values,
        )
    )
    assert got == sorted(want) and got


def test_doc_length_profile_exact_order_stats(t):
    """The per-source percentiles are the exact order statistics a
    pandas replay produces (value at rank ceil(q·n) under the
    (n_chars, doc_id) order), monotone p10 ≤ p50 ≤ p90 within
    [min, max], populations summing to the corpus."""
    from kafka_streams_repartition_spark.operators import text_analysis as tx

    prof = tx.doc_length_profile(t).toPandas().set_index("source")
    docs = t["documents"].select("source", "doc_id", "n_chars").toPandas()
    assert prof["n_docs"].sum() == len(docs)
    for src, grp in docs.groupby("source"):
        g = grp.sort_values(["n_chars", "doc_id"]).reset_index(drop=True)
        n = len(g)
        r = prof.loc[src]
        assert r["n_docs"] == n
        for q, col in ((1, "p10_chars"), (5, "p50_chars"), (9, "p90_chars")):
            pos = -(-(n * q) // 10)  # ceil
            assert r[col] == g["n_chars"].iloc[pos - 1], (src, col)
        assert (
            r["min_chars"] <= r["p10_chars"] <= r["p50_chars"]
            <= r["p90_chars"] <= r["max_chars"]
        )


def test_embedding_clip_bounds_exact_order_stats(t):
    """One row per dimension; p1/p99 reproduce a numpy replay of the
    integer-rank order statistics over the rounded coordinates; the
    clip ratio is in (0, 1] and equals (p99−p1)/(max−min)."""
    import numpy as np

    from kafka_streams_repartition_spark.operators import similarity as sim

    out = sim.embedding_clip_bounds(t).toPandas().set_index("d")
    vecs = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in t["embeddings"].select("vec_id", "embedding").collect()
    )
    X = np.round(np.array([v[1] for v in vecs], dtype=np.float64), 6)
    n = X.shape[0]
    assert set(out.index) == set(range(1, sim.DIM + 1))
    for d in (1, 2, 32, 64):
        xs = np.sort(X[:, d - 1])  # vec_id tiebreak irrelevant: values sort
        r = out.loc[d]
        assert r["n_vecs"] == n
        assert r["x_min"] == round(float(xs[0]), 6)
        assert r["x_max"] == round(float(xs[-1]), 6)
        assert r["p1"] == round(float(xs[-(-n // 100) - 1]), 6)
        assert r["p99"] == round(float(xs[-(-(99 * n) // 100) - 1]), 6)
        assert 0.0 < r["clip_span_ratio"] <= 1.0


def test_mmr_diversity_gain_is_real(t):
    """The gate's numbers decompose correctly: relevance means are in
    [-1, 1] with plain-top-k ≥ MMR on average (greedy can only forfeit
    relevance), the diversity gain equals the pair-sim difference, and
    on the fixture (which contains near-dup embeddings) the gain is
    strictly positive."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    [r] = sim.mmr_diversity_gain(t).collect()
    assert r["n_queries"] > 0
    assert -1.0 <= r["avg_rel_mmr"] <= r["avg_rel_topk"] <= 1.0
    assert abs(
        r["rel_forfeit"] - round(r["avg_rel_topk"] - r["avg_rel_mmr"], 4)
    ) < 1e-9
    assert abs(
        r["diversity_gain"]
        - round(r["avg_pairsim_topk"] - r["avg_pairsim_mmr"], 4)
    ) < 1e-9
    assert r["rel_forfeit"] >= 0.0
    assert r["diversity_gain"] > 0.0


# --- k-means: long-form centroid updates over local relations ---------------


def _hex(cv):
    return tuple(None if x is None else float(x).hex() for x in cv)


def _wide_means(frame, key):
    """The wide per-group mean: one ``avg(element_at(v, i))`` per
    position in a single aggregate (1 key + 128 buffer fields)."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    return frame.groupBy(key).agg(
        F.array(
            *[F.avg(F.element_at("v", i)) for i in range(1, sim.DIM + 1)]
        ).alias("cv")
    )


def _reference_lloyd(t):
    """The earlier Lloyd loop, inline: wide ``avg`` updates, centroid
    tables rebuilt with ``createDataFrame(rows, schema)``, and each
    assignment gathering its centroids with a ``collect_list``
    aggregate before a column-API argmin.  Returns ({cell: cv},
    assignment)."""
    from kafka_streams_repartition_spark.functions.vectors import to_double_array
    from kafka_streams_repartition_spark.operators import similarity as sim
    from kafka_streams_repartition_spark.sources.tables import fan_out

    emb_raw = fan_out(t["embeddings"])
    emb = emb_raw.select("vec_id", to_double_array("embedding").alias("v"))
    spark = emb.sparkSession

    def assign(cent):
        cents = cent.agg(F.collect_list(F.struct("cell", "cv")).alias("cents"))
        best = F.array_min(
            F.transform(
                "cents",
                lambda c: F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("v"), c["cv"], lambda x, cc: (x - cc) * (x - cc)
                            ),
                            F.lit(0.0),
                            lambda acc, x: acc + x,
                        ),
                        6,
                    ).alias("dist"),
                    c["cell"].alias("cell"),
                ),
            )
        )
        return emb.crossJoin(F.broadcast(cents)).select(
            "vec_id", "v", best["cell"].alias("cell")
        )

    seed = _wide_means(
        emb_raw.select("label", to_double_array("embedding").alias("v")), "label"
    )
    cent = spark.createDataFrame(seed.collect(), seed.schema).select(
        F.col("label").alias("cell"), "cv"
    )
    a = assign(cent)
    for _ in range(sim.KMEANS_ITER):
        upd = _wide_means(a, "cell")
        cent = spark.createDataFrame(upd.collect(), upd.schema)
        a = assign(cent)
    return {r["cell"]: _hex(r["cv"]) for r in cent.collect()}, a


def test_kmeans_long_form_bit_identical_to_wide_loop(t):
    """The Lloyd loop's long-form updates over Arrow-built local
    relations reproduce the wide-``avg`` loop bit for bit: the trained
    centroid doubles, the centroid frame ``kmeans_model`` hands to its
    consumers, and both assignments."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    sim._KMEANS_MEMO.clear()
    sim._LCENT_MEMO.clear()
    want_cent, want_assign = _reference_lloyd(t)
    want = sorted(map(tuple, want_assign.select("vec_id", "cell").collect()))

    schema, rows = sim._kmeans_train_uncached(t)
    assert [f.name for f in schema] == ["cell", "cv"]
    assert {c: _hex(cv) for c, cv in rows} == want_cent
    assert sorted(map(tuple, sim.kmeans_cells(t).collect())) == want
    assign, cent = sim.kmeans_model(t)
    assert sorted(map(tuple, assign.collect())) == want
    assert {r["cell"]: _hex(r["cv"]) for r in cent.collect()} == want_cent


def test_semdedup_score_means_bit_identical_to_wide_avg(t):
    """semdedup's per-cell member means (the frozen ``score`` table)
    equal the wide positional ``avg`` over the same member join."""
    from kafka_streams_repartition_spark.functions.vectors import to_double_array
    from kafka_streams_repartition_spark.operators import similarity as sim
    from kafka_streams_repartition_spark.sources.tables import fan_out

    assign = sim.kmeans_model(t)[0]
    emb = fan_out(t["embeddings"]).select(
        "vec_id", to_double_array("embedding").alias("v")
    )
    wide = _wide_means(emb.join(assign, "vec_id"), "cell").collect()
    got = dd.semdedup_quantizer(t)["score"]
    assert {c: _hex(cv) for c, cv in got} == {
        r["cell"]: _hex(r["cv"]) for r in wide
    }


def test_lloyd_rounds_stay_in_codegen(t, monkeypatch):
    """Every aggregate a Lloyd round collects runs inside whole-stage
    codegen (a ``*(n)`` marker on each ``HashAggregate`` of the final
    plan): a 64-wide ``avg`` needs 129 fields, past
    ``spark.sql.codegen.maxFields``, and would fall back to the
    interpreted path."""
    import re

    from kafka_streams_repartition_spark.operators import similarity as sim

    cls = type(t["embeddings"])
    collect = cls.collect
    plans: list[str] = []

    def spy(self):
        rows = collect(self)
        final = self._jdf.queryExecution().executedPlan().toString()
        plans.append(final.split("== Initial Plan ==")[0])
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    sim._LCENT_MEMO.clear()
    sim._kmeans_train_uncached(t)
    monkeypatch.undo()
    aggs = [
        ln
        for p in plans
        for ln in p.splitlines()
        if re.search(r"(?<!Object)HashAggregate\(", ln)
    ]
    assert len(plans) == 1 + sim.KMEANS_ITER  # the seed, then one per round
    assert aggs, "no aggregate seen in the Lloyd collects"
    outside = [ln for ln in aggs if not re.search(r"\*\(\d+\) HashAggregate\(", ln)]
    assert not outside, outside


def test_kmeans_cells_warm_job_budget(spark, t):
    """A warm ``kmeans_cells`` (seed centroids memoized) runs at most
    11 Spark jobs end to end, counted by the DAG scheduler's job-ID
    range: no job gathers centroids before an assignment and no Python
    RDD rebuilds them."""
    from kafka_streams_repartition_spark.operators import similarity as sim

    def run():
        sim.kmeans_cells(t).write.mode("overwrite").format("noop").save()

    run()  # warm: seed centroids memoized
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    run()
    assert dag.nextJobId() - j0 <= 11
