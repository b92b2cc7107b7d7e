"""Dedup QUALITY invariants (not oracle consistency).

The oracle gate proves Spark and DuckDB compute the same thing, but a
degenerate hash (e.g. slicing past md5's 32 hex chars) passes that
check on both sides while collapsing every LSH bucket into one. These
tests pin the *distributional* properties that only hold for a healthy
hash family:

- every planted exact-copy pair must be an LSH candidate (identical
  text => identical signature, deterministically);
- planted 80%-prefix near-dup recall must be near-total (8 bands x 2
  rows at Jaccard ~0.8 collide with prob ~1-(1-0.8^2)^8 ~ 0.9997);
- total candidate count must stay within 2x of the planted-duplicate
  expectation (a degenerate hash yields ~300k all-pairs candidates);
- no LSH bucket may hold more than a sliver of the corpus.
"""

import pyspark.sql.functions as F
import pytest

from iceberg_catalog_migrator_spark.operators import dedup as D


# unpersist on teardown: a cached plan fragment would otherwise be
# substituted (by logical-plan match) into other tests' queries and
# change the plan shapes that test_plans.py pins
@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    df = D._corpus(spark, sf_dir).persist()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def candidates(spark, sf_dir):
    df = D._candidates(spark, sf_dir).persist()
    yield df
    df.unpersist()


def _planted_pairs(corpus):
    base = corpus.filter(F.col("doc_id") < D.VARIANT_OFFSET)
    exact = base.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + D.VARIANT_OFFSET).alias("doc_b"),
    )
    near = base.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("doc_a"),
        (F.col("doc_id") + 2 * D.VARIANT_OFFSET).alias("doc_b"),
    )
    return exact, near


def test_exact_copy_pairs_are_always_candidates(corpus, candidates):
    exact, _ = _planted_pairs(corpus)
    n_exact = exact.count()
    assert n_exact > 0
    missed = exact.join(candidates, ["doc_a", "doc_b"], "left_anti").count()
    assert missed == 0, f"{missed}/{n_exact} identical-text pairs missing from LSH candidates"


def test_near_dup_recall_above_90pct(corpus, candidates):
    _, near = _planted_pairs(corpus)
    n_near = near.count()
    hit = near.join(candidates, ["doc_a", "doc_b"], "leftsemi").count()
    assert hit >= 0.9 * n_near, f"near-dup recall {hit}/{n_near} below 90%"


def test_candidate_count_tracks_planted_dupes(corpus, candidates):
    exact, near = _planted_pairs(corpus)
    planted = exact.count() + near.count()
    n_cand = candidates.count()
    # candidates must cover most planted pairs and not explode past 2x
    # (collision-bounded); a degenerate hash produces ~n^2/2 pairs here
    assert planted * 0.9 <= n_cand <= planted * 2, (
        f"candidate count {n_cand} vs planted expectation {planted}"
    )


def test_lsh_bucket_histogram_not_degenerate(corpus):
    buckets = (
        D._band_buckets(D._signatures(D._shingles(corpus)))
        .groupBy("band", "key")
        .agg(F.count("*").alias("n"))
    )
    stats = buckets.agg(
        F.max("n").alias("mx"), F.count("*").alias("n_buckets")
    ).collect()[0]
    n_corpus = corpus.count()
    # healthy: thousands of buckets of size ~1-2; degenerate: one bucket
    # per band holding the whole corpus
    assert stats.n_buckets >= n_corpus, (
        f"only {stats.n_buckets} buckets for {n_corpus} docs - hash collapsing"
    )
    assert stats.mx <= max(16, n_corpus // 20), (
        f"largest LSH bucket holds {stats.mx} of {n_corpus} docs"
    )


def test_simhash_groups_bounded(spark, sf_dir, corpus):
    # SimHash groups: each group is a set of docs sharing all 32 bits.
    # A degenerate bit source collapses the corpus into ~1 group.
    groups = D.dedup_simhash_groups(spark, sf_dir)
    stats = groups.agg(
        F.max("n_docs").alias("mx"), F.sum("n_docs").alias("grouped")
    ).collect()[0]
    n_corpus = corpus.count()
    # the synthetic docs are template-generated, so a 32-bit SimHash
    # legitimately clusters tens of them (observed max 50/767); the
    # degenerate case puts the whole corpus in one group
    assert stats.mx <= max(8, n_corpus // 10), (
        f"largest simhash group {stats.mx} of {n_corpus}"
    )
    # groups must exist (planted dupes) but never swallow the corpus
    assert 0 < stats.grouped < n_corpus * 0.9


def test_simhash_hamming_recall_of_exact_copies(spark, sf_dir, corpus):
    # every planted exact copy has an identical simhash, so the
    # distance-0 pair count must cover at least the planted-copy count;
    # and the band guarantee means no distance bucket beyond the max
    # re-check threshold appears in the output
    hist = {
        r.hamming: r.n_pairs
        for r in D.dedup_simhash_hamming_pairs(spark, sf_dir).collect()
    }
    n_exact = corpus.filter(F.col("doc_id") >= D.VARIANT_OFFSET).filter(
        F.col("doc_id") < 2 * D.VARIANT_OFFSET
    ).count()
    assert hist.get(0, 0) >= n_exact
    assert set(hist) <= set(range(D.SIMHASH_HAM_MAX_DIST + 1))


# ------------------------------------------- cosine-dedup bucket guard


def test_cosine_bucket_guard_raises_on_skew(spark, sf_dir, monkeypatch):
    # a blocking key coarser than the guard must fail loudly (executor
    # OOM prevention at scale), not silently grind through n^2 pairs
    from iceberg_catalog_migrator_spark.operators import similarity as S

    monkeypatch.setattr(S, "MAX_COSINE_BUCKET", 10)
    with pytest.raises(Exception, match="too coarse"):
        S.dedup_embedding_cosine(spark, sf_dir).collect()


def test_cosine_blocked_kernel_matches_whole_bucket(spark, sf_dir, monkeypatch):
    # shrink the Gram block far below every bucket so each bucket spans
    # many blocks; results must be identical to the default single-block
    # run (pins the blocked upper-triangle extraction)
    from iceberg_catalog_migrator_spark.operators import similarity as S

    baseline = sorted(
        (r.v1, r.v2, r.cosine)
        for r in S.dedup_embedding_cosine(spark, sf_dir).collect()
    )
    assert baseline, "fixture must produce at least one near-dup pair"
    monkeypatch.setattr(S, "COSINE_GRAM_BLOCK", 5)
    blocked = sorted(
        (r.v1, r.v2, r.cosine)
        for r in S.dedup_embedding_cosine(spark, sf_dir).collect()
    )
    assert blocked == baseline


# ------------------------------- connected-components star fallback


def _sym_edges(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.unionByName(df.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def test_star_contract_long_path_graph(spark):
    # a 300-node path (diameter >> any propagation round bound) must
    # collapse to a single component labeled by its minimum node
    edges = _sym_edges(spark, [(i, i + 1) for i in range(300)])
    labels = {r.node: r.lbl for r in D._star_contract_labels(edges).collect()}
    assert set(labels) == set(range(301))
    assert set(labels.values()) == {0}


def test_star_contract_matches_min_label_on_random_graph(spark):
    import random

    rng = random.Random(7)
    nodes = list(range(0, 400, 3))  # non-contiguous ids
    pairs = [tuple(rng.sample(nodes, 2)) for _ in range(160)]
    edges = _sym_edges(spark, pairs)
    via_star = {(r.node, r.lbl) for r in D._star_contract_labels(edges).collect()}
    via_prop = {(r.node, r.lbl) for r in D._min_label_propagate(edges, 50).collect()}
    assert via_star == via_prop


def test_cc_round_bound_falls_back_not_raises(spark, sf_dir, monkeypatch):
    # with the propagation bound forced to zero rounds, the query must
    # come out of the star-contraction fallback with identical labels
    # (the bound is part of the labels stage's key, so patching it
    # rebuilds the stage)
    expected = {
        (r.doc_id, r.component)
        for r in D.dedup_connected_components(spark, sf_dir).collect()
    }
    assert expected
    monkeypatch.setattr(D, "CC_MAX_ROUNDS", 0)
    got = {
        (r.doc_id, r.component)
        for r in D.dedup_connected_components(spark, sf_dir).collect()
    }
    assert got == expected


# ------------------------------------------------ IVF quantizer quality


def test_ivf_quantizer_is_a_real_partition(spark, sf_dir):
    # the fitted k-means quantizer must spread the corpus over several
    # cells (a degenerate fit collapses to one) and assign every vector
    import numpy as np

    from iceberg_catalog_migrator_spark.operators import similarity as S

    cell_ids, cmat = S._ivf_fit(spark, sf_dir)
    assert 2 <= len(cell_ids) <= S.IVF_K
    emb = S._quantized(spark, sf_dir).toPandas()
    X = np.array(emb["q"].tolist(), dtype="int64")
    cells = S._assign_cells(X, cell_ids, cmat)
    counts = np.bincount(np.searchsorted(cell_ids, cells))
    assert (counts > 0).sum() >= 2
    # no cell may swallow the corpus: that would make IVF == brute force
    assert counts.max() < 0.9 * len(X)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    # single-probe recall of the fitted quantizer against exact top-k;
    # measured 0.80 at sf0.001 / 0.76 at sf0.01 — assert with margin so
    # fixture regeneration noise doesn't flake, but a broken fit
    # (recall ~1/K) still fails loudly
    from iceberg_catalog_migrator_spark.operators import similarity as S

    brute = {(r.q_id, r.c_id) for r in S.similarity_bruteforce_topk(spark, sf_dir).collect()}
    ivf = {(r.q_id, r.c_id) for r in S.similarity_ivf_topk(spark, sf_dir).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.6, f"IVF recall {recall:.2f} collapsed"


def test_query_join_non_default_args_consistent(spark, sf_dir):
    # the driver's oracle gate pins only the DEFAULT (N_QUERIES, TOP_K)
    # registration; per-query independence means a narrower call must
    # equal the default run restricted to those queries and ranks
    from iceberg_catalog_migrator_spark.operators import similarity as S

    full = S.similarity_query_join(spark, sf_dir).collect()
    narrow = S.similarity_query_join(spark, sf_dir, n_queries=7, top_k=3).collect()
    want = sorted(
        (r.q_id, r.c_id, r.cosine, r.rk) for r in full if r.q_id < 7 and r.rk <= 3
    )
    got = sorted((r.q_id, r.c_id, r.cosine, r.rk) for r in narrow)
    assert got == want and len(got) > 0


def test_containment_dominates_jaccard_and_catches_prefix_dups(spark, sf_dir, corpus):
    # invariant: |A∩B|/min(|A|,|B|) >= |A∩B|/|A∪B| for every pair, and
    # every planted 80%-prefix near-dup must clear the containment gate
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in D.dedup_containment_pairs(spark, sf_dir).collect()
    }
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    assert cont
    shared = set(cont) & set(jac)
    assert shared
    assert all(cont[p] >= jac[p] for p in shared)
    _, near = _planted_pairs(corpus)
    planted = {(r.doc_a, r.doc_b) for r in near.collect()}
    # recall bounded by LSH collisions (docstring caveat): of the planted
    # prefix pairs that DID collide, containment must flag essentially all
    candidates = {(r.doc_a, r.doc_b) for r in D._candidates(spark, sf_dir).collect()}
    collided = planted & candidates
    assert collided
    hit = collided & set(cont)
    assert len(hit) >= 0.95 * len(collided)


def test_ivf_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    # widening the search list can only add candidates, so multi-probe
    # results must be a superset per query and recall must not drop
    from iceberg_catalog_migrator_spark.operators import similarity as S

    brute = {(r.q_id, r.c_id) for r in S.similarity_bruteforce_topk(spark, sf_dir).collect()}
    single = {(r.q_id, r.c_id) for r in S.similarity_ivf_topk(spark, sf_dir).collect()}
    multi = {(r.q_id, r.c_id) for r in S.similarity_ivf_multiprobe_topk(spark, sf_dir).collect()}
    r1 = len(brute & single) / len(brute)
    rp = len(brute & multi) / len(brute)
    assert rp >= r1, f"multi-probe recall {rp:.2f} below single-probe {r1:.2f}"
    assert rp >= 0.7


def test_sketch_containment_finds_all_planted_prefix_dups(spark, sf_dir, corpus):
    # every planted 80%-prefix doc's shingles are a subset of its
    # original's, so ALL of its sketch hashes must hit: the pair
    # (prefix, original) appears with est_containment 1.0 — no LSH
    # collision required (the sketch's whole point)
    out = {
        (r.doc_a, r.doc_b): r.est_containment
        for r in D.dedup_sketch_containment_candidates(spark, sf_dir).collect()
    }
    _, near = _planted_pairs(corpus)
    planted = [(r.doc_b, r.doc_a) for r in near.collect()]  # sketched side = prefix
    assert planted
    missing = [p for p in planted if p not in out]
    assert missing == [], f"{len(missing)} planted prefix pairs missed"
    assert all(out[p] == 1.0 for p in planted)


def test_sketch_stop_shingle_cap_engages(spark, sf_dir, monkeypatch):
    # the df cap is dormant at test scale (max observed df 40 at sf0.1)
    # but must actually drop hot hashes when engaged: with cap=1 every
    # cross-doc shared shingle is a stop-shingle, so no hits survive
    monkeypatch.setattr(D, "SKETCH_MAX_DF", 1)
    assert D.dedup_sketch_containment_candidates(spark, sf_dir).count() == 0
