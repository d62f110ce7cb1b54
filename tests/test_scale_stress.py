"""Skewed-corpus validation of the dedup family's scale machinery
(VERDICT r3 item 4), plus every ``stream_sentinel_spark.stress`` family
at a small scale.

The generator plants a hot near-dup cluster (single-bucket pair
explosion) and scattered near-dup pairs with analytically-known ground
truth; these tests pin the claims the recorded 50k-doc stress
(STRESS_r04.json) makes at scale: complete recall on the skewed shape,
salted-plan result equivalence, and cross-frame recall.
``test_stress_family`` runs each family with all of its count, recall
and equality assertions; ``tools/stress.py <family> --scale 1`` runs it
at recorded size, where its timing relations are asserted too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_sentinel_spark.operators.dedup import (
    _banded_keys,
    _hot_salted_self_join,
    minhash_pairs_between,
    minhash_signatures,
    minhash_verified_pairs,
)
from stream_sentinel_spark.stress import FAMILIES
from stream_sentinel_spark.testing import make_skewed_corpus

# slow tier: the whole module is sized stress (skewed corpora, recall
# floors, the full-scale sweep); operator correctness runs at default
# size in the per-operator test files
pytestmark = pytest.mark.slow

HOT, PLANTED, N = 200, 150, 2_000
TRUTH = HOT * (HOT - 1) // 2 + PLANTED


@pytest.fixture(scope="module")
def corpus(spark):
    c = make_skewed_corpus(
        spark, n_docs=N, hot_cluster=HOT, planted_pairs=PLANTED, seed=11
    )
    c.docs.localCheckpoint(eager=True)
    return c


def test_x19_complete_recall_on_skewed_corpus(spark, corpus):
    """Every true pair — the full C(hot,2) cluster plus every planted
    pair — must come back; nothing from the random background may."""
    v = minhash_verified_pairs(corpus.docs, "doc_id", "text", threshold=0.8)
    found = v.localCheckpoint(eager=True)
    assert found.count() == TRUTH
    assert found.join(corpus.planted, ["a_id", "b_id"]).count() == PLANTED
    lo, hi = corpus.hot_ids
    assert (
        found.filter((F.col("a_id") >= lo) & (F.col("b_id") < hi)).count()
        == HOT * (HOT - 1) // 2
    )
    # jaccard floor: the generator's max perturbation keeps >= 0.8
    assert found.agg(F.min("jaccard")).first()[0] >= 0.8


def test_salted_self_join_equals_plain_on_hot_buckets(spark, corpus):
    """Forcing the salted regime (cutoff far below the hot cluster size)
    must emit the identical distinct pair set as the zero-overhead
    plan — salting may never add or lose a pair."""
    sig = minhash_signatures(corpus.docs, "doc_id", "text")
    keyed = _banded_keys(sig, 64, 16)
    plain = (
        _hot_salted_self_join(keyed, ["band", "bucket"])
        .select("a_id", "b_id").distinct().localCheckpoint(eager=True)
    )
    salted = (
        _hot_salted_self_join(keyed, ["band", "bucket"], cutoff=64)
        .select("a_id", "b_id").distinct().localCheckpoint(eager=True)
    )
    assert plain.join(salted, ["a_id", "b_id"], "left_anti").count() == 0
    assert salted.join(plain, ["a_id", "b_id"], "left_anti").count() == 0


def test_cross_frame_recall_on_skewed_corpus(spark, corpus):
    """x61 shape: old x new split of the skewed corpus recovers exactly
    the true cross pairs (hot pairs straddling the split + planted pairs
    straddling it), never a within-frame pair."""
    old = corpus.docs.filter(F.col("doc_id") % 5 != 0).localCheckpoint(eager=True)
    new = corpus.docs.filter(F.col("doc_id") % 5 == 0).localCheckpoint(eager=True)
    cross = minhash_pairs_between(old, new, "doc_id", "text", threshold=0.8)
    got = cross.select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
    ).localCheckpoint(eager=True)

    planted_cross = corpus.planted.filter(
        (F.col("a_id") % 5 == 0) != (F.col("b_id") % 5 == 0)
    )
    hot_new = HOT // 5
    truth = hot_new * (HOT - hot_new) + planted_cross.count()
    # exact verification makes false positives impossible (got ⊆ truth);
    # recall is probabilistic LSH (16 bands x 4 rows misses a 0.82-ish
    # Jaccard pair with p ~ 1e-4), so pin a bound, not equality
    n_got = got.count()
    assert n_got <= truth
    assert n_got >= 0.995 * truth, f"cross recall {n_got}/{truth}"
    n_planted = planted_cross.count()
    assert got.join(planted_cross, ["a_id", "b_id"]).count() >= n_planted - 1
    # no within-frame pair: both sides of every emitted pair differ mod 5
    assert got.filter(
        (F.col("a_id") % 5 == 0) == (F.col("b_id") % 5 == 0)
    ).count() == 0


def test_containment_rare_blocking_absorbs_hot_cluster(spark, corpus):
    """x70 shape on the adversarial corpus: the hot cluster's shingles
    are the vocabulary's MOST frequent, so rare-feature blocking
    excludes them by construction — the C(hot,2) pair explosion that
    forces x19 into salting never reaches x70's join at all. The
    min-size floor then removes the small-set noise pairs (tiny rare
    sets trivially reach containment 1.0), leaving exactly the planted
    near-dups whose rare-set containment clears the threshold."""
    from stream_sentinel_spark.operators.dedup import containment_pairs

    lo, hi = corpus.hot_ids
    base = containment_pairs(
        corpus.docs, "doc_id", "text", n=3, threshold=0.9, rare_frac=0.2
    ).localCheckpoint(eager=True)
    # hot-cluster pairs don't survive blocking (vs C(200,2) = 19 900)
    assert base.filter((F.col("a_id") >= lo) & (F.col("b_id") < hi)).count() <= 5
    n_planted_base = base.join(corpus.planted, ["a_id", "b_id"]).count()
    assert n_planted_base >= 0.9 * 150

    floored = containment_pairs(
        corpus.docs, "doc_id", "text", n=3, threshold=0.9, rare_frac=0.2,
        min_size=5,
    ).localCheckpoint(eager=True)
    n_floor = floored.count()
    n_planted_floor = floored.join(corpus.planted, ["a_id", "b_id"]).count()
    # the floor removes ONLY noise: every surviving pair is planted,
    # and no planted pair that cleared the threshold is lost
    assert n_floor == n_planted_floor == n_planted_base
    # floor is a pure subset of the unfloored output
    assert floored.select("a_id", "b_id").join(
        base, ["a_id", "b_id"], "left_anti"
    ).count() == 0


@pytest.fixture(scope="module")
def embeddings(spark):
    from stream_sentinel_spark.testing import make_skewed_embeddings

    e = make_skewed_embeddings(
        spark, n_vecs=1_500, hot_cluster=150, planted_pairs=100,
        n_queries=60, seed=13,
    )
    e.vectors.localCheckpoint(eager=True)
    return e


def test_embedding_generator_truth_floor(spark, embeddings):
    """Every generated true pair must sit above the 0.9 threshold with
    margin (the analytic floor the stress relies on), and the clustered
    background must stay below it — checked with the EXACT quadratic
    operator at a scale where it is affordable."""
    from stream_sentinel_spark.operators.similarity import cosine_pairs

    exact = cosine_pairs(
        embeddings.vectors, "vec_id", "embedding", threshold=0.9
    ).localCheckpoint(eager=True)
    hot = embeddings.hot_ids[1]
    truth = hot * (hot - 1) // 2 + 100
    assert exact.count() == truth, "exact pairs == analytic truth"
    assert exact.join(embeddings.planted, ["a_id", "b_id"]).count() == 100
    assert exact.agg(F.min("cos")).first()[0] >= embeddings.min_true_cos


def test_lsh_cosine_recall_on_skewed_embeddings(spark, embeddings):
    """The sign-LSH scale path (x07's regime at scale parameters) must
    recover nearly all true pairs and never a false one."""
    from stream_sentinel_spark.operators.similarity import cosine_pairs_lsh

    got = cosine_pairs_lsh(
        embeddings.vectors, "vec_id", "embedding",
        threshold=0.9, bits=64, bands=8,
    ).localCheckpoint(eager=True)
    hot = embeddings.hot_ids[1]
    truth = hot * (hot - 1) // 2 + 100
    n = got.count()
    assert n <= truth
    assert n >= 0.98 * truth, f"LSH recall {n}/{truth}"
    assert got.agg(F.min("cos")).first()[0] >= 0.9


def test_sig_matmul_kernel_equals_expression_kernel(spark, embeddings, monkeypatch):
    """The Arrow matmul signature kernel (the dim·bits > _SIG_EXPR_MAX
    regime for production embedding widths) must produce the IDENTICAL
    signature column as the inline JVM expression at a configuration
    where both can run — forced by dropping the regime cutoff to 0.
    (Divergence is only possible for a plane dot within ~1 ulp of zero;
    the fixture is deterministic, so this pins bit-equality.)"""
    from stream_sentinel_spark.operators import similarity

    expr_sigs = dict(
        similarity.lsh_signatures(
            embeddings.vectors, "vec_id", "embedding", bits=64, dim=64
        ).collect()
    )
    monkeypatch.setattr(similarity, "_SIG_EXPR_MAX", 0)
    mat_sigs = dict(
        similarity.lsh_signatures(
            embeddings.vectors, "vec_id", "embedding", bits=64, dim=64
        ).collect()
    )
    assert expr_sigs == mat_sigs and len(expr_sigs) == 1_500


def test_high_dim_lsh_uses_matmul_and_recalls(spark, monkeypatch):
    """At dim 768 (production text-embedding width) the signature MUST
    take the matmul kernel — the literal expression falls out of codegen
    and runs interpreted (measured 86 s for 2k vectors) — and the
    end-to-end LSH near-dup recall story must hold when cosine
    concentration bites. Regime engagement asserted by making the
    expression branch unreachable, per the regime-vacuity lesson."""
    from stream_sentinel_spark.operators import similarity
    from stream_sentinel_spark.testing import make_skewed_embeddings

    e = make_skewed_embeddings(
        spark, n_vecs=1_000, hot_cluster=100, planted_pairs=80,
        n_queries=0, dim=768, seed=29,
    )
    e.vectors.localCheckpoint(eager=True)
    # regime engagement: the signature frame's plan must carry the Arrow
    # pandas-UDF node (matmul kernel), not the inline literal expression
    sig_plan = (
        similarity.lsh_signatures(
            e.vectors, "vec_id", "embedding", bits=64, dim=768
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in sig_plan, sig_plan[:2000]
    assert "shiftleft" not in sig_plan
    got = similarity.cosine_pairs_lsh(
        e.vectors, "vec_id", "embedding",
        threshold=0.9, bits=64, bands=8, dim=768,
    ).localCheckpoint(eager=True)
    truth = 100 * 99 // 2 + 80
    n = got.count()
    assert n <= truth
    assert n >= 0.98 * truth, f"dim-768 LSH recall {n}/{truth}"
    assert got.agg(F.min("cos")).first()[0] >= 0.9


def test_ivf_recall_on_clustered_embeddings(spark, embeddings):
    """x20's IVF path at scale parameters: recall@5 vs exact brute force
    on held-out queries, with the hot cluster occupying one cell."""
    from stream_sentinel_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    exact = brute_force_topk(
        embeddings.vectors, embeddings.queries, "vec_id", "embedding", k=5
    ).localCheckpoint(eager=True)
    approx = ivf_topk(
        embeddings.vectors, embeddings.queries, "vec_id", "embedding",
        k=5, n_cells=16, nprobe=4,
    ).localCheckpoint(eager=True)
    n_exact = exact.count()
    overlap = approx.select("q_id", "n_id").join(
        exact.select("q_id", "n_id"), ["q_id", "n_id"]
    ).count()
    assert overlap / n_exact >= 0.9, f"IVF recall@5 {overlap}/{n_exact}"


#: 1/20 of the recorded sizes (above each family's regime floors)
SMALL_SCALE = 0.05


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_stress_family(spark, family):
    FAMILIES[family](spark, SMALL_SCALE)
