"""The host-sized local session builder, and the skewed-corpus
generators for scale validation of the dedup/similarity family (VERDICT
r3 item 4).

``local_session`` is the one builder every local session comes from:
the test suite, ``bench.py`` and ``tools/``. ``job.build_session``
stays separate because spark-submit sets its master and memory.

The driver testdata tops out at 5 000 documents (sf0.1); the adaptive
salting cutoffs and regime guards in ``operators/dedup.py`` are sized
for corpora orders of magnitude past that, so this module synthesizes
the shape that stresses them: a deterministic corpus with

- a HOT NEAR-DUP CLUSTER — many light perturbations of one template, so
  its docs collide into the same LSH band buckets (the single-task
  C(n,2) explosion the salting probe exists for);
- PLANTED near-dup pairs scattered through the corpus with known ids
  and a perturbation level that keeps exact trigram Jaccard above the
  detection threshold (recall ground truth that needs no quadratic
  oracle); and
- i.i.d. random background docs (pairwise similarity ≈ 0, the cold
  bulk).

Words are random 8-char lowercase strings, so the byte-trigram
vocabulary is far above ``_BITMASK_VOCAB_MAX`` — the generator lands in
the PRODUCTION verify regime (sorted-int array_intersect), not the
degenerate-vocab fast path.

Everything is seeded: the same (seed, sizes) always yields the same
corpus, so recorded stress numbers are reproducible. Generation is
driver-side numpy (50k docs ≈ 25 MB — fine); at real scale you would
generate distributed, but the OPERATORS under test receive an ordinary
DataFrame either way.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

_ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz"))

#: Queries get ids offset by this so they can never collide with corpus ids.
QUERY_ID_OFFSET = 1_000_000_000


#: Share of physical RAM given to the driver JVM heap. Sized so the
#: sf0.1 corpus bench completes at ``nproc`` cores (BENCH_r11.json).
DRIVER_MEM_FRACTION = 0.25


def driver_mem_mb() -> int:
    """``DRIVER_MEM_FRACTION`` of ``MemTotal``, in MiB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(int(line.split()[1]) / 1024 * DRIVER_MEM_FRACTION)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def local_session(app_name: str) -> SparkSession.Builder:
    """The one host-sized local session: ``$SPARK_GRAFT_CPUS`` cores, or
    else the CPUs this process may run on; a driver heap of
    ``driver_mem_mb()``; shuffle partitions = cores. Returns the builder
    so callers chain their own ``.config(...)`` before ``getOrCreate()``
    (the memory only applies when this starts the JVM)."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.driver.memory", f"{driver_mem_mb()}m")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark generates a Java class per query stage; a long corpus or
        # test run overflows the JVM's default 240 MB code cache, after
        # which the JIT intermittently stops compiling and identical
        # stages swing 3-5x in wall clock (measured: minhash signature
        # agg 2.5 s vs 31.7 s run-to-run)
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing",
        )
        # localCheckpoint blocks are only released by the ContextCleaner
        # after a driver GC notices the RDD is unreferenced; the default
        # 30-min periodic GC never fires inside one run, and late
        # queries degraded 3-5x (same corpus 86 s vs 230 s)
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.ui.enabled", "false")
        # even with the UI off, the status stores keep 1000 jobs/stages
        # and SQL executions with their full plan graphs: heap and GC
        # drag on long runs. ``spark.ui.retainedJobs`` also bounds what
        # ``statusTracker`` can report.
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.sql.ui.retainedExecutions", "20")
        .config("spark.worker.ui.retainedExecutors", "20")
    )


@dataclass(frozen=True)
class SkewedCorpus:
    """The generated corpus plus its ground truth handles."""

    docs: DataFrame            # (doc_id long, text string)
    planted: DataFrame         # (a_id long, b_id long) planted near-dup pairs
    hot_ids: tuple[int, int]   # [lo, hi) doc_id range of the hot cluster
    n_docs: int


def _lexicon(rng: np.random.Generator, vocab: int, word_len: int = 8) -> np.ndarray:
    letters = rng.integers(0, 26, size=(vocab, word_len))
    return np.array(["".join(_ALPHABET[row]) for row in letters])


def _perturb(
    rng: np.random.Generator, base: np.ndarray, swaps: int, vocab: int
) -> np.ndarray:
    out = base.copy()
    if swaps:
        pos = rng.choice(len(base), size=swaps, replace=False)
        out[pos] = rng.integers(0, vocab, size=swaps)
    return out


def make_skewed_corpus(
    spark: SparkSession,
    *,
    n_docs: int = 50_000,
    hot_cluster: int = 2_000,
    planted_pairs: int = 2_500,
    words_per_doc: int = 50,
    vocab: int = 8_000,
    max_swaps: int = 4,
    seed: int = 7,
) -> SkewedCorpus:
    """Build the corpus. Layout by doc_id:

    - ``[0, hot_cluster)`` — the hot cluster (template with 0-2 swaps);
    - ``[hot_cluster, hot_cluster + 2*planted_pairs)`` — planted pairs,
      consecutive ids (base, copy-with-1..max_swaps-swaps);
    - the rest — i.i.d. background.

    With ``words_per_doc=50`` and 8-char words, ``k`` swaps give exact
    byte-trigram Jaccard ≈ (50-k)/(50+k) ≥ 0.85 at k≤4 — safely above
    the 0.8 operator threshold, so every planted pair is a true positive
    the exhaustive oracle must also emit."""
    assert hot_cluster + 2 * planted_pairs <= n_docs
    rng = np.random.default_rng(seed)
    lex = _lexicon(rng, vocab)

    word_ids = np.empty((n_docs, words_per_doc), dtype=np.int64)
    template = rng.integers(0, vocab, size=words_per_doc)
    for i in range(hot_cluster):
        word_ids[i] = _perturb(rng, template, int(rng.integers(0, 3)), vocab)
    pair_rows: list[tuple[int, int]] = []
    base_i = hot_cluster
    for _ in range(planted_pairs):
        base = rng.integers(0, vocab, size=words_per_doc)
        word_ids[base_i] = base
        word_ids[base_i + 1] = _perturb(
            rng, base, int(rng.integers(1, max_swaps + 1)), vocab
        )
        pair_rows.append((base_i, base_i + 1))
        base_i += 2
    word_ids[base_i:] = rng.integers(0, vocab, size=(n_docs - base_i, words_per_doc))

    texts = [" ".join(lex[row]) for row in word_ids]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})
    )
    planted = spark.createDataFrame(
        pd.DataFrame(pair_rows, columns=["a_id", "b_id"]).astype("int64")
    )
    return SkewedCorpus(
        docs=docs, planted=planted, hot_ids=(0, hot_cluster), n_docs=n_docs
    )


@dataclass(frozen=True)
class SkewedEmbeddings:
    """Clustered embedding corpus with a hot near-dup cluster, planted
    near-dup pairs, and held-out queries."""

    vectors: DataFrame          # (vec_id long, embedding array<float>)
    queries: DataFrame          # (vec_id long, embedding array<float>)
    planted: DataFrame          # (a_id long, b_id long)
    hot_ids: tuple[int, int]    # [lo, hi) vec_id range of the hot cluster
    n_vecs: int
    min_true_cos: float         # analytic floor for every true pair


def _noisy_copies(
    rng: np.random.Generator, base: np.ndarray, n: int, noise_norm: float
) -> np.ndarray:
    """n unit vectors = normalize(base + noise of the given L2 norm).
    Two such copies have cosine ≈ 1/(1+noise_norm²) — the analytic
    similarity floor used to keep planted pairs above the threshold."""
    g = rng.standard_normal((n, base.shape[0]))
    g *= noise_norm / np.linalg.norm(g, axis=1, keepdims=True)
    v = base[None, :] + g
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def make_skewed_embeddings(
    spark: SparkSession,
    *,
    n_vecs: int = 50_000,
    hot_cluster: int = 5_000,
    planted_pairs: int = 1_000,
    n_queries: int = 500,
    background_clusters: int = 64,
    dim: int = 64,
    hot_noise: float = 0.15,
    planted_noise: float = 0.15,
    background_noise: float = 0.6,
    seed: int = 7,
) -> SkewedEmbeddings:
    """Embedding twin of :func:`make_skewed_corpus`. Layout by vec_id:

    - ``[0, hot_cluster)`` — noisy copies of one unit center (pairwise
      cosine ≈ 1/(1+2·hot_noise²) ≈ 0.956 at the default): the hot LSH
      buckets / hot IVF cell;
    - ``[hot_cluster, hot_cluster + 2*planted_pairs)`` — consecutive
      (base, noisy copy) pairs at cosine ≈ 1/√(1+planted_noise²);
    - the rest — CLUSTERED background (noisy copies of
      ``background_clusters`` random centers at ``background_noise``,
      pairwise cosine ≈ 0.74 — realistic structure, safely below a 0.9
      near-dup threshold);
    - queries — held-out vectors near random background centers, ids
      offset by ``QUERY_ID_OFFSET``.

    All vectors are float32 (the embeddings.parquet wire type)."""
    assert hot_cluster + 2 * planted_pairs <= n_vecs
    rng = np.random.default_rng(seed)

    vecs = np.empty((n_vecs, dim), dtype=np.float64)
    c_hot = rng.standard_normal(dim)
    c_hot /= np.linalg.norm(c_hot)
    vecs[:hot_cluster] = _noisy_copies(rng, c_hot, hot_cluster, hot_noise)

    pair_rows: list[tuple[int, int]] = []
    i = hot_cluster
    for _ in range(planted_pairs):
        base = rng.standard_normal(dim)
        base /= np.linalg.norm(base)
        vecs[i] = base
        vecs[i + 1] = _noisy_copies(rng, base, 1, planted_noise)[0]
        pair_rows.append((i, i + 1))
        i += 2

    centers = rng.standard_normal((background_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    n_bg = n_vecs - i
    which = rng.integers(0, background_clusters, size=n_bg)
    for c in range(background_clusters):
        sel = np.nonzero(which == c)[0]
        if len(sel):
            vecs[i + sel] = _noisy_copies(rng, centers[c], len(sel), background_noise)

    q = np.empty((n_queries, dim), dtype=np.float64)
    q_which = rng.integers(0, background_clusters, size=n_queries)
    for c in range(background_clusters):
        sel = np.nonzero(q_which == c)[0]
        if len(sel):
            q[sel] = _noisy_copies(rng, centers[c], len(sel), background_noise)

    schema = "vec_id long, embedding array<float>"
    to_rows = lambda ids, m: [  # noqa: E731
        (int(i), [float(x) for x in row.astype(np.float32)])
        for i, row in zip(ids, m)
    ]
    vectors = spark.createDataFrame(to_rows(range(n_vecs), vecs), schema)
    queries = spark.createDataFrame(
        to_rows(range(QUERY_ID_OFFSET, QUERY_ID_OFFSET + n_queries), q), schema
    )
    planted = spark.createDataFrame(
        pd.DataFrame(pair_rows, columns=["a_id", "b_id"]).astype("int64")
    )
    # analytic similarity floors (small-angle composition of two noise
    # draws); generator tests pin the empirical minimum above these
    min_true = min(
        1.0 / (1.0 + 2.0 * hot_noise**2),
        1.0 / (1.0 + planted_noise**2) ** 0.5,
    )
    return SkewedEmbeddings(
        vectors=vectors,
        queries=queries,
        planted=planted,
        hot_ids=(0, hot_cluster),
        n_vecs=n_vecs,
        min_true_cos=min_true,
    )
