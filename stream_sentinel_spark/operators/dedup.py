"""Deduplication operators for large-scale training-data pipelines.

Four families, all designed for the 100 TB shape: no driver collects,
no cross joins — candidate generation is always an equi-join on a
derived key (shingle / band hash / bit-chunk) so Catalyst plans a hash
shuffle partitioned by that key, with explicit salting where the
derived keys concentrate. Set algebra and joins stay JVM-side
(codegen); the per-doc fingerprint/signature kernels are Arrow-batched
numpy (map-only, row-independent — the one place vectorized Python
beats interpreted higher-order expressions).

- exact:      content fingerprint (md5) → groupBy fingerprint
- n-gram Jaccard: character shingles → explode → pair-join on shared
              shingle → |∩| / |∪| (exact similarity, O(pairs sharing a
              shingle) not O(n²))
- MinHash+LSH: k multiply-shift min-hashes (Arrow kernel) → banded
              signatures → salted bucket equi-join → candidates
              (+ optional exact verify)
- SimHash:    token hashes → per-bit majority (Arrow kernel) → 64-bit
              fingerprint → banded chunks for hamming-≤k candidate
              pairs (pigeonhole)
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stream_sentinel_spark.operators.partitioning import (
    spread_pairs as _spread_pairs,
    spread_small as _spread,
)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content: fingerprint, surviving (minimum) id,
    and copy count. Single hash shuffle on the fingerprint."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col).alias("_id"))
        .groupBy("fp")
        .agg(F.min("_id").alias("keep_id"), F.count(F.lit(1)).alias("copies"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return the deduplicated frame (first id per content wins)."""
    keep = exact_dedup_groups(df, id_col, text_col).select("keep_id")
    return df.join(
        keep, df[id_col] == keep.keep_id, "left_semi"
    )


def bag_of_words_dedup_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Word-order-insensitive exact dedup: documents whose sorted token
    multisets coincide collapse to one group (catches shuffled /
    re-ordered copies that byte-exact dedup misses, without any
    similarity machinery). The canonical key is
    ``md5(sort(tokens) joined by ' ')`` — a pure codegen'd map
    expression, so the whole operator is the same single hash shuffle
    as :func:`exact_dedup_groups`, just on a normalized fingerprint.

    Returns (fp, keep_id, copies, n_tokens) — ``n_tokens`` of the
    surviving representative (identical across the group by
    construction).
    """
    toks = F.split(F.col(text_col), " ")
    return (
        df.select(
            F.md5(F.array_join(F.array_sort(toks), " ")).alias("fp"),
            F.col(id_col).alias("_id"),
            F.size(toks).alias("_n"),
        )
        .groupBy("fp")
        .agg(
            F.min("_id").alias("keep_id"),
            F.count(F.lit(1)).alias("copies"),
            F.min("_n").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Character n-gram shingles (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------



def gram_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct character n-grams per document as one array row:
    (id, grams: array<string>). Docs too short for a single n-gram are
    dropped (they can have no shingle-based similarity to anything).

    Built with sequence+transform — stays in whole-stage codegen;
    array_distinct caps the blow-up at distinct-shingle count per doc.

    The short-doc guard matters for oracle parity: Spark's
    ``sequence(1, 0)`` DESCENDS ([1, 0]), so without the length gate a
    sub-n-char doc emits truncated grams (and empty text emits ``['']``)
    that DuckDB's ``range(1, 1)`` — empty — never produces; one such
    doc would shift the global df table and x70's rank cutoff
    corpus-wide. The gate makes both engines agree: no full-length
    gram → no shingles → doc absent.
    """
    # The length filter precedes the projection, so the sequence end is
    # always ≥ 1 — no descending-sequence hazard left to guard.
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("_t") - (n - 1)),
            lambda i: F.col("_t").substr(i, F.lit(n)),
        )
    )
    return (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .filter(F.length("_t") >= n)
        .select("id", grams.alias("grams"))
        .filter(F.size("grams") > 0)
    )


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct character n-grams per document: (id, shingle)."""
    return gram_arrays(df, id_col, text_col, n).select(
        "id", F.explode("grams").alias("shingle")
    )


_BITMASK_VOCAB_MAX = 4096  # ≤ 64 longs per doc mask
# The all-pairs / broadcast-mask regimes are quadratic in document count
# no matter how small the vocabulary is: a 100 TB repetitive corpus has a
# tiny shingle vocab and a HUGE doc count, and an unbounded vocab-only
# switch would plan a BroadcastNestedLoopJoin over trillions of pairs.
# Above this many docs the operators fall through to the prefix-filter /
# LSH paths (keyed shuffles, never all-pairs) regardless of vocab size.
_ALLPAIRS_MAX_DOCS = 100_000


def _encode_shingle_docs(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, int]:
    """Dictionary-encode each doc's shingle set to dense integer ids
    ordered rarest-first by global document frequency. Returns the
    per-doc frame (id, grams: sorted array<int>, sz) and the vocabulary
    size (a one-row stats probe — the same kind of action a cost-based
    optimizer runs to pick a physical strategy).

    The vocab is a dimension table (bounded by alphabet^n / corpus
    vocab), so the single-partition ranking window and broadcast are
    fine at any fact-table scale. Integer sids make every downstream
    shuffle/join/intersect key an int, not a string, and ascending sid
    order ≡ rarest-first prefix order for AllPairs filtering."""
    sh = shingles(df, id_col, text_col, n)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    vocab = freq.select(
        "shingle",
        (F.row_number().over(Window.orderBy("df_", "shingle")) - 1).alias("sid"),
    ).localCheckpoint(eager=True)
    # vocab is pinned, so this count reads the materialized dim table —
    # without the barrier the count action re-ran the full shingle +
    # frequency scan a second time (measured ~2.5 s of the encode cost
    # at sf0.1), and the broadcast below would have run it a third.
    n_vocab = vocab.count()
    ids = sh.join(F.broadcast(vocab), "shingle").select("id", "sid")
    docs = ids.groupBy("id").agg(
        F.sort_array(F.collect_set("sid")).alias("grams")
    ).withColumn("sz", F.size("grams"))
    return docs, n_vocab


def _materialize_masks(docs: DataFrame, keep_grams: bool = False) -> DataFrame:
    """Materialize the mask frame before a pair join and spread it over
    the cluster's cores.

    BOTH steps matter, measured 16.7 s → 1.0 s together on 12.5M pairs:

    - Without a materialization barrier Catalyst collapses the
      mask-building projection (an interpreted higher-order `aggregate`
      over the grams array) into the join condition/output, so the
      per-DOC mask construction re-runs per PAIR — a quadratic blow-up
      of work that the optimizer's projection collapsing hides.
      `localCheckpoint` pins the computed masks (the frame is small: it
      feeds a broadcast nested-loop join anyway).
    - After the upstream groupBy, AQE coalesces the tiny frame to one
      partition, which would serialize the nested-loop join on a single
      core; the explicit repartition restores stream-side parallelism.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism * 2
    kept = docs if keep_grams else docs.drop("grams")
    return kept.repartition(par).localCheckpoint(eager=True)


def _popcount_shared(nwords: int):
    """|A ∩ B| as popcount of AND over the mask words. Unrolled sum:
    nwords is small and statically known, so a flat expression stays in
    codegen (higher-order functions are interpreted per pair — measured
    12% slower on 12.5M pairs)."""
    return sum(
        (
            F.bit_count(
                F.element_at("a_mask", w + 1).bitwiseAND(
                    F.element_at("b_mask", w + 1)
                )
            ).cast("long")
            for w in range(nwords)
        ),
        start=F.lit(0).cast("long"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold pairs via prefix filtering.

    A naive shingle self-join explodes quadratically on frequent
    shingles (a shingle in f docs yields f² join rows — billions at
    scale, and invisible to AQE because the blow-up happens after the
    shuffle-size estimate). Instead, the AllPairs/PPJoin prefix filter
    (Bayardo et al., WWW'07 — public algorithm): order each doc's
    shingles rarest-first by global document frequency and index only
    the first ``sz − ceil(t·sz) + 1`` of them. Any pair with J ≥ t MUST
    share an indexed shingle (pigeonhole on the ≥⌈t·sz⌉ overlap), so
    joining prefixes only is exact — no false negatives — while the join
    touches the RAREST shingles, collapsing fan-out by orders of
    magnitude. Candidates are verified with array_intersect over the
    bounded per-doc shingle arrays (collect_set, ≤ text length).

    Physical strategy (all JVM-side DataFrame ops, no cross join):
    shingles are dictionary-encoded to dense integer ids ordered
    rarest-first, so the prefix is simply the head of each doc's sorted
    id array and every shuffle/join key is an int, not a string. The
    verification step is chosen ADAPTIVELY from a one-row vocabulary
    probe (the same kind of stats action a cost-based optimizer runs):
    small vocabularies (degenerate/repetitive corpora, where candidate
    counts explode toward all-pairs) verify via fixed-width bitmasks —
    popcount of AND over a few longs per pair — while large
    vocabularies (real text, where prefix filtering prunes hard)
    verify via sorted-int array_intersect.
    """
    # Regime probe FIRST, on map-only integer gram codes — no
    # dictionary: character n-grams pack injectively into int64s
    # (:func:`_char_code_udf`), so set sizes and intersections equal
    # the string formulation exactly while the probe's distinct is a
    # map-side-combined shuffle of ints and the pinned frame holds
    # compact long arrays, not 5M strings. (The rarest-first dictionary
    # encode — two corpus-sized string shuffles — was 80% of this
    # operator's runtime when it ran unconditionally; the bitmask
    # regime never needs the ORDER, only dense bits, which sorted-vocab
    # binary search assigns map-only.)
    # Doc-count guard first: it is one count of the caller's frame and
    # decides without touching text. A web-scale corpus (docs >
    # _ALLPAIRS_MAX_DOCS) goes straight to the prefix path — nothing
    # corpus-sized is ever kernel-coded or pinned for a regime it can't
    # take. Only a bounded corpus (≤100k docs) pays the code kernel +
    # checkpoint, and then the vocabulary probe reads pinned blocks.
    use_bitmask = False
    arrays = None
    vocab_rows: list = []
    if n <= _CHAR_CODE_MAX_N and df.count() <= _ALLPAIRS_MAX_DOCS:
        sig = _char_code_udf(n)(F.col("_t"))
        arrays = (
            _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
            .select("id", sig.alias("_sc"))
            .select("id", "_sc.codes", "_sc.sz")
            .filter(F.col("sz") > 0)
            .localCheckpoint(eager=True)
        )
        vocab_rows = (
            arrays.select(F.explode("codes").alias("g"))
            .distinct()
            .limit(_BITMASK_VOCAB_MAX + 1)
            .collect()
        )
        use_bitmask = len(vocab_rows) <= _BITMASK_VOCAB_MAX
    if use_bitmask:
        # DEGENERATE-VOCAB REGIME (repetitive corpora): every shingle is
        # frequent, so prefix filtering prunes almost nothing and the
        # prefix join + distinct just burns a shuffle producing a
        # near-all-pairs candidate set anyway. Cheaper to go straight to
        # all pairs under the size-complementarity bound with fixed-width
        # bitmask verification: popcount-of-AND over a few longs per
        # pair, one broadcast nested-loop join, no shuffle, no distinct.
        # codes are always positive (63-bit packing), so plain sort is
        # unsigned order as _code_mask_udf requires
        vocab = sorted(r["g"] for r in vocab_rows)
        nwords = (len(vocab) + 63) // 64
        masks = _materialize_masks(
            arrays.select(
                "id",
                "sz",
                _code_mask_udf(vocab, nwords)(F.col("codes")).alias("mask"),
            )
        )
        da = masks.select(
            F.col("id").alias("a_id"), F.col("sz").alias("a_sz"),
            F.col("mask").alias("a_mask"),
        )
        db = masks.select(
            F.col("id").alias("b_id"), F.col("sz").alias("b_sz"),
            F.col("mask").alias("b_mask"),
        )
        # the broadcast hint is REQUIRED, not a nicety: the checkpointed
        # frame is an ExistingRDD with no size statistics, so the
        # planner sometimes falls back to CartesianProduct — n_a × n_b
        # partitions (64² = 4096 near-empty tasks here), which turns a
        # 6 s query into 35 s of task-scheduling overhead. Pinning the
        # build side keeps the plan BroadcastNestedLoopJoin at every
        # stats estimate.
        verified = da.crossJoin(F.broadcast(db)).filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.col("b_sz") >= F.ceil(F.lit(threshold) * F.col("a_sz")))
            & (F.col("b_sz") * F.lit(threshold) <= F.col("a_sz"))
        )
        shared = _popcount_shared(nwords)
    else:
        # DIVERSE-VOCAB REGIME (real text): AllPairs prefix filtering
        # over the rarest-first integer dictionary (the ORDER is what
        # the prefix needs — built only on this path).
        if arrays is not None:
            # Small-but-diverse corpus: the probe overflowed the bitmask
            # budget AFTER the code kernel ran and was pinned. The codes
            # are an injective gram encoding, so ranking THEM
            # rarest-first yields the same prefix/verify results as the
            # string dictionary — reuse the checkpointed arrays instead
            # of throwing the kernel pass away and re-shingling the
            # corpus from strings (the re-encode was ~80% of this
            # operator's cost on exactly the corpora that take this
            # branch).
            ids = arrays.select("id", F.explode("codes").alias("code"))
            freq = ids.groupBy("code").agg(F.count(F.lit(1)).alias("df_"))
            vocab_dim = freq.select(
                "code",
                (F.row_number().over(Window.orderBy("df_", "code")) - 1).alias(
                    "sid"
                ),
            ).localCheckpoint(eager=True)
            docs = (
                ids.join(F.broadcast(vocab_dim), "code")
                .groupBy("id")
                .agg(F.sort_array(F.collect_set("sid")).alias("grams"))
                .withColumn("sz", F.size("grams"))
            )
        else:
            docs, _n_vocab = _encode_shingle_docs(df, id_col, text_col, n)
        # prefix length p = sz − ceil(t·sz) + 1 (both-sides prefix is
        # exact: J ≥ t ⇒ overlap ≥ ⌈t/(1+t)·(sa+sb)⌉ ≥ ⌈t·sa⌉, pigeonhole)
        prefix = docs.select(
            "id",
            "sz",
            F.explode(
                F.slice(
                    "grams",
                    1,
                    F.col("sz")
                    - F.ceil(F.lit(threshold) * F.col("sz")).cast("int")
                    + 1,
                )
            ).alias("sid"),
        )
        a = prefix.select(F.col("id").alias("a_id"), F.col("sz").alias("a_sz"), "sid")
        b = prefix.select(F.col("id").alias("b_id"), F.col("sz").alias("b_sz"), "sid")
        # size complementarity: J ≥ t ⇒ t·a_sz ≤ b_sz ≤ a_sz/t — prunes
        # in the join itself, before the distinct
        cands = (
            a.join(
                b,
                (a.sid == b.sid)
                & (a.a_id < b.b_id)
                & (b.b_sz >= F.ceil(F.lit(threshold) * a.a_sz))
                & (b.b_sz * F.lit(threshold) <= a.a_sz),
            )
            .select("a_id", "b_id")
            .distinct()
        )
        # exact verification over the full shingle sets (shared helper —
        # same code path as minhash_verified_pairs)
        return _exact_verify(cands, docs.select("id", "grams", "sz"), threshold)
    return (
        verified.withColumn("shared", shared)
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("a_sz") + F.col("b_sz") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "a_id",
            "b_id",
            "shared",
            F.col("a_sz").cast("long").alias("a_sz"),
            F.col("b_sz").cast("long").alias("b_sz"),
            "jaccard",
        )
    )


def filter_frequent_shingles(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """Drop shingles appearing in more than ``max_doc_freq`` docs — the
    standard skew guard before the pair join at scale."""
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    return sh.join(
        F.broadcast(freq.filter(F.col("df_") <= max_doc_freq).select("shingle")),
        "shingle",
    )


_CONTAIN_CLASS_VOCAB_MAX = 4096  # rare-vocab gate for the class regime
_CONTAIN_CLASS_MAX = 4096        # distinct rare-set gate (BNLJ is classes²)
_CONTAIN_CLASS_COMPRESSION = 4   # require ≥4 docs/class before paying classes²


def _containment_by_class(
    doc_sets: DataFrame, n_docs: int, threshold: float
) -> DataFrame | None:
    """Degenerate-universe containment: score DISTINCT rare-sets, not
    doc pairs. Only reached when the rare vocabulary is tiny (gated by
    the caller), so the class self-pairing is dimension-table work;
    returns None when the corpus's rare-sets don't actually collapse —
    either more distinct sets than ``_CONTAIN_CLASS_MAX``, or less
    than ``_CONTAIN_CLASS_COMPRESSION``× compression (measured: a
    near-1× corpus pays 4.6M interpreted ``array_intersect``s in the
    class BNLJ for nothing the prefix join wouldn't do cheaper) —
    sending the caller to the prefix path.

    Member-pair explosion happens ONLY for class pairs that pass the
    threshold, so the enumeration is output-bounded — the whole point
    vs re-counting every co-occurring doc pair.
    """
    classes = (
        doc_sets.groupBy("grams")
        .agg(F.collect_list("id").alias("members"))
        .select(
            F.monotonically_increasing_id().alias("cid"),
            "grams",
            "members",
            F.size("grams").cast("bigint").alias("sz"),
        )
        .localCheckpoint()
    )
    n_classes = classes.count()
    if n_classes > _CONTAIN_CLASS_MAX:
        return None
    if n_classes * _CONTAIN_CLASS_COMPRESSION > n_docs:
        return None
    a = classes.alias("a")
    b = classes.alias("b")
    shared = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams"))).cast(
        "bigint"
    )
    passed = (
        a.join(F.broadcast(b), F.col("a.cid") <= F.col("b.cid"))
        .select(
            F.col("a.cid").alias("ca"),
            F.col("b.cid").alias("cb"),
            F.col("a.members").alias("ma"),
            F.col("b.members").alias("mb"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
            shared.alias("shared"),
        )
        # shared >= 1 mirrors the join path, which can only generate
        # pairs that co-occur on at least one shingle
        .filter(
            (F.col("shared") >= 1)
            & (F.col("shared").cast("double") / F.least("sza", "szb") >= threshold)
        )
    )
    pairs = (
        passed.select(
            "ca", "cb", "sza", "szb", "shared",
            F.explode("ma").alias("x"), "mb",
        )
        .select("ca", "cb", "sza", "szb", "shared", "x",
                F.explode("mb").alias("y"))
        # same class: each unordered member pair once; cross class:
        # every (x, y) is already unique
        .filter((F.col("ca") < F.col("cb")) | (F.col("x") < F.col("y")))
    )
    swap = F.col("x") < F.col("y")
    return pairs.select(
        F.least("x", "y").alias("a_id"),
        F.greatest("x", "y").alias("b_id"),
        "shared",
        F.when(swap, F.col("sza")).otherwise(F.col("szb")).alias("a_sz"),
        F.when(swap, F.col("szb")).otherwise(F.col("sza")).alias("b_sz"),
        (F.col("shared").cast("double") / F.least("sza", "szb")).alias(
            "containment"
        ),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    rare_frac: float = 0.2,
    min_size: int = 1,
    candidate_warn: int | None = 50_000_000,
) -> DataFrame:
    """Asymmetric containment near-dup pairs:
    ``C(A,B) = |A∩B| / min(|A|,|B|)`` ≥ threshold over character
    n-gram sets. Jaccard (x02/x19) misses the near-SUBSET duplicate — a
    short doc quoted whole inside a longer one scores
    ``J ≈ |A|/|B| → 0`` however perfect the overlap — while containment
    scores it 1.0. This is the second dedup axis real curation runs
    (RefinedWeb/Dolma-style embedded-content removal) next to the
    symmetric Jaccard family.

    The FIRST scale guard is rare-feature blocking: only the rarest
    ``rare_frac`` of the VOCABULARY (by document frequency) enters the
    pair join — ubiquitous shingles carry no containment signal (they
    match everything), and a distribution-relative cutoff adapts to the
    corpus where any fixed df number is a knife-edge (measured on the
    synthetic fixture: df caps 500/1000/2000 at sf0.1 swing the pair
    count 0 → 14k → 0, because the vocab is tiny and every shingle's df
    scales with corpus size). The cutoff df value is the
    ``ceil(rare_frac·|V|)``-th smallest document frequency — exact
    integer rank arithmetic, so the SQL oracle reproduces it
    bit-for-bit. Sets, sizes and the intersection are all computed on
    the SAME filtered shingle universe, so the reported score is
    containment within that universe — the semantics production
    containment blockers ship.

    The vocabulary probe (one ``count`` of the df-frame) is bounded by
    the n-gram alphabet (≲1M for character 3-grams), the same
    model-parameter-sized stats action as x02's regime probe; the
    cutoff value itself is ``max`` over a ``limit`` of the sorted
    df-frame — never a corpus-sized sort.

    ``min_size`` floors the BLOCKED set size: with tiny rare-sets the
    min-denominator makes noise pairs trivially reach 1.0 (two docs
    sharing their only two rare shingles), so production blockers
    require ≥ m rare features before a doc participates (measured on
    the adversarial skewed corpus: the floor removes ~95% of emitted
    pairs — the small-set noise — while keeping every planted near-dup
    whose rare-set survives). Floored docs drop BEFORE the self-join,
    so the floor also cuts pair-generation cost, not just output.

    The SECOND guard picks the pair-generation strategy from probes,
    both strategies emitting identical rows by construction:

    - Degenerate-universe class regime (the x02 bitmask move, adapted):
      when the rare vocabulary is tiny AND documents actually collapse
      into few equivalent rare-sets (``_CONTAIN_CLASS_VOCAB_MAX`` /
      ``_CONTAIN_CLASS_MAX`` / a ≥4× compression probe), the score
      depends only on the two SETS, so distinct rare-sets are scored
      pairwise and member id pairs explode only for class pairs that
      PASS — output-bounded. See :func:`_containment_by_class`.
    - Otherwise, asymmetric prefix filtering: the smaller side of any
      qualifying pair must collide with the larger side on one of its
      ``sz − ⌊t·sz⌋ + 1`` rarest shingles (pigeonhole on the overlap
      floor ``⌈t·min⌉``), so each doc indexes only that prefix and
      probes in full, then exact sorted-int ``array_intersect``
      verification. See :func:`_containment_by_prefix`.

    Plan: shingle explode (codegen, :func:`gram_arrays`) → broadcast
    rare-vocab semi join with rarest-first int dictionary → pinned
    per-doc sorted sets → probe-chosen pair generation → exact verify.
    Score is one IEEE division of two exact integers — bit-identical
    cross-engine, no rounding needed.

    **Cost law and the quadratic-regime guard** (the sign-LSH
    ``hot_bucket_warn``'s symmetric twin): the prefix regime's join
    volume is ``Σ_sid idx_df(sid)·df(sid)`` — indexed prefix
    occurrences times probe occurrences per rare shingle. On
    Heaps'-law corpora (vocabulary grows with the corpus) the rank
    cutoff tracks the df distribution and the mass stays near-linear;
    on a FIXED-vocabulary corpus (templated logs, boilerplate-heavy
    crawls) every df grows ∝ n while the cutoff admits the same
    vocabulary fraction, so the mass grows ∝ n² — measured 25.3 M →
    244 M candidates for 50 k → 150 k docs on the fixed-vocab stress
    fixture (STRESS_r08_x70.json). Results stay CORRECT in that regime;
    only the verify stage's cost explodes. Before the prefix join runs,
    the mass is therefore probed with two vocab-keyed aggregations over
    the already-pinned doc sets (cost ≈ one extra pass over Σ|S_d|,
    nothing pair-shaped), and a ``UserWarning`` fires when it exceeds
    ``candidate_warn`` (default 50 M ≈ the measured cliff's onset) —
    naming the remedies: lower ``rare_frac`` (smaller rare sets ⇒
    smaller prefixes AND smaller dfs), raise ``min_size``, or pre-cap
    document frequency via :func:`filter_frequent_shingles`. Pass
    ``candidate_warn=None`` to disable. The class regime is exempt by
    construction (its member-pair explosion is output-bounded).
    """
    doc_sets, pos = _containment_doc_sets(
        df, id_col, text_col, n, rare_frac, min_size
    )
    # Class-regime gate on the rank position (known without an action;
    # df ties can push the actual rare vocab slightly past it, which
    # only affects which regime gets TRIED, never the result).
    if pos <= _CONTAIN_CLASS_VOCAB_MAX:
        out = _containment_by_class(doc_sets, doc_sets.count(), threshold)
        if out is not None:
            return out
    if candidate_warn is not None:
        mass = _containment_candidate_mass(doc_sets, threshold)
        if mass > candidate_warn:
            import warnings

            warnings.warn(
                f"containment_pairs: the prefix-filter regime would "
                f"generate ~{mass} candidate collisions "
                f"(> candidate_warn={candidate_warn}) — the "
                "fixed-vocabulary quadratic regime (every shingle's df "
                "grows with the corpus while the rank cutoff admits the "
                "same vocabulary fraction; measured 244M candidates at "
                "150k docs, STRESS_r08_x70). Results are correct but the "
                "verify stage pays Σ idx_df·df. Lower rare_frac, raise "
                "min_size, or pre-cap document frequency with "
                "filter_frequent_shingles; candidate_warn=None disables "
                "this probe.",
                UserWarning,
                stacklevel=2,
            )
    return _containment_by_prefix(doc_sets, threshold)


def _containment_candidate_mass(doc_sets: DataFrame, threshold: float) -> int:
    """The prefix regime's join volume ``Σ_sid idx_df·df`` — the exact
    quantity the x70 stress decomposition measures — computed WITHOUT
    generating a single pair: one explode of the (pinned) indexed
    prefixes, one explode of the full sets, both aggregated to the
    (bounded) rare vocabulary, one broadcast-joinable merge, one-row
    sum. Driver pull is a single scalar."""
    plen = (
        F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + F.lit(1)
    ).cast("int")
    idx_df = (
        doc_sets.select(
            F.explode(F.slice("grams", F.lit(1), plen)).alias("sid")
        )
        .groupBy("sid")
        .agg(F.count(F.lit(1)).alias("idx_df"))
    )
    probe_df = (
        doc_sets.select(F.explode("grams").alias("sid"))
        .groupBy("sid")
        .agg(F.count(F.lit(1)).alias("df_"))
    )
    row = (
        idx_df.join(probe_df, "sid")
        .agg(F.sum(F.col("idx_df") * F.col("df_")).alias("mass"))
        .head()
    )
    return int(row.mass or 0)


def _containment_doc_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    rare_frac: float,
    min_size: int,
) -> tuple[DataFrame, int]:
    """The blocking stage of :func:`containment_pairs`: (pinned per-doc
    rare-sid sets, rank-cutoff position). Exposed separately so the
    scale-stress tooling can measure the candidate space with exactly
    the operator's own blocking (``tools/stress.py dedup``)."""
    import math

    # Shingle ONCE into pinned per-doc arrays — the standard two-pass
    # persist: both the frequency pass and the set-building pass explode
    # from the pinned arrays instead of re-running the substr kernel
    # over the corpus (measured 2.3 s of the sf0.1 wall). The pin is the
    # shingled corpus itself; at cluster scale this is a
    # MEMORY_AND_DISK persist of the frame a two-pass algorithm reuses.
    ga = gram_arrays(df, id_col, text_col, n).localCheckpoint()
    sh0 = ga.select("id", F.explode("grams").alias("shingle"))
    # Vocab-sized pin: freq feeds the probe count, the cutoff, and the
    # rare filter — each unpinned read would re-aggregate the corpus.
    freq = sh0.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_")).localCheckpoint()
    n_vocab = freq.count()
    pos = max(1, math.ceil(rare_frac * n_vocab))
    cap_df = freq.orderBy("df_").limit(pos).agg(F.max("df_").alias("_cap"))
    rare = (
        freq.crossJoin(F.broadcast(cap_df))  # one-row scalar attachment
        .filter(F.col("df_") <= F.col("_cap"))
        .select("shingle", "df_")
    )
    # Dense integer sids ordered RAREST-FIRST over the rare vocab (the
    # x02 dictionary-encode move): ascending sid order ≡ rarest-first,
    # so a sorted grams array's head IS the prefix-filter index, and
    # every downstream join key is an int. The ranking window is
    # vocab-sized (dimension-table work, same justification as
    # _encode_shingle_docs).
    vocab = rare.select(
        "shingle",
        (F.row_number().over(Window.orderBy("df_", "shingle")) - 1).alias("sid"),
    )
    # Pin the BLOCKED per-doc sets (Σ df over the rare vocab — the
    # index a production containment blocker materializes anyway): the
    # class probe, the prefix index, the probe side, and the verify
    # joins all read it, and each unpinned read would re-explode the
    # corpus.
    doc_sets = (
        sh0.join(F.broadcast(vocab), "shingle")
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("sid")).alias("grams"))
        .select("id", "grams", F.size("grams").cast("bigint").alias("sz"))
        .filter(F.col("sz") >= max(min_size, 1))
        .localCheckpoint()
    )
    return doc_sets, pos


def _containment_prefix_candidates(
    doc_sets: DataFrame, threshold: float
) -> DataFrame:
    """The (s_id, l_id) candidate pairs of the prefix-filter regime —
    every pair colliding on an indexed (rarest-prefix) sid, deduped.
    Exposed so the scale-stress tooling can count the candidate space
    the verify stage pays for (``tools/stress.py dedup``)."""
    plen = (
        F.col("sz") - F.floor(F.lit(threshold) * F.col("sz")) + F.lit(1)
    ).cast("int")
    idx = doc_sets.select(
        "id", "sz", F.explode(F.slice("grams", F.lit(1), plen)).alias("sid")
    )
    prb = doc_sets.select(
        F.col("id").alias("pid"),
        F.col("sz").alias("psz"),
        F.explode("grams").alias("sid"),
    )
    smaller_first = (F.col("sz") < F.col("psz")) | (
        (F.col("sz") == F.col("psz")) & (F.col("id") < F.col("pid"))
    )
    return (
        idx.join(prb, "sid")
        .filter(smaller_first)
        .select(F.col("id").alias("s_id"), F.col("pid").alias("l_id"))
        .distinct()
    )


def _containment_by_prefix(doc_sets: DataFrame, threshold: float) -> DataFrame:
    """Asymmetric prefix-filtered containment over int-coded rare-sets.

    The symmetric AllPairs prefix (x02's) needs the Jaccard overlap
    bound; containment's floor is ``o = ⌈t·|S|⌉`` where S is the
    SMALLER set, so the smaller side alone carries a valid prefix:
    any subset of S of size ≥ o intersects S's rarest-first prefix of
    length ``|S| − o + 1`` (pigeonhole), and the larger side must be
    probed in full. So each doc INDEXES only its prefix but PROBES with
    every element; candidates are (smaller, larger) pairs colliding on
    an indexed sid, with (sz, id) lexicographic order deciding the
    smaller side for ties. Join volume drops from Σ df² to
    Σ idx_df·df with the index mass concentrated on the rarest sids —
    measured 8.3M → 1.6M generated rows on the floored sf0.1 fixture
    (26M before the min-size floor existed). The
    prefix length uses ``floor`` (not ``ceil``) of ``t·sz``: IEEE can
    round t·sz a hair ABOVE the true product, and an overshot ceil
    would shorten the prefix into false negatives, while floor only
    ever lengthens it by one — conservative, never lossy.

    Verification is exact: candidates are deduplicated, re-spread
    (AQE coalesces the slim pair frame by bytes — the
    partitioning.spread_pairs lesson), and joined back to the pinned
    sets for one sorted-int ``array_intersect`` per pair.
    """
    cand = _spread_pairs(_containment_prefix_candidates(doc_sets, threshold))
    s = doc_sets.select(
        F.col("id").alias("s_id"), F.col("grams").alias("_gs"),
        F.col("sz").alias("s_sz"),
    )
    l = doc_sets.select(
        F.col("id").alias("l_id"), F.col("grams").alias("_gl"),
        F.col("sz").alias("l_sz"),
    )
    shared = F.size(F.array_intersect("_gs", "_gl")).cast("bigint")
    verified = (
        cand.join(s, "s_id")
        .join(l, "l_id")
        .select("s_id", "l_id", "s_sz", "l_sz", shared.alias("shared"))
        # s is the smaller side by construction, so s_sz IS the min
        .filter(F.col("shared").cast("double") / F.col("s_sz") >= threshold)
    )
    swap = F.col("s_id") < F.col("l_id")
    return verified.select(
        F.least("s_id", "l_id").alias("a_id"),
        F.greatest("s_id", "l_id").alias("b_id"),
        "shared",
        F.when(swap, F.col("s_sz")).otherwise(F.col("l_sz")).alias("a_sz"),
        F.when(swap, F.col("l_sz")).otherwise(F.col("s_sz")).alias("b_sz"),
        (F.col("shared").cast("double") / F.col("s_sz")).alias("containment"),
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------

# Driver union-find cap: ≤ this many (a, b) rows are solved on the
# driver (one bounded pull — 100k pairs ≈ a few MB, far under any
# driver budget); above it the distributed label loop runs unchanged.
_DRIVER_CC_MAX_PAIRS = 100_000


def _driver_connected_components(
    pairs: DataFrame, rows, a_col: str
) -> DataFrame:
    """Exact union-find over a bounded, already-collected pair list —
    roots are kept at the component minimum (attach the larger root
    under the smaller), so the emitted (id, component = min reachable
    id) labels are identical to the distributed loop's fixpoint."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo

    from pyspark.sql import types as T

    id_type = pairs.schema[a_col].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type),
            T.StructField("component", id_type),
        ]
    )
    return pairs.sparkSession.createDataFrame(
        [(i, find(i)) for i in parent], schema
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iterations: int = 20,
    require_convergence: bool = False,
    probe: bool = True,
) -> DataFrame:
    """(id, component) — connected components of the similarity graph,
    component = min reachable id. THE step that turns near-dup pairs
    into dedup decisions (keep one doc per component).

    Iterative min-label propagation (the standard large-graph
    formulation, e.g. Kiveris et al. "Connected Components in MapReduce",
    SoCC'14) with POINTER DOUBLING from round 3 on: every node adopts
    the minimum label in its neighborhood, then additionally the label
    OF its new label (the hash-to-min shortcut, Rastogi et al.
    ICDE'13). The first rounds stay pure one-hop — near-dup clusters
    are small and dense and converge there, so the common case never
    pays the extra label self-join.
    One-hop propagation alone converges in O(diameter) rounds — so a
    duplicate CHAIN longer than ``max_iterations`` would silently come
    back split into several components; the doubling step lets labels
    travel the distance already covered by their label, making
    convergence O(log diameter): 20 rounds cover any component of
    diameter < 2^19, i.e. any input that fits a machine. Each round is
    one groupBy over the (undirected) edge list plus one self-join on
    the node-sized label frame — all shuffles keyed, results
    checkpointed via localCheckpoint to keep lineage flat.

    Convergence is detected with a changed-label probe (a driver scalar
    per round, not a collect of data). If the cap is exhausted while
    labels still move, the result is WRONG (components split) — this
    emits a ``UserWarning`` by default and raises with
    ``require_convergence=True``, the mode callers whose downstream
    contract depends on exact components must use (the ingest loop's
    transitive intra-batch mode does: its sequential-feed equivalence
    breaks on a split chain).

    ADAPTIVE REGIME (same bounded-probe pattern as
    :func:`_adaptive_verify`): a pair set that fits the driver cap
    (``_DRIVER_CC_MAX_PAIRS`` rows — one ``limit(cap+1)`` pull, a few MB
    at most) is solved exactly by a driver-side union-find with
    min-label roots instead of the iterative distributed loop. The
    label function is identical (component = min reachable id, proven
    equal to the loop in tests/test_graph.py), convergence is exact by
    construction, and the batch-sized graphs the ingest loop feeds this
    (a few thousand pairs per epoch) stop paying ~5 distributed
    jobs × rounds per micro-batch. Corpus-scale pair sets overflow the
    probe on its first job and take the distributed loop unchanged —
    the probe cost there is one truncated collect of ≤cap rows.

    ``probe=False`` is the caller hint for KNOWN-large graphs (or
    callers that already ran their own bounded pull — the ingest loop's
    transitive stage does): skips the truncated collect and goes
    straight to the distributed loop.
    """
    import warnings

    proj = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    if probe:
        # lazy pin BEFORE probing: the probe's partial evaluation of the
        # (possibly expensive) pair pipeline feeds the distributed
        # branch's union instead of being recomputed twice more
        proj = proj.localCheckpoint(eager=False)
        head = proj.limit(_DRIVER_CC_MAX_PAIRS + 1).collect()
        if (
            len(head) <= _DRIVER_CC_MAX_PAIRS
            # the driver path types its output from a_col alone; a
            # mixed-width (a, b) pair frame takes the distributed loop,
            # whose union widens to the common type
            and pairs.schema[a_col].dataType == pairs.schema[b_col].dataType
            and not any(r["a"] is None or r["b"] is None for r in head)
        ):
            return _driver_connected_components(pairs, head, a_col)

    edges = (
        proj.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(proj.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    # every node also neighbors itself, so isolated direction handling
    # and label retention come free in one aggregation
    nodes = edges.select(F.col("src").alias("id")).distinct()
    labels = nodes.withColumn("component", F.col("id"))
    edges = edges.localCheckpoint(eager=False)
    converged = True  # an empty/self-labeled graph is converged at round 0
    for it in range(max_iterations):
        # propagate: new label = min(own, min over neighbors' labels).
        # The node's CURRENT label rides along as `_old` (null on the
        # neighbor branch; min() ignores nulls and the labels branch
        # carries exactly one non-null per id), so the convergence
        # probe below is a shuffle-free filter over the checkpointed
        # round result instead of a second node-sized join per round —
        # at scale that join was a full extra shuffle of the label
        # frame every round, at gate scale an extra job.
        neighbor_labels = edges.join(
            labels.withColumnRenamed("id", "dst"), "dst"
        ).select(F.col("src").alias("id"), "component")
        prop = (
            labels.withColumn("_old", F.col("component"))
            .unionByName(
                neighbor_labels.withColumn(
                    "_old", F.lit(None).cast(labels.schema["component"].dataType)
                )
            )
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min("_old").alias("_old"),
            )
        )
        if it >= 2:
            # pointer doubling: adopt the label of my label. Every
            # label IS a node id (labels start as own id and only ever
            # take mins of node ids), so the lookup join always hits;
            # the adopted label is ≤ the current one by the same
            # monotonicity. Engaged from round 3 on: near-dup clusters
            # are small and dense and converge within the first one-hop
            # rounds — the common case pays nothing for the shortcut —
            # while a long chain still converges in O(log diameter)
            # once the doubling kicks in (distance ~3·2^(k-2) after k
            # rounds; 20 rounds cover any machine-sized input).
            lookup = prop.select(
                F.col("id").alias("component"),
                F.col("component").alias("_c2"),
            )
            prop = prop.join(lookup, "component").select(
                "id", F.col("_c2").alias("component"), "_old"
            )
        new_labels = prop.localCheckpoint(eager=True)
        changed = (
            new_labels.filter(F.col("component") != F.col("_old"))
            .limit(1)
            .count()
        )
        labels = new_labels.drop("_old")
        converged = changed == 0
        if converged:
            break
    if not converged:
        msg = (
            f"connected_components did not converge within "
            f"{max_iterations} iterations — labels were still moving "
            "after the final round, so at least one component is SPLIT "
            "into several labels. Raise max_iterations (with pointer "
            "doubling each extra round doubles the reachable diameter)."
        )
        if require_convergence:
            raise RuntimeError(msg)
        warnings.warn(msg, UserWarning, stacklevel=2)
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """(id, component, keep) — every document with its near-dup cluster
    and the survivor flag (minimum id per component survives; docs in no
    pair survive trivially)."""
    comp = connected_components(pairs, a_col, b_col)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
        )
        .withColumn("keep", F.col("id") == F.col("component"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

# MinHash signature computation — Arrow-vectorized numpy kernel.
#
# The hash family is k independent multiply-shift permutations of Z_2^64:
# h_i(x) = a_i * x + b_i (mod 2^64) with fixed-seed random odd a_i —
# the family MLlib's MinHashLSH and datasketch use (mod a prime there;
# mod 2^64 wraparound is free in uint64 and equally min-wise mixed for
# random odd multipliers). The members must still be INDEPENDENT draws:
# deriving them affinely from two base hashes (Kirsch–Mitzenmacher)
# makes the same shingle minimize most members, collapsing LSH band
# diversity (measured 5× more candidates AND 2.5× slower end-to-end on
# the driver corpus). The previous formulation — k per-member seeded
# xxhash64 passes as nested higher-order expressions — was interpreted
# (higher-order functions never enter codegen) and cost ~19k string
# hashes per doc; the numpy kernel hashes each shingle code once per
# member with two vector ops (measured: the signature stage of x08 at
# sf0.1 drops 8.3 s → <1 s).

_MINHASH_FAMILY_SEED = 0x5EED_C0DE


def _affine_family(num_hashes: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(_MINHASH_FAMILY_SEED)
    a = rng.integers(1, 1 << 62, size=num_hashes, dtype=np.uint64) * 2 + 1
    b = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)
    return a, b


def _minhash_min_matrix(
    code_arrays: list[np.ndarray], num_hashes: int
) -> list[list[int] | None]:
    """Per-doc k-element MinHash signature rows from per-doc shingle-code
    arrays. Docs with no codes yield None (caller filters — mirrors
    gram_arrays dropping too-short docs). One concatenation + per-member
    affine map + segmented min (reduceat); memory stays O(total codes)."""
    lens = np.fromiter((len(c) for c in code_arrays), dtype=np.int64,
                       count=len(code_arrays))
    nonempty = lens > 0
    if not nonempty.any():
        return [None] * len(code_arrays)
    codes = np.concatenate([c for c in code_arrays if len(c)])
    seg = np.zeros(int(nonempty.sum()), dtype=np.int64)
    np.cumsum(lens[nonempty][:-1], out=seg[1:])
    a, b = _affine_family(num_hashes)
    mins = np.empty((num_hashes, seg.size), dtype=np.uint64)
    for h in range(num_hashes):
        mins[h] = np.minimum.reduceat(a[h] * codes + b[h], seg)
    # reinterpret the uint64 bits as Spark's long
    sig = mins.view(np.int64).T
    out: list[list[int] | None] = [None] * len(code_arrays)
    for row, idx in zip(sig, np.flatnonzero(nonempty)):
        out[idx] = row.tolist()
    return out


_CHAR_CODE_MAX_N = 3  # 21 bits per codepoint, 63-bit packing budget


def _char_code_udf(n: int):
    """pandas_udf text -> struct(codes: sorted distinct CHARACTER
    n-gram codes, sz): each n-gram's codepoints packed injectively into
    one int64 (21 bits per codepoint — Unicode tops out at 0x10FFFF <
    2^21, so n·21 ≤ 63 bits for n ≤ 3, always positive). Injective ⇒
    set cardinalities (sizes, intersections) equal the string-gram
    formulation EXACTLY for any input, while everything downstream
    moves int64 arrays instead of strings. Map-only; np.unique returns
    the codes sorted, ready for binary-search mask assignment. Larger n
    does not fit the packing budget — callers fall back to the
    string-dictionary prefix path (see ngram_jaccard_pairs)."""
    assert 1 <= n <= _CHAR_CODE_MAX_N, "codepoint packing budget is 63 bits"

    def fn(texts: pd.Series) -> pd.DataFrame:
        codes_out: list[list[int]] = []
        sizes: list[int] = []
        for t in texts:
            if t is None or len(t) < n:
                codes_out.append([])
                sizes.append(0)
                continue
            cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
                np.uint64
            )
            k = len(cp) - n + 1
            c = np.zeros(k, dtype=np.uint64)
            for j in range(n):
                c = (c << np.uint64(21)) | cp[j : k + j]
            u = np.unique(c)
            codes_out.append(u.view(np.int64).tolist())
            sizes.append(len(u))
        return pd.DataFrame({"codes": codes_out, "sz": sizes})

    return F.pandas_udf(fn, "struct<codes:array<bigint>, sz:int>")


def _shingle_code_arrays(texts: pd.Series, n: int) -> list[np.ndarray]:
    """Per-text sorted distinct shingle codes: the n raw bytes of each
    UTF-8 n-gram packed into one uint64 (n ≤ 8) — the byte content IS
    the code, no string hashing at all; np.unique gives the sorted
    distinct-shingle set."""
    assert n <= 8
    arrays: list[np.ndarray] = []
    empty = np.empty(0, dtype=np.uint64)
    for t in texts:
        if t is None:
            arrays.append(empty)
            continue
        bs = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
        if bs.size < n:
            arrays.append(empty)
            continue
        c = np.zeros(bs.size - n + 1, dtype=np.uint64)
        for j in range(n):
            c = (c << np.uint64(8)) | bs[j: bs.size - n + 1 + j]
        arrays.append(np.unique(c))
    return arrays


def _text_sig_udf(n: int, num_hashes: int):
    """pandas_udf text -> array<long> MinHash signature over the byte
    n-gram shingle codes."""

    def fn(texts: pd.Series) -> pd.Series:
        return pd.Series(
            _minhash_min_matrix(_shingle_code_arrays(texts, n), num_hashes)
        )

    return F.pandas_udf(fn, "array<long>")


def _text_sig_code_udf(n: int, num_hashes: int):
    """pandas_udf text -> struct(sig, codes, sz): the MinHash signature
    PLUS the sorted distinct shingle-code array it was computed from —
    one kernel pass feeds both candidate generation and exact
    verification, so the verify path needs no second shingling of the
    corpus (and, unlike the dictionary-encoding route, no shuffle at
    all to build per-doc sets)."""

    def fn(texts: pd.Series) -> pd.DataFrame:
        arrays = _shingle_code_arrays(texts, n)
        sigs = _minhash_min_matrix(arrays, num_hashes)
        return pd.DataFrame(
            {
                "sig": sigs,
                "codes": [a.view(np.int64).tolist() for a in arrays],
                "sz": [len(a) for a in arrays],
            }
        )

    return F.pandas_udf(
        fn, "struct<sig:array<bigint>, codes:array<bigint>, sz:int>"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """(id, sig: array<long>) — element h is min over the doc's distinct
    byte n-gram shingle codes of the h-th multiply-shift hash.
    Deterministic across runs and partitionings (fixed-seed family,
    order-insensitive min). Docs too short for one shingle are dropped,
    matching :func:`gram_arrays`. The localCheckpoint barrier is
    load-bearing, same reason as :func:`_materialize_masks`: without it
    the ArrowEvalPython stage re-runs on every downstream consumer —
    both sides of the band-bucket self-join would recompute every
    signature."""
    sig = _text_sig_udf(n, num_hashes)(F.col("_t"))
    return (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .select("id", sig.alias("sig"))
        .filter(F.col("sig").isNotNull())
        .localCheckpoint(eager=True)
    )


# A bucket of n rows emits C(n,2) pairs from ONE join task. Salting only
# pays once that single task is pinned for seconds: at ~50ns/pair,
# C(8192,2) ≈ 33M pairs ≈ low single-digit seconds — below that the
# straggler costs less than ANY salting machinery (measured at sf0.1,
# hottest bucket 1890 rows ≈ 1.8M pairs: unsalted 0.95s vs fixed-salt-8
# 1.18s vs always-on broadcast tagging 2.14s for the identical result).
# The cutoff is an absolute wall-time bound, not a share of the corpus:
# it is scale-free in the right way — a 100 TB corpus with millions of
# cold buckets stays on the zero-overhead plan, and any bucket big
# enough to pin a task for seconds trips the salted plan regardless of
# how much other work there is.
_HOT_BUCKET_CUTOFF = 8192
_HOT_SALT_MAX = 64


def _hot_salted_self_join(
    keyed: DataFrame,
    keys: list[str],
    carry: list[str] = (),
    cutoff: int = _HOT_BUCKET_CUTOFF,
    max_salt: int = _HOT_SALT_MAX,
) -> DataFrame:
    """Self-join ``keyed`` (columns: id, *keys, *carry) on ``keys``,
    emitting each unordered pair (a_id < b_id) exactly once per shared
    key combination, with ADAPTIVE hot-bucket salting. ``carry`` columns
    ride along prefixed ``a_``/``b_``.

    Near-dup corpora concentrate rows in a few hot buckets, and a bucket
    of n rows emits C(n,2) pairs from ONE task; AQE skew-split doesn't
    fire because its byte thresholds see only the tiny pre-join rows,
    not the join's output explosion. Round 2 guarded that with an
    unconditional salt=8 — which replicated the ENTIRE right side 8x
    even when no bucket was hot, regressing the candidate queries 1.5-2x
    (the r2 x08/x09 driver-bench regression). The regime is now chosen
    by a PROBE of the max bucket size — one scalar agg (map-side
    combined count + max), the same cost class as the vocabulary probe
    in :func:`minhash_verified_pairs`:

    - max bucket ≤ ``cutoff``: the plain unsalted equi-join plan. Zero
      fan-out, zero extra joins — the straggler bound is C(cutoff,2)
      pairs in one task, an absolute wall-clock quantum (see
      _HOT_BUCKET_CUTOFF).
    - above: bucket sizes are re-derived, the hot keys (a bounded,
      dimension-sized set — at most |keyed|/cutoff of them) broadcast,
      and ONLY rows in hot buckets are salted, salt scaled to the
      bucket's size (ceil(n/cutoff), capped at ``max_salt``). The left
      row's chunk is fixed by its id hash, the right row replicates to
      its bucket's salt chunks, so each pair still meets on exactly one
      (*keys, chunk) — no dedup introduced, and the replication cost is
      salt x (hot rows only), never salt x |keyed|.

    ``keyed`` should derive from a materialized frame (the callers feed
    it from localCheckpoint'ed signatures) — the probe and both join
    sides re-derive it otherwise."""
    sizes = keyed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_n"))
    max_n = sizes.agg(F.max("_n")).first()[0]
    if max_n is None or max_n <= cutoff:
        a = keyed.select(
            F.col("id").alias("a_id"),
            *[F.col(c).alias(f"a_{c}") for c in carry],
            *keys,
        )
        b = keyed.select(
            F.col("id").alias("b_id"),
            *[F.col(c).alias(f"b_{c}") for c in carry],
            *keys,
        )
        return (
            a.join(b, list(keys))
            .filter(F.col("a_id") < F.col("b_id"))
            .drop(*keys)
        )
    hot = F.broadcast(
        sizes.filter(F.col("_n") > cutoff)
        .select(
            *keys,
            F.least(
                F.lit(max_salt).cast("long"),
                F.ceil(F.col("_n") / F.lit(cutoff)).cast("long"),
            ).alias("_salt"),
        )
    )
    tagged = keyed.join(hot, list(keys), "left").withColumn(
        "_salt", F.coalesce(F.col("_salt"), F.lit(1).cast("long"))
    )
    a = tagged.select(
        F.col("id").alias("a_id"),
        *[F.col(c).alias(f"a_{c}") for c in carry],
        *keys,
        F.pmod(F.xxhash64("id"), F.col("_salt")).alias("_chunk"),
    )
    b = tagged.select(
        F.col("id").alias("b_id"),
        *[F.col(c).alias(f"b_{c}") for c in carry],
        *keys,
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("_salt") - F.lit(1))
        ).alias("_chunk"),
    )
    return (
        a.join(b, [*keys, "_chunk"])
        .filter(F.col("a_id") < F.col("b_id"))
        .drop("_chunk", *keys)
    )


def _band_raw_pairs(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Band-bucket collision pairs from a (id, sig) frame WITHOUT the
    final dedup: a pair agreeing on k bands appears k times. Callers
    `.distinct()` to get the candidate contract. ``sig`` should be
    materialized (see :func:`minhash_signatures`) — both join sides
    re-derive it otherwise. Hot (band, bucket) keys are salted
    adaptively (:func:`_hot_salted_self_join`)."""
    return _hot_salted_self_join(
        _banded_keys(sig, num_hashes, bands), ["band", "bucket"]
    ).select("a_id", "b_id")


def _banded_keys(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) band-key frame from a (id, sig) frame — the
    shared banding of the self-join and cross-frame candidate paths."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band))
                    .alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _hot_salted_pair_join(
    a_keyed: DataFrame,
    b_keyed: DataFrame,
    keys: list[str],
    cutoff: int = _HOT_BUCKET_CUTOFF,
    max_salt: int = _HOT_SALT_MAX,
    na: DataFrame | None = None,
    prod_bound: int | None = None,
) -> DataFrame:
    """Cross-frame twin of :func:`_hot_salted_self_join`: join two
    DISTINCT (id, *keys) frames on ``keys``, emitting every (a_id,
    b_id) combination — no ordering filter, the frames are different
    populations (e.g. an existing corpus vs an incoming batch).

    Same adaptive regime, probed on the max per-bucket PAIR PRODUCT
    (n_a·n_b — the actual single-task output bound for a cross join,
    where the self-join probes n because its bound is C(n,2)): below
    the cutoff² class the plain equi-join plan; above, the hot buckets
    broadcast and ONLY their rows salt — the b side replicates to the
    bucket's chunks, the a side hashes to one chunk. Both inputs should
    derive from materialized frames (the probe re-derives them
    otherwise).

    ``na`` optionally supplies PRECOMPUTED a-side bucket counts
    (``*keys``, ``_na`` — one row per a-side bucket). A stored index
    (similarity.build_lsh_index) persists these at build time so the
    per-batch probe never re-aggregates the corpus-sized a frame.

    ``prod_bound``: an upper bound on every bucket's n_a·n_b that the
    caller already knows (the ingest loop tracks one — see
    :func:`match_minhash_index`). When it is within cutoff² no bucket
    can be hot, so the plain plan is taken without the probe job; the
    plan is the one the probe would have picked."""
    bound = cutoff * cutoff
    a = a_keyed.select(F.col("id").alias("a_id"), *keys)
    b = b_keyed.select(F.col("id").alias("b_id"), *keys)
    if prod_bound is not None and prod_bound <= bound:
        return a.join(b, list(keys)).drop(*keys)
    if na is None:
        na = a_keyed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_na"))
    nb = b_keyed.groupBy(*keys).agg(F.count(F.lit(1)).alias("_nb"))
    prods = na.join(nb, list(keys)).select(
        *keys, (F.col("_na") * F.col("_nb")).alias("_prod")
    )
    max_prod = prods.agg(F.max("_prod")).first()[0]
    if max_prod is None or max_prod <= bound:
        return a.join(b, list(keys)).drop(*keys)
    hot = F.broadcast(
        prods.filter(F.col("_prod") > bound).select(
            *keys,
            F.least(
                F.lit(max_salt).cast("long"),
                F.ceil(F.col("_prod") / F.lit(bound)).cast("long"),
            ).alias("_salt"),
        )
    )
    at = a.join(hot, list(keys), "left").withColumn(
        "_salt", F.coalesce(F.col("_salt"), F.lit(1).cast("long"))
    )
    bt = b.join(hot, list(keys), "left").withColumn(
        "_salt", F.coalesce(F.col("_salt"), F.lit(1).cast("long"))
    )
    at = at.withColumn("_chunk", F.pmod(F.xxhash64("a_id"), F.col("_salt")))
    bt = bt.select(
        "b_id", *keys,
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("_salt") - F.lit(1))
        ).alias("_chunk"),
    )
    return at.join(bt, [*keys, "_chunk"]).drop("_chunk", "_salt", *keys)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on at least one LSH band.

    rows/band = num_hashes/bands. Signature (map-only Arrow kernel) →
    banding → explode → equi-join on (band, band_hash): the only shuffle
    key is the bucket, so the plan is a standard hash join at any scale
    — never a cross join.
    """
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    return _band_raw_pairs(sig, num_hashes, bands).distinct()


def _exact_verify(
    cands: DataFrame,
    sets_: DataFrame,
    threshold: float,
    b_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard verification of candidate (a_id, b_id) pairs against
    a per-doc shingle-set frame (id, grams, sz). Shared by the prefix-
    filter and LSH operators so the verify semantics cannot diverge.
    Candidates are re-spread first (:func:`partitioning.spread_pairs`) —
    the per-pair array_intersect is the expensive part and must not run
    in an AQE-coalesced post-distinct stage. ``b_sets``: a separate
    frame for the b side (the a side then reads ``sets_`` alone)."""
    cands = _spread_pairs(cands)
    da = sets_.select(
        F.col("id").alias("a_id"), F.col("grams").alias("a_grams"),
        F.col("sz").alias("a_sz"),
    )
    db = (sets_ if b_sets is None else b_sets).select(
        F.col("id").alias("b_id"), F.col("grams").alias("b_grams"),
        F.col("sz").alias("b_sz"),
    )
    return (
        cands.join(da, "a_id")
        .join(db, "b_id")
        .withColumn(
            "shared", F.size(F.array_intersect("a_grams", "b_grams")).cast("long")
        )
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("a_sz") + F.col("b_sz") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "a_id", "b_id", "shared",
            F.col("a_sz").cast("long").alias("a_sz"),
            F.col("b_sz").cast("long").alias("b_sz"),
            "jaccard",
        )
    )


def _code_mask_udf(vocab: list[int], nwords: int):
    """pandas_udf codes(array<bigint>) -> fixed-width bitmask
    (array<bigint>, ``nwords`` longs). Dense bit ids come from binary
    search against the sorted vocabulary carried as closure state
    (dimension-sized — same pattern as the IVF centroid matrix). Any
    consistent code→bit assignment works for popcount-of-AND
    verification; searchsorted over the shared vocab makes both join
    sides agree by construction (``vocab`` must be ascending in UNSIGNED
    code order — codes ≥ 2^63 arrive as negative int64 from the JVM, so
    the caller sorts after masking to uint64). Map-only: masks of N docs
    are N independent rows, no shuffle."""
    V = np.asarray(vocab, dtype=np.uint64)

    def fn(codes: pd.Series) -> pd.Series:
        out: list[list[int]] = []
        for c in codes:
            idx = np.searchsorted(V, np.asarray(c, dtype=np.int64).view(np.uint64))
            words = np.zeros(nwords, dtype=np.uint64)
            np.bitwise_or.at(
                words, idx >> 6, np.uint64(1) << (idx & 63).astype(np.uint64)
            )
            out.append(words.view(np.int64).tolist())
        return pd.Series(out)

    return F.pandas_udf(fn, "array<bigint>")


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """The full scale-path near-dup operator: MinHash-LSH candidate
    generation followed by EXACT n-gram Jaccard verification of only the
    candidates. At 100 TB this is the shape that works: the quadratic
    explosion is capped by the banded buckets, and the exact check runs
    on the (tiny) candidate set with per-doc shingle arrays.

    Candidate generation is ALWAYS the text-byte-shingle MinHash — one
    signature definition for every regime, so the candidate set is
    reproducible by an external oracle running the same multiply-shift
    family over the same byte trigrams. ONE Arrow kernel pass emits
    both the signature and the sorted distinct shingle-code set per doc
    (:func:`_text_sig_code_udf`), so the verify path costs no second
    shingling and — unlike a dictionary-encoding route — no shuffle at
    all to build per-doc sets (the old string-encode stage was 7 of
    x19's 12 seconds at sf0.1).

    Only VERIFICATION is adaptive, on a vocabulary/doc-count probe
    (same bounds as :func:`ngram_jaccard_pairs`): on a degenerate
    vocabulary LSH buckets collapse and the candidate set approaches
    all-pairs (measured 6.7M candidates from 5 000 docs / ~400 shingle
    codes on the driver corpus), where per-pair array intersection is
    the whole runtime but fixed-width bitmask popcount — dense bit ids
    assigned by binary search against the (collected, dimension-sized)
    sorted vocab in a map-only kernel — verifies the same pairs in ~2 s.
    Real text (large vocab) verifies via sorted-INT array_intersect on
    the code arrays. Verification runs on the DEDUPLICATED candidate
    set (distinct before the mask joins): the distinct shuffles only
    (a_id, b_id) int pairs, and the measured collision stream repeats
    each hot-bucket pair up to ``bands`` times — verifying the raw
    stream multiplied the popcount work several-fold for nothing.

    Output matches :func:`ngram_jaccard_pairs` (a_id, b_id, shared,
    a_sz, b_sz, jaccard) but with LSH recall (near-1 for jaccard ≥ 0.8
    with 16 bands × 4 rows) instead of exhaustive certainty."""
    sig_code = _text_sig_code_udf(n, num_hashes)(F.col("_t"))
    docs = (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .select("id", sig_code.alias("_sc"))
        .select("id", "_sc.sig", "_sc.codes", "_sc.sz")
        .filter(F.col("sig").isNotNull())
        .localCheckpoint(eager=True)
    )
    cands = _band_raw_pairs(docs.select("id", "sig"), num_hashes, bands).distinct()
    return _adaptive_verify(cands, docs, threshold)


class VerifyRegime:
    """The verify regime of one ingest loop over one stored index —
    loop-scoped state, kept by the loop between epochs and handed to
    :func:`match_minhash_index` as ``regime=``. ``exact`` turns True
    the first time the probe picks array-intersect and stays True:
    under a single writer the index's doc count and vocabulary only
    grow, so the corpus never moves back under the bitmask caps. Both
    regimes compute the same exact ``shared`` and ``jaccard``; the
    record changes time, never values."""

    __slots__ = ("exact",)

    def __init__(self) -> None:
        self.exact = False


def _adaptive_verify(
    cands: DataFrame,
    docs: DataFrame,
    threshold: float,
    b_docs: DataFrame | None = None,
    regime: VerifyRegime | None = None,
) -> DataFrame:
    """Regime-probed exact-Jaccard verification of (a_id, b_id)
    candidates against an (id, codes, sz) frame — shared by the
    self-join and cross-frame minhash operators so both get the
    degenerate-corpus fast path. ``b_docs``: a separate frame for the
    b side (a stored index's verify table as ``docs``, the batch kernel
    as ``b_docs``), so each join reads only its own side; the probes
    below read both.

    The probe: the complete vocabulary IS the probe — collect at most
    cap+1 distinct codes (a dimension-sized pull, same class as IVF
    centroids); vocab overflow or a too-large corpus → per-pair
    sorted-int array_intersect; otherwise fixed-width bitmask popcount
    (on a degenerate corpus LSH buckets collapse and the candidate set
    explodes toward all-pairs, where popcount-of-AND over a few longs
    per pair beats array intersection several-fold). The doc count
    bounds by docs-that-have-signatures (the set the quadratic regimes
    actually touch). Both probes scan every doc they are given, so a
    caller over a stored index passes ``regime`` to run them only
    until array-intersect is picked; the bitmask regime probes every
    call, since its vocabulary must cover the new codes."""

    def sets(frame: DataFrame | None) -> DataFrame | None:
        if frame is None:
            return None
        return frame.select("id", F.col("codes").alias("grams"), "sz")

    def exact() -> DataFrame:
        if regime is not None:
            regime.exact = True
        return _exact_verify(cands, sets(docs), threshold, sets(b_docs))

    if regime is not None and regime.exact:
        return exact()
    probed = docs if b_docs is None else docs.unionByName(b_docs)
    # doc-count guard FIRST: a production-scale corpus (the normal
    # incremental regime) must not pay the vocabulary probe's
    # explode+distinct pass just to be routed to array-intersect anyway
    if probed.count() > _ALLPAIRS_MAX_DOCS:
        return exact()
    vocab_rows = (
        probed.select(F.explode("codes").alias("c"))
        .distinct()
        .limit(_BITMASK_VOCAB_MAX + 1)
        .collect()
    )
    if len(vocab_rows) > _BITMASK_VOCAB_MAX:
        return exact()
    # re-spread before the popcount verify — the AQE-coalesced
    # post-distinct stage must not serialize it (see
    # partitioning.spread_pairs; _exact_verify spreads its own input for
    # the diverse regime)
    cands = _spread_pairs(cands)
    vocab = sorted(r["c"] & 0xFFFF_FFFF_FFFF_FFFF for r in vocab_rows)
    nwords = (len(vocab) + 63) // 64
    mask = _code_mask_udf(vocab, nwords)

    def masks(frame: DataFrame) -> DataFrame:
        return frame.select("id", "sz", mask(F.col("codes")).alias("mask"))

    a_masks = masks(docs)
    b_masks = a_masks if b_docs is None else masks(b_docs)
    da = F.broadcast(a_masks.select(
        F.col("id").alias("a_id"), F.col("sz").alias("a_sz"),
        F.col("mask").alias("a_mask"),
    ))
    db = F.broadcast(b_masks.select(
        F.col("id").alias("b_id"), F.col("sz").alias("b_sz"),
        F.col("mask").alias("b_mask"),
    ))
    return (
        cands.join(da, "a_id")
        .join(db, "b_id")
        .withColumn("shared", _popcount_shared(nwords))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("a_sz") + F.col("b_sz") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(
            "a_id", "b_id", "shared",
            F.col("a_sz").cast("long").alias("a_sz"),
            F.col("b_sz").cast("long").alias("b_sz"),
            "jaccard",
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 64
) -> DataFrame:
    """(id, simhash: long) — per-bit majority vote over the hashes of the
    doc's distinct whitespace tokens. MAP-ONLY Arrow kernel: each doc's
    fingerprint is independent of every other row, so there is no reason
    to shuffle — the previous formulation (explode tokens → groupBy id
    with 64 conditional sums) paid a full shuffle of every (doc, token)
    pair plus 64 aggregate expressions per row just to re-group rows
    that started co-located. Token hash = first 8 bytes of md5
    (deterministic across runs/workers, and reproducible in ANSI-SQL
    engines: ``('0x' || substr(md5(tok), 1, 16))::UBIGINT`` — the
    property the DuckDB correctness oracle relies on); per-bit
    majorities via one segmented sum per bit over the batch's
    concatenated token hashes. Docs with no tokens are dropped, as the
    old groupBy did."""

    def fn(texts: pd.Series) -> pd.Series:
        from hashlib import md5

        cache: dict[str, int] = {}

        def tok_hash(tok: str) -> int:
            h = cache.get(tok)
            if h is None:
                h = int.from_bytes(md5(tok.encode()).digest()[:8], "big")
                cache[tok] = h
            return h

        per_doc: list[list[int]] = [
            [tok_hash(t) for t in set(txt.split())] if txt else [] for txt in texts
        ]
        lens = np.fromiter(map(len, per_doc), dtype=np.int64, count=len(per_doc))
        nonempty = lens > 0
        out = pd.Series([None] * len(per_doc), dtype=object)
        if not nonempty.any():
            return out
        hs = np.fromiter(
            (h for doc in per_doc for h in doc), dtype=np.uint64, count=int(lens.sum())
        )
        seg = np.zeros(int(nonempty.sum()), dtype=np.int64)
        np.cumsum(lens[nonempty][:-1], out=seg[1:])
        ntoks = lens[nonempty]
        fp = np.zeros(seg.size, dtype=np.uint64)
        for i in range(bits):
            ones = np.add.reduceat((hs >> np.uint64(i)) & np.uint64(1), seg)
            fp |= (ones * 2 > ntoks).astype(np.uint64) << np.uint64(i)
        for v, idx in zip(fp.view(np.int64), np.flatnonzero(nonempty)):
            out.iloc[idx] = int(v)
        return out

    sim = F.pandas_udf(fn, "long")(F.col("_t"))
    return (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .select("id", sim.alias("simhash"))
        .filter(F.col("simhash").isNotNull())
    )


def simhash_candidates(
    df: DataFrame, id_col: str, text_col: str, chunks: int = 4
) -> DataFrame:
    """Pairs whose SimHashes agree on ≥1 of ``chunks`` 16-bit chunks —
    by pigeonhole, a superset of all pairs with hamming distance <
    ``chunks``. Equi-join on (chunk index, chunk value), hot chunk
    values salted adaptively (:func:`_hot_salted_self_join` — identical
    hot-bucket shape to the MinHash band join: near-dup corpora
    concentrate fingerprints in a few chunk values); includes the exact
    hamming distance for downstream filtering."""
    # fp feeds BOTH sides of the self-join; the barrier keeps the
    # (map-only, Arrow) fingerprint computation from running twice —
    # the old groupBy formulation had an implicitly reusable shuffle
    # exchange, a map-only plan has no such reuse point.
    fp = simhash_fingerprints(df, id_col, text_col).localCheckpoint(eager=True)
    width = 64 // chunks
    mask = (1 << width) - 1
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for c in range(chunks)
        ]
    )
    chunked = fp.select(
        "id", F.col("simhash").alias("fp"), F.explode(chunk_structs).alias("cc")
    ).select("id", "fp", "cc.chunk", "cc.val")
    pairs = (
        _hot_salted_self_join(chunked, ["chunk", "val"], ["fp"])
        .select("a_id", "b_id", "a_fp", "b_fp")
        .distinct()
    )
    return pairs.withColumn(
        "hamming", F.bit_count(F.col("a_fp").bitwiseXOR(F.col("b_fp")))
    ).select("a_id", "b_id", "hamming")


def minhash_pairs_between(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Cross-frame near-dup pairs: MinHash-LSH candidates between an
    EXISTING corpus and an INCOMING batch, exact-verified — the
    incremental operating mode of a production pipeline, where each new
    batch is deduplicated against everything already ingested rather
    than re-running the quadratic self-join over the union (the union
    self-join re-pays old×old forever; this pays old×new once per
    batch).

    Same one-kernel signature+codes construction as
    :func:`minhash_verified_pairs` (external-oracle-reproducible);
    candidates come from joining the two banded frames on (band,
    bucket) with adaptive hot-bucket salting probed on the per-bucket
    PAIR PRODUCT (:func:`_hot_salted_pair_join`); verification is the
    shared exact-Jaccard check over the union of the per-doc code sets.
    Id spaces must be disjoint (the verify join is id-keyed).

    Returns (a_id ∈ old, b_id ∈ new, shared, a_sz, b_sz, jaccard).
    """
    # ONE kernel pass over the tagged union (not one per frame): both
    # sides share the spread, the Arrow stage, and the checkpoint; the
    # per-side frames are then filters over the pinned blocks.
    tagged = old.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t"),
        F.lit(0).alias("_side"),
    ).unionByName(
        new.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("_t"),
            F.lit(1).alias("_side"),
        )
    )
    sig_code = _text_sig_code_udf(n, num_hashes)(F.col("_t"))
    both = (
        _spread(tagged)
        .select("id", "_side", sig_code.alias("_sc"))
        .select("id", "_side", "_sc.sig", "_sc.codes", "_sc.sz")
        .filter(F.col("sig").isNotNull())
        .localCheckpoint(eager=True)
    )
    o = both.filter(F.col("_side") == 0).drop("_side")
    nw = both.filter(F.col("_side") == 1).drop("_side")
    cands = _hot_salted_pair_join(
        _banded_keys(o.select("id", "sig"), num_hashes, bands),
        _banded_keys(nw.select("id", "sig"), num_hashes, bands),
        ["band", "bucket"],
    ).distinct()
    return _adaptive_verify(cands, both.select("id", "codes", "sz"), threshold)


def incremental_neardups(
    old: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Per-NEW-document near-dup report against the existing corpus:
    how many verified matches, the best Jaccard, and the earliest
    matching old id (the keep-pointer a dedup-on-ingest pipeline
    writes). One tiny roll-up over :func:`minhash_pairs_between`.

    Returns (new_id, n_matches bigint, best_jaccard double,
    first_match bigint) — new docs with NO near-dup in the corpus are
    absent (anti-join the ids for the admit set).

    PRECONDITION (inherited from :func:`minhash_pairs_between`): the
    two frames' id spaces must be DISJOINT — the verify join is
    id-keyed, so an id shared across frames would join the wrong
    side's shingle sets. Prefix or offset one side's ids when both
    number from zero."""
    pairs = minhash_pairs_between(
        old, new, id_col, text_col, n, num_hashes, bands, threshold
    )
    return pairs.groupBy(F.col("b_id").alias("new_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jaccard").alias("best_jaccard"),
        F.min("a_id").alias("first_match"),
    )


# ---------------------------------------------------------------------------
# Persisted MinHash index — the text twin of similarity.build_lsh_index:
# pay the corpus's signatures/shingle-codes ONCE at build; every batch
# after that touches only new-side kernel work + bucket-local joins.
# ---------------------------------------------------------------------------


def _kernel_frame(
    df: DataFrame, id_col: str, text_col: str, n: int, num_hashes: int
) -> DataFrame:
    """Checkpointed (id, sig, codes, sz) frame — ONE Arrow kernel pass
    over the documents, shared by the index build and the per-batch
    match so the two can never compute signatures differently."""
    sig_code = _text_sig_code_udf(n, num_hashes)(F.col("_t"))
    return (
        _spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")))
        .select("id", sig_code.alias("_sc"))
        .select("id", "_sc.sig", "_sc.codes", "_sc.sz")
        .filter(F.col("sig").isNotNull())
        .localCheckpoint(eager=True)
    )


def _reject_working_columns(payload: list[str], working: set[str]) -> None:
    """Raise when a payload column would collide with an internal
    working column of the epoch frames (names resolve
    case-insensitively): the working column would clobber or shadow
    the payload, silently changing what reaches the sinks and index."""
    clash = sorted(c for c in payload if c.lower() in working)
    if clash:
        raise ValueError(
            f"payload column {clash[0]!r} collides with an internal "
            f"working column of the ingest epoch ({sorted(working)}); "
            "rename the source column"
        )


def _epoch_frames(
    batch: DataFrame,
    payload: list[str],
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
) -> tuple[DataFrame, str, Callable[[DataFrame], tuple[DataFrame, DataFrame]]]:
    """One ingest-loop epoch's working frame: ``(combined, key,
    split)``. ``combined`` holds the payload columns and the signature
    struct under ONE lazy pin — the loop's row count is the job that
    materializes it; ``key`` is its id column; ``split(frame)`` projects
    ``combined``, or any row subset of it, to (batch, kernel). So the
    loop can pin one more subset (the accepted rows) and slice both of
    its frames from that pin. Kernel rows and values are bit-identical
    to :func:`_kernel_frame` over the same rows (same Arrow UDF, same
    filter); the batch rows are exactly the source payload (the
    signature struct is dropped, never written). A payload column
    named like the ``_sc`` working column raises."""
    _reject_working_columns(payload, {"_sc"})
    sig_code = _text_sig_code_udf(n, num_hashes)(F.col(text_col))
    combined = (
        _spread(batch.select(*payload))
        .withColumn("_sc", sig_code)
        .localCheckpoint(eager=False)
    )

    def split(frame: DataFrame) -> tuple[DataFrame, DataFrame]:
        kernel = frame.select(
            F.col(id_col).alias("id"), "_sc.sig", "_sc.codes", "_sc.sz"
        ).filter(F.col("sig").isNotNull())
        return frame.drop("_sc"), kernel

    return combined, id_col, split


def build_minhash_index(
    old: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    num_buckets: int | None = None,
    base_path: str | None = None,
) -> None:
    """Persist the corpus side of :func:`incremental_neardups` as a
    reusable index (same table layout as
    :func:`~stream_sentinel_spark.operators.similarity.build_lsh_index`):

    - ``{table}_bands`` (old_id, band, bucket) BUCKETED by the candidate
      join key — per-batch matches join it with no Exchange;
    - ``{table}_verify`` (old_id, codes, sz) bucketed by old_id — the
      exact-Jaccard verify joins stored shingle codes instead of
      re-running the Arrow shingle kernel over the corpus;
    - ``{table}_bandstats`` (band, bucket, _na) — precomputed corpus-
      side counts for the hot-bucket salting probe;
    - ``{table}_meta`` (n, num_hashes, bands) — self-describing params.

    One Arrow kernel pass over ``old`` total (the sig/codes frame is
    checkpointed and feeds both bucketed writes).

    ``num_buckets=None`` (default) sizes the bucket count to the corpus
    (:func:`~stream_sentinel_spark.sources.bucketing.auto_num_buckets`
    over the kernel frame's row count — one near-free count of the
    already-checkpointed frame): a gate-sized corpus gets 4 buckets
    instead of 32 near-empty files whose open/listing/task overhead
    every subsequent match and append pays, while production-sized
    corpora scale the count up (or pass it explicitly). The count is
    recorded in ``{table}_meta``; appends and compaction follow it."""
    from stream_sentinel_spark.sources.bucketing import (
        auto_num_buckets,
        write_bucketed,
        write_plain,
    )

    spark = old.sparkSession

    def _path(suffix: str) -> str | None:
        return None if base_path is None else f"{base_path}/{suffix}"

    kernel = _kernel_frame(old, id_col, text_col, n, num_hashes)
    if num_buckets is None:
        num_buckets = auto_num_buckets(kernel.count())
    write_bucketed(
        _banded_keys(kernel.select("id", "sig"), num_hashes, bands)
        .withColumnRenamed("id", "old_id"),
        f"{table}_bands", ["band", "bucket"], num_buckets, path=_path("bands"),
    )
    write_plain(
        spark.table(f"{table}_bands")
        .groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("_na")),
        f"{table}_bandstats",
        path=_path("bandstats"),
    )
    write_bucketed(
        kernel.select(F.col("id").alias("old_id"), "codes", "sz"),
        f"{table}_verify", ["old_id"], num_buckets, path=_path("verify"),
    )
    write_plain(
        spark.createDataFrame(
            [(n, num_hashes, bands, num_buckets)],
            "n int, num_hashes int, bands int, num_buckets int",
        ),
        f"{table}_meta",
        path=_path("meta"),
    )


def append_minhash_index(
    new: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    meta=None,
    kernel: DataFrame | None = None,
) -> None:
    """Accept a batch of documents into a stored
    :func:`build_minhash_index` without rebuilding — the text twin of
    :func:`~stream_sentinel_spark.operators.similarity.append_lsh_index`
    and the second half of the production ingest loop (match → accept →
    index grows).

    One Arrow kernel pass over the BATCH (the checkpointed
    :func:`_kernel_frame` feeds both bucket-aligned appends), then:
    band keys append into ``{table}_bands`` and shingle codes into
    ``{table}_verify`` with ``mode("append").bucketBy(...)`` (spec
    validated against the catalog; subsequent
    :func:`match_minhash_index` still joins the corpus side with no
    Exchange), and ``{table}_bandstats`` takes the batch's count deltas
    as appended log rows (summed per key at read, re-aggregated at
    compaction — see similarity._merge_bandstats). The
    corpus is never rescanned — per-append cost is O(batch), flat as
    the index grows (``tools/stress.py index`` records it). N
    appends ≡ one rebuild bit-for-bit (tests/test_minhash_index.py).
    Params and bucket count come from ``{table}_meta``.

    ``meta`` / ``kernel`` let a caller that already holds the meta row
    and a materialized kernel frame over EXACTLY these rows (the ingest
    loop computes one kernel per epoch and slices it) skip the per-call
    meta read and the second Arrow signature pass — the kernel is
    row-wise, so a filtered slice of a batch kernel is bit-identical to
    recomputing it over the slice.
    """
    from stream_sentinel_spark.operators.similarity import _merge_bandstats
    from stream_sentinel_spark.sources.bucketing import write_bucketed

    spark = new.sparkSession
    if meta is None:
        meta = spark.table(f"{table}_meta").head()
    if kernel is None:
        kernel = _kernel_frame(new, id_col, text_col, meta.n, meta.num_hashes)
    band_keys = (
        _banded_keys(kernel.select("id", "sig"), meta.num_hashes, meta.bands)
        .withColumnRenamed("id", "old_id")
    )
    # align=True: appends repartition the (batch-sized) frame onto the
    # bucket layout, so each append adds ≤1 file per bucket instead of
    # tasks×buckets — per-append file count IS the loop's measured cost
    # drift (STRESS_r06_append.json), so this stretches the compaction
    # cadence ~tasks× for one cheap batch-sized shuffle
    write_bucketed(
        band_keys, f"{table}_bands", ["band", "bucket"], meta.num_buckets,
        mode="append", align=True,
    )
    _merge_bandstats(
        spark, f"{table}_bandstats", ["band", "bucket"],
        band_keys.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("_na")),
    )
    write_bucketed(
        kernel.select(F.col("id").alias("old_id"), "codes", "sz"),
        f"{table}_verify", ["old_id"], meta.num_buckets, mode="append",
        align=True,
    )


def compact_minhash_index(
    spark, table: str, paths: dict[str, str] | None = None
) -> dict:
    """Rewrite the grow-by-append index tables into one file per bucket
    (:func:`~stream_sentinel_spark.sources.bucketing.compact_bucketed_rotating`
    — Exchange-free: bucketed scan in, bucketed write out, each task
    rewrites its own bucket). Run periodically in the ingest loop:
    every append adds a file per bucket, and the per-batch MATCH cost
    drifts up with accumulated file count — not index size
    (STRESS_r06_append.json measures the drift and the reset).
    Match results are bit-identical before/after (pinned in
    tests/test_minhash_index.py). Returns per-table file counts.

    An index built with ``base_path=...`` (EXTERNAL tables) keeps its
    externality: each table compacts into a versioned sibling of its
    current location (``…/bands`` → ``…/bands__c1`` → ``__c2`` …) and
    the superseded directory is deleted after the swap — it is neither
    silently relocated into the managed warehouse nor left leaking the
    old files. ``paths`` overrides the target location per table name
    (``{f"{table}_bands": "...", f"{table}_verify": "..."}``)."""
    from stream_sentinel_spark.operators.similarity import _compact_bandstats
    from stream_sentinel_spark.sources.bucketing import compact_bucketed_rotating

    meta = spark.table(f"{table}_meta").head()
    paths = paths or {}
    out = {
        f"{table}_bands": compact_bucketed_rotating(
            spark, f"{table}_bands", ["band", "bucket"], meta.num_buckets,
            path=paths.get(f"{table}_bands"),
        ),
        f"{table}_verify": compact_bucketed_rotating(
            spark, f"{table}_verify", ["old_id"], meta.num_buckets,
            path=paths.get(f"{table}_verify"),
        ),
    }
    # the stats append-log re-aggregates to one row per key on the same
    # cadence (appends only ever add delta rows — see _merge_bandstats)
    _compact_bandstats(spark, f"{table}_bandstats", ["band", "bucket"])
    return out


def match_minhash_index(
    spark,
    new: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    cutoff: int | None = None,
    *,
    meta=None,
    kernel: DataFrame | None = None,
    prod_bound: int | None = None,
    regime: VerifyRegime | None = None,
) -> DataFrame:
    """Match an incoming batch of documents against a stored
    :func:`build_minhash_index` — the same output contract as
    :func:`incremental_neardups` ((new_id, n_matches, best_jaccard,
    first_match); unmatched new docs absent) and bit-equal values
    (pinned in tests/test_minhash_index.py). Signatures, shingle codes,
    band keys and bucket counts come from the index tables; the match
    reads the corpus through two scans: the bucketed band keys for the
    candidates and ``{table}_verify`` for the a side of the verify (the
    b side reads the batch alone). Same disjoint-id-space precondition
    as the one-shot path.

    Called alone, the match also runs probes before it: the hot-bucket
    probe (:func:`_hot_salted_pair_join`) aggregates the stored bucket
    counts, and the verify-regime probes (:func:`_adaptive_verify`)
    count and collect over the whole verify table. An ingest loop
    skips them with loop-scoped state, valid while it is the index's
    single writer (the manifest protocol's assumption):

    - ``prod_bound``: an upper bound on every bucket's n_a·n_b — the
      loop's bound on the largest stored bucket count (read once,
      raised by each append's accepted rows, since a doc adds at most
      one row per (band, bucket)) times the batch's row count. Within
      cutoff² the plain plan is taken with no probe job.
    - ``regime``: the loop's :class:`VerifyRegime`; once it records
      array-intersect, the verify probes do not run again.

    Neither changes a value: both only pick among plans that compute
    the same rows.

    ``meta`` / ``kernel``: same contract as
    :func:`append_minhash_index` — a precomputed meta row and a
    materialized kernel frame over exactly the rows of ``new`` skip the
    per-call meta read and the signature pass (the ingest loop computes
    one kernel per epoch and feeds each stage a slice of it)."""
    from stream_sentinel_spark.operators.similarity import _read_bandstats
    from stream_sentinel_spark.sources.bucketing import bucketed

    if meta is None:
        meta = spark.table(f"{table}_meta").head()
    new_kernel = (
        kernel
        if kernel is not None
        else _kernel_frame(new, id_col, text_col, meta.n, meta.num_hashes)
    )
    kwargs = {} if cutoff is None else {"cutoff": cutoff}
    cands = _hot_salted_pair_join(
        bucketed(spark, f"{table}_bands").withColumnRenamed("old_id", "id"),
        _banded_keys(new_kernel.select("id", "sig"), meta.num_hashes, meta.bands),
        ["band", "bucket"],
        na=_read_bandstats(spark, f"{table}_bandstats", ["band", "bucket"]),
        prod_bound=prod_bound,
        **kwargs,
    ).distinct()
    pairs = _adaptive_verify(
        cands,
        spark.table(f"{table}_verify").withColumnRenamed("old_id", "id"),
        threshold,
        b_docs=new_kernel.select("id", "codes", "sz"),
        regime=regime,
    )
    return pairs.groupBy(F.col("b_id").alias("new_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("jaccard").alias("best_jaccard"),
        F.min("a_id").alias("first_match"),
    )
