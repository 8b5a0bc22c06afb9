"""Deduplication operators: exact, latest-per-key, fingerprint,
n-gram Jaccard, MinHash-LSH, SimHash.

Reference parity: latest-per-key dedup (reference:
src/batch_clean_historical.py:34-37, row_number over id ordered by
created_at desc_nulls_last). The near-dup family is the north-star
extension set (BASELINE.json) for training-data pipelines.

Scale design (100 TB):
- exact/fingerprint: hash-shuffle on the dedup key only; map-side
  partial aggregation keeps the shuffle at one row per key per task.
- n-gram Jaccard is exact but O(sum of postings^2) in the worst case —
  it is the *verifier*; MinHash-LSH is the *candidate generator* whose
  shuffle is one row per (band, signature) — this is the 100 TB path.
- All hashing is deterministic (xxhash64 + fixed universal-hash
  parameters), so reruns and stream/batch agree.
- Cache lifecycle: operators cache the derived tables their self-joins
  read on both sides (signatures, prefixes, shingle arrays) and hand
  the caller a lazy DataFrame, so they cannot unpersist themselves.
  The storage level is the default MEMORY_AND_DISK — eviction is safe
  (Spark recomputes), so long-lived sessions degrade to recompute, not
  failure; a job that loops over many corpora (e.g. the scale-stress
  harness) can call spark.catalog.clearCache() between units.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from projet_5spar_sparkstreaming_spark.functions.textstats import tokens
from projet_5spar_sparkstreaming_spark.functions.textstats import doc_fingerprint
from projet_5spar_sparkstreaming_spark.operators import stored_index as si

# Deterministic salt per hash function: h_i(x) = xxhash64(x XOR salt_i).
# XOR-salted re-hashing gives an independent-enough family without the
# modular multiplication that overflows int64 under ANSI mode.
_rng = random.Random(42)
_HASH_SALTS: list[int] = [_rng.getrandbits(63) for _ in range(256)]


def exact_dedup(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Exact duplicate removal — hash-shuffle on ``subset``.

    For wide payloads prefer ``fingerprint_dedup`` (shuffles a 32-byte
    digest instead of the full row content).
    """
    return df.dropDuplicates(list(subset) if subset else None)


def latest_per_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_col: str,
    tie_break: Sequence[str] = (),
) -> DataFrame:
    """Keep the newest row per key, nulls losing (reference W1 semantics:
    row_number over partitionBy(id) orderBy(created_at desc_nulls_last),
    src/batch_clean_historical.py:34-37). ``tie_break`` columns make the
    pick deterministic when order values collide.
    """
    order = [F.col(order_col).desc_nulls_last()] + [F.col(c).asc() for c in tie_break]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def fingerprint_dedup(
    df: DataFrame, text_col: str, keep_by: str | None = None
) -> DataFrame:
    """Near-exact dedup on the normalization fingerprint
    (case/punctuation/whitespace-insensitive). Keeps the row with the
    minimum ``keep_by`` value per fingerprint group (deterministic),
    or an arbitrary row when ``keep_by`` is None.

    The fingerprint comes from the Arrow scan kernel
    (``textstats.score_rows``, row-identical to ``doc_fingerprint`` —
    the interpreted ``[^a-z0-9\\s]`` replace costs ~140ns/char and
    dominated cold corpus scans at the 500k+ tiers).

    Shuffle shape: the window shuffles full rows KEYED by the 32-byte
    digest. When the payload is wide AND rows carry a unique id (the
    doc-corpus contract), prefer the narrow recipe in
    ``plans.corpus.curate_corpus``: derive loser ids from an
    (id, fingerprint)-only branch and anti-join them — the payload
    never shuffles. This generic operator can't assume id uniqueness,
    so it keeps the single-shuffle window form.
    """
    from projet_5spar_sparkstreaming_spark.functions.textstats import score_rows

    with_fp = score_rows(
        df, text_col, n_tokens_col="__sr_nt", n_alpha_col="__sr_na", fp_col="__fp"
    ).drop("__sr_nt", "__sr_na")
    if keep_by is None:
        return with_fp.dropDuplicates(["__fp"]).drop("__fp")
    w = Window.partitionBy("__fp").orderBy(F.col(keep_by).asc_nulls_last())
    return (
        with_fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__fp")
    )


# ---------------------------------------------------------------------------
# Shingling helpers (shared by Jaccard / MinHash / SimHash)
# ---------------------------------------------------------------------------


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string>.

    Built as a zip_with chain over n shifted slices — O(L) per document.
    (A transform over per-index slice() calls is O(L*n) array allocations
    in Spark's interpreted higher-order-function evaluator — measurably
    slower on long documents.)
    """
    toks = tokens(col)
    if n == 1:
        # same empty-doc convention as every other shingle path (one
        # '' shingle, matching the SQL-oracle expression); NULL stays
        # NULL via the otherwise branch
        return F.array_distinct(
            F.when(F.size(toks) == 0, F.array(F.lit(""))).otherwise(toks)
        )
    m = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    grams = F.slice(toks, 1, m)
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, m)
        grams = F.zip_with(
            grams, shifted, lambda g, t: F.concat_ws(" ", g, t)
        )
    # Short docs (< n tokens): one truncated shingle (concat of all
    # tokens) — zip_with pads the short side with null, which concat_ws
    # skips, so the chain degrades to exactly that. Empty docs keep a
    # single '' shingle (parity with the SQL-oracle shingle expression).
    return F.array_distinct(
        F.when(F.size(toks) == 0, F.array(F.lit(""))).otherwise(grams)
    )


def _shingle_hashes(col: Column | str, n: int) -> Column:
    """Distinct shingle -> signed 64-bit hash: xxhash64 over each
    n-token SLICE of the token array (xxhash64 hashes array elements
    natively). Partitions documents' shingle sets identically to
    hashing the concatenated shingle STRINGS (collision odds aside —
    both are 64-bit), but never materializes the O(L) ~20-byte shingle
    strings. Consumers compare/set-intersect hashes only, so the hash
    family is an internal detail; the SQL oracles compute Jaccard over
    shingle strings and agree on the VALUES.

    Deliberately ONE transform+slice, not a chain of n-1 zip_with
    combines: the chained form's expression tree grows with n and its
    Catalyst ANALYSIS cost (paid on every plan construction, cache hit
    or not) reached seconds at n=13; this tree is constant-size in n.
    Short docs (< n tokens) degrade to a single truncated shingle (the
    slice returns the available tokens); empty docs keep one ''-element
    shingle — both matching the SQL-oracle shingle expression.

    The token array is BOUND to a lambda variable via a one-element
    outer transform before the inner per-shingle transform touches it:
    a captured non-trivial expression (the tokenizer regex) is
    re-evaluated on every lambda invocation otherwise — measured 5x
    slower on the n=13 path (3.2s -> 0.6s at sf0.1).
    """

    def over_tokens(tk: Column) -> Column:
        m = F.greatest(F.size(tk) - (n - 1), F.lit(1))
        grams = F.transform(
            F.sequence(F.lit(1), m), lambda i: F.xxhash64(F.slice(tk, i, n))
        )
        empty = F.array(F.xxhash64(F.array(F.lit(""))))
        # NULL text stays NULL (size(NULL) matches neither branch's
        # guard, but greatest(NULL-. , 1) would otherwise fabricate one
        # [hash-of-NULL] shingle): NULL-text docs must emit NO shingles
        # — explode drops them from every join, array_intersect stays
        # NULL in verifiers — matching the oracles' unnest(NULL).
        # Without this, any two NULL-text docs become jaccard-1.0 pairs.
        return F.when(
            tk.isNotNull(),
            F.array_distinct(F.when(F.size(tk) == 0, empty).otherwise(grams)),
        )

    return F.transform(F.array(tokens(col)), over_tokens)[0]


# Sampled budget screen (r10 verdict task 3): corpora above MIN_DOCS
# estimate the candidate bound on a ~TARGET_DOCS hash-sample of docs
# first; only the uncertainty band [budget/2, 2*budget] pays the exact
# full-corpus bound. Below MIN_DOCS the exact bound is already cheap.
_BUDGET_SCREEN_MIN_DOCS = 30_000
_BUDGET_SCREEN_TARGET_DOCS = 10_000


def _ppjoin_prefix(sh_like: DataFrame, threshold: float) -> DataFrame:
    """PPJoin prefix rows (__id, __s, __sz, __rn) from a (id, sorted
    shingle array) frame, under the RAREST-FIRST global order
    (ascending document frequency, ties by hash). Any total order
    preserves the prefix-filter guarantee, but frequency order keeps
    common (boilerplate) shingles OUT of the prefixes — measured on the
    test corpus it cuts candidate pairs ~100x vs hash order, which is
    also exactly what bounds the posting-list blowup at 100 TB.

    Document frequency via groupBy (map-side partial agg) + join back,
    NOT a count window over __s: the window shuffles the ENTIRE
    exploded scan by shingle, while the partial agg shuffles only
    per-partition (shingle, count) partials — and the df>1 table it
    yields is small enough to broadcast on moderate corpora (AQE),
    removing the exploded-scan shuffle altogether. At 100 TB the join
    degrades to the same single shuffle-by-__s the window needed, so
    this is never worse.

    The inner join with the df>1 table also DROPS singleton postings
    (df=1) before the rank window — they can never meet another row in
    the prefix equi-join, so this is lossless despite changing ranks:
    removing singletons only moves df>=2 shingles EARLIER in each
    doc's order, so the first-p prefix of the filtered list is a
    superset trap for every colliding shingle the full-list prefix
    guaranteed, and the smaller __rn only LOOSENS (keeps safe) the
    positional upper bound used by the join."""
    exploded = sh_like.select(
        "__id", F.size("__sh").alias("__sz"), F.explode("__sh").alias("__s")
    )
    return _ppjoin_prefix_from_exploded(exploded, threshold)


def _ppjoin_prefix_from_exploded(
    exploded: DataFrame, threshold: float
) -> DataFrame:
    """`_ppjoin_prefix` body over already-exploded (__id, __sz, __s)
    DISTINCT shingle rows — shared by the array-based main pipeline and
    the sampled budget screen, whose rows come from the Arrow
    ``shingle_hash_rows`` kernel (the interpreted HOF shingle
    expression cost the screen ~7s of its measured 12s at the 100k
    adversarial tier, r11)."""
    dfreq = (
        exploded.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > 1)
    )
    rank_w = Window.partitionBy("__id").orderBy("__df", "__s")
    return (
        exploded.join(dfreq, "__s")
        .withColumn("__rn", F.row_number().over(rank_w))
        .filter(
            # required prefix length is |x| - ceil(t*|x|) + 1; the float
            # form floor((1-t)*|x|)+1 can UNDERSHOOT it by 1 when (1-t)
            # rounds down (1.0-0.8 = 0.1999...96 -> floor(10*0.1999...)
            # = 1, dropping a J=0.8 boundary pair). The epsilon makes
            # the length err only on the safe (longer) side. __sz stays
            # the FULL shingle-set size — the prefix-length bound is
            # defined against it, not the singleton-free list length.
            F.col("__rn")
            <= F.floor(F.col("__sz") * (1.0 - threshold) + 1e-9).cast("int") + 1
        )
        .select("__id", "__s", "__sz", "__rn")
    )


def _ppjoin_candidate_bound(prefix_df: DataFrame) -> int:
    """Upper bound on the prefix equi-join's raw output: a prefix
    shingle with a posting list of length k emits at most C(k,2)
    candidates. One narrow aggregation over (shingle) — ids and sizes
    never ride it."""
    est_row = (
        prefix_df.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__k"))
        .agg(
            F.sum(
                F.col("__k").cast("double")
                * (F.col("__k") - F.lit(1)).cast("double")
                / F.lit(2.0)
            ).alias("__est")
        )
        .collect()[0]
    )
    return int(est_row["__est"] or 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_candidate_pairs: int | str | None = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: (id_a, id_b, jaccard).

    Prefix-filtered similarity self-join (the PPJoin family, public
    literature): under a global shingle order, two sets with Jaccard >=
    t must collide within their first ``floor((1-t)*|A|)+1`` shingles —
    so only that prefix is indexed/exploded. Candidates from the prefix
    equi-join are verified exactly with array_intersect on the full
    shingle arrays. Versus a full inverted-index join this cuts the
    posting lists ~1/(1-t)x and the candidate pairs quadratically —
    the property that keeps the join feasible at 100 TB; the naive
    exploded self-join melts down on skewed (boilerplate) shingles.

    Scale boundary (measured, SCALE.md): candidate count is quadratic
    in per-shingle posting-list length, so corpora with large
    structural near-miss groups (many sub-threshold twins sharing rare
    shingles) degrade this exact join. Beyond ~10M docs — or when twin
    structure is suspected — generate candidates with
    ``minhash_near_dup_pairs`` and use this only as the exact verifier.

    ``max_candidate_pairs`` is the budget that makes that boundary
    ENFORCED instead of advisory: before the self-join runs, the
    candidate volume is upper-bounded from the prefix index's posting
    lists (sum of C(len,2) over prefix shingles — one narrow
    aggregation whose action also warms the prefix cache the join
    reuses, so the happy path pays only the collect latency). Over
    budget raises RuntimeError naming the measured bound and the
    generate-then-verify recipe (``minhash_near_dup_pairs(...,
    verify=False)`` + ``verify_pairs_exact``) — on adversarial/
    boilerplate corpora an unbudgeted exact join burns its runtime to
    return nothing, and at 100 TB such structure is a certainty.
    The default ``"auto"`` budget is RELATIVE — ``1M + 64 x n_docs``
    candidate pairs — because the honest-corpus bound is linear in the
    corpus (measured ~25 bound-pairs/doc on the test tables at every
    sf) while twin/boilerplate structure is an order of magnitude
    denser (~340/doc on the committed adversarial corpus, which an
    absolute cap sized for big corpora would wave through at small n).
    Pass an int for an absolute cap, ``None`` to disable (exact
    legacy behavior).
    """
    # Shingles are hashed to int64 up front: the prefix index, join keys
    # and verification intersect then work on fixed-width ints instead of
    # ~20-byte strings (smaller shuffle, faster sort/intersect). A 64-bit
    # collision within one near-dup candidate pair is ~2^-64 — the
    # Jaccard value is exact for all practical purposes. r14: the
    # arrays come from the Arrow kernel (_shingle_arrays; JVM-HOF
    # fallback without numpy) — the interpreted HOF shingler was the
    # dominant per-doc scan cost (the decon path's identical swap
    # measured ~6x on a 5M-doc scan, SCALE_STRESS_r08); hash family is
    # internal (both join sides and the verify intersect come from the
    # same kernel, and jaccard counts are family-independent).
    # the budget fence's corpus count (already needed below) doubles as
    # the Arrow-vs-HOF shingler dispatch signal — no extra job; with
    # the fence disabled the dispatcher probes plan stats instead
    n_docs = df.count() if max_candidate_pairs is not None else None
    sh = _shingle_arrays(df, id_col, text_col, n, n_rows=n_docs).cache()
    # ^ reused by the prefix index and both sides of verification
    # PPJoin prefix under the RAREST-FIRST global order — see
    # _ppjoin_prefix (shared with the sampled budget screen).
    prefix = (
        _ppjoin_prefix(sh, threshold)
        # cached: the self-join needs the prefix on BOTH sides, and when
        # the join goes broadcast (AQE, small corpora) the broadcast side
        # is a separate physical subtree — without the cache the whole
        # two-window prefix pipeline executes twice. (Under sort-merge at
        # scale, ReusedExchange would dedup it; the cache makes the reuse
        # unconditional and is ~(1-t) of the exploded scan in size.)
        .cache()
    )
    if max_candidate_pairs is not None:
        # Two-phase budget check (r10 verdict task 3). The exact bound
        # (sum of C(k,2) over the prefix posting lists) runs the FULL
        # prefix pipeline just to decide trip/no-trip — 15.2 s at 100k
        # adversarial docs in r10. The bound only needs one significant
        # figure, so phase 1 computes the same statistic on a
        # deterministic hash-sample of the DOCS and rescales: a posting
        # list of length k samples to k' ~ Binomial(k, 1/m), and
        # E[C(k',2)] = C(k,2)/m^2 exactly, so sampled_sum * m^2 is an
        # UNBIASED estimate whose concentration is tightest precisely
        # on the adversarial structures (large k) the budget exists to
        # catch. Decisions: > 2x budget -> trip on the sample (the
        # sample pipeline never shingles the full corpus, so the trip
        # costs ~1/m of the old bound); < budget/2 -> proceed with no
        # exact bound (the happy path pays only the sampled pipeline);
        # the band between runs the exact bound as before, so
        # borderline corpora get the identical decision.
        # (n_docs counted above, before the shingler dispatch)
        budget = (
            1_000_000 + 64 * n_docs
            if max_candidate_pairs == "auto"
            else int(max_candidate_pairs)
        )
        decided = False
        if n_docs > _BUDGET_SCREEN_MIN_DOCS:
            m = max(2, round(n_docs / _BUDGET_SCREEN_TARGET_DOCS))
            # Arrow shingle kernel, not the interpreted HOF expression:
            # the screen's whole point is to be ~1/m of the exact
            # bound's cost, and the HOF shingling alone was ~60% of the
            # measured screen wall at the 100k adversarial tier (r11).
            # Posting-list lengths are hash-family-independent (both
            # shinglers tokenize identically), so the estimate's
            # statistic is unchanged. The per-doc size rides a window
            # count over the same __id partitioning the prefix rank
            # reuses.
            ex = shingle_hash_rows(
                df.filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)) == 0),
                id_col,
                text_col,
                n,
            ).dropDuplicates(["__id", "__s"])
            exploded = ex.withColumn(
                "__sz", F.count(F.lit(1)).over(Window.partitionBy("__id"))
            )
            est_s = _ppjoin_candidate_bound(
                _ppjoin_prefix_from_exploded(exploded, threshold)
            ) * m * m
            if est_s > 2 * budget:
                sh.unpersist()
                prefix.unpersist()
                raise RuntimeError(
                    f"ngram_jaccard_pairs candidate budget exceeded: a "
                    f"1/{m} doc sample of the prefix posting lists "
                    f"bounds the candidate join at ~{est_s:,} pairs "
                    f"(budget {budget:,}, max_candidate_pairs="
                    f"{max_candidate_pairs!r}). The corpus has large "
                    "near-miss groups sharing rare shingles (boilerplate/"
                    "twin structure) — the regime where an exact prefix "
                    "join goes quadratic. Generate candidates with "
                    "minhash_near_dup_pairs(..., verify=False) and verify "
                    "them exactly with verify_pairs_exact, or raise/"
                    "disable max_candidate_pairs to force the exact join."
                )
            decided = est_s < budget // 2
        if not decided:
            # Exact bound on the NARROW posting stream (ids and sizes
            # never ride this agg). The action that collects it is also
            # the first action over ``prefix``, so it materializes the
            # cache the self-join reads — this path pays one driver
            # round-trip, not a second pipeline execution.
            est = _ppjoin_candidate_bound(prefix)
            if est > budget:
                sh.unpersist()
                prefix.unpersist()
                raise RuntimeError(
                    f"ngram_jaccard_pairs candidate budget exceeded: prefix "
                    f"posting lists bound the candidate join at ~{est:,} pairs "
                    f"(budget {budget:,}, max_candidate_pairs="
                    f"{max_candidate_pairs!r}). The corpus has large near-miss "
                    "groups sharing rare shingles (boilerplate/twin structure) "
                    "— the regime where an exact prefix join goes quadratic. "
                    "Generate candidates with minhash_near_dup_pairs(..., "
                    "verify=False) and verify them exactly with "
                    "verify_pairs_exact, or raise/disable max_candidate_pairs "
                    "to force the exact join."
                )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # Full PPJoin pruning at the equi-join, BEFORE the dedup shuffle and
    # the array-carrying verification joins (both provably lossless):
    #  - SIZE filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
    #    (intersection <= min, union >= max), so length-incompatible
    #    prefix collisions are dropped outright.
    #  - POSITIONAL filter: a collision on A's rn_a-th / B's rn_b-th
    #    prefix element (1-based, global order) caps the overlap at
    #    1 + min(|A|-rn_a, |B|-rn_b); J >= t needs overlap >=
    #    t/(1+t) * (|A|+|B|). Epsilons err on the keep side only.
    # Measured at sf0.1 these cut candidates 9.2x (118,850 -> 12,884 for
    # 256 true pairs), which is what bounds the verify-join shuffle at
    # 100 TB where candidate volume, not the prefix scan, dominates.
    overlap_req = (threshold / (1.0 + threshold)) * (
        F.col("a.__sz") + F.col("b.__sz")
    ) - 1e-9
    pos_ubound = 1 + F.least(
        F.col("a.__sz") - F.col("a.__rn"), F.col("b.__sz") - F.col("b.__rn")
    )
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.least(F.col("a.__sz"), F.col("b.__sz"))
                >= threshold * F.greatest(F.col("a.__sz"), F.col("b.__sz")) - 1e-9
            )
            & (pos_ubound >= overlap_req),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
    )
    # The verify joins read the CACHED sh directly: at this operator's
    # documented scale (<~10M docs; beyond that, generate candidates
    # with minhash and verify via verify_pairs_exact) the joined output
    # stays broadcastable and an id-reduction's extra blocking stages
    # (measured +1s at sf0.1) buy nothing. verify_pairs_exact carries
    # the semi-join reduction for the corpus sizes where the probe side
    # would otherwise sort-merge-shuffle every doc's shingle array.
    sa = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"))
    sb = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb"))
    # Candidates are verified WITHOUT a prior dedup exchange: with the
    # size+positional filters the duplicate-collision factor is ~1.1x
    # (14,258 raw vs 12,884 distinct at sf0.1, bounded by prefix length),
    # so re-verifying the few dups is far cheaper than shuffling the
    # whole candidate set; the output dedup runs on true pairs only.
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__common", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.size("__sha") + F.size("__shb") - F.col("__common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).dropDuplicates(["id_a", "id_b"])


def ngram_overlap_join(
    evals: DataFrame,
    train: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Benchmark DECONTAMINATION stats: for every document in ``evals``,
    how much of it already appears verbatim in ``train`` — measured as
    the fraction of its distinct n-gram shingles (n=13 is the published
    GPT-3 convention) that occur anywhere in the training corpus.

    Returns (doc_id, n_shingles, n_contaminated, contamination_rate,
    flagged) with one row per eval doc, zero-contamination docs
    included; ``flagged`` is true when any shingle collides.

    Plan shape at 100 TB: the BENCH side's distinct shingle set is
    small and fixed (a benchmark suite), so it broadcasts; the training
    corpus is scanned once and semi-join-FILTERED map-side against
    that broadcast before anything shuffles — the only exchange the
    100 TB side ever pays carries the colliding shingles (O(overlap),
    typically a vanishing fraction), not the corpus's full shingle
    multiset. Measured at the 500k-doc tier this replaced a
    train-sized distinct shuffle with a kilobyte-scale one (SCALE.md
    decontamination curve). Both sides' shingle hashes come from the
    Arrow-vectorized ``shingle_hash_rows`` (one consistent hash
    family): the corpus scan is the whole cost at scale, and the
    interpreted JVM shingle expression this replaced multiplied it
    ~10x (260s -> ~40s on a 5M-doc corpus, SCALE_STRESS_r08).
    """
    ev_ids = evals.select(F.col(id_col).alias("doc_id"))
    # tiny benchmark side: per-doc DISTINCT shingle rows, reused for
    # the broadcast probe set, per-doc sizes and the hit counts.
    # r15 (r14 verdict task 3): the cached table is hash-partitioned by
    # doc_id ALONE — hash(doc_id) satisfies the dedup's clustered
    # distribution on (doc_id, __s) for free (same key subset), and the
    # TWO downstream groupBy(doc_id) aggregations (sizes, hits) then
    # reuse the cached layout instead of each paying its own re-shuffle
    # of the same rows: 13 -> 10 exchanges in the executed plan.
    ev_sh = (
        shingle_hash_rows(evals, id_col, text_col, n)
        .withColumnRenamed("__id", "doc_id")
        .repartition("doc_id")
        .dropDuplicates(["doc_id", "__s"])
        .cache()
    )
    # broadcast probe set: NOT distinct'd — a LeftSemi's broadcast build
    # is a hash set, duplicate keys change nothing, and the distinct
    # paid a full (__s)-keyed exchange for rows that are already nearly
    # unique (r15, exchange #2 of the three removed)
    ev_set = ev_sh.select("__s")
    # corpus side: scan -> broadcast semi-join (map-side, no shuffle of
    # train shingles) -> distinct over the O(overlap) survivors only
    tr_s = (
        shingle_hash_rows(train, id_col, text_col, n)
        .join(F.broadcast(ev_set), "__s", "left_semi")
        .groupBy("__s")
        .agg(F.lit(1))
        .select("__s")
    )
    hits = (
        ev_sh.join(F.broadcast(tr_s), "__s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    sizes = ev_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    # NULL-text eval docs have no shingle rows: the left joins keep
    # their row with n_shingles NULL / n_contaminated 0 / rate NULL /
    # flagged false — same shape as the old size(NULL-array) path
    return (
        ev_ids.join(sizes, "doc_id", "left")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_contaminated"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.round(
                F.coalesce(F.col("n_contaminated"), F.lit(0))
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("contamination_rate"),
            (F.coalesce(F.col("n_contaminated"), F.lit(0)) > 0).alias("flagged"),
        )
    )


def ngram_jaccard_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ACROSS two document sets —
    (id_a from ``left``, id_b from ``right``, jaccard >= threshold).

    The INCREMENTAL dedup shape: dedupe a new crawl batch against the
    already-indexed corpus without paying index×index (the dominant
    cost — the index is the 100 TB side) or batch×batch work; the only
    join is new-prefix × index-prefix. PPJoin prefix filtering holds
    across two sets provided both take their prefixes under ONE shared
    global order, so document frequency is computed over the UNION of
    both sides (groupBy over the shared exploded scan). Shingles
    with union-df 1 exist on one side only and are dropped from the
    prefixes (no cross match possible).
    """
    # r14: size-dispatched shingler, decided ONCE for both sides (the
    # union-df global order and the cross joins need one hash family);
    # the index side is the scale axis, so its plan-stats estimate
    # drives the verdict — see _shingle_arrays
    big = max(
        _plan_bytes_est(right) or 0, _plan_bytes_est(left) or 0
    ) >= _ARROW_SHINGLE_MIN_BYTES
    shl = _shingle_arrays(left, id_col, text_col, n, use_arrow=big).cache()
    shr = _shingle_arrays(right, id_col, text_col, n, use_arrow=big).cache()
    exploded = shl.withColumn("__side", F.lit("L")).unionByName(
        shr.withColumn("__side", F.lit("R"))
    ).select(
        "__side", "__id", F.size("__sh").alias("__sz"), F.explode("__sh").alias("__s")
    )
    # union-df via groupBy partial agg + join, singleton-drop before the
    # rank window: both lossless, see ngram_jaccard_pairs
    dfreq = (
        exploded.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > 1)
    )
    rank_w = Window.partitionBy("__side", "__id").orderBy("__df", "__s")
    prefix = (
        exploded.join(dfreq, "__s")
        .withColumn("__rn", F.row_number().over(rank_w))
        .filter(
            F.col("__rn")
            <= F.floor(F.col("__sz") * (1.0 - threshold) + 1e-9).cast("int") + 1
        )
        .select("__side", "__id", "__s", "__sz", "__rn")
        # cached: L and R sides below filter the SAME windowed pipeline;
        # without the cache each side re-executes it (see the self-join
        # note in ngram_jaccard_pairs)
        .cache()
    )
    a = prefix.filter(F.col("__side") == "L").select(
        F.col("__id").alias("id_a"),
        "__s",
        F.col("__sz").alias("__sza"),
        F.col("__rn").alias("__rna"),
    )
    b = prefix.filter(F.col("__side") == "R").select(
        F.col("__id").alias("id_b"),
        "__s",
        F.col("__sz").alias("__szb"),
        F.col("__rn").alias("__rnb"),
    )
    # PPJoin size + positional pruning at the join (lossless; see
    # ngram_jaccard_pairs) — cuts candidate volume before the dedup
    # shuffle and the array-carrying verify joins. No id_a != id_b
    # filter: the sides are DIFFERENT corpora, so equal ids are a
    # legitimate cross-set match (e.g. a re-crawled doc keeping its id)
    # — filtering them would silently drop real near-dup pairs.
    cand = (
        a.join(b, "__s")
        .filter(
            F.least(F.col("__sza"), F.col("__szb"))
            >= threshold * F.greatest(F.col("__sza"), F.col("__szb")) - 1e-9
        )
        .filter(
            1
            + F.least(
                F.col("__sza") - F.col("__rna"), F.col("__szb") - F.col("__rnb")
            )
            >= (threshold / (1.0 + threshold)) * (F.col("__sza") + F.col("__szb"))
            - 1e-9
        )
        .select("id_a", "id_b")
    )
    # verify joins read the cached side tables directly — see the
    # scale note in ngram_jaccard_pairs
    sa = shl.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"))
    sb = shr.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb"))
    # dup-collision candidates verified as-is, distinct applied on the
    # (tiny) verified output — see ngram_jaccard_pairs
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__common", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.size("__sha") + F.size("__shb") - F.col("__common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """DIRECTIONAL near-dup pairs: C(A,B) = |A∩B| / |A| >= threshold —
    i.e. almost all of A's shingles appear in B. Catches inclusion
    duplicates Jaccard misses (a doc quoted inside a longer one,
    boilerplate-wrapped copies) where the size imbalance caps Jaccard
    at |A|/|B|.

    Plan: probe side A explodes only its rarest-first PPJoin prefix
    (C >= t means at most floor((1-t)|A|) of A's shingles are missing
    from B, so A's first floor((1-t)|A|)+1 under any global order must
    hit B); index side B posts all shingles, but candidates only form
    on A's RARE prefix entries, keeping posting lists short. Exact
    verification on candidates. Returns (id_a, id_b, containment)
    with id_a the contained doc; excludes self-pairs.
    """
    # r14: Arrow shingle kernel (see ngram_jaccard_pairs) — the
    # containment values |A∩B|/|A| are hash-family-independent
    sh = _shingle_arrays(df, id_col, text_col, n).cache()
    exploded = sh.select(
        "__id", F.size("__sh").alias("__sz"), F.explode("__sh").alias("__s")
    )
    # df via groupBy partial agg + join back; the inner join with the
    # df>1 table drops singletons (only self-matches) before the rank
    # window — both lossless, see ngram_jaccard_pairs
    dfreq = (
        exploded.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > 1)
    )
    rank_w = Window.partitionBy("__id").orderBy("__df", "__s")
    prefix_a = (
        exploded.join(dfreq, "__s")
        .withColumn("__rn", F.row_number().over(rank_w))
        .filter(
            # epsilon: see ngram_jaccard_pairs — float (1-t) must not
            # shorten the required prefix
            F.col("__rn")
            <= F.floor(F.col("__sz") * (1.0 - threshold) + 1e-9).cast("int") + 1
        )
        .select(F.col("__id").alias("id_a"), "__s", "__sz", "__rn")
    )
    posts_b = sh.select(
        F.col("__id").alias("id_b"),
        F.size("__sh").alias("__szb"),
        F.explode("__sh").alias("__s"),
    )
    # Lossless pruning at the join (PPJoin-style, adapted to the
    # directional overlap |A∩B| >= t|A|): a collision on A's rn-th
    # prefix element caps the overlap at min(1 + |A| - rn, |B|), so
    # candidates that cannot reach t|A| are dropped before the dedup
    # shuffle and verify joins. Epsilon errs on the keep side.
    cand = (
        prefix_a.join(posts_b, "__s")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(
            F.least(1 + F.col("__sz") - F.col("__rn"), F.col("__szb"))
            >= threshold * F.col("__sz") - 1e-9
        )
        .select("id_a", "id_b")
    )
    # verify joins read the cached sh directly — see the scale note in
    # ngram_jaccard_pairs
    sa = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"))
    sb = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb"))
    # dup-collision candidates verified as-is, distinct applied on the
    # (tiny) verified output — see ngram_jaccard_pairs
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("__sha", "__shb"))
            / F.size("__sha").cast("double"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_signature(col: Column | str, n: int = 3, num_hashes: int = 64) -> Column:
    """MinHash signature (array<bigint>, length num_hashes) of a text's
    n-gram shingle set: min over shingles of xxhash64(h XOR salt_i) per
    hash function i. XOR + re-hash never overflows (ANSI-safe).

    One nested transform over a salt literal array — a single compact
    expression instead of num_hashes separate aggregate branches (which
    bloat analysis/codegen time). The shingle array is BOUND to a lambda
    variable via a one-element outer transform first: a captured
    expression is re-evaluated on every lambda invocation, which here
    would recompute the whole shingle scan once per salt (64x).
    """
    salts = F.array(*[F.lit(s) for s in _HASH_SALTS[:num_hashes]])

    def over_hashes(hashes: Column) -> Column:
        return F.transform(
            salts,
            lambda salt: F.array_min(
                F.transform(hashes, lambda h: F.xxhash64(h.bitwiseXOR(salt)))
            ),
        )

    return F.transform(F.array(_shingle_hashes(col, n)), over_hashes)[0]


def _parallel_actions(*thunks) -> None:
    """Run independent Spark ACTIONS concurrently from driver threads
    (guide §2.6 — actions are only sequential because driver code calls
    them sequentially; FIFO scheduling back-fills each job's stage
    tails with the other's tasks). The first thunk runs on the calling
    thread; the rest on ``InheritableThread``s (JVM thread-locals —
    job descriptions/groups — inherited and cleaned up). All thunks
    complete before returning; the first failure is re-raised, so
    callers' crash/replay semantics are unchanged."""
    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def _run(fn) -> None:
        try:
            fn()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errs.append(e)

    threads = [
        InheritableThread(target=_run, args=(t,)) for t in thunks[1:]
    ]
    for t in threads:
        t.start()
    _run(thunks[0])
    for t in threads:
        t.join()
    if errs:
        raise errs[0]


def _ensure_min_parallelism(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition a NARROW input up to half the session's parallelism
    before an Arrow/python stage. Small test files arrive as 1 scan
    partition, which would serialize the whole python stage on one
    core; at scale inputs already carry >= cores partitions and this is
    a no-op. Half (not full) parallelism because each Arrow task pays a
    python-worker round-trip — on small inputs, fewer/larger batches
    measurably beat core-count slivers (0.31s vs 0.37s for the knn
    matmul at 5k rows), and a lower floor is still fully unserialized.
    """
    target = max(2, df.sparkSession.sparkContext.defaultParallelism // 2)
    if df.rdd.getNumPartitions() * 2 < target:
        return df.repartition(target, key_col)
    return df


def _binary_padded_words(flat, width_bytes: int):
    """(total, width_bytes//8) uint64 word matrix of a pyarrow binary
    array's values, each token truncated/zero-padded to ``width_bytes``
    — built by a vectorized gather over the array's offset/value
    BUFFERS. Byte-identical to the ``to_numpy().astype("S{W}")`` it
    replaces (same truncate/pad layout, same little-endian word view),
    but that path materialized one Python bytes object PER TOKEN
    (~1.5us and ~60B of transient heap each): on a 10k-row batch of
    2,400-token docs that is 24M objects and tens of seconds per task
    — the hash math itself is milliseconds. Returns
    ``(words, lens_int64)``."""
    import numpy as np

    total = len(flat)
    nw = width_bytes // 8
    if total == 0:
        return np.zeros((0, nw), dtype=np.uint64), np.zeros(0, dtype=np.int64)
    off = np.frombuffer(flat.buffers()[1], dtype=np.int32)[
        flat.offset : flat.offset + total + 1
    ].astype(np.int64)
    vbuf = flat.buffers()[2]
    data = np.frombuffer(vbuf, dtype=np.uint8) if vbuf is not None else np.zeros(
        0, dtype=np.uint8
    )
    lens = off[1:] - off[:-1]
    # zero tail so the last tokens' 8-byte windows never run off the
    # buffer (over-read bytes are masked to zero below anyway)
    pad = np.concatenate([data, np.zeros(width_bytes + 8, dtype=np.uint8)])
    win = np.lib.stride_tricks.sliding_window_view(pad, 8)  # O(1) view
    # low-k-bytes masks, little-endian: MASKS[k] keeps bytes [0, k)
    masks = np.zeros(9, dtype=np.uint64)
    for k in range(1, 9):
        masks[k] = (masks[k - 1] << np.uint64(8)) | np.uint64(0xFF)
    words = np.empty((total, nw), dtype=np.uint64)
    starts = off[:-1]
    for j in range(nw):
        # one gather of total x 8 bytes per word — bytes past the
        # token's own length (the zero-pad of the old astype("S{W}"))
        # come from the NEXT token in the value buffer, so mask them
        wj = win[starts + 8 * j].view(np.uint64).ravel()
        k = np.clip(lens - 8 * j, 0, 8)
        words[:, j] = wj & masks[k]
    return words, lens


def _bounded_batch_slices(batch, col_name: str, max_value_bytes: int = 8 << 20):
    """Zero-copy row slices of an Arrow RecordBatch whose ``col_name``
    payload stays under ``max_value_bytes`` per slice. The text kernels'
    numpy temporaries are O(tokens in the batch), so a row-count-bounded
    batch (spark.sql.execution.arrow.maxRecordsPerBatch) of LONG
    documents explodes memory: 10k rows x 2,400 tokens is ~0.5 GB of
    transients per task, and 32 concurrent tasks thrash the allocator
    (measured: the same kernel work runs 10x slower). Payload-bounded
    slices keep per-task transients ~tens of MB regardless of document
    length — the property that must hold for the kernels to be safe on
    a real corpus, where document length is unbounded."""
    n = batch.num_rows
    nbytes = batch.column(batch.schema.get_field_index(col_name)).nbytes
    if n <= 1 or nbytes <= max_value_bytes:
        yield batch
        return
    rows = max(1, int(n * max_value_bytes / nbytes))
    for s in range(0, n, rows):
        yield batch.slice(s, rows)


def _arrow_ngram_hashes(t, n: int):
    """Per-document n-gram hashes for a pyarrow StringArray of texts —
    the shared text front-end of the Arrow signature kernels (minhash,
    simhash): whitespace split (pyarrow C), vectorized 64-bit token
    mixing (first 24 bytes + byte length), windowed n-gram combine with
    zero-padded neighbors at document ends (deterministic under any
    batching — no cross-doc bleed).

    Returns ``(gflat, glens, goffs)``: the concatenated uint64 n-gram
    hashes, per-doc counts (``max(len-(n-1), 1)`` — short docs one
    zero-padded shingle, the empty string one ''-token shingle), and
    per-doc start offsets.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    mix_c = np.array(
        [(0x9E3779B97F4A7C15 * (2 * k + 1)) & 0xFFFFFFFFFFFFFFFF for k in range(n)],
        dtype=np.uint64,
    )
    C2 = np.uint64(0xC2B2AE3D27D4EB4F)
    C3 = np.uint64(0x165667B19E3779F9)
    toks = pc.split_pattern(t, " ")
    lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False).astype(np.int64)
    # cast to binary BEFORE to_numpy: str objects would be ASCII-encoded
    # by astype('S24') and raise UnicodeEncodeError on any non-ASCII
    # token; bytes objects pass through with true byte truncate/zero-pad
    flat = toks.flatten().cast(pa.binary())
    total = len(flat)
    with np.errstate(over="ignore"):
        # buffer-gather word matrix: identical values to the old
        # to_numpy().astype("S24") path without the per-token Python
        # object materialization (see _binary_padded_words)
        w, blens = _binary_padded_words(flat, 24)
        tlen = blens.astype(np.uint64)
        th = (w[:, 0] * mix_c[0]) ^ (w[:, 1] * C2) ^ (w[:, 2] * C3)
        th ^= tlen * C2
        th ^= th >> np.uint64(33)
        th *= C2
        th ^= th >> np.uint64(29)
        starts = np.concatenate([[0], np.cumsum(lens)])[:-1]
        pos = np.arange(total) - np.repeat(starts, lens)
        doc_len = np.repeat(lens, lens)
        gram = th * mix_c[0]
        for k in range(1, n):
            # [:total] guards batches with fewer than n tokens
            shifted = np.concatenate([th[k:], np.zeros(k, dtype=np.uint64)])[:total]
            gram ^= np.where(pos + k < doc_len, shifted, np.uint64(0)) * mix_c[k]
        gram ^= gram >> np.uint64(31)
        gram *= mix_c[0]
        glens = np.maximum(lens - (n - 1), 1)
        goffs = np.concatenate([[0], np.cumsum(glens)])[:-1]
        idx = np.repeat(starts, glens) + (
            np.arange(int(glens.sum())) - np.repeat(goffs, glens)
        )
        gflat = gram[idx]
    return gflat, glens, goffs


# distinct from every token hash (tokens are never empty strings under
# the tokenizer regex): the one shingle a zero-token document emits —
# the Arrow-side analogue of _shingle_hashes' xxhash64(array(''))
_EMPTY_DOC_SHINGLE = 0x9E3779B97F4A7C15


def _token_gram_hashes(toks, n: int):
    """Per-document n-gram hashes for a pyarrow ListArray of TOKEN
    lists (tokenization already done — by the JVM ``tokens()`` regex,
    so the token stream is oracle-parity-exact, unlike
    ``_arrow_ngram_hashes``' whitespace split).

    Token hashes mix ALL bytes (8-byte words up to the batch's max
    token length — no truncation aliasing — with each word round
    masked by the token's own length, so the hash is INDEPENDENT of
    what else shares the batch) plus the byte length; the
    n-gram combine is the same position-salted windowed mix as
    ``_arrow_ngram_hashes``. Counts mirror ``_shingle_hashes``: >= n
    tokens -> len-n+1 grams, 1..n-1 tokens -> ONE truncated gram
    (only real tokens mix — equal iff the token sequences are equal),
    ZERO tokens -> ONE ``_EMPTY_DOC_SHINGLE`` sentinel (all empty docs
    share it, like the oracle's '' shingle). Returns
    ``(gflat, glens, goffs)`` as uint64/int64 numpy arrays.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    mix_c = np.array(
        [(0x9E3779B97F4A7C15 * (2 * k + 1)) & 0xFFFFFFFFFFFFFFFF for k in range(n)],
        dtype=np.uint64,
    )
    C2 = np.uint64(0xC2B2AE3D27D4EB4F)
    C3 = np.uint64(0x165667B19E3779F9)
    lens = pc.list_value_length(toks).to_numpy(zero_copy_only=False).astype(np.int64)
    flat = toks.flatten().cast(pa.binary())
    total = len(flat)
    with np.errstate(over="ignore"):
        if total:
            # words sized to the batch max token length: full-byte
            # hashing with a vectorized per-word Horner loop; the word
            # matrix comes from a buffer gather, never per-token Python
            # objects (see _binary_padded_words)
            blens_i = pc.binary_length(flat).to_numpy(zero_copy_only=False)
            nw = max(1, -(-int(blens_i.max()) // 8))
            w, blens64 = _binary_padded_words(flat, nw * 8)
            blens = blens64
            tlen = blens64.astype(np.uint64)
            th = np.full(total, np.uint64(0x165667B19E3779F9), dtype=np.uint64)
            # mask each word round by the token's OWN length: zero-pad
            # words past the token must not mutate the hash, or the
            # same token hashes differently in batches whose max token
            # length (and hence nw) differs — and the eval/train sides
            # of ngram_overlap_join hash in independent batches
            for j in range(nw):
                th = np.where(j * 8 < blens, (th ^ (w[:, j] * C2)) * C3, th)
            th ^= tlen * C2
            th ^= th >> np.uint64(33)
            th *= C2
            th ^= th >> np.uint64(29)
        else:
            th = np.zeros(0, dtype=np.uint64)
        starts = np.concatenate([[0], np.cumsum(lens)])[:-1]
        pos = np.arange(total) - np.repeat(starts, lens)
        doc_len = np.repeat(lens, lens)
        gram = th * mix_c[0]
        for k in range(1, n):
            shifted = np.concatenate([th[k:], np.zeros(k, dtype=np.uint64)])[:total]
            gram ^= np.where(pos + k < doc_len, shifted, np.uint64(0)) * mix_c[k]
        gram ^= gram >> np.uint64(31)
        gram *= mix_c[0]
        glens = np.maximum(lens - (n - 1), 1)
        goffs = np.concatenate([[0], np.cumsum(glens)])[:-1]
        n_grams = int(glens.sum())
        if total:
            idx = np.repeat(starts, glens) + (
                np.arange(n_grams) - np.repeat(goffs, glens)
            )
            # zero-token docs point at the NEXT doc's first token (or
            # past the end): clip, then overwrite with the sentinel
            gflat = gram[np.minimum(idx, total - 1)]
        else:
            gflat = np.zeros(n_grams, dtype=np.uint64)
        empty_mask = np.repeat(lens == 0, glens)
        if empty_mask.any():
            gflat[empty_mask] = np.uint64(_EMPTY_DOC_SHINGLE)
    return gflat, glens, goffs


def shingle_hash_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    per_doc_distinct: bool = False,
) -> DataFrame:
    """Exploded (``__id``, ``__s``) n-gram shingle-hash rows, Arrow-
    vectorized — the corpus-side fast path of ``ngram_overlap_join``
    (the interpreted per-shingle HOF it replaces cost ~8us/shingle and
    went to 260s on a 5M-doc corpus scan; this path tracks the
    tokenize-only scan time — SCALE_STRESS_r08).

    Tokenization stays JVM-side (``tokens()``: the same lowercase
    regex the SQL oracles use), so hash-family aside the shingle
    IDENTITY matches ``_shingle_hashes`` exactly. NULL-text docs emit
    NO rows. By default rows are NOT per-doc distinct — callers dedup
    as their plan needs it (global ``groupBy(__s)`` on the corpus side,
    per-doc ``dropDuplicates`` on the small side);
    ``per_doc_distinct=True`` dedups INSIDE the kernel (one vectorized
    lexsort per batch, the same pass ``shingle_hash_arrays`` runs — r15:
    a per-doc-distinct consumer like ``doc_boilerplate_ratio`` then
    pays zero extra shuffle for the dedup, where a downstream
    ``dropDuplicates`` would add one). The hash family is internal:
    consumers compare hashes for equality only, and both sides of any
    join must come from THIS function.
    """
    import pyarrow as pa
    from pyspark.sql import types as T

    rows = (
        _ensure_min_parallelism(df, id_col)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id"), tokens(text_col).alias("__tk"))
    )

    def _rows(batches):
        import numpy as np

        for batch0 in batches:
            for batch in _bounded_batch_slices(batch0, "__tk"):
                ids = batch.column(batch.schema.get_field_index("__id"))
                tk = batch.column(batch.schema.get_field_index("__tk"))
                if isinstance(tk, pa.ChunkedArray):
                    tk = tk.combine_chunks()
                gflat, glens, _ = _token_gram_hashes(tk, n)
                g = gflat.astype(np.int64)
                if per_doc_distinct:
                    n_docs = len(glens)
                    doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), glens)
                    order = np.lexsort((g, doc_of))
                    gs, ds = g[order], doc_of[order]
                    keep = np.ones(len(gs), dtype=bool)
                    if len(gs) > 1:
                        keep[1:] = (gs[1:] != gs[:-1]) | (ds[1:] != ds[:-1])
                    g, ds = gs[keep], ds[keep]
                    glens = np.bincount(ds, minlength=n_docs)
                out_id = np.repeat(ids.to_numpy(zero_copy_only=False), glens)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(out_id, type=ids.type),
                        pa.array(g, type=pa.int64()),
                    ],
                    ["__id", "__s"],
                )

    schema = T.StructType(
        [
            T.StructField("__id", rows.schema["__id"].dataType, False),
            T.StructField("__s", T.LongType(), False),
        ]
    )
    return rows.mapInArrow(_rows, schema=schema)


def shingle_hash_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(``__id``, ``__sh`` = sorted DISTINCT int64 n-gram hash array)
    per document, Arrow-vectorized — the array-form sibling of
    ``shingle_hash_rows`` for the exact-join paths (PPJoin prefix +
    array_intersect verification), which need per-doc arrays rather
    than exploded rows (r14, guide §4.2: the interpreted JVM HOF
    shingler this replaces was the dominant scan cost of the exact
    paths at scale — the decon corpus path measured its Arrow swap at
    ~6x on a 5M-doc scan, SCALE_STRESS_r08).

    Tokenization stays JVM-side (``tokens()``), so shingle IDENTITY —
    which token sequences compare equal — matches ``_shingle_hashes``
    exactly (>= n tokens: len-n+1 grams; 1..n-1: one truncated gram;
    zero: one shared empty sentinel). The hash FAMILY is
    ``_token_gram_hashes``' (not xxhash64-over-slices): consumers
    compare hashes for equality / count intersections only, so family
    is an internal detail (collision odds aside — both 64-bit), and
    both sides of any join must come from THIS function. NULL-text
    docs emit no row (callers' joins drop them exactly like the NULL
    array the HOF form produced). Per-doc dedup+sort is one vectorized
    lexsort over the batch, matching sort_array(array_distinct(...))
    ordering for int64."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    rows = (
        _ensure_min_parallelism(df, id_col)
        .filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id"), tokens(text_col).alias("__tk"))
    )

    def _arrays(batches):
        for batch0 in batches:
            for batch in _bounded_batch_slices(batch0, "__tk"):
                ids = batch.column(batch.schema.get_field_index("__id"))
                tk = batch.column(batch.schema.get_field_index("__tk"))
                if isinstance(tk, pa.ChunkedArray):
                    tk = tk.combine_chunks()
                gflat, glens, _ = _token_gram_hashes(tk, n)
                g = gflat.astype(np.int64)
                n_docs = len(glens)
                doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), glens)
                # per-doc sorted distinct in one vectorized pass: sort
                # by (doc, hash), keep first of each (doc, hash) run
                order = np.lexsort((g, doc_of))
                gs, ds = g[order], doc_of[order]
                keep = np.ones(len(gs), dtype=bool)
                if len(gs) > 1:
                    keep[1:] = (gs[1:] != gs[:-1]) | (ds[1:] != ds[:-1])
                gs, ds = gs[keep], ds[keep]
                out_lens = np.bincount(ds, minlength=n_docs)
                offsets = np.concatenate([[0], np.cumsum(out_lens)])
                sh_arr = pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(gs, type=pa.int64()),
                )
                yield pa.RecordBatch.from_arrays([ids, sh_arr], ["__id", "__sh"])

    schema = T.StructType(
        [
            T.StructField("__id", rows.schema["__id"].dataType, False),
            T.StructField("__sh", T.ArrayType(T.LongType(), False), False),
        ]
    )
    return rows.mapInArrow(_arrays, schema=schema)


# Arrow-vs-HOF shingler crossover (r14, measured): at 500k docs the
# Arrow kernel shingles 3.5x faster (13.7 s -> 3.9 s at n=3), but on a
# 5k-doc corpus its python-worker round-trip + repartition exchange
# LOSE to the already-tuned JVM HOF (the incremental join's two kernel
# invocations measured 1.6 -> 2.4 s). Dispatch by corpus size: the
# caller's already-paid fence count when available, else a plan-stats
# size estimate (optimizer only — no job, ~50 ms driver-side).
_ARROW_SHINGLE_MIN_ROWS = 30_000
_ARROW_SHINGLE_MIN_BYTES = 4 << 20


def _plan_bytes_est(df: DataFrame) -> int | None:
    """Optimizer-stats size estimate of a frame (bytes) — file-size
    derived for parquet scans, no Spark job."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _shingle_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    n_rows: int | None = None,
    use_arrow: bool | None = None,
) -> DataFrame:
    """(__id, __sh) per-doc sorted distinct shingle-hash arrays: the
    Arrow kernel for large corpora (when numpy is available), the
    interpreted JVM HOF below the crossover. A JOIN's two sides must
    both come from ONE dispatch decision (one hash family per plan) —
    decide once and pass the verdict as ``use_arrow`` to both sides."""
    if use_arrow is not None:
        big = use_arrow
    elif n_rows is not None:
        big = n_rows >= _ARROW_SHINGLE_MIN_ROWS
    else:
        big = (_plan_bytes_est(df) or 0) >= _ARROW_SHINGLE_MIN_BYTES
    if big:
        try:
            import numpy  # noqa: F401

            return shingle_hash_arrays(df, id_col, text_col, n)
        except ImportError:
            pass
    return df.select(
        F.col(id_col).alias("__id"),
        F.sort_array(_shingle_hashes(text_col, n)).alias("__sh"),
    )


def minhash_signature_arrow(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 64
) -> DataFrame:
    """(id, sig array<bigint>) computed in ONE Arrow kernel from raw
    text: whitespace split (pyarrow C), vectorized 64-bit token/n-gram
    mixing, then a per-salt multiply-shift min reduction — no
    interpreted HOF anywhere on this path (the JVM shingle expression
    cost ~1ms/doc and dominated the cold 500k signature stage).

    The shingle hash family here is INTERNAL to the minhash estimate:
    signature positions are compared for EQUALITY only, so any
    deterministic 64-bit family estimates the same n-gram-set Jaccard
    (collisions aside — both families are 64-bit). It deliberately does
    NOT share ``_shingle_hashes``' xxhash64-over-slices family, which
    remains the shingle identity for the exact join paths. Minhash over
    the n-gram MULTISET equals minhash over the SET (duplicates never
    change a min), so no distinct pass is needed.

    Count semantics match the JVM expression: a doc with >= n tokens
    yields len-n+1 n-grams; shorter docs one zero-padded shingle; the
    empty string one ['']-token shingle. Token hashes mix the first 24
    bytes plus the byte length (longer tokens sharing a 24-byte prefix
    and length alias — a 64-bit-family tradeoff on par with hash
    collisions). NULL-text docs are dropped (no dedup identity).
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    salts = np.array(_HASH_SALTS[:num_hashes], dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    rows = (
        _ensure_min_parallelism(df, id_col)
        .select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        .filter(F.col("__t").isNotNull())
    )

    def _sig(batches):
        for batch0 in batches:
            for batch in _bounded_batch_slices(batch0, "__t"):
                i_id = batch.schema.get_field_index("__id")
                t = batch.column(batch.schema.get_field_index("__t"))
                if isinstance(t, pa.ChunkedArray):
                    t = t.combine_chunks()
                gflat, glens, goffs = _arrow_ngram_hashes(t, n)
                n_docs = len(glens)
                with np.errstate(over="ignore"):
                    # one salt at a time: the per-salt product is a
                    # flat-sized temporary instead of a (num_hashes x
                    # flat) matrix — the big-matrix variant is memory-
                    # bandwidth-bound and measured 30x slower
                    mins = np.empty((num_hashes, n_docs), dtype=np.uint64)
                    roffs = goffs.astype(np.intp)
                    for s_i in range(num_hashes):
                        mins[s_i] = np.minimum.reduceat(
                            salts[s_i] * gflat, roffs
                        )
                out = mins.T.astype(np.int64)
                sig_arr = pa.ListArray.from_arrays(
                    pa.array(
                        np.arange(0, (n_docs + 1) * num_hashes, num_hashes),
                        type=pa.int32(),
                    ),
                    pa.array(out.reshape(-1), type=pa.int64()),
                )
                yield pa.RecordBatch.from_arrays(
                    [batch.column(i_id), sig_arr], ["__id", "__sig"]
                )

    schema = T.StructType(
        [
            T.StructField("__id", rows.schema["__id"].dataType, False),
            T.StructField("__sig", T.ArrayType(T.LongType()), False),
        ]
    )
    return rows.mapInArrow(_sig, schema=schema)


def _banded_buckets(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, bucket) rows from a (id, sig) table.

    Band bucket = xxhash64 of the band's signature SLICE (arrays hash
    natively) — a bands-sized expression instead of bands*rows_per_band
    element_at/concat branches, which dominated analysis+codegen time.
    Only (id, band, bucket) flows into the candidate join: carrying the
    64-long signature arrays through the banding join + pair-dedup
    shuffle multiplies shuffle bytes ~8x (measured 121s -> 38s at 500k
    docs); verification re-joins signatures on the DEDUPED pair set,
    whose size is O(near-dups), not O(band collisions).
    """
    return sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            F.slice("__sig", i * rows_per_band + 1, rows_per_band),
                            F.lit(i),
                        ).alias("bucket"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__b.band", "__b.bucket")


def minhash_incremental_pairs(
    new_docs: DataFrame,
    index_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    verify: bool = True,
    signature_impl: str = "arrow",
) -> DataFrame:
    """MinHash banding across TWO corpora: candidates/pairs (id_a from
    ``new_docs``, id_b from ``index_docs``) only — the 100 TB
    incremental-crawl shape where the index side is never self-joined.
    In production the index side's signatures and band buckets are
    PRECOMPUTED and stored (they are deterministic), so a daily run
    pays one scan of the new batch plus a bucket equi-join against the
    stored bands; this operator expresses that plan from raw text.
    Same banding/verify semantics as ``minhash_near_dup_pairs``.
    """
    rows_per_band = num_hashes // bands

    def _sig(df: DataFrame) -> DataFrame:
        if signature_impl == "arrow":
            return minhash_signature_arrow(df, id_col, text_col, n, num_hashes)
        return df.select(
            F.col(id_col).alias("__id"),
            minhash_signature(text_col, n, num_hashes).alias("__sig"),
        )

    sig_new = _sig(new_docs)
    sig_idx = _sig(index_docs)
    if verify:
        sig_new = sig_new.cache()
        sig_idx = sig_idx.cache()
    a = _banded_buckets(sig_new, bands, rows_per_band).alias("a")
    b = _banded_buckets(sig_idx, bands, rows_per_band).alias("b")
    # no id inequality filter: the sides are different corpora, so an
    # equal id is a legitimate cross-set match (see ngram_jaccard_join)
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return cand
    sa = sig_new.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__siga"))
    sb = sig_idx.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sigb"))
    return _estimated_jaccard_pairs(cand, sa, sb, num_hashes, threshold)


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    verify: bool = True,
    signature_impl: str = "arrow",
    max_bucket_size: int | None = None,
    precomputed_sig: DataFrame | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup detection — the 100 TB dedup path.

    shingle -> minhash signature -> split into ``bands`` bands of
    ``num_hashes//bands`` rows -> bucket-join on (band_id, band_hash) ->
    distinct candidate pairs -> (optionally) verify with exact estimated
    Jaccard from full signatures and filter by ``threshold``.

    Returns (id_a, id_b, est_jaccard). The only shuffles are the bucket
    equi-join (one row per doc per band) and the pair distinct — no
    quadratic blowup from ORGANIC duplication. The remaining quadratic
    risk is a mega-group of (near-)identical documents: a k-doc group
    shares every bucket and emits k^2/2 candidates. ``max_bucket_size``
    is the standard guard — band buckets holding more than that many
    docs are dropped entirely (their membership is boilerplate-grade
    duplication, better handled by running ``fingerprint_dedup`` /
    ``exact_dedup`` BEFORE minhash, which collapses identical payloads
    for free). None (default) keeps every bucket.

    ``precomputed_sig`` feeds an already-computed (and ideally cached)
    (__id, __sig) table, skipping the signature stage — the streaming
    ingest guard computes ONE signature pass per micro-batch and shares
    it across the within-batch self-join, the stored-index query and
    the index append.
    """
    rows_per_band = num_hashes // bands
    if precomputed_sig is not None:
        sig = precomputed_sig
    elif signature_impl == "arrow":
        sig = minhash_signature_arrow(df, id_col, text_col, n, num_hashes)
    else:
        sig = df.select(
            F.col(id_col).alias("__id"),
            minhash_signature(text_col, n, num_hashes).alias("__sig"),
        )
    # cache the signature table ONLY when the plan reads it more than
    # once: with verify the estimate join consumes sigs on both sides,
    # and with max_bucket_size the pre-filter's count agg and the
    # bucket join are two physical consumers of the banded subtree
    # (different exchange payloads, so ReusedExchange can't dedup the
    # sig stage under them). On the bare candidate path
    # (verify=False, no cap) the collect_list pipeline reads sigs
    # exactly once — caching there materialized the full 64-hash
    # signature table (~26GB at 50M docs) into storage memory for
    # nothing and GC-thrashed the 50M tier against a 48g heap.
    # (Re-caching a caller-cached precomputed_sig is a no-op.)
    if verify or max_bucket_size is not None:
        sig = sig.cache()
    banded = _banded_buckets(sig, bands, rows_per_band)
    # Candidates via ONE shuffle: group each (band, bucket) down to its
    # sorted member list, then expand within-bucket pairs with a
    # constant-size HOF. The banded SELF-join this replaces shuffled
    # AND sorted the bands*docs-row banding table twice (sort-merge)
    # and went superlinear at the 5M-doc tier (82.9s; this plan ~20s —
    # SCALE_STRESS_r08). collect_list partial-aggregates map-side
    # (ObjectHashAggregate), so shuffle bytes match ONE side of the old
    # join; sort_array makes member order deterministic and yields
    # id_a < id_b for free (an id appears at most once per bucket —
    # one banded row per doc per band). A k-member bucket still emits
    # k(k-1)/2 pair rows, exactly the old join's output; the
    # max_bucket_size guard pre-counts on the narrow id stream so an
    # over-cap bucket never reaches a collect_list buffer at all.
    if max_bucket_size is not None:
        # Pre-filter over-cap buckets BEFORE collect_list so a
        # pathological mega-bucket (e.g. 10^5 identical docs) never
        # materializes in any task's aggregation buffer. The count agg
        # is map-side partial over the narrow (band,bucket) stream and
        # its shuffle co-partitions with the join AND the groupBy
        # below (same keys), so AQE plans one exchange of banded rows;
        # shuffle_hash keeps the whole path sort-free.
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter((F.col("__n") >= 2) & (F.col("__n") <= max_bucket_size))
            .select("band", "bucket")
        )
        banded = banded.join(ok.hint("shuffle_hash"), ["band", "bucket"])
    members = (
        banded.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("__id")).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    pairs_col = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                # elements strictly after position i (slice is 1-based;
                # an over-long length clamps to the array end)
                F.slice("__ids", i + F.lit(2), F.size("__ids")),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        members.select(F.explode(pairs_col).alias("__p"))
        .select("__p.id_a", "__p.id_b")
        # ids are expected unique per doc, but if the input carries a
        # duplicated id it appears twice in the sorted member list and
        # the strictly-after slice would emit an (id, id) self-pair
        # (which trivially verifies at jaccard 1.0) — drop it, matching
        # the old self-join's a.__id < b.__id semantics
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return cand
    sa = sig.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__siga"))
    sb = sig.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sigb"))
    return _estimated_jaccard_pairs(cand, sa, sb, num_hashes, threshold)


def verify_pairs_exact(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard verification of CANDIDATE pairs — the
    verifier half of the 100 TB dedup recipe (MinHash banding generates
    candidates, this joins each (id_a, id_b) back to the two shingle
    sets and keeps pairs with exact J >= threshold). Cost is
    O(|candidates|), independent of the corpus's all-pairs count, which
    is what makes exact verification affordable at any scale.

    Join shape: the corpus is first SEMI-JOIN-REDUCED to the docs that
    appear in any pair (ids only, broadcastable at any realistic pair
    count) — one streaming pass over the corpus, which is never
    shuffled. Only the reduced array-carrying table (O(pairs) rows)
    participates in the two per-side joins. Without the reduction the
    second join's probe side exceeds the broadcast threshold and Spark
    sort-merge-shuffles the ENTIRE corpus's shingle arrays — measured
    37s vs 3s at 500k docs / 9.8k candidates.
    """
    pair_ids = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("__id")
    ).distinct()
    sh = (
        # join BEFORE computing the arrays: the broadcast semi-join only
        # needs ids, so the (expensive) shingle hashing and sort run for
        # the O(pairs) surviving docs, not the whole corpus — Catalyst
        # will not reorder a join below a projection on its own
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"))
        .join(F.broadcast(pair_ids), "__id")
        .select(
            "__id", F.sort_array(_shingle_hashes("__text", n)).alias("__sh")
        )
        # cached: O(pairs) rows; without it each of the two per-side
        # joins below re-runs the full corpus scan behind the reduction
        .cache()
    )
    sa = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sha"))
    sb = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__shb"))
    return (
        pairs.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("__common", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__common")
            / (F.size("__sha") + F.size("__shb") - F.col("__common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (doc id, cluster id).

    Iterative min-label propagation with POINTER JUMPING: every node
    starts as its own label; each round a node takes the minimum label
    over its neighborhood, then follows its label one more hop
    (label := label(label)) — the path-doubling step that collapses a
    diameter-D component in O(log D) rounds instead of D (the Hash-Min
    / pointer-jumping family, public literature). Near-dup components
    are near-cliques (1-2 rounds); the jump bounds the worst case
    (chain graphs) too. Cluster id = the smallest doc id in the
    component (the canonical "keep" representative for dedup).

    Lineage safety for long runs: each round's labels are cached and
    the PREVIOUS round's cache is unpersisted once superseded; every
    5th round materializes through ``localCheckpoint(eager=True)``,
    truncating the logical plan so depth stays bounded regardless of
    iteration count.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .cache()
    )
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    prev_cached: DataFrame | None = None
    for i in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        hop = labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # pointer jump: label := min(label, label(label)). Labels are
        # always existing node ids, so the lookup is a self-join.
        lol = hop.select(
            F.col("node").alias("__ln"), F.col("label").alias("__ll")
        )
        new_labels = (
            hop.join(lol, hop.label == lol["__ln"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("__ll"), F.col("label"))
                ).alias("label"),
            )
        )
        if (i + 1) % 5 == 0:
            # eager localCheckpoint: materializes AND truncates lineage
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.cache()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = new_labels
        labels = new_labels
        if changed == 0:
            break
    # final eager checkpoint: callers get a constant-depth plan (and the
    # blocks are already materialized, so this is a cheap re-store, not
    # a recomputation)
    labels = labels.localCheckpoint(eager=True)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash64(col: Column | str, n: int = 1) -> Column:
    """64-bit SimHash of a text's token (or shingle) multiset.

    For each bit position: sum +1/-1 over token hashes' bit -> sign.
    Built from native bitwise expressions; no UDF.
    """
    hashes = _shingle_hashes(col, n)
    # One pass over the shingle hashes accumulating all 64 bit counters
    # (bit tested via mask, not variable shift), then fold the counter
    # signs back into a single long with bitwiseOR. Bit 63's mask is
    # Long.MIN_VALUE — its two's-complement place value.
    bit_masks = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("long") for i in range(64)]
    )
    counters = F.aggregate(
        hashes,
        F.expr("array_repeat(0, 64)"),
        lambda acc, h: F.zip_with(
            acc,
            bit_masks,
            lambda a, bv: a + F.when(h.bitwiseAND(bv) != 0, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(
            counters,
            bit_masks,
            lambda s, bv: F.when(s > 0, bv).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc.bitwiseOR(v),
    )


def simhash64_arrow(df: DataFrame, id_col: str, text_col: str, n: int = 1) -> DataFrame:
    """(id, __sh simhash) computed in ONE Arrow kernel from raw text —
    same text front-end as the minhash kernel (``_arrow_ngram_hashes``;
    the hash FAMILY is internal: simhash bits are compared by hamming
    distance, so any deterministic 64-bit shingle family carries the
    same cosine-of-shingle-sets estimate). Unlike minhash, simhash is
    NOT multiset-invariant — bit counters weigh repeated shingles — so
    the kernel dedups per document (lexsort + boundary diff, no Python
    loop) to keep ``simhash64``'s distinct-shingle semantics: bit set
    iff strictly more DISTINCT shingle hashes have it set than clear.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    rows = (
        _ensure_min_parallelism(df, id_col)
        .select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
        # NULL-text docs carry no shingles — drop (see minhash twin)
        .filter(F.col("__t").isNotNull())
    )
    schema = T.StructType(
        [
            T.StructField("__id", rows.schema["__id"].dataType, False),
            T.StructField("__sh", T.LongType(), False),
        ]
    )

    def _sig(batches):
        for batch0 in batches:
            for batch in _bounded_batch_slices(batch0, "__t"):
                i_id = batch.schema.get_field_index("__id")
                t = batch.column(batch.schema.get_field_index("__t"))
                if isinstance(t, pa.ChunkedArray):
                    t = t.combine_chunks()
                gflat, glens, _ = _arrow_ngram_hashes(t, n)
                n_docs = len(glens)
                out = np.zeros(n_docs, dtype=np.int64)
                if n_docs:
                    # per-doc distinct: sort (doc, hash), keep boundaries
                    doc_idx = np.repeat(
                        np.arange(n_docs, dtype=np.int64), glens
                    )
                    order = np.lexsort((gflat, doc_idx))
                    gs, ds = gflat[order], doc_idx[order]
                    keep = np.ones(len(gs), dtype=bool)
                    keep[1:] = (gs[1:] != gs[:-1]) | (ds[1:] != ds[:-1])
                    uflat, udoc = gs[keep], ds[keep]
                    ulens = np.bincount(udoc, minlength=n_docs)
                    uoffs = np.concatenate([[0], np.cumsum(ulens)])[:-1].astype(
                        np.intp
                    )
                    sh = np.zeros(n_docs, dtype=np.uint64)
                    with np.errstate(over="ignore"):
                        for b in range(64):
                            ones = np.add.reduceat(
                                (uflat >> np.uint64(b)) & np.uint64(1), uoffs
                            )
                            sh |= ((2 * ones > ulens).astype(np.uint64)) << np.uint64(b)
                    out = sh.view(np.int64)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(i_id), pa.array(out, type=pa.int64())],
                    ["__id", "__sh"],
                )

    return rows.mapInArrow(_sig, schema=schema)


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n: int = 1,
    blocks: int = 4,
    signature_impl: str = "arrow",
) -> DataFrame:
    """SimHash near-dup pairs with block-LSH candidate generation.

    Split the 64-bit simhash into ``blocks`` contiguous blocks; by
    pigeonhole, any pair within hamming distance < blocks shares at
    least one exact block. Equi-join per block, then verify true
    hamming distance with bit_count(xor) <= max_hamming.

    The two ``signature_impl``s share distinct-shingle semantics but
    use different (internal) 64-bit shingle hash families — the arrow
    kernel's byte-mix vs the expression path's xxhash64 — so their
    hamming distances and emitted pairs differ slightly; pick one per
    corpus (a simhash index is only comparable to itself).
    """
    bits_per_block = 64 // blocks
    mask = (1 << bits_per_block) - 1
    if signature_impl == "arrow":
        sh = simhash64_arrow(df, id_col, text_col, n)
    else:
        sh = df.select(
            F.col(id_col).alias("__id"), simhash64(text_col, n).alias("__sh")
        )
    # cached: signatures are 16 bytes/doc and the self-join needs them on
    # both sides — when AQE turns the join into a broadcast, the build
    # side is a separate subtree and would otherwise re-run the whole
    # Arrow signature stage (Python workers, the expensive part) twice
    sh = sh.cache()
    banded = sh.select(
        "__id",
        "__sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftright("__sh", i * bits_per_block)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("__b"),
    ).select("__id", "__sh", "__b.block", "__b.key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.bit_count(F.col("a.__sh").bitwiseXOR(F.col("b.__sh"))).alias("hamming"),
        )
        # verify (cheap bit_count) BEFORE the distinct exchange so the
        # dedup shuffle only carries true near-dup pairs, not every
        # multi-block collision
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _estimated_jaccard_pairs(
    cand: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    num_hashes: int,
    threshold: float,
    broadcast_cand: bool = False,
) -> DataFrame:
    """Shared verify tail of every minhash candidate path: join the
    deduped (id_a, id_b) candidate set back to the two signature tables
    (``sig_a``: (id_a, __siga), ``sig_b``: (id_b, __sigb)), estimate
    Jaccard as the fraction of agreeing signature positions, filter by
    ``threshold``. The joins run on the DEDUPED pair set, so signature
    arrays never ride the banding shuffle (see ``_banded_buckets``).

    ``broadcast_cand`` (the stored-index query path): broadcast the
    NARROW candidate pair set into the big ``sig_b`` scan (the stored
    index streams map-side instead of being shuffled and sorted — the
    planner can't pick this itself because the Arrow/join-derived
    candidate side has no size statistics and is presumed huge), then
    broadcast the small ``sig_a`` (probe-side signatures) into the
    result. Only ids and the probe's signatures ever cross the driver;
    the wide index-side arrays never sit in a broadcast. Only for
    callers whose candidates are O(small batch x near-dup rate); the
    self-join path at 100 TB can have more candidates than fit a
    broadcast and keeps the default."""
    if broadcast_cand:
        left = F.broadcast(cand).join(sig_b, "id_b").join(
            F.broadcast(sig_a), "id_a"
        )
    else:
        left = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    return (
        left
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("__siga", "__sigb", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            ).cast("double")
            / F.lit(float(num_hashes)),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


MINHASH = si.IndexSpec(
    family="minhash",
    meta_name="_meta.json",
    subs=("sigs", "bands"),
    partition_cols=("batch_id",),
    rewrite_keys=("batch_id", "id"),
)


def read_minhash_meta(spark, index_path: str) -> dict | None:
    """The index's ``_meta.json`` (params + per-batch row counts), or
    None when the index does not exist (``stored_index.read_meta``)."""
    return si.read_meta(spark, MINHASH, index_path)


def build_minhash_index(
    docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    batch_id: int = 0,
    precomputed_sig: DataFrame | None = None,
) -> None:
    """Persist the minhash dedup index: signatures and band buckets are
    deterministic functions of the text, so they are computed ONCE and
    stored — an incremental run then pays one scan of the new batch
    plus a bucket equi-join against the stored bands, never a
    re-signature of the index.

    Layout: ``sigs/batch_id=N/`` (id, sig) and ``bands/batch_id=N/``
    (id, band, bucket) plus ``_meta.json`` pinning (n, num_hashes,
    bands): queries read their parameters FROM the index, so
    mismatched-parameter joins cannot happen by construction. Grow
    with ``append_to_minhash_index``, bound the file count with
    ``compact_minhash_index``. The lease, build marker, fence and
    versioned layout are ``operators/stored_index.py``'s."""
    si.build(
        docs.sparkSession,
        MINHASH,
        index_path,
        batch_id,
        lambda: _write_minhash_batch(
            docs, index_path, id_col, text_col, n, num_hashes, bands,
            batch_id, precomputed_sig=precomputed_sig,
        ),
        lambda n_rows: {"n": n, "num_hashes": num_hashes, "bands": bands},
    )


def _write_minhash_batch(
    docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    batch_id: int,
    precomputed_sig: DataFrame | None = None,
    version: int = 0,
) -> int:
    """Write one batch's sigs + bands into the version-``version`` data
    subtree's ``batch_id=N`` subdirs (``stored_index.write_batch``: both
    writes overlap over the SAME cached signature table) and return the
    batch's row count (O(batch), never O(index))."""
    own_cache = precomputed_sig is None
    sig = precomputed_sig
    if own_cache:
        sig = minhash_signature_arrow(docs, id_col, text_col, n, num_hashes).cache()
    n_rows = si.write_batch(
        index_path,
        version,
        batch_id,
        {
            "sigs": sig.select(F.col("__id").alias("id"), F.col("__sig").alias("sig")),
            "bands": _banded_buckets(sig, bands, num_hashes // bands).select(
                F.col("__id").alias("id"), "band", "bucket"
            ),
        },
        counted="sigs",
    )
    if own_cache:
        sig.unpersist()
    return n_rows


def append_to_minhash_index(
    docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    batch_id: int,
    precomputed_sig: DataFrame | None = None,
) -> int:
    """Append a batch to a minhash index (``stored_index.append``):
    parameters come FROM the stored ``_meta.json`` (they must, or
    bucket joins against older batches would compare incompatible
    hashes); the batch's sigs and bands land in their own
    ``batch_id=N`` subdirs. Returns the batch row count."""

    def write(meta: dict, version: int) -> int:
        return _write_minhash_batch(
            docs, index_path, id_col, text_col,
            meta["n"], meta["num_hashes"], meta["bands"], batch_id,
            precomputed_sig=precomputed_sig, version=version,
        )

    return si.append(docs.sparkSession, MINHASH, index_path, batch_id, write)


def compact_minhash_index(
    spark,
    index_path: str,
    keep_last: int = 1,
    target_partitions: int | None = None,
) -> dict:
    """Merge an appended-to minhash index's accumulated ``batch_id=N``
    subdirs into one compacted partition (``stored_index.compact``) —
    without it a long-lived streaming ingest guard leaves thousands of
    tiny parquet files and every query pays the listing. The newest
    ``keep_last`` batches keep their ids, so a replay of the latest
    micro-batch still excludes exactly itself; results are identical
    before and after (``minhash_query_index`` never looks at
    ``batch_id``). Returns the updated meta."""
    return si.compact(spark, MINHASH, index_path, keep_last, target_partitions)


def minhash_query_index(
    new_docs: DataFrame,
    index_path: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    verify: bool = True,
    max_batch_id_exclusive: int | None = None,
    precomputed_sig: DataFrame | None = None,
    broadcast_new: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs of a new batch against a STORED minhash index
    (``build_minhash_index``): identical semantics and — same corpus,
    same parameters — identical results to ``minhash_incremental_pairs``
    (test-enforced), but the index side costs two parquet scans instead
    of a full re-signature. (id_a = new batch, id_b = index; equal ids
    across sides are legitimate cross-set matches.)

    ``broadcast_new`` (default on — this path's contract IS
    small-batch-vs-big-store): broadcast the new batch's band rows and
    the candidate set through the index-side joins, so the stored
    bands/sigs scans stream map-side with ZERO index-side shuffle.
    Without the hint the planner sort-merge-joins (the Arrow-derived
    probe side has no size statistics and is presumed huge), shuffling
    and sorting the whole stored index per query — measured 2.3x
    slower than recompute at a 200k-doc store instead of 2x faster.
    Disable for batches too large to broadcast (~100MB+ of band rows,
    i.e. millions of docs — at which point use
    ``minhash_incremental_pairs``).

    ``max_batch_id_exclusive`` drops index batches >= it from BOTH
    scans (the streaming replay guard, ``stored_index.scan``).
    ``precomputed_sig``: caller-supplied (__id, __sig) table for the
    new batch (MUST have been computed with the index's pinned params —
    the streaming guard guarantees this by reading them from the meta
    first); skips this function's own signature pass.

    ``max_bucket_size`` bounds the forced candidate broadcast on
    boilerplate-heavy STORES: one (band, bucket) holding k
    near-identical stored docs makes the candidate set
    O(probe_rows x k), and with ``broadcast_new`` the mandatory
    broadcast hint bypasses autoBroadcastJoinThreshold and can OOM the
    driver. When set, index-side buckets larger than it are dropped
    BEFORE the candidate join via a broadcast anti-join of the (rare)
    over-cap keys — the stored bands still stream map-side with zero
    index-side shuffle (the cap count is a map-side partial agg over
    the narrow (band, bucket) stream). Lossy by design (matches inside
    a dropped mega-bucket that share no other bucket are missed), same
    contract as ``minhash_near_dup_pairs``'s knob; default None keeps
    the exact semantics."""
    spark = new_docs.sparkSession
    meta = si.require_meta(spark, MINHASH, index_path)
    n, num_hashes, bands = meta["n"], meta["num_hashes"], meta["bands"]
    if precomputed_sig is not None:
        sig_new = precomputed_sig
    else:
        sig_new = minhash_signature_arrow(new_docs, id_col, text_col, n, num_hashes)
        if verify:
            sig_new = sig_new.cache()
    a = _banded_buckets(sig_new, bands, num_hashes // bands)
    if broadcast_new:
        a = F.broadcast(a)
    a = a.alias("a")
    b = si.scan(spark, index_path, meta, "bands", max_batch_id_exclusive).select(
        F.col("id").alias("__id"), "band", "bucket"
    )
    if max_bucket_size is not None:
        # over-cap (band,bucket) keys are rare by construction (random
        # hash buckets; only pathological boilerplate makes one), so
        # the key list is tiny: broadcast it and anti-join map-side —
        # the stored bands scan still never shuffles
        over = (
            b.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "bucket")
        )
        b = b.join(F.broadcast(over), ["band", "bucket"], "left_anti")
    b = b.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if not verify:
        return cand
    sa = sig_new.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__siga"))
    sb = si.scan(spark, index_path, meta, "sigs", max_batch_id_exclusive).select(
        F.col("id").alias("id_b"), F.col("sig").alias("__sigb")
    )
    return _estimated_jaccard_pairs(
        cand, sa, sb, num_hashes, threshold, broadcast_cand=broadcast_new
    )
