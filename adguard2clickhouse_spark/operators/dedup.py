"""Deduplication operators for training-data pipelines (brief §extensions, X1/X2).

Four strategies, each picked for a different scale/recall point:

- exact          — hash-groupBy on a fingerprint digest. One shuffle of
                   (digest, id); texts never move. The 100 TB default.
- n-gram Jaccard — exact similarity on word-shingle sets via an
                   inverted-index self-join (explode shingles → join on
                   shingle → count common). Quadratic only within
                   shingle buckets, exact; good at corpus-shard scale.
- MinHash + LSH  — signatures + banding so candidate pairs come from
                   band-bucket equality joins, never an all-pairs join.
                   Pure DataFrame ops, deterministic seeds.
- SimHash        — 64-bit sketch per doc from token hashes; near-dups
                   via Hamming-band self-join (max_hamming+1 bands —
                   pigeonhole-complete for the radius). All built-ins
                   (xxhash64 + bit ops), zero Python.

Everything shuffles on small keys (hashes, not documents) — the
property that survives a 1000-executor corpus.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from adguard2clickhouse_spark.operators.text import fingerprint
from adguard2clickhouse_spark.session import scoped_conf


def _runtime_broadcast_only(fn):
    """Disable ESTIMATE-based static broadcast planning inside a pair
    operator; AQE still broadcasts at runtime from ACTUAL stage sizes.

    Catalyst's sizeInBytes propagation through split/transform/explode
    chains uses fixed per-type defaults, so every frame these operators
    join — the exploded inverted index, the df-frequency table, the
    shingle-array cache — is estimated as tiny regardless of corpus
    size. At sf0.1–sf1 the resulting BroadcastHashJoins happen to fit;
    at sf10 on a default 8 GB session the planner broadcasts the full
    500k-doc shingle-array frame and dies in BroadcastExchange with
    "Not enough memory to build and broadcast" (observed: the leakage-
    safe split's PPJoin reroute; earlier rounds masked it because the
    scale scripts run 48 GB sessions). At 100 TB no driver size saves
    an estimate-blind broadcast of a corpus-scaled frame.

    Fix: within the operator, spark.sql.autoBroadcastJoinThreshold=-1
    kills estimate-based static broadcasts, while
    spark.sql.adaptive.autoBroadcastJoinThreshold keeps the session's
    static threshold (64 MB) for AQE's RUNTIME conversion — a join
    side that MEASURES small at execution still broadcasts, so the
    genuinely-small dfreq/candidate frames keep their fast plans and a
    corpus-scaled frame can never be picked by a bad guess. Explicit
    F.broadcast hints (the bounded-by-construction 1-row stats) are
    unaffected — hints bypass thresholds. Applied as a decorator to
    the pair operators that MATERIALIZE in-scope (they all end in an
    eager localCheckpoint, so every join executes under the scoped
    conf); measured sf10 leakage-split: OOM → completes on 8 GB.
    """

    @functools.wraps(fn)
    def wrapper(df, *args, **kwargs):
        spark = df.sparkSession
        static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        with scoped_conf(
            spark,
            {
                "spark.sql.autoBroadcastJoinThreshold": "-1",
                "spark.sql.adaptive.autoBroadcastJoinThreshold": static,
            },
        ):
            return fn(df, *args, **kwargs)

    return wrapper


def _capped_dispatch_notice(
    cap: int, mass: int, df_ratio: float, measured: bool
) -> None:
    """One-line stderr notice when the ``reroute_capped`` tier actually
    ENGAGES (ADVICE r13): registered consumers of the capped operators
    (x1_dedup_clusters, x12_pagerank, x7_split_leakage_safe) otherwise
    cannot tell an exact edge set from a df-ratio-capped one at
    runtime — the degradation is documented but was invisible. Mirrors
    the pipeline sizing hint: stderr, sized numbers, actionable."""
    import sys as _sys

    kind = "measured" if measured else "worst-case bound"
    print(
        f"REROUTE-CAPPED ENGAGED: candidate mass {mass:,} ({kind}) > "
        f"max_candidate_pairs={cap:,}; applying max_df_ratio="
        f"{df_ratio} — pairs whose ONLY common shingles are corpus "
        f"boilerplate (df > {df_ratio} of docs) may drop from the "
        "output. Use on_overflow='reroute' for bit-exact edges at an "
        "unbounded wall, or minhash_lsh_pairs for the banded path.",
        file=_sys.stderr,
    )


def _byte_conf_to_int(value) -> int:
    """Parse a Spark byte-size conf value to bytes, -1 on anything odd.

    Spark accepts unit-suffixed strings for
    ``spark.sql.autoBroadcastJoinThreshold`` ('64m', '10MB', '1g', …)
    alongside plain integers. The earlier ``int(static)`` parse sent
    every suffixed session into the except branch (thr=-1), silently
    forcing the runtime-only conf — and its measured ~0.8 s
    stage-boundary cost at bench SF — on corpora that are measurably
    tiny (ADVICE r12). Mirrors the JVM's
    ``JavaUtils.byteStringAsBytes`` suffix table (k/m/g/t/p, optional
    trailing 'b') without a py4j round-trip; unknown shapes still
    degrade to -1, i.e. the safe runtime-only branch, never a crash.
    """
    if value is None:
        return -1
    s = str(value).strip().lower()
    try:
        return int(s)
    except ValueError:
        pass
    mult = 1
    if s.endswith("b"):
        s = s[:-1]
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
             "t": 1 << 40, "p": 1 << 50}
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return -1


def _broadcast_policy(spark, stats, exact_mass=None):
    """The measured-stat refinement of ``_runtime_broadcast_only`` for
    the Jaccard family, whose operators already measure a map-only
    corpus statistic for their candidate guards.

    The blanket runtime-only conf costs ~0.8 s at bench SF on
    x2_ngram_jaccard (extra stage boundaries + shuffle-writes of
    frames a static broadcast would have kept in place), which is pure
    waste on a corpus that is MEASURABLY tiny. This context engages
    the runtime-only conf only when the measured bounds say a static
    broadcast could actually hurt:

    - ``posting_mass·24 + n_docs·32`` upper-bounds the bytes of every
      shingle-derived frame static planning might broadcast (the
      array cache, the exploded index, the df table, the PPJoin
      prefix rows) — measured, not Catalyst's junk per-type estimate;
    - when the guard's exact probe ran, ``exact_mass`` additionally
      bounds the verify join's array-carrying intermediate
      (pairs × avg-shingles) — the one frame the posting bound
      doesn't cover. Un-probed duplication-extreme small corpora
      remain a documented residual (static planning may still pick
      that side from its estimate), bounded by the candidate-pair
      guard's cap.

    Below the session's own static threshold both bounds make any
    broadcast choice safe → null context, plans identical to r11.
    Above it → runtime-only conf (see ``_runtime_broadcast_only``).
    Planning happens at action time, so wrapping just the eager
    localCheckpoint governs the whole join tree.
    """
    import contextlib

    static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    thr = _byte_conf_to_int(static)
    if stats is not None and thr > 0:
        p = int(stats.get("posting_mass") or 0)
        nd = int(stats.get("n_docs") or 0)
        index_bytes = p * 24 + nd * 32
        avg_shingles = p // max(nd, 1) + 1
        verify_ok = (
            exact_mass is None
            or int(exact_mass) * (avg_shingles * 8 + 32) <= thr
        )
        if index_bytes <= thr and verify_ok:
            return contextlib.nullcontext()
    return scoped_conf(
        spark,
        {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": static,
        },
    )


def _balanced(df: DataFrame, balance: bool = True) -> DataFrame:
    """Ensure CPU-dense per-row work (shingling, hashing) gets all cores.

    A small single-file parquet scan yields 1 partition, serializing
    the expensive expression work above it — so these operators'
    ingest points round-robin to the default parallelism. No partition
    -count probe: inspecting ``df.rdd`` would materialize the RDD
    lineage on the driver and bypass AQE planning, which is worse than
    the shuffle it tries to avoid. Large corpora arrive pre-partitioned;
    their callers pass ``balance=False`` (every public operator here
    forwards it) and skip the exchange entirely.
    """
    if not balance:
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)

# ---------------------------------------------------------------------------
# X1 — exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, cols: list[str]) -> DataFrame:
    """Keep one row per distinct value of ``cols`` (shuffle hash dedup)."""
    return df.dropDuplicates(cols)


def fingerprint_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact text dedup at scale: group by md5 fingerprint, keep the
    smallest id per group (deterministic winner). Only (digest, id)
    pairs shuffle — document bodies stay put until the final semi-join.
    """
    winners = (
        df.select(F.col(id_col), fingerprint(text_col).alias("_fp"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(winners.select(id_col), on=id_col, how="left_semi")


def edit_distance_pairs(
    df: DataFrame,
    bucket_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 40,
    max_dist: int = 20,
    block_prefix_len: int | None = None,
    max_candidate_pairs: int | None = 2_000_000_000,
) -> DataFrame:
    """Edit-distance near-dup pairs, bucketed: levenshtein over a fixed
    text prefix, compared only WITHIN ``bucket_col`` groups (source,
    domain, cluster id…). The quadratic verify is confined to each
    bucket — the standard shape for title/URL dedup where a cheap
    blocking key exists; never an unbucketed all-pairs. Returns
    (doc_a, doc_b, edit_dist).

    ``max_candidate_pairs`` (r14 — this was the LAST pair generator
    off the scale-policy ladder, found by the sf100 sweep: a
    low-cardinality blocking key makes "confined to each bucket"
    meaningless — 5M docs over a handful of sources is ~2.5e12
    within-bucket pairs, a >900 s wall on the default session): probe
    Σ c·(c−1)/2 over the ACTUAL bucket sizes (one 1-row aggregate over
    (bucket, count)) and refuse with the measured mass above the cap.
    ``block_prefix_len=m`` is the in-family remedy the refusal names:
    co-block on the first m characters of the text as well, so only
    docs agreeing on the prefix compare — near-dups within ``max_dist``
    edits of each other in the FIRST m CHARS still collide, classic
    title-dedup blocking (tighter m trades recall for mass; pairs
    whose edits all sit inside the first m chars drop). None disables
    the guard for pre-sized corpora.
    """
    # NULL buckets must stay non-joinable in BOTH forms: the plain path
    # gets that for free (NULL = NULL is NULL under the equi-join), but
    # concat_ws SKIPS nulls, so the co-block key would collapse
    # NULL-bucket rows onto the bare text prefix and the documented
    # remedy would silently ADD cross-bucket pairs (ADVICE r14).
    # Propagating NULL through the co-block key keeps the contract:
    # enabling block_prefix_len only ever REMOVES pairs.
    t = df.select(
        F.col(id_col).alias("_id"),
        (
            F.when(
                F.col(bucket_col).isNotNull(),
                F.concat_ws(
                    "\x1f",
                    F.col(bucket_col).cast("string"),
                    F.substring(F.col(text_col), 1, block_prefix_len),
                ),
            )
            if block_prefix_len
            else F.col(bucket_col)
        ).alias("_b"),
        F.substring(F.col(text_col), 1, prefix_len).alias("_s"),
    )
    if max_candidate_pairs is not None:
        # _b IS NOT NULL: the equi-join never compares NULL buckets, so
        # counting them here would refuse corpora whose real join mass
        # is under the cap (ADVICE r14).
        mass = (
            t.filter(F.col("_b").isNotNull())
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.sum(F.col("_c") * (F.col("_c") - 1) / F.lit(2)).alias("_m")
            )
            .collect()[0]["_m"]
        )
        if mass is not None and mass > max_candidate_pairs:
            raise ValueError(
                f"edit_distance_pairs: the within-bucket join would "
                f"compare {int(mass):,} pairs (> max_candidate_pairs="
                f"{max_candidate_pairs:,}) — the blocking key "
                f"'{bucket_col}' is too coarse for this corpus. "
                "Tighten the blocks: block_prefix_len=m co-blocks on "
                "the text's first m chars (title-dedup blocking; "
                "pairs whose edits all sit inside that prefix drop — "
                "start m≈30 and LOOSEN while this guard stays quiet; "
                "the guard re-probes the co-blocked mass, and at the "
                "sf100 marker corpus m=30 measured 7,900 pairs / 15 s "
                "where m=20 still left an 875M-pair levenshtein wall), "
                "pick a finer bucket_col, or use minhash_lsh_pairs / "
                "simhash_near_pairs (the banded 100TB paths — both "
                "complete the sf100 corpus on a default session). "
                "Pass max_candidate_pairs=None only for a corpus you "
                "have sized."
            )
    a, b = t.alias("a"), t.alias("b")
    dist = F.levenshtein(F.col("a._s"), F.col("b._s"))
    return (
        a.join(
            b,
            (F.col("a._b") == F.col("b._b")) & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("doc_a"),
            F.col("b._id").alias("doc_b"),
            dist.cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= max_dist)
    )


def corpus_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The historical corpus reduced to its distinct 32-char digests —
    the only thing incremental dedup ever needs from 100 TB of history.
    Materialize this once per corpus snapshot (ideally bucketed by
    `fingerprint`) and ship it to every ingest job; bodies stay put."""
    return df.select(fingerprint(text_col).alias("fingerprint")).distinct()


def incremental_dedup(
    incoming: DataFrame,
    seen_fingerprints: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Admit only genuinely new documents from an ingest batch:
    within-batch exact dups collapse to the min-id winner, then
    anything whose fingerprint already exists in the historical corpus
    (`seen_fingerprints` from `corpus_fingerprints`) is dropped via a
    left-anti join on the digest.

    Scale shape: the incoming side shuffles (digest, id) pairs only;
    the historical side is a single 32-char column. With both sides
    bucketed on `fingerprint` the anti join is exchange-free; otherwise
    it is one shuffle of digests — never of document bodies.
    """
    inc = incoming.withColumn("_fp", fingerprint(text_col))
    winners = inc.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    batch_unique = inc.join(
        winners, on=[id_col, "_fp"], how="left_semi"
    )
    return batch_unique.join(
        seen_fingerprints.withColumnRenamed("fingerprint", "_fp").select("_fp"),
        on="_fp",
        how="left_anti",
    ).drop("_fp")


# ---------------------------------------------------------------------------
# X2a — word-shingle helpers + exact n-gram Jaccard similarity join
# ---------------------------------------------------------------------------

def shingles_from_tokens(toks, n: int = 3):
    """Distinct n-grams over a token-array COLUMN.

    Callers must pass a materialized column (withColumn), not an inline
    split() expression: higher-order-function lambdas run interpreted,
    so an embedded split would re-tokenize once per shingle.
    slice+concat_ws touches exactly n elements per shingle.
    """
    return F.array_distinct(
        F.transform(
            _shingle_starts(toks, n),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def _shingle_starts(toks, n: int):
    """array<int> of 1-based shingle start positions — EMPTY (typed)
    when the doc has fewer than n tokens. Guarded because Spark's
    sequence(1, 0) yields a DESCENDING [1, 0], which would feed
    element_at(toks, 0) and fail under ANSI on short docs. The guard
    is a single when() branch (one comparison per ROW), not a
    per-element filter lambda — this sits on the hottest expression
    of the Jaccard index, and an interpreted higher-order filter here
    measurably regressed x2_ngram_jaccard ~1.2x."""
    count = F.size(toks) - F.lit(n - 1)
    return F.when(count >= F.lit(1), F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )


def word_shingles(col, n: int = 3):
    """Distinct n-word shingles of a text column (convenience wrapper;
    prefer tokenizing into a column first — see shingles_from_tokens)."""
    c = F.col(col) if isinstance(col, str) else col
    return shingles_from_tokens(F.split(c, " "), n)


def shingle_hashes_from_tokens(toks, n: int = 3):
    """Distinct n-gram HASHES (array<long>) without materializing the
    shingle strings: xxhash64 chains the n token columns directly.

    Bijective with the space-joined string shingle because split()
    tokens cannot contain the delimiter — so distinct counts (and thus
    Jaccard) are identical to the string form, while the interpreted
    per-shingle work drops from slice+concat_ws (array alloc + string
    build + hash of ~n·wordlen chars) to one multi-arg hash of n
    pointers."""
    return F.array_distinct(
        F.transform(
            _shingle_starts(toks, n),
            lambda i: F.xxhash64(*[F.element_at(toks, i + F.lit(j)) for j in range(n)]),
        )
    )


# Measured crossover for the index-vs-PPJoin pick (BENCH_ppjoin_r6.json,
# one 48g session, median-of-3, parity asserted): the full inverted
# index wins at sf0.1 (posting mass ≈ 240k: 1.20 s vs 2.23 s), PPJoin
# wins 1.39× at sf1 (posting mass ≈ 2.4M: 6.70 s vs 9.33 s). The
# geometric midpoint of the two measured posting masses is the switch
# point; re-measure with scripts/bench_ppjoin.py to recalibrate.
PPJOIN_POSTING_MASS_CROSSOVER = 750_000


def choose_jaccard_strategy(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> tuple[str, dict]:
    """Pick the exact-Jaccard join plan from corpus stats: the full
    inverted index below ``PPJOIN_POSTING_MASS_CROSSOVER`` posting
    mass, the PPJoin prefix-filtered plan above it (VERDICT r6 #5 —
    the crossover guidance lived in a docstring; callers at sf1+ got
    the slower index by default).

    Posting mass is bounded above by Σ max(tokens−n+1, 0) — computed
    with one map-only global aggregate over ``split(text)`` sizes (no
    shuffle beyond the 1-row partial-agg merge, no shingle hashing,
    no explode). The 1-row collect is a bounded driver action of the
    same kind as the ratio cap's scalar count; it cannot ride a
    broadcast because the two strategies are different PLANS, not
    different filters — a runtime scalar can gate rows, not swap the
    join tree. Returns (strategy, stats) so callers/tests can audit
    the decision."""
    row = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.greatest(
                F.size(F.split(F.col(text_col), " ")) - F.lit(n - 1), F.lit(0)
            )
        ).alias("posting_mass"),
    ).collect()[0]
    mass = row.posting_mass or 0
    strategy = "ppjoin" if mass >= PPJOIN_POSTING_MASS_CROSSOVER else "index"
    return strategy, {"n_docs": row.n_docs, "posting_mass": mass}


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_df_ratio: float | None = None,
    balance: bool = True,
    strategy: str = "index",
    max_candidate_pairs: int | None = 2_000_000_000,
    on_overflow: str = "raise",
    reroute_df_ratio: float = 0.01,
) -> DataFrame:
    """Exact Jaccard-similar pairs over n-word shingles.

    Inverted-index plan: explode distinct shingles, self-join on the
    shingle string (Catalyst shuffles on the shingle hash — only
    shingles and ids move), count common shingles per pair, then
    Jaccard = common / (|A| + |B| - common). The threshold compare is
    done in exact integers (common·den ≥ num·union, num/den from the
    caller's decimal literal via Fraction) so results hash
    identically across engines.

    Returns (doc_a, doc_b, common, size_a, size_b) with doc_a < doc_b.

    The PPJoin-style prefix-filtered twin is
    ``ngram_jaccard_pairs_ppjoin`` (bit-identical answers, its own
    registered query + oracle). Crossover MEASURED r6
    (BENCH_ppjoin_r6.json, one 48g session, median-of-3, parity
    asserted at both SFs): at sf0.1 the full index wins (1.20 s vs
    2.23 s — candidates are cheap, the prefix machinery isn't free);
    at sf1 on the fixed-vocabulary corpus the candidate term dominates
    and PPJoin wins 6.70 s vs 9.33 s (1.39×) — exactly the regime
    prefix filtering targets. Production guidance: below corpus-shard
    scale use this full index; beyond it prefer the prefix twin, the
    df-ratio cap, or (the true 100 TB path) the banded-MinHash
    pipeline. The r4 note rejecting PPJoin outright was measured only
    at sf0.1 and is superseded by the crossover above.

    ``strategy``: "index" (default, this plan), "ppjoin" (dispatch to
    the prefix-filtered twin), or "auto" — pick from the measured
    posting-mass crossover via ``choose_jaccard_strategy`` (VERDICT r6
    #5). The df caps only exist on the index form (they ARE an
    alternative scale strategy), so auto with a cap stays on the index.

    ``max_candidate_pairs`` guards the index join's quadratic term
    (same pattern as with_fill's axis guard), in two stages. Stage 1
    is a map-only 1-row bound off the RAW corpus (the same split-size
    statistic ``choose_jaccard_strategy`` measures — reused, never
    recomputed, when auto or the fast dispatch already ran it):
    worst-case mass ≤ min(P(P−1)/2, P·(n_docs−1)/2) for P total
    postings — when even that clears the cap, no corpus with these
    stats can blow up and the exact probe (a shuffle costing ~65% of
    the whole query at bench SF) is skipped, and the shingle cache
    fills inside the main join job exactly as an unguarded call would
    (r11; the previous cached-array-frame stat forced a separate
    cache-fill job worth ~0.5 s at bench SF). Otherwise stage 2 computes the EXACT count
    the join would emit — Σ_h df_h·(df_h−1)/2 over the actual join
    input (post df-cap) — and above the cap raises with the measured
    mass and the named scale paths (df-ratio cap / PPJoin twin /
    banded MinHash) instead of silently attempting a join that
    measured heap-exhaustion at sf10 on a replicated corpus. None
    disables the guard for callers that have already sized the corpus.

    ``on_overflow``: what to do when the guard measures a candidate
    mass above the cap — ``"raise"`` (default, the sized refusal) or
    ``"reroute"``: dispatch to the PPJoin prefix-filtered twin, which
    returns BIT-IDENTICAL answers while emitting only prefix-surviving
    candidates. Measured r10 (BENCH_reroute_r10.json, 48g session):
    the sf10 marker corpus (500k docs) whose exact mass of 3.206e9
    refuses by default COMPLETES via reroute with row-level parity
    against direct PPJoin (25,501 pairs) — 110 s on the fast-dispatch
    path, 446 s when the exact probe must decide — so the corpus class
    that exhausted an 8 GB heap in r4 now finishes exact. A
    hot-shingle corpus (17-word boilerplate on every doc, mass
    1.89e10) reroutes in 25 s. Above the measured posting-mass
    crossover the reroute dispatches BEFORE building the shingle cache
    or probing (one map-only 1-row aggregate — see the fast path in
    the body), so reroute there costs the same as saying
    ``strategy='ppjoin'`` outright; only the below-crossover regime
    pays the exact probe, where the index form wins whenever the true
    mass fits the cap.
    ``on_overflow='reroute_capped'`` (r13, VERDICT r12 #1) is the
    WALL-BUDGET tier above 'reroute': instead of the exact PPJoin twin
    — which preserves bit-identical answers but still pays the full
    candidate mass (685 s for the sf10 transitive closure on a
    default 8 GB session, BENCH_sf10_default_session_r12.json) — the
    overflow dispatches to THIS index form with
    ``max_df_ratio=reroute_df_ratio`` (default 0.01, the production
    boilerplate cap). Semantics above the cap are the DOCUMENTED
    APPROXIMATION of the capped twin: the only pairs that can drop
    are those whose every common shingle sits in more than
    reroute_df_ratio of the corpus, i.e. pairs whose entire
    similarity evidence is non-discriminative boilerplate. Below the
    cap nothing changes — same exact plan, same oracle, same hash.
    Like 'reroute', the fast dispatch fires on the LOOSE worst-case
    bound when the corpus also sits above the posting-mass crossover,
    so a duplication-extreme corpus whose exact mass would have fit
    may still get capped edges — callers that need exactness at any
    wall cost should use 'reroute'; callers that need a bounded wall
    use this.
    Reroute applies only when no df cap is set: with ``max_df``/
    ``max_df_ratio`` the caller already chose a scale strategy, and a
    still-overflowing CAPPED mass means the corpus needs the banded-
    MinHash path (``minhash_lsh_pairs``), which a same-semantics
    reroute cannot silently substitute — capped overflow raises
    regardless (including after a reroute_capped dispatch). Note that reroute's fast dispatch binds TIGHTER than a
    pinned plan choice: an explicit ``strategy='index'`` with
    ``on_overflow='reroute'`` still dispatches to the PPJoin twin when
    the corpus sits above the crossover and the loose worst-case bound
    trips — even if the exact mass would have fit the cap. The answers
    are bit-identical; only the physical plan differs. Pin
    ``on_overflow='raise'`` (the default) to keep a pinned strategy
    authoritative.
    """
    if strategy not in ("index", "ppjoin", "auto"):
        raise ValueError(f"strategy must be index|ppjoin|auto, got {strategy!r}")
    if on_overflow not in ("raise", "reroute", "reroute_capped"):
        raise ValueError(
            "on_overflow must be 'raise', 'reroute' or 'reroute_capped', "
            f"got {on_overflow!r}"
        )
    _stats = None  # posting-mass stats, measured at most once (ADVICE r10)
    if strategy == "auto" and max_df is None and max_df_ratio is None:
        strategy, _stats = choose_jaccard_strategy(df, text_col, n)
    if strategy == "ppjoin":
        if max_df is not None or max_df_ratio is not None:
            raise ValueError("df caps are index-only; use strategy='index'")
        # the caller's budget travels with the pinned dispatch
        return ngram_jaccard_pairs_ppjoin(
            df, text_col, id_col, n, threshold, balance,
            max_candidate_pairs=max_candidate_pairs, _stats=_stats,
        )
    # Fast reroute (r10, from the sf10 measurement): a reroute-enabled
    # caller on a corpus where (a) the guard's worst-case bound — off
    # the SAME map-only split-size stat choose_jaccard_strategy uses,
    # an upper bound on distinct-shingle postings — could trip, and
    # (b) the posting mass already sits above the measured
    # index-vs-PPJoin crossover, ends up at PPJoin whatever the exact
    # probe would say (auto would pick it for speed even below the
    # cap). Dispatch NOW, before the shingle-array cache is built:
    # measured on the sf10 marker corpus, reroute-with-probe paid
    # 446 s (217 s probe + shingle build) where direct PPJoin paid
    # 229 s — this check costs one 1-row map-only aggregate and makes
    # the two equal. Below the crossover the normal guard decides on
    # the exact mass, where the index form wins when it fits.
    # When strategy='auto' already measured the corpus and resolved to
    # 'index', the posting mass sits BELOW the crossover, so this block
    # could never dispatch — skip it instead of paying the 1-row
    # aggregate a second time (ADVICE r10). Note for pinned callers:
    # an explicit strategy='index' with reroute enabled may still
    # dispatch to the PPJoin twin here — the worst-case bound is loose,
    # so the dispatch can fire even when the exact mass would have fit
    # the cap; results are bit-identical either way, only the plan
    # differs (see the docstring).
    if (
        max_candidate_pairs is not None
        and on_overflow in ("reroute", "reroute_capped")
        and max_df is None
        and max_df_ratio is None
        and _stats is None
    ):
        _strat, _stats = choose_jaccard_strategy(df, text_col, n)
        _p, _nd = _stats["posting_mass"], _stats["n_docs"]
        _bound = min(_p * (_p - 1) // 2, _p * max(_nd - 1, 0) // 2)
        if _strat == "ppjoin" and _bound > max_candidate_pairs:
            if on_overflow == "reroute_capped":
                # Wall-budget tier: re-enter the index form under the
                # production boilerplate cap instead of paying the
                # exact twin's full candidate mass (685 s at sf10 for
                # the transitive closure — VERDICT r12 #1). Capped
                # overflow raises, never re-reroutes.
                _capped_dispatch_notice(
                    max_candidate_pairs, int(_bound), reroute_df_ratio,
                    measured=False,
                )
                return ngram_jaccard_pairs(
                    df, text_col=text_col, id_col=id_col, n=n,
                    threshold=threshold,
                    max_df_ratio=reroute_df_ratio, balance=balance,
                    max_candidate_pairs=max_candidate_pairs,
                    on_overflow="raise",
                )
            # _exact_mass: the worst-case bound, conservatively — the
            # exact probe never ran on this path, and an over-cap
            # dispatch must not let the twin's verify intermediate be
            # picked for a static broadcast off the posting bound
            # alone (ADVICE r12).
            # guard disabled on the twin: 'reroute' is the documented
            # exactness-at-any-wall tier — the reroute IS the scale
            # decision (the bounded-wall tier is 'reroute_capped')
            return ngram_jaccard_pairs_ppjoin(
                df, text_col, id_col, n, threshold, balance,
                max_candidate_pairs=None,
                _stats=_stats, _exact_mass=_bound,
            )
    # Build the shingle-hash ARRAY once and cache it pre-explode: it
    # feeds three consumers (both join sides + the size table). Without
    # the persist, Catalyst re-executes the shingle build 4× — measured
    # 44× slower than necessary on a dense corpus. Caching the array
    # form (not the exploded rows) lets set sizes come from a narrow
    # F.size() projection instead of a groupBy over the exploded index
    # — one whole shuffle removed, measured ~2× on the sf0.1 corpus.
    # The index holds 8-byte shingle hashes, never shingle strings
    # (collision odds at 2^-64·n² are nil), so the join shuffle moves a
    # quarter of the bytes.
    # r14 note: the codegen explode+collect_set build
    # (_shingle_arr_codegen) was A/B'd here and LOST at both sf0.1
    # (0.83 s vs 0.43 s) and sf10 (2.43 s vs 1.24 s): unlike minhash
    # (16 interpreted min-passes) and winnow (the O(n·w) interpreted
    # window layer), this family's array build has no per-element HOF
    # work beyond the hash itself, so the collect_set exchange costs
    # more than it saves. Kept on the measured form.
    arr = (
        _balanced(df, balance)
        .select(F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks"))
        .select("_id", shingle_hashes_from_tokens(F.col("_toks"), n).alias("_arr"))
        .persist()
    )
    inv = arr.select("_id", F.explode("_arr").alias("_h"))
    try:
        sizes = arr.select("_id", F.size("_arr").alias("_sz"))

        # Skew knob for corpus scale: a shingle appearing in m documents
        # contributes m·(m-1)/2 join pairs — boilerplate shingles
        # ("terms of service use") quadratically dominate the join while
        # contributing least discrimination. max_df drops shingles above
        # a document-frequency cap from the JOIN only; |A|,|B| keep the
        # full counts, so reported Jaccard never inflates (common can
        # only shrink → strictly precision-preserving, recall may drop).
        # Exact mode (max_df=None) is what the oracle checks.
        #
        # max_df_ratio is the PRODUCTION form of the knob: cap =
        # ceil(ratio · n_docs), computed inside the plan (1-row count
        # off the cached array frame, broadcast cross-join — no driver
        # action). An ABSOLUTE cap silently mistunes when typical df
        # scales with the corpus: measured r5, max_df=50 on the 10×/
        # 100× replicas (median shingle df 69 at sf1) dropped the
        # MAJORITY of shingles and returned ZERO pairs — the r4 scale
        # rows for the capped query were measuring empty results. A
        # ratio cap keeps "boilerplate" meaning "appears in more than
        # ratio of the corpus" at every scale.
        if max_df is not None and max_df_ratio is not None:
            raise ValueError("pass max_df or max_df_ratio, not both")
        join_inv = inv
        dfreq = kept = None
        # Guard stage 1 (map-only, 1-row): the worst case puts every
        # posting on one shingle (mass ≤ P(P−1)/2) and no shingle can
        # exceed the corpus (df ≤ n ⇒ mass ≤ P(n−1)/2). When even the
        # smaller bound clears the cap, NO corpus with these stats can
        # blow up — skip the exact per-shingle probe and its shuffle
        # (which costs ~65% of the whole query at bench SF). The stats
        # come from choose_jaccard_strategy's RAW split-size aggregate
        # (r11) — the earlier form aggregated size(_arr) off the cached
        # array frame, which forced a separate cache-fill job running
        # the whole shingle build before the main join could start
        # (measured 1.70 s vs 1.15 s unguarded at bench SF; with the
        # raw-frame stat the guard costs one scan+split pass and the
        # cache fills inside the join job as it would unguarded). The
        # raw count bounds the distinct-shingle count from above
        # (array_distinct only shrinks it), so the bound stays valid —
        # merely ≥ the old one, and stage 2 is exact either way. Auto
        # and fast-dispatch callers already measured the same stats;
        # they are reused, never recomputed.
        need_exact_probe = False
        if max_candidate_pairs is not None:
            if _stats is None:
                _, _stats = choose_jaccard_strategy(df, text_col, n)
            p, nd = _stats["posting_mass"], _stats["n_docs"]
            bound = min(p * (p - 1) // 2, p * max(nd - 1, 0) // 2)
            need_exact_probe = bound > max_candidate_pairs
        if (
            max_df is not None
            or max_df_ratio is not None
            or need_exact_probe
        ):
            dfreq = inv.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        if max_df is not None or max_df_ratio is not None:
            if max_df is not None:
                kept = dfreq.filter(F.col("_df") <= max_df)
            else:
                # Integer-exact cap test. The contract is df ≤ ceil(r·n)
                # with r = num/denom taken from the DECIMAL LITERAL the
                # caller wrote (Fraction(str(r)) — never the float's
                # binary expansion); for integers that is exactly
                # num·n > (df−1)·denom, so both Spark and any oracle
                # engine evaluate pure BIGINT arithmetic and the hash
                # gate cannot be broken by float-vs-DECIMAL rounding at
                # an integer boundary for ANY ratio value.
                from fractions import Fraction

                frac = Fraction(str(max_df_ratio))
                # counting the input frame == counting arr (one row
                # per doc) and never touches the cache
                total = df.select(F.count(F.lit(1)).alias("_ndocs"))
                kept = dfreq.crossJoin(F.broadcast(total)).filter(
                    (F.col("_df") - F.lit(1)) * F.lit(frac.denominator)
                    < F.lit(frac.numerator) * F.col("_ndocs")
                )
            join_inv = inv.join(kept.select("_h"), "_h", "left_semi")

        _exact_mass = None
        if need_exact_probe:
            # Guard stage 2 (exact): the join emits exactly
            # Σ_h df_h·(df_h−1)/2 rows. The semi-join filters WHICH
            # shingles join, not their posting counts, so the post-cap
            # mass reads straight off the kept df rows — no second
            # aggregation over join_inv.
            mass = (
                (kept if kept is not None else dfreq)
                .agg(
                    F.sum(
                        F.col("_df") * (F.col("_df") - 1) / F.lit(2)
                    ).alias("_pairs")
                )
                .collect()[0]["_pairs"]
            )
            _exact_mass = mass
            if mass is not None and mass > max_candidate_pairs:
                if on_overflow == "reroute" and kept is None:
                    # Exact-preserving reroute (opt-in): the PPJoin
                    # twin answers the SAME query bit-identically via
                    # prefix-filtered candidates. Returning from inside
                    # the try releases the cached array frame via the
                    # finally below; the twin builds its own caches.
                    # The probed mass rides along so the twin's
                    # broadcast policy sees the verify-join bound the
                    # posting stat can't (ADVICE r12).
                    return ngram_jaccard_pairs_ppjoin(
                        df, text_col, id_col, n, threshold, balance,
                        max_candidate_pairs=None,
                        _stats=_stats, _exact_mass=int(mass),
                    )
                if on_overflow == "reroute_capped" and kept is None:
                    # Wall-budget reroute, in place: dfreq is already
                    # computed (the probe needed it), so engage the
                    # boilerplate ratio cap on THIS plan instead of
                    # rebuilding the shingle cache in a recursive
                    # call. Still-over-cap capped mass raises below —
                    # that corpus needs the banded-MinHash path.
                    _capped_dispatch_notice(
                        max_candidate_pairs, int(mass), reroute_df_ratio,
                        measured=True,
                    )
                    from fractions import Fraction

                    _rfrac = Fraction(str(reroute_df_ratio))
                    # input count == arr count; skips the cache
                    _total = df.select(F.count(F.lit(1)).alias("_ndocs"))
                    kept = dfreq.crossJoin(F.broadcast(_total)).filter(
                        (F.col("_df") - F.lit(1)) * F.lit(_rfrac.denominator)
                        < F.lit(_rfrac.numerator) * F.col("_ndocs")
                    )
                    join_inv = inv.join(kept.select("_h"), "_h", "left_semi")
                    _capped = (
                        kept.agg(
                            F.sum(
                                F.col("_df") * (F.col("_df") - 1) / F.lit(2)
                            ).alias("_pairs")
                        )
                        .collect()[0]["_pairs"]
                    )
                    mass = _exact_mass = int(_capped or 0)
                if mass is not None and mass > max_candidate_pairs:
                    raise ValueError(
                        f"ngram_jaccard_pairs: the inverted-index join "
                        f"would emit {int(mass):,} candidate pairs "
                        f"(> max_candidate_pairs={max_candidate_pairs:,})."
                        " Bound the quadratic term first: "
                        "max_df_ratio=0.01 drops corpus-boilerplate "
                        "shingles from the join, strategy='ppjoin' "
                        "prefix-filters candidates (on_overflow="
                        "'reroute' dispatches there automatically when "
                        "no df cap is set; 'reroute_capped' applies the "
                        "ratio cap for a bounded wall), or use "
                        "minhash_lsh_pairs (the banded 100TB path). "
                        "Pass max_candidate_pairs=None only for a "
                        "corpus you have sized."
                    )
        a, b = join_inv.alias("a"), join_inv.alias("b")
        common = (
            a.join(b, (F.col("a._h") == F.col("b._h")) & (F.col("a._id") < F.col("b._id")))
            .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
        # Threshold compare in exact integers from the caller's decimal
        # literal (Fraction(str(t))): common·den ≥ num·union. The
        # previous int(t·1e6) scaling truncates for thresholds like 0.3
        # (→ 299999), making the verify LOOSER than documented; at the
        # registered t=0.8 both forms are identical (800000/1e6 = 4/5).
        from fractions import Fraction

        _fr = Fraction(str(threshold)).limit_denominator(1_000_000)
        # sizes is one row per doc — NOT broadcastable at corpus scale;
        # AQE picks broadcast when it actually fits. Both joins alias
        # the SAME sizes plan (no withColumnRenamed below the join):
        # renames would de-canonicalize the two subplans and defeat
        # exchange reuse, forcing two identical broadcast builds —
        # measured ~0.15-0.25 s per query at sf0.1, and at corpus
        # scale two identical shuffles instead of one.
        sa, sb = sizes.alias("sa"), sizes.alias("sb")
        out = (
            common.join(sa, F.col("doc_a") == F.col("sa._id"))
            .join(sb, F.col("doc_b") == F.col("sb._id"))
            .filter(
                F.col("common") * F.lit(_fr.denominator)
                >= F.lit(_fr.numerator)
                * (F.col("sa._sz") + F.col("sb._sz") - F.col("common"))
            )
            .select(
                "doc_a",
                "doc_b",
                "common",
                F.col("sa._sz").alias("size_a"),
                F.col("sb._sz").alias("size_b"),
            )
        )
        # materialize before unpersisting the frame the plan depends on.
        # Planning happens here, so the broadcast policy context around
        # this ONE action governs every join above: measured-tiny
        # corpora keep their static-broadcast plans, corpus-scaled ones
        # plan runtime-broadcast-only (see _broadcast_policy; the sf10
        # OOM class). Unguarded callers (max_candidate_pairs=None) have
        # no stats yet — one map-only 1-row aggregate (~0.12 s at bench
        # SF) buys the measured decision instead of the blanket conf's
        # ~0.8 s stage-boundary cost.
        if _stats is None:
            _, _stats = choose_jaccard_strategy(df, text_col, n)
        with _broadcast_policy(df.sparkSession, _stats, _exact_mass):
            out = out.localCheckpoint(eager=True)
    finally:
        arr.unpersist()
    return out


def ngram_jaccard_pairs_ppjoin(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    balance: bool = True,
    max_candidate_pairs: int | None = 2_000_000_000,
    _stats: dict | None = None,
    _exact_mass: int | None = None,
) -> DataFrame:
    """Exact Jaccard pairs via PPJoin-style prefix filtering — the
    measured ALTERNATIVE to ``ngram_jaccard_pairs``'s full inverted
    index, kept so the trade can be re-measured at any scale
    (VERDICT r5 #6; same output contract, bit-identical results).

    Prefix principle (Chaudhuri et al. SSJoin / Xiao et al. PPJoin):
    order every document's shingle hashes by a GLOBAL canonical order —
    ascending (document frequency, hash) — and index only each doc's
    first |d| − ⌈t·|d|⌉ + 1 hashes. Two docs with J ≥ t must share at
    least one prefix token under that order, so the candidate join
    touches only prefix postings (the rarest ~(1−t) fraction of each
    doc) instead of the full index. Candidates then verify with one
    array_intersect over the cached shingle arrays. A length filter
    (t·|A| ≤ |B|) prunes cross-size candidates inside the join; the
    positional filter of full PPJoin is deliberately omitted — it
    saves candidates only when prefixes are long (low t), and at
    t = 0.8 prefixes are ~1/5 of a doc already.

    All threshold arithmetic is integer-exact (num/denom from the
    decimal literal), same as the inverted-index form.

    Measured crossover (BENCH_ppjoin_r6.json): slower than the full
    index at sf0.1 (2.23 s vs 1.20 s), 1.39× FASTER at sf1 (6.70 s vs
    9.33 s) — prefix filtering pays exactly when the candidate term
    dominates, i.e. the regime a growing corpus enters.

    ``max_candidate_pairs`` (r13): the twin was the last pair
    generator without its own guard — a DIRECT call on a corpus whose
    PREFIX-filtered mass is still a bomb ran a silent multi-hour join.
    Two stages like the index form: the map-only posting bound skips
    the probe entirely below the cap (the common case — zero cost at
    bench SF), else the prefix frame is persisted DISK_ONLY (the r13
    storage lesson; the join reuses it, largely refunding the probe)
    and the exact Σ c·(c−1)/2 over prefix postings decides. Measured
    sf10 marker corpus: prefix mass 257.3M — 12× below the exact
    form's 3.2e9, so the r10 reroute capability is untouched by the
    default cap. OVERFLOW-REROUTED calls arrive with the guard
    DISABLED on purpose: ``on_overflow='reroute'`` is the documented
    exactness-at-any-wall tier (the reroute IS the caller's scale
    decision); the bounded-wall tier is ``reroute_capped``.
    """
    from fractions import Fraction

    fr = Fraction(str(threshold)).limit_denominator(1_000_000)
    num, den = fr.numerator, fr.denominator
    from pyspark.sql import Window

    arr = (
        _balanced(df, balance)
        .select(F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks"))
        .select("_id", shingle_hashes_from_tokens(F.col("_toks"), n).alias("_arr"))
        .persist()
    )
    _pref_persisted = False
    try:
        inv = arr.select(
            "_id", F.size("_arr").alias("_sz"), F.explode("_arr").alias("_h")
        )
        dfreq = inv.groupBy("_h").agg(F.count(F.lit(1)).alias("_df"))
        # Rank each doc's hashes in the global (df, hash) order. The
        # window shuffles by doc id — same volume as the full index
        # explode, but it runs ONCE and the expensive self-join after
        # it only sees prefix rows. ceil(t·sz) in integers:
        # ceil(num·sz/den) = (num·sz + den − 1) DIV den; values are
        # far below 2^53 so the double division inside floor is exact.
        w = Window.partitionBy("_id").orderBy("_df", "_h")
        prefix_len = (
            F.col("_sz")
            - F.floor((F.lit(num) * F.col("_sz") + F.lit(den - 1)) / F.lit(den))
            + F.lit(1)
        )
        pref = (
            inv.join(dfreq, "_h")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= prefix_len)
            .select("_id", "_sz", "_h")
        )
        if max_candidate_pairs is not None:
            if _stats is None:
                _, _stats = choose_jaccard_strategy(df, text_col, n)
            _p, _nd = _stats["posting_mass"], _stats["n_docs"]
            _bound = min(_p * (_p - 1) // 2, _p * max(_nd - 1, 0) // 2)
            if _bound > max_candidate_pairs:
                from pyspark.storagelevel import StorageLevel

                pref = pref.persist(StorageLevel.DISK_ONLY)
                _pref_persisted = True
                _pm = (
                    pref.groupBy("_h")
                    .agg(F.count(F.lit(1)).alias("_c"))
                    .agg(
                        F.sum(
                            F.col("_c") * (F.col("_c") - 1) / F.lit(2)
                        ).alias("_m")
                    )
                    .collect()[0]["_m"]
                )
                if _pm is not None and int(_pm) > max_candidate_pairs:
                    raise ValueError(
                        f"ngram_jaccard_pairs_ppjoin: even the PREFIX-"
                        f"filtered candidate join would emit "
                        f"{int(_pm):,} pairs (> max_candidate_pairs="
                        f"{max_candidate_pairs:,}). This corpus's "
                        "duplication is beyond exact-verify scale: use "
                        "minhash_lsh_pairs (the banded 100TB path) or "
                        "the df-ratio-capped index "
                        "(ngram_jaccard_pairs(max_df_ratio=...)). Pass "
                        "max_candidate_pairs=None only for a corpus "
                        "you have sized."
                    )
        pa, pb = pref.alias("pa"), pref.alias("pb")
        cand = (
            pa.join(
                pb,
                (F.col("pa._h") == F.col("pb._h"))
                & (F.col("pa._id") < F.col("pb._id"))
                # length filter: J ≥ t forces t·|A| ≤ |B| and t·|B| ≤ |A|
                & (F.lit(num) * F.col("pa._sz") <= F.lit(den) * F.col("pb._sz"))
                & (F.lit(num) * F.col("pb._sz") <= F.lit(den) * F.col("pa._sz")),
            )
            .select(F.col("pa._id").alias("doc_a"), F.col("pb._id").alias("doc_b"))
            .distinct()
        )
        # verify: one array_intersect per surviving candidate pair
        aa, ab = arr.alias("aa"), arr.alias("ab")
        out = (
            cand.join(aa, F.col("doc_a") == F.col("aa._id"))
            .join(ab, F.col("doc_b") == F.col("ab._id"))
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("aa._arr", "ab._arr")).alias("common"),
                F.size("aa._arr").alias("size_a"),
                F.size("ab._arr").alias("size_b"),
            )
            # Verify with the SAME exact num/den the prefix and length
            # filters use (ADVICE r6: int(t·1e6) truncates for t like
            # 0.3, making verify looser than the prefix guarantee and
            # breaking the bit-identical contract for huge docs).
            .filter(
                F.col("common") * F.lit(den)
                >= F.lit(num)
                * (F.col("size_a") + F.col("size_b") - F.col("common"))
            )
        )
        # Same measured broadcast policy as the index form: planning
        # happens at this one action; the reroute/dispatch callers pass
        # their already-measured stats, a direct caller measures the
        # map-only stat here (see _broadcast_policy). Overflow-reroute
        # callers additionally thread the candidate mass that tripped
        # their guard (``_exact_mass`` — the probed Σ df(df−1)/2, or
        # the worst-case bound on the fast-dispatch path): a
        # duplication-extreme small corpus has tiny posting mass but a
        # huge verify-join intermediate, exactly the class the probe
        # just flagged, and the posting bound alone would wave it into
        # static planning (ADVICE r12).
        if _stats is None:
            _, _stats = choose_jaccard_strategy(df, text_col, n)
        with _broadcast_policy(df.sparkSession, _stats, exact_mass=_exact_mass):
            out = out.localCheckpoint(eager=True)
    finally:
        arr.unpersist()
        if _pref_persisted:
            pref.unpersist()
    return out


def duplicated_ngram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document duplicated-n-gram mass and first-occurrence novelty
    — the substring-level duplication signal behind "train on novel
    text" curation (the doc-level fingerprints in `fingerprint_dedup`
    miss partial copies; this measures them).

    For each document with ≥ n tokens:
    - ``n_shingles``       distinct word n-grams,
    - ``n_dup_shingles``   of those, how many occur in ≥ 2 corpus docs,
    - ``dup_permille``     1000·dup/total (integer floor),
    - ``n_novel_shingles`` shingles whose FIRST corpus occurrence
      (minimum doc id) is this document,
    - ``novelty_permille`` 1000·novel/total.

    Scale shape: one explode of 8-byte shingle hashes (never strings —
    same bijectivity argument as `shingle_hashes_from_tokens`), one
    groupBy per hash computing (document frequency, min doc id), one
    co-partitioned join back on the hash, one groupBy per doc. Bodies
    never shuffle; everything that moves is (hash, id) pairs, so the
    plan survives a 100× corpus the same way the inverted-index
    Jaccard join does. Ratios are integer permille (floor) so the
    result hashes identically on any engine.

    r14 (found by the sf100 sweep — the query died mid-shuffle on the
    default 8 GB session at 5M docs): hashes now come from a codegen'd
    projection over exploded start positions (the winnow lesson,
    BENCH_winnow_r14.json — interpreted transform() lambdas cost ~40×)
    with dropDuplicates for the per-doc distinct, and the exploded
    frame persists DISK_ONLY (the spans.py lesson: it feeds BOTH the
    df/min-id groupBy and the join back, is corpus-scale, and a
    memory-backed cache of it races the join for the heap — before
    r14 it was not persisted at all, so the interpreted build also ran
    twice).
    """
    from pyspark.storagelevel import StorageLevel

    inv = (
        df.select(
            F.col(id_col).alias("_id"),
            F.split(F.col(text_col), " ").alias("_toks"),
        )
        .select(
            "_id", "_toks",
            F.explode(_shingle_starts(F.col("_toks"), n)).alias("_i"),
        )
        .select(
            "_id", _kgram_hash_at(F.col("_toks"), F.col("_i"), n).alias("_h")
        )
        .dropDuplicates(["_id", "_h"])
        .persist(StorageLevel.DISK_ONLY)
    )
    try:
        stats = inv.groupBy("_h").agg(
            F.count(F.lit(1)).alias("_df"), F.min("_id").alias("_first")
        )
        per_doc = (
            inv.join(stats, "_h")
            .groupBy("_id")
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.sum(F.when(F.col("_df") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_dup_shingles"),
                F.sum(F.when(F.col("_first") == F.col("_id"), 1).otherwise(0))
                .cast("long")
                .alias("n_novel_shingles"),
            )
        )
        out = per_doc.select(
            F.col("_id").alias(id_col),
            "n_shingles",
            "n_dup_shingles",
            F.expr("(1000 * n_dup_shingles) DIV n_shingles").alias("dup_permille"),
            "n_novel_shingles",
            F.expr(
                "(1000 * n_novel_shingles) DIV n_shingles"
            ).alias("novelty_permille"),
        ).localCheckpoint(eager=True)
    finally:
        inv.unpersist()
    return out


def _kgram_hash_at(toks, i, n: int):
    """xxhash64 of the n-gram starting at 1-based position ``i`` —
    the single-position expression shared by the array-building lambda
    (`_positional_shingle_hashes`) and the codegen explode path
    (`winnow_fingerprints`): both MUST produce identical values."""
    return F.xxhash64(*[F.element_at(toks, i + F.lit(j)) for j in range(n)])


def _kgram_md5_at(toks, i, n: int):
    """Engine-portable twin of `_kgram_hash_at`: first 60 bits of md5
    over the space-joined n-gram — replays verbatim in DuckDB (see
    x2_winnow_md5's oracle)."""
    return F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def _positional_shingle_hashes(toks, n: int):
    """ORDERED (non-distinct) n-gram hash sequence — winnowing needs
    positions, unlike the set-semantics helper above.

    NOTE (r14): this higher-order ``transform`` is INTERPRETED — Spark
    never whole-stage-codegens HOF lambdas, and the interpreted
    per-position tree measured ~40× the codegen'd identical expression
    (0.48 s vs 19.8 s for 11.6M positions, /tmp attribution run behind
    BENCH_winnow_r14.json). Hot paths that can explode positions into
    rows should use `_kgram_hash_at` in a regular projection instead;
    keep this array form only where per-doc array semantics are
    genuinely needed downstream (e.g. spans.py's gaps-and-islands)."""
    return F.transform(
        _shingle_starts(toks, n), lambda i: _kgram_hash_at(toks, i, n)
    )


def _positional_shingle_md5(toks, n: int):
    """Engine-portable twin of `_positional_shingle_hashes` (see its
    interpreted-HOF performance note)."""
    return F.transform(
        _shingle_starts(toks, n), lambda i: _kgram_md5_at(toks, i, n)
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    balance: bool = True,
    portable: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection, the
    MOSS scheme: Schleimer/Wilkerson/Aiken, SIGMOD 2003).

    ``portable=True`` hashes k-grams with the 60-bit md5 form instead
    of xxhash64 — the selection (window minima over positions) is
    unchanged, and the whole operator replays in DuckDB (x2_winnow_md5).

    Hash every token k-gram, slide a window of w consecutive hashes,
    keep the minimum of each window; the distinct minima are the
    document's fingerprint set. Guarantees: any shared run of w+k-1
    tokens between two documents shares ≥1 fingerprint, and selection
    density is ~2/(w+1) — position-robust, unlike the whole-document
    md5 in text.fingerprint.

    Returns (id, fingerprint) rows — join on fingerprint for overlap
    candidates (same inverted-index shape as ngram_jaccard_pairs, with
    a ~w× smaller index).

    Plan (r14 rewrite, VERDICT r13 #3): explode k-gram START POSITIONS
    into rows, hash each k-gram in a regular codegen'd projection, take
    window minima with ``min() OVER (PARTITION BY doc ORDER BY pos ROWS
    BETWEEN CURRENT AND w-1 FOLLOWING)``, keep valid window starts,
    then ``distinct()``. The r4-r13 form was a "pure map plan" — the
    whole selection inside higher-order ``transform`` lambdas — and was
    the slowest sf100 completer (496 s) BECAUSE of that purity: Spark
    interprets HOF lambdas (no WholeStageCodegen), and the interpreted
    per-position hash tree measured ~40× the codegen'd identical
    expression. Paying two narrow exchanges (window on ~24-byte
    (id,pos,hash) rows + the distinct) to keep every expression inside
    codegen measured 29× faster end-to-end at 100k docs (22.6 s →
    0.78 s, bit-identical output — BENCH_winnow_r14.json) and holds at
    the sf100 decade. The window formulation itself never mattered:
    slice+array_min, w-ary least and log-doubling sparse table all
    measure within ±10% interpreted (BENCH_winnow_r14.json, step 1).
    """
    toks = F.col("_toks")
    hash_at = _kgram_md5_at if portable else _kgram_hash_at
    positions = (
        _balanced(df, balance)
        .select(F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks"))
        # n_hashes = size - k + 1; valid window starts 1 .. n_hashes - w + 1
        .select(
            "_id",
            "_toks",
            (F.size("_toks") - F.lit(k - 1) - F.lit(w - 1)).alias("_nw"),
            F.explode(_shingle_starts(toks, k)).alias("_i"),
        )
        .select(
            "_id", "_i", "_nw", hash_at(toks, F.col("_i"), k).alias("_h")
        )
    )
    win = (
        Window.partitionBy("_id").orderBy("_i").rowsBetween(0, w - 1)
    )
    return (
        positions.select(
            "_id", "_i", "_nw", F.min("_h").over(win).alias("fingerprint")
        )
        # trailing positions have fewer than w hashes in reach — they
        # are not windows; docs with _nw < 1 (fewer than w k-grams)
        # drop entirely, matching the old size(_hs) >= w filter
        .filter(F.col("_i") <= F.col("_nw"))
        .select(F.col("_id").alias(id_col), "fingerprint")
        .distinct()
    )


# ---------------------------------------------------------------------------
# X2b — MinHash + banded LSH (pure DataFrame, deterministic)
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    balance: bool = True,
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) — num_hashes independent min-hashes.

    CODEGEN EXPLODE+GROUPBY (r14, superseding the r11 map-only form):
    explode k-gram START positions into rows, hash each n-gram in a
    regular codegen'd projection, then one groupBy(_id) computing the
    num_hashes ``min(xxhash64(h, seed))`` aggregates. The r11 freeze
    ("MAP-ONLY: the HOF form wins 1.34× at bench SF, and at 100 TB the
    gap is structural — a pure map stage that fuses with the scan")
    compared two plans that BOTH built the shingle array through an
    interpreted transform() lambda; once the hash itself moves into
    codegen (the winnow root cause, BENCH_winnow_r14.json — Spark
    never codegens HOF lambdas, ~40× per position), the verdict
    inverts AT EVERY SCALE, and grows with the corpus because the
    interpreted cost is per-position while the exchange ships one
    ~136-byte partial row per doc: measured 1.9× at sf0.1 (0.63 s vs
    1.19 s) and 3.1× at sf10 (1.40 s vs 4.34 s), value-parity
    asserted (BENCH_minhash_codegen_r14.json). No dedup row is
    shuffled: min() over the shingle MULTISET ≡ min() over the set,
    so the per-doc array_distinct the old form paid is simply dropped.

    Docs with fewer than n tokens have no shingle positions — the
    explode drops them, preserving the previous filter semantics (an
    all-NULL signature would spuriously band with every empty doc).
    """
    toks = F.col("_toks")
    inv = (
        _balanced(df, balance)
        .select(F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks"))
        .select(
            "_id", "_toks",
            F.explode(_shingle_starts(toks, n)).alias("_i"),
        )
        .select("_id", _kgram_hash_at(toks, F.col("_i"), n).alias("_h"))
    )
    return inv.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    )


# Mersenne prime modulus for the portable MinHash mix family. 31 bits
# so every product a_i·x (a_i, x < 2^31) stays under 2^62 — no 64-bit
# overflow in Spark's ANSI mode and no HUGEINT promotion in DuckDB, so
# both engines compute the identical integers with plain BIGINT
# arithmetic. A 31-bit minhash universe does not bias the Jaccard
# estimate at ANY corpus size: injectivity only needs to hold over the
# union of ONE PAIR's shingle sets (thousands of elements → collision
# probability ~k²/2P ≈ 1e-7), not over the corpus vocabulary.
MINHASH_MIX_P = 2_147_483_647


def minhash_mix_constants(num_hashes: int) -> list[tuple[int, int]]:
    """The (a_i, b_i) multipliers of the portable MinHash universal
    family — deterministic (md5 of the index string, so any two
    engines regenerate them), INDEPENDENT across i, reproduced
    verbatim by the DuckDB oracle builder
    (__spark_entry__._minhash_md5_parts), which is why these are a
    shared function and not inline literals.

    Independence matters, not just non-degeneracy (r15, found by
    test_minhash_portable_matches_fast_variant): a first cut used
    a_i = (2i+1)·c for a shared Knuth constant c, and then the
    element with the globally smallest (c·x mod P) tends to win the
    min under EVERY h_i = (2i+1)(c·x) + b_i — two documents sharing
    that ONE shingle (true J = 0.008) agreed on 14/16 minhashes and
    surfaced as an est-J=0.875 near-dup pair. md5-derived a_i have no
    common structure, restoring P(minhash agrees) ≈ J."""
    import hashlib as _hl

    def _h(tag: str, mod: int) -> int:
        return int(_hl.md5(tag.encode()).hexdigest()[:15], 16) % mod

    return [
        (_h(f"minhash-a-{i}", MINHASH_MIX_P - 1) + 1,
         _h(f"minhash-b-{i}", MINHASH_MIX_P))
        for i in range(num_hashes)
    ]


def minhash_md5_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    balance: bool = True,
) -> DataFrame:
    """Engine-portable MinHash (Broder construction): one md5 base hash
    per shingle — x = first 60 bits of md5(shingle) reduced mod
    P=2³¹−1 — then mh_i = min over shingles of (a_i·x + b_i) mod P,
    the classic pairwise-independent universal family.

    Slower than the xxhash64 form but every step exists verbatim in
    DuckDB — so the WHOLE banded-LSH pipeline sits under the driver's
    exact hash gate (see x2_minhash_lsh_md5), turning the fast twin's
    rows-only check into a proven-identical algorithm with a swapped
    hash primitive.

    ONE md5 + 16 INTEGER MIXES (r15, VERDICT r14 #2): the previous
    form hashed md5(shingle ∥ '#i') per hash function — 16 string
    md5s + 16 hex→long convs PER SHINGLE OCCURRENCE — and that, not
    the connected-components iteration, was x2_near_dedup_clusters'
    593 s sf100 wall (stage profile: pairs build 33.2 s of the 38.4 s
    sf10 total, closure 3.9 s; BENCH_near_dedup_profile_r15.json).
    A/B at sf10 (34.8M shingle occurrences): 16×md5 23.3 s → one
    md5 + universal mixes 4.1 s (5.7×). Also measured and REJECTED:
    within-doc shingle dedup (repeat factor 34.8M→34.5M, no win) and
    hashing the 303k DISTINCT shingles once then joining back
    (105–129 s — the 34.8M-row string shuffle costs far more than the
    redundant hashing it saves; same negative result as the Jaccard
    family's collect_set A/B at dedup.py:677).

    CODEGEN EXPLODE+GROUPBY (r14, same restructure and rationale as
    ``minhash_signatures`` — the shingle STRING build and the hash
    min-expressions previously both ran inside interpreted transform()
    lambdas; now the n-gram string is concat_ws'd in a codegen'd
    projection and the mins are grouped aggregates). min() over the
    shingle multiset ≡ min() over the set (the mix is monotone-free
    but per-shingle deterministic), so the per-doc array_distinct is
    dropped rather than paid as a dedup exchange; docs with fewer than
    n tokens vanish at the explode. Bit-identical output — the DuckDB
    oracle for x2_minhash_lsh_md5 replays it via the shared
    ``minhash_mix_constants``.
    """
    toks = F.col("_toks")
    inv = (
        _balanced(df, balance)
        .select(F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks"))
        .select(
            "_id", "_toks",
            F.explode(_shingle_starts(toks, n)).alias("_i"),
        )
        .select(
            "_id",
            F.concat_ws(
                " ",
                *[F.element_at(toks, F.col("_i") + F.lit(j)) for j in range(n)],
            ).alias("_s"),
        )
    )
    base = (
        F.conv(F.substring(F.md5(F.col("_s")), 1, 15), 16, 10).cast("long")
        % F.lit(MINHASH_MIX_P)
    )
    mixes = minhash_mix_constants(num_hashes)
    return (
        inv.select("_id", base.alias("_x"))
        .groupBy("_id")
        .agg(
            *[
                F.min(
                    (F.col("_x") * F.lit(a) + F.lit(b)) % F.lit(MINHASH_MIX_P)
                ).alias(f"mh_{i}")
                for i, (a, b) in enumerate(mixes)
            ]
        )
    )


@_runtime_broadcast_only
def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    balance: bool = True,
    portable: bool = False,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH.

    Signature is split into ``bands`` bands of ``num_hashes/bands``
    rows; docs agreeing on any full band become a candidate pair. The
    join key is (band_index, band_hash) — tiny, uniform, shuffle-friendly.
    Returns (doc_a, doc_b, n_bands_agree, est_jaccard_permille) where
    est_jaccard is the fraction of agreeing minhashes ×1000 (integer).

    ``portable=True`` swaps xxhash64 minhashes for the md5-based
    universal-family form and string band keys (concat of the band's
    minhashes) — bit-identical in DuckDB, used by the oracle-gated
    driver query.

    Small-SF bench note (r15, VERDICT r14 #4): at sf0.1 the headline
    ``x2_minhash_lsh`` wall is BAND-JOIN-bound, not signature-bound —
    the r14 codegen rewrite made the signature stage 1.9× faster yet
    the sf0.1 headline stayed flat (1.126 vs 1.130 s), because at
    60k docs the self-join + groupBy overhead dominates. The rewrite's
    payoff is at scale (sf100: 51→31 s), where the signature stage is
    the bulk; do not "re-fix" the flat small-SF number.
    """
    rows_per_band = num_hashes // bands
    if portable:
        sig = minhash_md5_signatures(df, text_col, id_col, n, num_hashes, balance)
        band_exprs = [
            F.concat_ws(
                "|",
                *[
                    F.col(f"mh_{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ).alias(f"band_{b}")
            for b in range(bands)
        ]
    else:
        sig = minhash_signatures(df, text_col, id_col, n, num_hashes, balance)
        band_exprs = [
            F.xxhash64(
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias(f"band_{b}")
            for b in range(bands)
        ]
    banded = sig.select("_id", *[F.col(f"mh_{i}") for i in range(num_hashes)], *band_exprs)

    # Cache the bucket relation: the signature build (num_hashes array
    # scans per doc) would otherwise run once per join side.
    buckets = banded.select(
        "_id",
        F.array(*[F.col(f"mh_{i}") for i in range(num_hashes)]).alias("_sig"),
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("h"))
                for b in range(bands)
            ])
        ).alias("_bh"),
    ).select(
        "_id", "_sig", F.col("_bh.band").alias("_band"), F.col("_bh.h").alias("_h")
    ).persist()

    try:
        a, b = buckets.alias("a"), buckets.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a._band") == F.col("b._band"))
                & (F.col("a._h") == F.col("b._h"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .groupBy(F.col("a._id").alias("doc_a"), F.col("b._id").alias("doc_b"))
            .agg(
                F.count(F.lit(1)).alias("n_bands_agree"),
                F.first("a._sig").alias("_sa"),
                F.first("b._sig").alias("_sb"),
            )
        )
        agree = F.size(
            F.filter(
                F.zip_with("_sa", "_sb", lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        )
        out = pairs.select(
            "doc_a",
            "doc_b",
            "n_bands_agree",
            F.floor((agree * 1000) / F.lit(num_hashes)).alias("est_jaccard_permille"),
        ).localCheckpoint(eager=True)
    finally:
        buckets.unpersist()
    return out


# ---------------------------------------------------------------------------
# X2c — SimHash (64-bit) + Hamming-band near-dup join
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    balance: bool = True,
) -> DataFrame:
    """64-bit SimHash per document, entirely in built-ins.

    Each token hashes once (xxhash64); bit i of the sketch is the sign
    of Σ(±1) over that bit across tokens — equivalently, bit i is set
    iff tokens with bit i set form a strict majority (2·ones > n).

    CODEGEN EXPLODE+GROUPBY (r14, superseding the r11 map-only form —
    the same inversion as ``minhash_signatures``): explode tokens (a
    native split, no HOF array build), hash each in a codegen'd
    projection, then one groupBy(_id) with 64 conditional-sum bit
    tallies + a count. The r11 freeze compared an interpreted HOF form
    against an explode form whose array build was ALSO interpreted;
    with the whole pipeline in codegen the per-element work (64 bit
    tests × tokens, the dominant term) escapes the interpreted-lambda
    tax: measured a wash at sf0.1 (2.30 s vs 2.17) and 1.7× at sf10
    (3.68 s vs 6.28), bit-identical sketches
    (BENCH_kgram_codegen_r14.json carries the family rule). The ±1
    multiset semantics are preserved: tokens are NOT deduplicated,
    exactly like the old array wasn't.

    NULL-text docs are dropped (r11 ADVICE): explode of a NULL split
    emits no rows — they would otherwise surface as sketch-0 rows
    reporting each other as distance-0 near-dups.
    """
    inv = (
        _balanced(df.filter(F.col(text_col).isNotNull()), balance)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("_t"),
        )
        .select("_id", F.xxhash64("_t").alias("_h"))
    )
    g = inv.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                F.shiftrightunsigned(F.col("_h"), i).bitwiseAND(F.lit(1))
            ).alias(f"_b{i}")
            for i in range(64)
        ],
    )
    sketch = F.lit(0).cast("long")
    for i in range(64):
        # (1 << 63) won't fit a long literal — the sign bit lands as
        # the most negative long, exactly as the old unsigned shift did
        bit = F.lit(1 << i if i < 63 else -(1 << 63))
        sketch = sketch + F.when(
            F.col(f"_b{i}") * 2 > F.col("_n"), bit
        ).otherwise(0)
    return g.select(F.col("_id").alias(id_col), sketch.alias("simhash"))


def simhash_md5(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    balance: bool = True,
) -> DataFrame:
    """Engine-portable 60-bit SimHash: the token hash is the first 60
    bits of md5(token) as a long. Same sign-of-bit-sums construction
    as `simhash`; 60 bits keeps the sketch and every band chunk
    non-negative, so plain arithmetic shifts agree across engines and
    the whole sketch replays verbatim in DuckDB (the oracle for
    x2_simhash_md5). Slower than xxhash64 — use for cross-engine
    verification, not the hot path. CODEGEN EXPLODE+GROUPBY like its
    fast twin (r14 — see ``simhash``'s docstring for the measured
    inversion of the r11 map-only freeze): explode tokens, md5 in a
    codegen'd projection, 60 conditional-sum bit tallies per doc.
    Same multiset semantics; NULL-text docs drop at the explode.
    The DuckDB oracle for x2_simhash_md5 replays it unchanged.
    """
    inv = (
        _balanced(df.filter(F.col(text_col).isNotNull()), balance)
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("_t"),
        )
        .select(
            "_id",
            F.conv(F.substring(F.md5("_t"), 1, 15), 16, 10)
            .cast("long")
            .alias("_h"),
        )
    )
    g = inv.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1))).alias(
                f"_b{i}"
            )
            for i in range(60)
        ],
    )
    sketch = F.lit(0).cast("long")
    for i in range(60):
        sketch = sketch + F.when(
            F.col(f"_b{i}") * 2 > F.col("_n"), F.lit(1 << i)
        ).otherwise(0)
    return g.select(F.col("_id").alias(id_col), sketch.alias("simhash"))


@_runtime_broadcast_only
def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    balance: bool = True,
    portable: bool = False,
    max_candidate_pairs: int | None = 2_000_000_000,
    candidate_rows_per_task: int = 2_000_000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming — complete.

    Band trick: split the sketch bits into ``max_hamming + 1``
    near-equal bands. A pair within the Hamming budget has at most
    ``max_hamming`` differing bits, which cannot touch all
    ``max_hamming + 1`` bands (pigeonhole) — so every qualifying pair
    agrees exactly on ≥1 band and is found by the (band, chunk)
    equi-join; no all-pairs compare, no silent recall loss. More bands
    (larger max_hamming) = shorter chunks = more candidates to verify:
    cost scales with the radius, correctness does not.

    ``portable=True`` swaps the 64-bit xxhash64 token hash for the
    60-bit md5 form (`simhash_md5`) so the whole pipeline — sketch,
    banding, candidate join, Hamming verify — replays bit-identically
    in DuckDB (see x2_simhash_md5).
    """
    bands = max_hamming + 1
    total_bits = 60 if portable else 64
    if bands > total_bits // 2:
        raise ValueError("max_hamming too large for the sketch width")
    base, rem = divmod(total_bits, bands)
    widths = [base + 1 if b < rem else base for b in range(bands)]
    offsets = [sum(widths[:b]) for b in range(bands)]

    sk = (
        simhash_md5(df, text_col, id_col, balance)
        if portable
        else simhash(df, text_col, id_col, balance)
    )
    # persist: the banded relation feeds both self-join sides — without
    # it the 64-aggregate sketch shuffle runs twice.
    chunks = sk.select(
        F.col(id_col).alias("_id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned("simhash", offsets[b])
                    .bitwiseAND(F.lit((1 << widths[b]) - 1))
                    .alias("chunk"),
                )
                for b in range(bands)
            ])
        ).alias("_c"),
    ).select(
        "_id", "simhash", F.col("_c.band").alias("_band"), F.col("_c.chunk").alias("_chunk")
    ).persist()

    try:
        # Candidate guard + OUTPUT-scaled partitioning, from one probe.
        # The band join emits exactly Σ per-(band,chunk) m·(m−1)/2 rows
        # — an expansion AQE cannot see: it sizes partitions from the
        # join's INPUT shuffles (~56 MB at 500k docs, coalesced toward
        # one task), then a handful of tasks each stream hundreds of
        # millions of pair rows and die re-growing sort/agg buffers
        # (measured at sf10: 847M candidates, 67 MB humongous
        # allocations × 32 workers → executor heap OOM on the default
        # 8 GB session; 256 shuffle partitions did NOT help — AQE
        # coalesced them right back). The probe is one aggregate over
        # the persisted banded frame; the guard refuses corpus-bomb
        # masses like the siblings, and the repartition below scales
        # the join's parallelism with the MEASURED output mass —
        # explicit numPartitions, which AQE never coalesces.
        _mass = None
        _max_bucket = 0
        if max_candidate_pairs is not None or candidate_rows_per_task:
            _probe = (
                chunks.groupBy("_band", "_chunk")
                .agg(F.count(F.lit(1)).alias("_m"))
                .agg(
                    F.sum(
                        F.col("_m") * (F.col("_m") - 1) / F.lit(2)
                    ).alias("_p"),
                    F.max("_m").alias("_maxm"),
                )
                .collect()[0]
            )
            _mass = int(_probe["_p"] or 0)
            _max_bucket = int(_probe["_maxm"] or 0)
        if max_candidate_pairs is not None and _mass > max_candidate_pairs:
            raise ValueError(
                f"simhash_near_pairs: the band join would emit "
                f"{_mass:,} candidate pairs (> max_candidate_pairs="
                f"{max_candidate_pairs:,}). Tighten max_hamming (fewer, "
                "wider bands → smaller buckets), pre-shard the corpus, "
                "or use minhash_lsh_pairs / ngram_jaccard_pairs with "
                "their df caps. Pass max_candidate_pairs=None only for "
                "a corpus you have sized."
            )
        # Partition-scaling has a residual the hash repartition can't
        # fix: repartition(parts, _band, _chunk) hash-partitions by the
        # JOIN KEY, so all rows of one (band, chunk) bucket still land
        # in one task — a corpus whose sub-cap mass is concentrated in
        # one dominant duplicate family gets no added parallelism and
        # can still exhaust a task's sort buffers (ADVICE r12). When
        # the probe measures a single bucket whose own pair mass tops
        # candidate_rows_per_task, SALT the triangle: the a-side gets
        # one of g deterministic sub-groups (g = ceil(bucket pairs /
        # rows_per_task), per bucket, g=1 everywhere benign), the
        # b-side replicates across all g, and _salt joins alongside
        # (band, chunk) — each ordered pair (a<b) appears exactly once
        # under a's salt, so output semantics (and the dropDuplicates
        # contract) are unchanged while the dominant bucket fans out
        # into g tasks. b-side replication is bounded: m·g ≈
        # m·mass_bucket/rows_per_task rows, ≤ ~63k·(cap/rpt) under the
        # global guard — shuffle weight, not a blow-up.
        _salted = (
            candidate_rows_per_task
            and _max_bucket * (_max_bucket - 1) // 2 > candidate_rows_per_task
        )
        if _salted:
            bucket_g = (
                chunks.groupBy("_band", "_chunk")
                .agg(F.count(F.lit(1)).alias("_m"))
                .select(
                    "_band",
                    "_chunk",
                    F.greatest(
                        F.lit(1),
                        F.least(
                            F.lit(4096),
                            F.ceil(
                                F.col("_m") * (F.col("_m") - 1)
                                / F.lit(2)
                                / F.lit(candidate_rows_per_task)
                            ),
                        ),
                    ).cast("int").alias("_g"),
                )
            )
            withg = chunks.join(bucket_g, ["_band", "_chunk"])
            a_side = withg.withColumn(
                "_salt", F.pmod(F.xxhash64("_id"), F.col("_g")).cast("int")
            ).drop("_g")
            b_side = withg.withColumn(
                "_salt", F.explode(F.sequence(F.lit(0), F.col("_g") - 1))
            ).drop("_g")
        else:
            a_side = b_side = chunks
        if _mass is not None and candidate_rows_per_task:
            par = df.sparkSession.sparkContext.defaultParallelism
            parts = max(par, min(4096, -(-_mass // candidate_rows_per_task)))
            if parts > par:
                keys = ["_band", "_chunk"] + (["_salt"] if _salted else [])
                a_side = a_side.repartition(parts, *keys)
                # unsalted sides are the same plan — keep them ONE
                # object so the exchange is reused, not rebuilt
                b_side = (
                    b_side.repartition(parts, *keys) if _salted else a_side
                )
        a, b = a_side.alias("a"), b_side.alias("b")
        ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
        cond = (
            (F.col("a._band") == F.col("b._band"))
            & (F.col("a._chunk") == F.col("b._chunk"))
            & (F.col("a._id") < F.col("b._id"))
        )
        if _salted:
            cond = cond & (F.col("a._salt") == F.col("b._salt"))
        out = (
            a.join(b, cond)
            .filter(ham <= max_hamming)
            .select(
                F.col("a._id").alias("doc_a"),
                F.col("b._id").alias("doc_b"),
                ham.cast("long").alias("hamming"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
            .localCheckpoint(eager=True)
        )
    finally:
        chunks.unpersist()
    return out


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: pairs where the smaller document's shingle
    set is ≥ ``threshold`` contained in the pair's intersection —
    excerpt/quote/subset detection, which symmetric Jaccard misses
    entirely (a paragraph quoted inside a book has Jaccard ≈ 0 but
    containment 1.0).

    Same inverted-index skeleton and costs as ngram_jaccard_pairs
    (reused with the threshold disabled); only the final predicate
    differs: common·den ≥ num·min(|A|,|B|) with num/den the exact
    Fraction of the caller's decimal literal, reported as an exact
    integer permille. Returns (doc_a, doc_b, common, size_a, size_b,
    containment_permille).
    """
    pairs = ngram_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, n=n,
        threshold=0.0, max_df=max_df,
    )
    # Exact integers from the decimal literal, like the jaccard verifies:
    # int(t*1000) truncates for e.g. t=0.3 (float 0.3*1000 -> 299.999…
    # -> 299), silently admitting containment >= 0.299.
    from fractions import Fraction

    _fr = Fraction(str(threshold)).limit_denominator(1_000_000)
    small = F.least(F.col("size_a"), F.col("size_b"))
    return (
        pairs.filter(
            F.col("common") * _fr.denominator >= F.lit(_fr.numerator) * small
        )
        .select(
            "doc_a", "doc_b", "common", "size_a", "size_b",
            F.floor(F.col("common") * 1000 / small)
            .cast("long")
            .alias("containment_permille"),
        )
    )


# ---------------------------------------------------------------------------
# pyspark.ml compatibility surface (SURVEY §2.12's literal X2 mapping)
# ---------------------------------------------------------------------------

def minhash_lsh_ml_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_hash_tables: int = 8,
    dim: int = 1 << 20,
    seed: int = 42,
    max_candidate_pairs: int | None = 2_000_000_000,
) -> DataFrame:
    """Near-duplicate pairs via ``pyspark.ml`` MinHashLSH
    ``approxSimilarityJoin`` — the stock-MLlib recipe SURVEY §2.12
    names for X2, same contract as :func:`minhash_lsh_pairs`.

    ``max_candidate_pairs`` (r15 sf100 sweep find): the stock join is
    OR-amplified over ``num_hash_tables`` SINGLE-hash tables — no
    banding, no bucket cap — so every pair of docs sharing a table's
    minimum shingle hash is a candidate, and the candidate-dedup
    exchange inside ``approxSimilarityJoin`` shuffles BOTH full rows
    (features vector + hash array) per candidate. On a 5M-doc corpus
    the un-probed call sat on the 900 s sweep budget
    (BENCH_sf100_tranche10_r15.json). The guard probes the exact
    per-table bucket mass Σ c·(c−1)/2 off the fitted model's own
    transform (one linear aggregate; the vector frame is persisted
    DISK_ONLY so the row-at-a-time UDF build runs once, not 3×) and
    refuses above the cap naming the banded native path, which
    completes the same corpus in ~31 s.

    Documents become binary vectors over a 2^20-dim hashed shingle
    space (xxhash64 shingles mod dim; collisions at ~200 shingles/doc
    are negligible but make the per-pair distance a hashed-space
    Jaccard, not the exact string-shingle Jaccard — which is why the
    native ``minhash_lsh_pairs`` + exact verify is the production
    path). The SparseVector build is a row-at-a-time Python UDF, the
    one place this wrapper deviates from our no-slow-UDF rule: MLlib's
    VectorUDT has no JVM-side array constructor, and this path exists
    for API compatibility, not throughput.

    Returns (doc_a, doc_b) pairs with hashed-space Jaccard ≥ threshold;
    recall vs the exact inverted-index join is gated in
    ``tests/test_ml_compat.py``.
    """
    from pyspark.ml.feature import MinHashLSH
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.storagelevel import StorageLevel

    @F.udf(returnType=VectorUDT())
    def _to_binary_vec(hashes):
        if not hashes:
            return SparseVector(dim, [], [])
        idx = sorted({h % dim for h in hashes})
        return SparseVector(dim, idx, [1.0] * len(idx))

    arr = (
        df.select(F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_toks"))
        .select("_id", shingle_hashes_from_tokens(F.col("_toks"), n).alias("_arr"))
        .filter(F.size("_arr") > 0)
        .select("_id", _to_binary_vec("_arr").alias("features"))
    )
    # fit + probe + the join's two dataset legs all consume arr; the
    # Python-UDF vector build is the expensive stage, so pay it once.
    arr = arr.persist(StorageLevel.DISK_ONLY)
    mh = MinHashLSH(
        inputCol="features", outputCol="hashes",
        numHashTables=num_hash_tables, seed=seed,
    )
    model = mh.fit(arr)
    if max_candidate_pairs is not None:
        from pyspark.ml.functions import vector_to_array

        mass = (
            model.transform(arr)
            .select(F.posexplode("hashes").alias("_t", "_hv"))
            .select("_t", vector_to_array(F.col("_hv"))[0].alias("_b"))
            .groupBy("_t", "_b")
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(
                F.sum(
                    F.col("_c") * (F.col("_c") - F.lit(1)) / F.lit(2)
                ).alias("_m")
            )
            .first()[0]
        )
        if mass is not None and mass > max_candidate_pairs:
            arr.unpersist()
            raise ValueError(
                "minhash_lsh_ml_pairs: the stock MinHashLSH "
                f"approxSimilarityJoin would shuffle {int(mass):,} "
                "candidate rows (per-table bucket mass > "
                f"max_candidate_pairs={max_candidate_pairs:,}) with "
                "both FULL rows riding every candidate — the stock "
                "single-hash tables have no banding or bucket cap to "
                "shed mass. Use the native banded path "
                "(dedup.minhash_lsh_pairs) which answers the same "
                "contract with bounded bands, or raise "
                "max_candidate_pairs for a corpus you have sized."
            )
    joined = model.approxSimilarityJoin(arr, arr, 1.0 - threshold, distCol="_jd")
    return (
        joined.select(
            F.col("datasetA._id").alias("doc_a"),
            F.col("datasetB._id").alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
    )


def jaccard_threshold_sweep(
    df: DataFrame,
    thresholds: list[int] = (500, 600, 700, 800, 900, 1000),
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Threshold-tuning report: how many near-dup pairs survive at each
    candidate Jaccard cutoff (permille), from ONE inverted-index pass at
    the lowest threshold — the sweep a curation run does before
    committing to a dedup threshold, without re-joining the corpus per
    candidate value.

    Returns (threshold_permille, n_pairs) with cumulative semantics
    (a pair at 0.83 counts toward 500..800). Exact integer compare:
    1000·common ≥ t·union, the same form the pair join itself uses.
    """
    lo = min(thresholds) / 1000.0
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, n=n, threshold=lo, max_df=max_df
    ).select(
        "common", (F.col("size_a") + F.col("size_b") - F.col("common")).alias("_u")
    )
    counts = pairs.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("common") * 1000 >= F.lit(t) * F.col("_u"), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias(f"_t{t}")
            for t in thresholds
        ]
    )
    stack = ", ".join(f"{t}L, _t{t}" for t in thresholds)
    return counts.selectExpr(
        f"stack({len(thresholds)}, {stack}) AS (threshold_permille, n_pairs)"
    )
