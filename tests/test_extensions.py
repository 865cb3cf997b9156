"""Unit tests for the extension operators added beyond the reference
surface (SURVEY.md §2.12): embedding near-dup (exact + LSH) and the
IVF ANN probe. Hand-built vectors with known cosines."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from adguard2clickhouse_spark.operators import similarity


@pytest.fixture(scope="module")
def emb_df(spark):
    # v0 ∥ v1 (cos=1), v2 ⊥ v0 (cos=0), v3 ≈ v0 (cos≈0.995),
    # v4 = -v0 (cos=-1)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [1.0, 0.1, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id INT, embedding ARRAY<DOUBLE>")


def test_embedding_dup_pairs_exact(emb_df):
    got = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_dup_pairs(emb_df, threshold=0.9).collect()
    }
    assert got == {(0, 1), (0, 3), (1, 3)}


def test_embedding_dup_pairs_threshold_is_inclusive(emb_df):
    # cos(v0, v3) = 1/sqrt(1.01) exactly; use it as the threshold
    thr = 1.0 / math.sqrt(1.01)
    got = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_dup_pairs(emb_df, threshold=thr).collect()
    }
    assert (0, 3) in got


def test_lsh_dup_pairs_subset_of_exact(emb_df):
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_dup_pairs(emb_df, threshold=0.9).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_dup_pairs_lsh(
            emb_df, threshold=0.9, bits=4, n_tables=8
        ).collect()
    }
    assert approx <= exact
    # parallel vectors share every signature → always recalled
    assert (0, 1) in approx


def test_ivf_full_probe_equals_brute_force(emb_df):
    q = [1.0, 0.05, 0.0, 0.0]
    exact = [
        r.vec_id for r in similarity.topk_cosine(emb_df, q, k=3).collect()
    ]
    ivf = [
        r.vec_id
        for r in similarity.ivf_topk(
            emb_df, q, k=3, n_cells=5, nprobe=5
        ).collect()
    ]
    assert ivf == exact


def test_ivf_assign_is_deterministic_partition_key(emb_df):
    # centroids v0 and v1: both along x, so every vector ties between
    # them and the tie breaks to the lower cell; orthogonal v2 has
    # cos(v2,c0)=cos(v2,c1)=0 → tie → cell 0.
    cents = [[1.0, 0.0, 0.0, 0.0], [2.0, 0.0, 0.0, 0.0]]
    assigned = similarity.ivf_assign_arrow(emb_df, cents)
    cells = {r.vec_id: r.ivf_cell for r in assigned.collect()}
    assert cells[0] == 0 and cells[1] == 0 and cells[3] == 0
    assert cells[2] == 0  # tie on orthogonal → lowest cell wins
    assert set(cells.values()) <= {0, 1}


# ---------------------------------------------------------------------------
# Winnowing fingerprints
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs_df(spark):
    base = " ".join(f"w{i}" for i in range(40))
    shifted = "intro words here " + base          # same 40 tokens, offset
    disjoint = " ".join(f"z{i}" for i in range(40))
    return spark.createDataFrame(
        [(1, base), (2, shifted), (3, disjoint)], "doc_id INT, text STRING"
    )


def test_winnow_shared_run_guarantee(docs_df):
    from adguard2clickhouse_spark.operators.dedup import winnow_fingerprints

    fps = winnow_fingerprints(docs_df, k=5, w=4)
    by_doc: dict[int, set] = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    # position-shifted duplicate shares fingerprints (winnowing's point;
    # the whole-doc md5 fingerprint would see them as unrelated)
    assert by_doc[1] & by_doc[2]
    # disjoint text shares nothing
    assert not (by_doc[1] & by_doc[3])
    # density ~2/(w+1): far fewer fingerprints than k-grams
    assert len(by_doc[1]) < 36


def test_repeated_span_scrub_removes_shared_runs(spark):
    from adguard2clickhouse_spark.operators.spans import repeated_span_scrub

    shared = "one two three four five six seven eight"  # exactly min_span=8
    docs = spark.createDataFrame(
        [
            (1, "alpha " + shared + " omega"),
            (2, "beta gamma " + shared),
            (3, "unique words only here nothing repeated whatsoever today"),
            (4, shared),  # wholly boilerplate → empty survivor
        ],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r for r in repeated_span_scrub(docs).collect()}
    assert (got[1].n_removed, got[1].cleaned) == (8, "alpha omega")
    assert (got[2].n_removed, got[2].cleaned) == (8, "beta gamma")
    assert (got[3].n_removed, got[3].cleaned.split()[0]) == (0, "unique")
    assert (got[4].n_removed, got[4].cleaned) == (8, "")
    # a 7-token shared run stays: below min_span
    docs2 = spark.createDataFrame(
        [(1, "a " + " ".join(f"s{i}" for i in range(7))),
         (2, "b " + " ".join(f"s{i}" for i in range(7)))],
        "doc_id LONG, text STRING",
    )
    got2 = {r.doc_id: r.n_removed for r in repeated_span_scrub(docs2).collect()}
    assert got2 == {1: 0, 2: 0}


def test_common_ngram_density_flags_boilerplate(spark):
    from adguard2clickhouse_spark.operators.text import common_ngram_density

    tmpl = "this is the standard footer text always"
    docs = spark.createDataFrame(
        [
            (1, tmpl),                      # pure boilerplate (shared with 2)
            (2, tmpl + " plus unique tail content here"),
            (3, "completely original words nothing shared at all"),
        ],
        "doc_id LONG, text STRING",
    )
    got = {r.doc_id: r for r in common_ngram_density(docs, min_df=2).collect()}
    assert got[1].common_permille == 1000  # every 3-gram shared with doc 2
    assert 0 < got[2].common_permille < 1000
    assert got[3].common_permille == 0


def test_training_shard_export_bounds_and_manifest(spark, tmp_path_factory):
    """Shard export invariants: every file stays under the record cap,
    the manifest's per-split totals equal the input, and each split is
    its own partition directory."""
    from adguard2clickhouse_spark.operators.sampling import with_split
    from adguard2clickhouse_spark.sinks.shards import (
        shard_manifest,
        write_training_shards,
    )
    from adguard2clickhouse_spark.sources.tables import load_table

    docs = with_split(
        load_table(spark, "/root/testdata/sf0.001", "documents"),
        val_permille=100,
        test_permille=100,
    )
    path = str(tmp_path_factory.mktemp("shards") / "corpus")
    write_training_shards(
        docs, path, n_shards_per_split=4, max_records_per_file=20
    )
    man = shard_manifest(spark, path).collect()
    assert max(r.n_rows for r in man) <= 20
    totals = {}
    for r in man:
        totals[r.split] = totals.get(r.split, 0) + r.n_rows
        assert f"split={r.split}" in r.file  # partition-dir layout
    expect = {
        r.split: r.cnt
        for r in docs.groupBy("split").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert totals == expect


def test_heavy_hitters_exact_above_threshold(spark):
    """MG candidates + exact recount: everything strictly above n/k
    with exact counts, nothing else — across multiple partitions (each
    runs its own bounded-memory sketch)."""
    from adguard2clickhouse_spark.operators.sketch import heavy_hitters

    rows = (
        [("hot",)] * 300 + [("warm",)] * 150 + [(f"v{i}",) for i in range(550)]
    )
    df = spark.createDataFrame(rows, "v STRING").repartition(4)
    got = {r.v: r.cnt for r in heavy_hitters(df, "v", k=10).collect()}
    assert got == {"hot": 300, "warm": 150}  # threshold n/k = 100


def test_approx_hygiene_within_error_bounds(spark):
    """The rows-only x6 path, bounded: HLL distinct within its ~2%
    envelope (5% asserted) and percentile_approx inside a generous
    rank window around the exact median."""
    from adguard2clickhouse_spark.sources.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    r = li.agg(
        F.approx_count_distinct("l_partkey").alias("apx"),
        F.countDistinct("l_partkey").alias("exact"),
        F.percentile_approx("l_extendedprice", 0.5).alias("p50"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("hi"),
    ).head()
    assert abs(r.apx - r.exact) <= 0.05 * r.exact
    assert r.lo <= r.p50 <= r.hi


def test_hll_rollup_mergeable_and_accurate(spark):
    """The x6_hll_rollup contract: (a) every per-day sketch estimate
    within 5% of the exact per-day distinct; (b) the union-of-day-
    sketches total IDENTICAL to a direct sketch over all rows (HLL
    registers are max-merged, so partitioned build ≡ whole build — the
    property that makes the rollup trustworthy without re-scanning);
    (c) the total within 5% of the exact global distinct."""
    from adguard2clickhouse_spark.operators.sketch import hll_rollup
    from adguard2clickhouse_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    day = F.to_date("ts").alias("day")
    per_day, total = hll_rollup(ev, key_col="user_id", group_col=day)

    exact_days = {
        r.day: r.n
        for r in ev.groupBy(day).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    for r in per_day.collect():
        assert abs(r.est_distinct - exact_days[r.day]) <= 0.05 * exact_days[r.day]

    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(14))).alias("e")
    ).head().e
    tot = total.head().est_distinct
    assert tot == direct, "union of day sketches must equal the direct sketch"
    exact_total = ev.agg(F.countDistinct("user_id").alias("n")).head().n
    assert abs(tot - exact_total) <= 0.05 * exact_total


def test_quantized_topk_recall_vs_float_exact(fixture_emb):
    """int8 quantization must be usable, not just stored: brute-force
    top-k over the dequantized vectors recovers ≥8/10 of the float
    exact top-10 (error bound amax/127 per component is far below the
    fixture's neighbor gaps)."""
    emb = fixture_emb
    qvec = list(emb.filter(F.col("vec_id") == 0).head().embedding)

    exact = {
        r.vec_id
        for r in similarity.topk_cosine(emb, qvec, k=10).collect()
    }
    deq = similarity.quantize_embeddings_int8(emb).select(
        "vec_id",
        similarity.dequantize_int8(
            F.col("q_embedding"), F.col("q_scale_ppm")
        ).alias("embedding"),
    )
    approx = {
        r.vec_id
        for r in similarity.topk_cosine(deq, qvec, k=10).collect()
    }
    assert len(exact & approx) >= 8


def test_quantize_int8_bounds_and_roundtrip_error(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    q = similarity.quantize_embeddings_int8(df)
    rows = {r.vec_id: r for r in q.collect()}
    assert rows[2].q_embedding == [0, 0, 0] and rows[2].q_scale_ppm == 0
    qv, scale = rows[1].q_embedding, rows[1].q_scale_ppm / 1e6
    assert all(-127 <= x <= 127 for x in qv)
    assert min(qv) == -127  # the max-magnitude component hits the rail
    for orig, qi in zip([0.5, -1.0, 0.25], qv):
        assert abs(qi * scale / 127 - orig) <= scale / 127 + 1e-9


def test_incremental_dedup_drops_history_and_batch_dups(spark):
    from adguard2clickhouse_spark.operators.dedup import (
        corpus_fingerprints,
        incremental_dedup,
    )

    hist = spark.createDataFrame([(1, "seen before")], "doc_id LONG, text STRING")
    inc = spark.createDataFrame(
        [
            (10, "seen   BEFORE"),  # dup of history after normalization
            (11, "fresh one"),
            (12, "fresh one"),  # within-batch dup → min id wins
            (13, "unique text"),
        ],
        "doc_id LONG, text STRING",
    )
    out = sorted(
        r.doc_id for r in incremental_dedup(inc, corpus_fingerprints(hist)).collect()
    )
    assert out == [11, 13]


def test_winnow_portable_shares_selection_properties(docs_df):
    """The md5-portable winnowing (oracle-gated as x2_winnow_md5) uses
    a different hash, so the selected minima differ from the xxhash64
    path — but the hash-independent guarantees must hold identically:
    shared-run detection, disjoint isolation, ~2/(w+1) density."""
    from adguard2clickhouse_spark.operators.dedup import winnow_fingerprints

    fps = winnow_fingerprints(docs_df, k=5, w=4, portable=True)
    by_doc: dict[int, set] = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    assert len(by_doc[1]) < 36


def test_winnow_codegen_rewrite_matches_hof_form(spark):
    """r14 (VERDICT r13 #3): winnow's explode+window+distinct rewrite
    must select the BIT-IDENTICAL fingerprint set of the r4-r13
    interpreted-HOF map form (reconstructed here from the shared
    helpers), for both hash variants and multiple (k, w) — including
    short docs straddling the size >= k+w-1 drop boundary."""
    import random

    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.operators.dedup import (
        _positional_shingle_hashes,
        _positional_shingle_md5,
        _shingle_starts,  # noqa: F401 (documents the guarded pattern)
        winnow_fingerprints,
    )

    rng = random.Random(14)
    rows = [
        (i, " ".join(f"t{rng.randrange(50)}" for _ in range(rng.randrange(2, 40))))
        for i in range(400)
    ]
    docs = spark.createDataFrame(rows, "doc_id INT, text STRING")

    def hof_form(df, k, w, portable):
        hs = F.col("_hs")
        n_windows = F.greatest(F.size(hs) - F.lit(w - 1), F.lit(0))
        mins = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda i: F.array_min(F.slice(hs, i, w)),
            )
        )
        helper = _positional_shingle_md5 if portable else _positional_shingle_hashes
        return (
            df.select(
                F.col("doc_id").alias("_id"),
                F.split(F.col("text"), " ").alias("_toks"),
            )
            .select("_id", helper(F.col("_toks"), k).alias("_hs"))
            .filter(F.size("_hs") >= w)
            .select(F.col("_id").alias("doc_id"), F.explode(mins).alias("fingerprint"))
        )

    for k, w in ((5, 4), (3, 8), (2, 2)):
        for portable in (False, True):
            got = {
                tuple(r)
                for r in winnow_fingerprints(
                    docs, k=k, w=w, portable=portable, balance=False
                ).collect()
            }
            want = {tuple(r) for r in hof_form(docs, k, w, portable).collect()}
            assert got == want, (k, w, portable, len(got), len(want))
            assert got, (k, w)  # non-vacuous


def test_simhash_portable_pairs_exact_dups_at_hamming_zero(spark):
    from adguard2clickhouse_spark.operators.dedup import simhash_near_pairs

    t = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, "entirely unrelated vocabulary everywhere " * 5)],
        "doc_id LONG, text STRING",
    )
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_near_pairs(docs, max_hamming=8, portable=True).collect()
    }
    assert got.get((1, 2)) == 0


def test_simhash_drops_null_text_docs(spark):
    """r12 regression (r11 ADVICE): the map-only simhash must drop
    NULL-text docs exactly as the old explode form did. Without the
    raw-column isNotNull filter, each NULL doc becomes a sketch-0 row
    and every NULL pair is reported as a distance-0 near-dup."""
    from adguard2clickhouse_spark.operators.dedup import (
        simhash, simhash_md5, simhash_near_pairs,
    )

    t = "the quick brown fox jumps over the lazy dog again and again " * 3
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, None), (4, None)],
        "doc_id LONG, text STRING",
    )
    assert sorted(r.doc_id for r in simhash(docs).collect()) == [1, 2]
    assert sorted(r.doc_id for r in simhash_md5(docs).collect()) == [1, 2]
    for portable in (False, True):
        pairs = {
            (r.doc_a, r.doc_b)
            for r in simhash_near_pairs(
                docs, max_hamming=8, portable=portable
            ).collect()
        }
        assert pairs == {(1, 2)}


def test_winnow_deterministic(docs_df):
    from adguard2clickhouse_spark.operators.dedup import winnow_fingerprints

    a = sorted((r.doc_id, r.fingerprint) for r in winnow_fingerprints(docs_df).collect())
    b = sorted((r.doc_id, r.fingerprint) for r in winnow_fingerprints(docs_df).collect())
    assert a == b


def test_ivf_kmeans_centroids_refine_and_probe(spark):
    from adguard2clickhouse_spark.operators import similarity
    from adguard2clickhouse_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = similarity.ivf_centroids_kmeans(emb, n_cells=8, iters=2)
    assert len(cents) == 8 and all(len(c) == 64 for c in cents)

    q = list(emb.head().embedding)
    # full probe over refined centroids still equals brute force
    bf = [r.vec_id for r in similarity.topk_cosine(emb, q, k=5).collect()]
    ivf = [
        r.vec_id
        for r in similarity.ivf_topk(
            emb, q, k=5, nprobe=8, centroids=cents
        ).collect()
    ]
    assert ivf == bf
    # refined assignment is reasonably balanced: no cell swallows
    # the whole corpus
    sizes = (
        similarity.ivf_assign_arrow(emb, cents)
        .groupBy("ivf_cell").count().collect()
    )
    assert max(r["count"] for r in sizes) < 500


def test_salted_join_equals_plain_join(spark):
    from adguard2clickhouse_spark.operators.skew import salted_join

    # skewed fat side: one hot key owns 90% of rows
    fat = spark.createDataFrame(
        [(("hot" if i % 10 else f"k{i}"), i) for i in range(1000)],
        "k STRING, v INT",
    )
    slim = spark.createDataFrame(
        [("hot", 1), ("k10", 2), ("k20", 3), ("missing", 4)], "k STRING, w INT"
    )
    plain = {(r.k, r.v, r.w) for r in fat.join(slim, "k").collect()}
    salted = {
        (r.k, r.v, r.w)
        for r in salted_join(fat, slim, "k", salt=4, spread_cols=["v"]).collect()
    }
    assert salted == plain
    # hot key's rows actually scatter across sub-keys (the skew relief)
    from pyspark.sql import functions as F

    n_subkeys = (
        fat.filter(F.col("k") == "hot")
        .select(F.pmod(F.xxhash64("k", "v"), F.lit(4)).alias("s"))
        .distinct()
        .count()
    )
    assert n_subkeys == 4
    # missing spread_cols is a hard error, not silent no-op salting
    import pytest as _pytest

    with _pytest.raises(ValueError, match="spread_cols"):
        salted_join(fat, slim, "k", salt=4)


def test_ngram_jaccard_max_df_is_precision_preserving(spark):
    from adguard2clickhouse_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "terms of service apply to all users of this site"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
            (2, boiler + " alpha beta gamma delta epsilon zeta eta theta"),
            (3, boiler + " completely different tail content here now ok"),
            (4, "unrelated words entirely " + " ".join(f"u{i}" for i in range(12))),
        ],
        "doc_id INT, text STRING",
    )
    # threshold 0.3: low enough that doc1-doc2's rare-shingle overlap
    # (the boundary+tail shingles, df=2) clears it even after the cap
    # drops the df=3 boilerplate shingles from `common`
    exact = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_df=2).collect()
    }
    # capped result is a subset (precision 1): dropping high-DF shingles
    # from the join can only shrink `common`
    assert capped <= exact
    # the true near-dup pair survives the cap (their overlap includes
    # rare shingles too)
    assert (1, 2) in capped


def test_ngram_jaccard_ratio_cap_scales_with_corpus(spark):
    """The r5 production cap: max_df_ratio computes the threshold as
    ceil(ratio·n_docs) inside the plan. Found because the ABSOLUTE
    cap (max_df=50) silently returned ZERO pairs on the 10×/100×
    replicas, where typical shingle df scales with the corpus — an
    absolute cap stops meaning 'boilerplate' the moment the corpus
    grows. ratio=1.0 (cap=n_docs) must equal the exact answer;
    a sub-1/n ratio (cap=1) must return nothing; passing both knobs
    is an error."""
    import pytest as _pytest

    from adguard2clickhouse_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "totally different words live here in this doc"),
            (4, "unrelated words entirely " + " ".join(f"u{i}" for i in range(12))),
        ],
        "doc_id INT, text STRING",
    )
    exact = {(r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert exact == {(1, 2)}
    full = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, max_df_ratio=1.0).collect()
    }
    assert full == exact
    none = ngram_jaccard_pairs(docs, threshold=0.3, max_df_ratio=0.01).count()
    assert none == 0  # cap = ceil(0.01*4) = 1: every shared shingle dropped
    with _pytest.raises(ValueError):
        ngram_jaccard_pairs(docs, max_df=2, max_df_ratio=0.5)


# ---------------------------------------------------------------------------
# Recall gates: every approximate path measured against its exact twin
# on the driver-generated fixture corpus (bounds set from measured
# values with margin; a regression below the bound = a real recall bug)
# ---------------------------------------------------------------------------

SF0001 = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def fixture_docs(spark):
    from adguard2clickhouse_spark.sources.tables import load_table

    df = load_table(spark, SF0001, "documents").cache()
    yield df
    # unpersist: a lingering cache entry substitutes into later tests'
    # plans (same logical subtree) and defeats their pruning assertions
    df.unpersist()


@pytest.fixture(scope="module")
def fixture_emb(spark):
    from adguard2clickhouse_spark.sources.tables import load_table

    df = load_table(spark, SF0001, "embeddings").cache()
    yield df
    df.unpersist()


def test_minhash_lsh_recall_vs_exact_jaccard(fixture_docs):
    from adguard2clickhouse_spark.operators import dedup

    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(fixture_docs, n=3, threshold=0.8).collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            fixture_docs, n=3, num_hashes=16, bands=4
        ).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    recall = len(exact & cand) / len(exact)
    # banding math: P(candidate | J=0.8) = 1-(1-0.8^4)^4 ≈ 0.88 per
    # pair; measured 1.0 on this corpus (its dup pairs are J≈1)
    assert recall >= 0.9, recall


def test_minhash_drops_docs_shorter_than_shingle(spark):
    """r11 regression for the map-only signature build: a doc with
    fewer than n tokens has NO shingles. The old explode+groupBy form
    dropped it implicitly; array_min over its empty shingle array
    would instead yield an all-NULL signature that bands with every
    other short doc — so the build must filter them out, and short
    docs must never appear as LSH pairs."""
    from adguard2clickhouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "one two"), (2, "a b"), (3, ""),
         (4, "alpha beta gamma delta"), (5, "alpha beta gamma delta")],
        ["doc_id", "text"],
    )
    sig = dedup.minhash_signatures(docs, "text", "doc_id", 3, 16, True)
    assert sorted(r._id for r in sig.collect()) == [4, 5]
    pairs = dedup.minhash_lsh_pairs(docs).collect()
    assert [(r.doc_a, r.doc_b) for r in pairs] == [(4, 5)]
    assert pairs[0].est_jaccard_permille == 1000


def test_embedding_lsh_recall_vs_exact(fixture_emb):
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_dup_pairs(fixture_emb, threshold=0.35).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_dup_pairs_lsh(
            fixture_emb, threshold=0.35, bits=6, n_tables=8, dim=64
        ).collect()
    }
    assert approx <= exact, "LSH must be a subset (exact verify inside)"
    recall = len(exact & approx) / len(exact)
    # 6 bits × 8 tables at the demo threshold 0.35 (per-bit collision
    # p ≈ 0.61 → ~35% predicted); measured 0.41
    assert recall >= 0.30, recall


def test_embedding_lsh_capped_recall(spark, fixture_emb):
    """The auto-scaled/capped production entry (r5): max_bucket and
    corpus-scaled bits must stay a verified SUBSET of the exact
    answer, with usable recall at the near-dup threshold 0.9."""
    import __spark_entry__ as entrymod

    exact = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_dup_pairs(fixture_emb, threshold=0.35).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in entrymod.queries()["x2_embedding_dup_lsh_capped"](
            spark, SF0001
        ).collect()
    }
    assert approx <= exact, "capped LSH must be exact-verified subset"
    assert exact, "fixture must contain >=0.35-cosine pairs"
    recall = len(exact & approx) / len(exact)
    # at this corpus size auto-bits = the demo's 6 bits × 8 tables →
    # same ~0.41 measured recall; the cap (256 ≫ every bucket here)
    # must not change it
    assert recall >= 0.30, recall


def test_embedding_lsh_max_bucket_bounds_candidates(fixture_emb):
    """max_bucket semi-join drops oversized buckets BEFORE the pair
    join: with max_bucket=1 no bucket can pair, so zero candidates
    survive — the degenerate bound proving the cap gates the join."""
    out = similarity.embedding_dup_pairs_lsh(
        fixture_emb, threshold=0.0, bits=2, n_tables=2, dim=64, max_bucket=1
    )
    assert out.count() == 0


def test_ivf_topk_recall_vs_brute_force(fixture_emb):
    q = [float(x) for x in fixture_emb.filter("vec_id=0").select("embedding").head()[0]]
    exact = [r.vec_id for r in similarity.topk_cosine(fixture_emb, q, k=10).collect()]
    got = [
        r.vec_id
        for r in similarity.ivf_topk(
            fixture_emb, q, k=10, n_cells=16, nprobe=4
        ).collect()
    ]
    recall = len(set(exact) & set(got)) / 10
    # nprobe/n_cells = 25% of cells scanned; measured 0.9
    assert recall >= 0.7, recall


def test_lsh_topk_recall_vs_brute_force(fixture_emb):
    q = [float(x) for x in fixture_emb.filter("vec_id=0").select("embedding").head()[0]]
    exact = [r.vec_id for r in similarity.topk_cosine(fixture_emb, q, k=10).collect()]
    got = [r.vec_id for r in similarity.lsh_bucketed_topk(fixture_emb, q, k=10).collect()]
    recall = len(set(exact) & set(got)) / 10
    # 16 bits, Hamming ≤4, 8 tables; measured 0.7 on this corpus
    assert recall >= 0.5, recall


def test_hash_split_deterministic_and_composable(spark):
    from adguard2clickhouse_spark.operators.sampling import (
        deterministic_sample,
        with_split,
    )

    docs = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in with_split(docs).collect()}
    b = {r.doc_id: r.split for r in with_split(docs.repartition(7)).collect()}
    assert a == b, "split must not depend on partitioning"
    frac = sum(1 for v in a.values() if v == "val") / len(a)
    assert 0.03 < frac < 0.07  # 50‰ nominal, 2000 ids
    # nested samples: smaller rate is a subset of larger
    s50 = {r.doc_id for r in deterministic_sample(docs, 50).collect()}
    s200 = {r.doc_id for r in deterministic_sample(docs, 200).collect()}
    assert s50 <= s200
    assert len(s200) > len(s50) > 0


def test_distinctive_terms_ranks_rare_terms_first(spark):
    from adguard2clickhouse_spark.operators.text import distinctive_terms

    docs = spark.createDataFrame(
        [
            (1, "common common common unique1"),
            (2, "common common unique2 unique2"),
            (3, "common filler filler"),
        ],
        "doc_id LONG, text STRING",
    )
    top = {
        (r.doc_id, r.rnk): (r.term, r.score)
        for r in distinctive_terms(docs, k=2).collect()
    }
    # df: common=3, unique1=1, unique2=1, filler=1
    # doc1: common tf3/df3 = 1e6 TIES unique1 tf1/df1 = 1e6 → term-asc
    assert top[(1, 1)] == ("common", 1_000_000)
    assert top[(1, 2)] == ("unique1", 1_000_000)
    assert top[(2, 1)] == ("unique2", 2_000_000)   # tf2/df1 beats common
    assert top[(3, 1)] == ("filler", 2_000_000)


def test_minhash_portable_matches_fast_variant(fixture_docs):
    """The md5-portable LSH (oracle-gated) and the xxhash64 fast path
    are the same algorithm with a swapped hash primitive — on this
    corpus (dup pairs at J≈1, where any minhash scheme agrees on all
    bands) they must emit the identical pair set."""
    from adguard2clickhouse_spark.operators import dedup

    fast = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(fixture_docs).collect()
    }
    portable = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(fixture_docs, portable=True).collect()
    }
    assert fast and fast == portable


def test_chunking_boundaries_and_tail_coverage(spark):
    from adguard2clickhouse_spark.operators.chunking import chunk_documents

    def words(n):
        return " ".join(f"w{i}" for i in range(1, n + 1))

    docs = spark.createDataFrame(
        [(1, words(100)), (2, words(10)), (3, words(64)), (4, words(65))],
        "doc_id LONG, text STRING",
    )
    got = {}
    for r in chunk_documents(docs, chunk_tokens=64, stride=48).collect():
        got.setdefault(r.doc_id, []).append(r)

    # 100 tokens → windows at 1 and 37 (tail ends exactly at 100)
    assert sorted((c.chunk_start, c.n_chunk_tokens) for c in got[1]) == [(1, 64), (37, 64)]
    assert got[1][0].chunk_text.split()[0] == "w1"
    # short doc → one short chunk
    assert [(c.chunk_start, c.n_chunk_tokens) for c in got[2]] == [(1, 10)]
    # exact fit → exactly one window, no duplicate tail
    assert [(c.chunk_start, c.n_chunk_tokens) for c in got[3]] == [(1, 64)]
    # one token over → tail window at start 2
    assert sorted((c.chunk_start, c.n_chunk_tokens) for c in got[4]) == [(1, 64), (2, 64)]
    # every token of doc 1 is inside some window
    covered = set()
    for c in got[1]:
        covered.update(range(c.chunk_start, c.chunk_start + c.n_chunk_tokens))
    assert covered == set(range(1, 101))


def test_chunking_invariants_randomized(spark):
    """50 random lengths in one job: every token covered, starts
    stride-aligned or the tail window, lengths capped at chunk_tokens,
    and only a short document may produce a short chunk."""
    import random

    rng = random.Random(7)
    chunk, stride = 16, 10
    rows = [
        (i, " ".join(f"t{j}" for j in range(rng.randint(1, 80))))
        for i in range(50)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    from adguard2clickhouse_spark.operators.chunking import chunk_documents

    by_doc: dict[int, list] = {}
    for r in chunk_documents(docs, chunk_tokens=chunk, stride=stride).collect():
        by_doc.setdefault(r.doc_id, []).append(r)

    n_tokens = {i: len(t.split()) for i, t in rows}
    for i, chunks in by_doc.items():
        n = n_tokens[i]
        covered = set()
        for c in chunks:
            assert 1 <= c.chunk_start <= max(n - chunk + 1, 1)
            assert c.n_chunk_tokens == min(chunk, n - c.chunk_start + 1)
            assert len(c.chunk_text.split()) == c.n_chunk_tokens
            assert (
                (c.chunk_start - 1) % stride == 0
                or c.chunk_start == max(n - chunk + 1, 1)
            )
            covered.update(range(c.chunk_start, c.chunk_start + c.n_chunk_tokens))
        assert covered == set(range(1, n + 1)), f"doc {i} gap"
        # short chunks only when the doc itself is shorter than a window
        if n >= chunk:
            assert all(c.n_chunk_tokens == chunk for c in chunks)
    assert set(by_doc) == set(range(50))


def test_timeseries_profiles_paa_and_topk(spark):
    """24-slot densification (missing hours are real zeros), integer
    PAA with FLOOR semantics on a negative block, and exact top-k by
    squared Euclidean with (day, key) tie-breaks."""
    from adguard2clickhouse_spark.operators.timeseries import (
        hourly_profiles, paa, ts_topk,
    )

    rows = [
        (1, "2024-01-01 00:30:00", 2.0),   # hour 0 → 2000
        (1, "2024-01-01 00:45:00", 1.0),   # hour 0 again → 3000 total
        (1, "2024-01-01 05:10:00", -1.5),  # hour 5 → -1500 (negative block)
        (2, "2024-01-01 12:00:00", 4.0),   # hour 12 → 4000
    ]
    df = spark.createDataFrame(rows, "user_id LONG, ts STRING, value DOUBLE") \
        .withColumn("ts", F.to_timestamp("ts"))
    prof = {r.key: r.profile for r in hourly_profiles(df).collect()}
    assert prof[1][0] == 3000 and prof[1][5] == -1500
    assert sum(1 for v in prof[1] if v == 0) == 22
    assert prof[2][12] == 4000

    p = {r.key: r.profile for r in paa(hourly_profiles(df), segments=6).collect()}
    assert p[1][0] == 3000 // 4    # block 0 = hours 0-3
    assert p[1][1] == -1500 // 4   # block 1 = hours 4-7: floor(-375.0)
    assert p[2][3] == 4000 // 4    # block 3 = hours 12-15

    top = ts_topk(paa(hourly_profiles(df), segments=6), [0, 0, 0, 0, 0, 0], k=2).collect()
    assert [r.key for r in top] == [1, 2]  # user1's profile is nearer zero


def test_countmin_merge_and_overestimate(spark):
    """Count-Min properties: (1) est >= exact for every key (the sketch
    only overcounts); (2) sketches over disjoint halves merge by
    cell-wise addition into exactly the whole-corpus sketch — the 1000-
    executor fold; (3) the error bound eps=e/width holds for ~all keys."""
    from adguard2clickhouse_spark.operators.sketch import (
        countmin_build, countmin_estimate,
    )

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet").select("user_id")
    n = ev.count()
    cells = countmin_build(ev, "user_id", width=256, depth=4)
    est = countmin_estimate(cells, ev.distinct(), "user_id", width=256, depth=4)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact"))
    joined = {r["user_id"]: (r["est_count"], r["exact"])
              for r in est.join(exact, "user_id").collect()}
    assert all(e >= x for e, x in joined.values())
    eps = 2.718281828 / 256
    within = sum(1 for e, x in joined.values() if e - x <= eps * n)
    assert within / len(joined) >= 0.95

    half_a = ev.filter(F.col("user_id") % 2 == 0)
    half_b = ev.filter(F.col("user_id") % 2 == 1)
    merged = (
        countmin_build(half_a, "user_id", width=256, depth=4)
        .unionByName(countmin_build(half_b, "user_id", width=256, depth=4))
        .groupBy("row", "bucket")
        .agg(F.sum("cell_count").alias("cell_count"))
    )
    whole = {(r["row"], r["bucket"]): r["cell_count"] for r in cells.collect()}
    folded = {(r["row"], r["bucket"]): r["cell_count"] for r in merged.collect()}
    assert folded == whole


def test_event_queries_survive_degenerate_events(spark, tmp_path):
    """Gate queries against an adversarial events table: single-event
    users, duplicate timestamps, NULL value/props/event_type, malformed
    props JSON, an unseen event_type. Every events-backed query (and
    the events→log2 bridge feeding the a* family) must execute without
    error — NULLs flow as absent keys, never as crashes."""
    import datetime as dt

    import __spark_entry__ as entrymod

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 10, "view", 1.0, '{"k": 3}'),
        (2, t0, 10, "view", 1.0, '{"k": 3}'),          # duplicate ts + type
        (3, t0 + dt.timedelta(minutes=5), 10, "click", None, '{"k": 7}'),
        (4, t0 + dt.timedelta(minutes=6), 10, "purchase", 2.5, "{"),  # bad json
        (5, t0, 11, "purchase", 0.0, None),             # NULL props, lone event
        (6, t0 + dt.timedelta(hours=2), 12, None, 3.0, '{"k": 1}'),  # NULL type
        (7, t0 + dt.timedelta(hours=3), 13, "weird", -1.0, '{"k": 99}'),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    qs = entrymod.queries()
    for name in [
        "e_funnel", "e_retention_cohorts", "e_transitions", "e_sessions",
        "e_sessions_native", "e_pivot", "e_unpivot", "x_window_range_frame",
        "x13_mad_outliers", "a1_blocked_domains", "a6_stats2",
        "a12_trending_domains", "x_recursive_suffixes", "x6_countmin",
    ]:
        assert len(qs[name](spark, str(tmp_path)).collect()) >= 0, name


def test_tpch_queries_survive_degenerate_tables(spark, tmp_path):
    """Relational gate queries against adversarial mini-tables: zero
    prices (ratio denominators), zero quantities, NULL join keys,
    customers with no orders, orders with no lines, and an unmatched
    region. Integer DIV / permille ratios must not hit ANSI
    divide-by-zero, and empty groups must fold to empty/NULL rows,
    never errors."""
    import datetime as dt

    import __spark_entry__ as entrymod

    d = dt.datetime
    spark.createDataFrame(
        [(0, "EUROPE"), (1, "ASIA")], "r_regionkey INT, r_name STRING"
    ).write.mode("overwrite").parquet(str(tmp_path / "region.parquet"))
    spark.createDataFrame(
        [(0, "NATION_3", 0), (1, "NATION_1", 1), (2, "NATION_2", 0)],
        "n_nationkey INT, n_name STRING, n_regionkey INT",
    ).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(1, "c1", 0, 0.0, "BUILDING"), (2, "c2", 1, -5.0, "AUTOMOBILE"),
         (3, "c3", 2, 10.0, "FURNITURE"), (4, "c4", None, 1.0, "BUILDING")],
        "c_custkey LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
        "c_mktsegment STRING",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(1, "s1", 0, 0.0), (2, "s2", 1, 1.0)],
        "s_suppkey LONG, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    ).write.mode("overwrite").parquet(str(tmp_path / "supplier.parquet"))
    spark.createDataFrame(
        [(1, "small gear", "Brand#12", "ECONOMY", 1, 0.0),
         (2, "red widget", "Brand#23", "PROMO", 9, 100.0)],
        "p_partkey LONG, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE",
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(
        [(10, 1, "F", 0.0, d(1996, 2, 1), "1-URGENT"),
         (11, 2, "O", 50.0, d(1996, 6, 1), "5-LOW"),
         (12, 3, "F", 10.0, d(1994, 1, 1), "3-MEDIUM"),   # no lineitems
         (13, None, "P", 1.0, d(1996, 3, 1), "2-HIGH")],  # NULL custkey
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        # zero price + zero discount + zero quantity; late ship; NULL partkey
        [(10, 1, 1, 1, 0.0, 0.0, 0.0, 0.0, "R", "F", d(1996, 6, 1)),
         (10, 2, 2, 2, 5.0, 100.0, 0.1, 0.05, "N", "O", d(1996, 2, 10)),
         (11, None, 2, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", d(1996, 6, 5))],
        "l_orderkey LONG, l_partkey LONG, l_suppkey LONG, l_linenumber INT, "
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, "
        "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, "
        "l_shipdate TIMESTAMP",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    qs = entrymod.queries()
    for name in [
        "q1_pricing_summary", "q3_shipping_priority", "q4_order_priority",
        "q5_local_suppliers", "q6_forecast_revenue", "q7_volume_shipping",
        "q8_market_share", "q9_profit_by_nation", "q10_returned_items",
        "q12_late_priority", "q13_customer_distribution", "q14_promo_revenue",
        "q15_top_supplier", "q16_supplier_variety", "q17_small_quantity",
        "q18_large_orders", "q19_disjunctive", "q20_part_promotion",
        "q21_waiting_supplier", "q22_dormant_customers",
        "x_join_revenue_by_nation", "x_topk_orders",
    ]:
        assert len(qs[name](spark, str(tmp_path)).collect()) >= 0, name


def test_kmv_sketch_accuracy_exactness_and_merge(spark):
    """KMV: groups under k report exact distinct; groups over k
    estimate within 3/sqrt(k); and the union's sketch equals the
    k-smallest of the concatenated sketches (mergeability — what lets
    the state ride the aggregating sink)."""
    from pyspark.sql import functions as F

    from adguard2clickhouse_spark.operators.sketch import kmv_sketch

    k = 64
    df = spark.range(2000).select(
        F.when(F.col("id") < 1000, F.lit("big")).otherwise(F.lit("small")).alias("g"),
        F.when(F.col("id") < 1000, F.col("id"))          # 1000 distinct
        .otherwise(F.col("id") % 10).alias("key"),        # 10 distinct
    )
    out = {r.g: r for r in kmv_sketch(df, "key", "g", k=k).collect()}
    assert out["small"].n_kept == 10 and out["small"].est_distinct == 10  # exact
    err = abs(out["big"].est_distinct - 1000) / 1000
    assert err < 3 / (k ** 0.5), f"KMV error {err:.2%} out of bound"
    # mergeability: sketch(union) == merge of per-half sketches
    half1 = df.filter("g = 'big'").limit(500)
    union_kth = out["big"].kth_hash
    merged = (
        kmv_sketch(df.filter("g = 'big'"), "key", F.lit("all"), k=k)
        .collect()[0].kth_hash
    )
    assert merged == union_kth


def test_ppjoin_equals_inverted_index_exactly(spark):
    """PPJoin prefix filtering is an execution strategy, not a
    semantics change: on a corpus exercising the tricky shapes (near
    dups, a cross-size pair near the length-filter boundary, short
    docs below the shingle width, disjoint docs, an exact duplicate)
    its full (doc_a, doc_b, common, size_a, size_b) output must equal
    ngram_jaccard_pairs row for row, at more than one threshold."""
    from adguard2clickhouse_spark.operators.dedup import (
        ngram_jaccard_pairs,
        ngram_jaccard_pairs_ppjoin,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                            # exact duplicate of 1
            (3, base + " extra tail words here"),  # superset (cross-size)
            (4, "totally different content lives in this document today"),
            (5, "so short"),                       # < n tokens: no shingles
            (6, base.replace("delta", "DELTA")),   # one-token edit
        ],
        "doc_id INT, text STRING",
    )
    for t in (0.8, 0.5, 0.3):
        a = sorted(map(tuple, ngram_jaccard_pairs(docs, threshold=t).collect()))
        b = sorted(
            map(tuple, ngram_jaccard_pairs_ppjoin(docs, threshold=t).collect())
        )
        assert a == b, f"threshold {t}: {a} != {b}"
    assert any(r[0] == 1 and r[1] == 2 for r in a)  # sanity: dup pair found


def test_jaccard_strategy_auto_picks_by_posting_mass(spark):
    """VERDICT r6 #5: the crossover is actionable in code, not just a
    docstring. auto picks the full index below the measured posting-
    mass crossover (the sf0.1 fixture: ~240k postings) and PPJoin
    above it (the sf1 replica: ~2.4M — gated on the fixture existing),
    and the auto result equals both pinned strategies."""
    import os

    from adguard2clickhouse_spark.operators import dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    strat, stats = dd.choose_jaccard_strategy(docs)
    assert strat == "index", stats
    assert 0 < stats["posting_mass"] < dd.PPJOIN_POSTING_MASS_CROSSOVER
    assert stats["n_docs"] == docs.count()

    sf1_docs = "/root/repo/.localdata/sf1/documents.parquet"
    if os.path.exists(sf1_docs):
        strat1, stats1 = dd.choose_jaccard_strategy(spark.read.parquet(sf1_docs))
        assert strat1 == "ppjoin", stats1
        assert stats1["posting_mass"] >= dd.PPJOIN_POSTING_MASS_CROSSOVER

    # parity through the dispatcher on a small corpus, both regimes:
    # force each pinned strategy and flip auto across the crossover by
    # temporarily scaling the constant around the tiny corpus's mass
    small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(map(tuple, dd.ngram_jaccard_pairs(small).collect()))
    assert want == sorted(
        map(tuple, dd.ngram_jaccard_pairs(small, strategy="ppjoin").collect())
    )
    saved = dd.PPJOIN_POSTING_MASS_CROSSOVER
    try:
        dd.PPJOIN_POSTING_MASS_CROSSOVER = 10**12  # auto -> index
        assert want == sorted(
            map(tuple, dd.ngram_jaccard_pairs(small, strategy="auto").collect())
        )
        dd.PPJOIN_POSTING_MASS_CROSSOVER = 1  # auto -> ppjoin
        assert want == sorted(
            map(tuple, dd.ngram_jaccard_pairs(small, strategy="auto").collect())
        )
    finally:
        dd.PPJOIN_POSTING_MASS_CROSSOVER = saved

    with pytest.raises(ValueError, match="index-only"):
        dd.ngram_jaccard_pairs(small, strategy="ppjoin", max_df=5)
    with pytest.raises(ValueError, match="strategy"):
        dd.ngram_jaccard_pairs(small, strategy="bogus")
    # auto with a df cap stays on the (cap-supporting) index plan
    capped = dd.ngram_jaccard_pairs(small, strategy="auto", max_df_ratio=0.01)
    assert {"doc_a", "doc_b", "common"} <= set(capped.columns)


def test_sessions_gap_is_compared_in_microseconds(spark, tmp_path):
    """e_sessions splits a session at a gap of more than 1800 s, compared
    exactly: events 1800.5 s apart open a new session (whole-second
    unix_timestamp values read that gap as 1800 and merged them, unlike
    the DuckDB oracle), 1800 s and 1799.5 s gaps do not."""
    import datetime as dt

    import duckdb

    import __spark_entry__ as entrymod

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, t0, 1), (2, t0 + 1800.5 * s, 1), (3, t0 + 3600.5 * s, 1),
        (4, t0, 2), (5, t0 + 1799.5 * s, 2),
    ]
    spark.createDataFrame(
        [(e, ts, u, "view", 1.0, "{}") for e, ts, u in rows],
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, "
        "value DOUBLE, props STRING",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    got = dict(entrymod.queries()["e_sessions"](spark, str(tmp_path)).collect())
    assert got == {1: 2, 2: 1}
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'")
    assert dict(con.sql(entrymod.oracle_sql()["e_sessions"]).fetchall()) == got
