"""Curation operators: PII scrub, repetition metrics, corpus n-grams,
stratified sampling, contamination screen (operators/{scrub,repetition,
contamination,sampling}.py)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from adguard2clickhouse_spark.operators.contamination import (
    contamination_report,
    shingle_sql_cte,
    word_shingles,
)
from adguard2clickhouse_spark.operators.repetition import (
    corpus_ngram_counts,
    repetition_metrics,
)
from adguard2clickhouse_spark.operators.sampling import stratified_sample
from adguard2clickhouse_spark.operators.scrub import scrub_pii


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (0, "mail alice.smith+x@corp.example.com and bob@b.io today"),
        (1, "server at 192.168.0.1 and 10.0.0.255 rebooted"),
        (2, "ssn 123-45-6789 on file, call 555-123-4567 or +4917112345678"),
        (3, "clean text with no pii at all"),
        (4, "edge: not-an-ip 999.999.999.999 still matches the dotted-quad shape"),
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_scrub_counts_and_redaction(pii_docs):
    out = {r.doc_id: r for r in scrub_pii(pii_docs).collect()}
    assert out[0].n_email == 2
    assert "<EMAIL>" in out[0].redacted and "@" not in out[0].redacted
    assert out[1].n_ipv4 == 2
    assert out[2].n_ssn == 1 and out[2].n_phone == 2
    assert "<SSN>" in out[2].redacted and "<PHONE>" in out[2].redacted
    assert out[3].n_email == out[3].n_ipv4 == out[3].n_ssn == out[3].n_phone == 0
    assert out[3].redacted == "clean text with no pii at all"
    # the scrubber is a syntactic screen, not a validator: 999.* redacts
    assert out[4].n_ipv4 == 1


def test_scrub_sequential_order(pii_docs, spark):
    """An SSN must be consumed by the SSN pattern, not double-counted
    by the phone pattern that runs later."""
    df = spark.createDataFrame([(0, "id 123-45-6789 end")], "doc_id LONG, text STRING")
    r = scrub_pii(df).head()
    assert r.n_ssn == 1 and r.n_phone == 0
    assert r.redacted == "id <SSN> end"


def test_repetition_metrics_known_values(spark):
    df = spark.createDataFrame(
        [
            (0, "a a a a"),          # 1 uniq of 4; top 4/4; bigrams: 3× "a a" → 1 uniq of 3
            (1, "a b c d"),          # all unique
            (2, "solo"),             # 1 token, no bigrams
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert out[0].n_tokens == 4
    assert out[0].uniq_token_permille == 250
    assert out[0].top_token_permille == 1000
    assert out[0].dup_bigram_permille == 1000 - 333
    assert out[1].uniq_token_permille == 1000
    assert out[1].dup_bigram_permille == 0
    assert out[2].n_tokens == 1 and out[2].dup_bigram_permille == 0


def test_corpus_ngram_counts_order_and_ties(spark):
    df = spark.createDataFrame(
        [(0, "x y x y z"), (1, "x y q")], "doc_id LONG, text STRING"
    )
    rows = corpus_ngram_counts(df, n=2, k=3).collect()
    assert [(r.ngram, r.cnt, r.n_docs) for r in rows] == [
        ("x y", 3, 2),   # twice in doc 0, once in doc 1
        ("y q", 1, 1),   # ties on cnt=1 break on ngram asc
        ("y x", 1, 1),
    ]


def test_bpe_pair_counts_weighted_by_word_frequency(spark):
    """'abab' ×3 and 'ab' ×1: pair weights fold the WORD frequency, not
    document counts — ab = 3·2+1 = 7, ba = 3; single-char words
    contribute nothing; ties break on the pair string."""
    from adguard2clickhouse_spark.operators.text import bpe_pair_counts

    df = spark.createDataFrame(
        [(0, "abab abab ab x"), (1, "abab cd")], "doc_id LONG, text STRING"
    )
    rows = bpe_pair_counts(df, top_n=10).collect()
    assert [(r.pair, r.weight) for r in rows] == [
        ("ab", 7),   # abab has 'ab' at pos 1 and 3 → 2 per occurrence ×3, +1 from 'ab'
        ("ba", 3),
        ("cd", 1),
    ]


def test_stratified_sample_exact_k_and_stable(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(60)], "doc_id LONG, lang STRING"
    )
    s1 = stratified_sample(df, "lang", 7)
    counts = {r.lang: r.n for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 7, "de": 7}
    # deterministic: same ids across independent evaluations
    ids1 = sorted(r.doc_id for r in s1.collect())
    ids2 = sorted(r.doc_id for r in stratified_sample(df, "lang", 7).collect())
    assert ids1 == ids2
    # nested: the 3-per-stratum sample is a prefix of the 7-per-stratum one
    ids_small = {r.doc_id for r in stratified_sample(df, "lang", 3).collect()}
    assert ids_small <= set(ids1)


def test_stratified_sample_small_stratum(spark):
    df = spark.createDataFrame([(1, "fr"), (2, "fr")], "doc_id LONG, lang STRING")
    assert stratified_sample(df, "lang", 10).count() == 2


def test_contamination_flags(spark):
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),       # benchmark
            (1, "a quick brown fox runs away"),     # shares "quick brown fox"
            (2, "completely different words here"),
        ],
        "doc_id LONG, text STRING",
    )
    bench = corpus.filter(F.col("doc_id") == 0)
    rep = {r.doc_id: r for r in contamination_report(corpus, bench, n=3).collect()}
    assert rep[0].contaminated          # benchmark doc flags itself
    assert rep[1].contaminated and rep[1].n_hits == 1
    assert not rep[2].contaminated and rep[2].n_hits == 0


def test_word_shingles_matches_sql_cte(spark):
    """The Spark shingler and its published SQL twin agree on a corpus
    with empty tokens and short docs."""
    rows = [(0, "a b c d"), (1, "x  y z"), (2, "too short")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = sorted(
        (r.doc_id, r.shingle) for r in word_shingles(df, n=3).collect()
    )
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") v(doc_id, text)"
    )
    want = sorted(map(tuple, con.sql(shingle_sql_cte(3)).fetchall()))
    assert got == want
    assert (1, "x y z") in got  # empty token skipped, positions preserved


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark shingle set must broadcast — corpus shingles never
    shuffle through the join (only the per-doc hit agg exchanges)."""
    corpus = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(50)],
        "doc_id LONG, text STRING",
    )
    bench = corpus.filter(F.col("doc_id") < 3)
    plan = (
        contamination_report(corpus, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the shingle equi-join itself must be the broadcast one (the final
    # per-doc left join is AQE's call — its build side is a runtime-sized
    # aggregate)
    assert "BroadcastHashJoin [shingle" in plan


# ---------------------------------------------------------------------------
# Sequence packing (operators/packing.py)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def packed(spark):
    from adguard2clickhouse_spark.operators.packing import pack_greedy

    rows = [
        # lang, doc_id, n_tokens — en stream: 100+100 fit, 60 spills etc.
        ("en", 1, 100), ("en", 2, 100), ("en", 3, 60), ("en", 4, 200),
        ("en", 5, 300),            # oversize (max 256)
        ("en", 6, 10),
        ("de", 10, 256),           # exactly full bin
        ("de", 11, 1),
    ]
    df = spark.createDataFrame(rows, "lang STRING, doc_id LONG, n_tokens LONG")
    return {r.doc_id: r for r in pack_greedy(df, max_tokens=256).collect()}


def test_pack_greedy_bins(packed):
    # en: [1,2]=200, +3=260>256 → [3,4]=260>256? 60+200=260>256 → 3 alone? no:
    # greedy: bin0 {1:100,2:200(fill)}, 3 would make 260 → bin1 {3:60},
    # 4: 60+200=260>256 → bin2 {4:200}, 5: 200+300>256 → bin3 {5:300 oversize},
    # 6: 300+10>256 → bin4 {6:10}
    assert (packed[1].bin, packed[1].pos, packed[1].fill) == (0, 0, 100)
    assert (packed[2].bin, packed[2].pos, packed[2].fill) == (0, 1, 200)
    assert (packed[3].bin, packed[3].pos, packed[3].fill) == (1, 0, 60)
    assert (packed[4].bin, packed[4].pos) == (2, 0)
    assert (packed[5].bin, packed[5].oversize) == (3, True)
    assert packed[6].bin == 4
    # de: exactly-full bin closes before the next doc
    assert (packed[10].bin, packed[10].fill) == (0, 256)
    assert (packed[11].bin, packed[11].pos) == (1, 0)


def test_pack_fill_invariant(spark):
    """Every non-oversize bin fill stays ≤ max_tokens; positions are
    contiguous from 0 in id order."""
    from adguard2clickhouse_spark.operators.packing import pack_greedy

    rows = [("x", i, (i * 37) % 120 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "lang STRING, doc_id LONG, n_tokens LONG")
    out = pack_greedy(df, max_tokens=256)
    assert out.filter((F.col("fill") > 256) & ~F.col("oversize")).count() == 0
    # pos within each bin is exactly 0..k-1 in doc_id order
    import itertools

    rows_out = sorted(out.collect(), key=lambda r: (r.bin, r.doc_id))
    for _, grp in itertools.groupby(rows_out, key=lambda r: r.bin):
        g = list(grp)
        assert [r.pos for r in g] == list(range(len(g)))


def test_clean_html_strips_decodes_once_and_counts_tags(spark):
    """Script/style payloads vanish wholesale, tags become spaces (no
    word joining), entities decode exactly once ('&amp;lt;' → '&lt;',
    never '<'), and n_tags counts markup density on the raw input."""
    from adguard2clickhouse_spark.operators.scrub import clean_html

    html = (
        '<html><!-- c --><script>var x = "<p>hidden</p>";</script>'
        "<style>p{}</style><p>a</p><div>b</div> &amp;lt;evil&amp;gt; "
        "&quot;q&#39; &nbsp;end</html>"
    )
    df = spark.createDataFrame([(0, html)], "doc_id LONG, html STRING")
    r = clean_html(df).head()
    assert r.text_clean == "a b &lt;evil&gt; \"q' end"
    # raw-input markup density counts every <...> span, including the
    # comment and the two tag-shaped strings INSIDE the script payload:
    # html, comment, script pair, inner p pair, style pair, p pair,
    # div pair, /html = 13
    assert r.n_tags == 13


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc fully contained in a long one: containment flags it
    at 1000 permille while the symmetric Jaccard is far below any
    dedup threshold — the asymmetric predicate's whole point."""
    from adguard2clickhouse_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    long_doc = " ".join(f"w{i}" for i in range(60))
    excerpt = " ".join(f"w{i}" for i in range(20, 28))  # 8 tokens inside
    df = spark.createDataFrame(
        [(1, long_doc), (2, excerpt), (3, "totally different words here now")],
        "doc_id LONG, text STRING",
    )
    cont = {(r.doc_a, r.doc_b): r.containment_permille
            for r in ngram_containment_pairs(df, threshold=0.9).collect()}
    assert cont == {(1, 2): 1000}
    jac = ngram_jaccard_pairs(df, threshold=0.2).collect()
    assert jac == []  # symmetric similarity never sees the excerpt


def test_duplicated_ngram_stats_known_values(spark):
    """Two identical docs + one unique: the copies' shingles all have
    df=2 (dup 1000 permille); novelty credits the min-id copy; the
    unique doc is all-novel, zero-dup."""
    from adguard2clickhouse_spark.operators.dedup import duplicated_ngram_stats

    rows = [
        (1, "a b c d"),          # 2 shingles: "a b c", "b c d"
        (2, "a b c d"),          # exact copy
        (3, "x y z w"),          # unique
        (4, "t s"),              # < n tokens -> excluded
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in duplicated_ngram_stats(df, n=3).collect()}
    assert set(out) == {1, 2, 3}
    for d in (1, 2):
        assert out[d]["n_shingles"] == 2
        assert out[d]["n_dup_shingles"] == 2
        assert out[d]["dup_permille"] == 1000
    assert out[1]["n_novel_shingles"] == 2 and out[1]["novelty_permille"] == 1000
    assert out[2]["n_novel_shingles"] == 0 and out[2]["novelty_permille"] == 0
    assert out[3]["n_dup_shingles"] == 0 and out[3]["novelty_permille"] == 1000


def test_interleave_positions_unique_and_proportional(spark):
    """interleave_sources: positions are globally unique, each source
    occupies its own residue class mod k (a perfect round-robin), and
    any prefix of the order is source-balanced up to one element."""
    from adguard2clickhouse_spark.operators.mixture import interleave_sources

    rows = [(i, ["web", "book", "code"][i % 3]) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    out = interleave_sources(df, strata_col="source", id_col="doc_id").collect()
    pos = [r["pos"] for r in out]
    assert len(set(pos)) == len(pos) == 90
    by_residue = {r["pos"] % 3: r["source"] for r in out}
    assert len(by_residue) == 3  # each source pinned to one residue class
    ordered = [r["source"] for r in sorted(out, key=lambda r: r["pos"])]
    for k in range(1, 91):
        counts = {s: ordered[:k].count(s) for s in ("web", "book", "code")}
        assert max(counts.values()) - min(counts.values()) <= 1


def test_text_operators_survive_adversarial_corpus(spark):
    """ANSI-mode landmine sweep: every text-family operator must run
    (not necessarily emit rows) over a corpus of degenerate documents —
    empty text, single token, fewer-than-n tokens, unicode, repeated
    single char, and a single enormous token. The short-doc shingle
    crash (sequence(1,0) descending) is exactly the class of bug this
    guards against."""
    from adguard2clickhouse_spark.operators import (
        chunking, dedup, repetition, scrub, spans, text,
    )

    rows = [
        (1, "", "en", "web"),
        (2, "one", "en", "web"),
        (3, "two words", "en", "book"),
        (4, "héllo wörld ünïcode tëxt hère", "de", "web"),
        (5, "a a a a a a a a", "en", "code"),
        (6, "x" * 5000, "en", "code"),
        (7, "normal length document with plenty of distinct words here", "en", "book"),
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING, source STRING")

    # collect(), not count(): count() lets Catalyst prune the output
    # projections, so ratio/ANSI landmines in final columns never run.
    assert len(dedup.duplicated_ngram_stats(docs, n=3).collect()) >= 1
    assert len(dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()) >= 0
    assert len(dedup.minhash_lsh_pairs(docs, n=3).collect()) >= 0
    assert len(dedup.winnow_fingerprints(docs, k=5, w=4).collect()) >= 0
    assert len(dedup.fingerprint_dedup(docs).collect()) == 7
    assert len(text.quality_features(docs).collect()) == 7
    assert len(text.document_profile(docs).collect()) == 7
    assert len(text.common_ngram_density(docs).collect()) >= 1
    assert len(repetition.repetition_metrics(docs).collect()) >= 1
    assert len(scrub.scrub_pii(docs).collect()) == 7
    assert len(scrub.clean_html(docs, text_col="text").collect()) == 7
    assert len(chunking.chunk_documents(docs).collect()) >= 1
    assert len(spans.repeated_span_scrub(docs).collect()) >= 1


def test_upsample_with_replacement_deterministic_and_exact(spark):
    """With-replacement draws: exactly `target` rows per stratum even
    past the stratum size, every position within [1, n], and the result
    is invariant to input partitioning (the reproducibility contract
    training reruns rely on)."""
    from adguard2clickhouse_spark.operators.mixture import (
        upsample_with_replacement,
    )

    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id LONG, source STRING")
    targets = spark.createDataFrame(
        [("a", 25), ("b", 3), ("c", 10)], "source STRING, target INT"
    )

    def draw(frame):
        return sorted(
            map(tuple, upsample_with_replacement(frame, targets).collect())
        )

    out = draw(df)
    per = {}
    for _draw_id, _doc, src, pos in out:
        per[src] = per.get(src, 0) + 1
        assert 1 <= pos <= 10
    assert per == {"a": 25, "b": 3, "c": 10}
    assert out == draw(df.repartition(7)) == draw(df.repartition(2, "doc_id"))


def test_shingle_helpers_match_python_reference(spark):
    """Property: for arbitrary token lists (including fewer than n
    tokens — the sequence(1,0) regression), the string-shingle set and
    the hash-shingle COUNT both equal the Python reference."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from adguard2clickhouse_spark.operators.dedup import (
        shingle_hashes_from_tokens, shingles_from_tokens,
    )
    from pyspark.sql import functions as F

    token = st.text(
        alphabet=st.characters(blacklist_characters=" ", blacklist_categories=("Cs",)),
        min_size=1, max_size=5,
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(token, min_size=0, max_size=8))
    def check(toks):
        text = " ".join(toks)
        retok = text.split(" ")  # what split() actually sees ('' for empty text)
        expect = {
            " ".join(retok[i : i + 3]) for i in range(max(0, len(retok) - 2))
        }
        df = spark.createDataFrame([(text,)], "text STRING").select(
            F.split("text", " ").alias("_toks")
        )
        row = df.select(
            shingles_from_tokens(F.col("_toks"), 3).alias("s"),
            F.size(shingle_hashes_from_tokens(F.col("_toks"), 3)).alias("nh"),
        ).collect()[0]
        assert set(row["s"]) == expect
        assert row["nh"] == len(expect)

    check()


def test_hashed_embedding_composes_with_vector_ops(spark):
    """Text -> hashed embedding -> similarity: identical docs land at
    cosine 1, disjoint docs at 0, vectors are unit-norm, and the
    frame plugs straight into embedding_dup_pairs."""
    import math

    from adguard2clickhouse_spark.operators.similarity import embedding_dup_pairs
    from adguard2clickhouse_spark.operators.text import hashed_embedding

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b a c"), (3, "x y z w q")], ["doc_id", "text"]
    )
    emb = hashed_embedding(df)
    rows = {r.doc_id: r.embedding for r in emb.collect()}
    for v in rows.values():
        assert abs(math.fsum(x * x for x in v) - 1.0) < 1e-9
    pairs = {
        (r.id_a, r.id_b)
        for r in embedding_dup_pairs(
            emb.withColumnRenamed("doc_id", "vec_id"), threshold=0.99
        ).collect()
    }
    assert pairs == {(1, 2)}


def test_containment_threshold_exact_at_0_3(spark):
    """The containment verify must use the exact Fraction of the
    decimal literal: float int(0.3*1000) truncates to 299, admitting
    ratios in [0.299, 0.3). Ratio 32/107 ~= 0.29907 sits inside that
    gap — it must be EXCLUDED at t=0.3 and included at t=0.29."""
    from adguard2clickhouse_spark.operators.dedup import ngram_containment_pairs

    # small doc: 34-token run shared with the long doc + 75 unique
    # tokens -> 107 shingles, 32 of them common (the run's inner ones)
    shared = [f"s{i}" for i in range(34)]
    small_doc = " ".join(shared + [f"u{i}" for i in range(75)])
    long_doc = " ".join([f"v{i}" for i in range(200)] + shared)
    df = spark.createDataFrame(
        [(1, long_doc), (2, small_doc)], "doc_id LONG, text STRING"
    )
    at_03 = ngram_containment_pairs(df, threshold=0.3).collect()
    assert at_03 == [], at_03
    at_029 = ngram_containment_pairs(df, threshold=0.29).collect()
    assert [(r.doc_a, r.doc_b, r.common, r.containment_permille) for r in at_029] == [
        (1, 2, 32, 299)
    ], at_029


def test_leakage_safe_split_keeps_near_dups_together(spark):
    """The eval-contamination guard: near-duplicate documents must land
    in the SAME split. A per-document split provably CAN separate
    them; the cluster split by construction cannot — and singletons
    degenerate to the per-document assignment exactly."""
    from adguard2clickhouse_spark.operators.dedup import ngram_jaccard_pairs
    from adguard2clickhouse_spark.operators.graph import connected_components
    from adguard2clickhouse_spark.operators.sampling import (
        hash_bucket,
        with_split,
        with_split_leakage_safe,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        # 3/4 and 30/31 are near-dup pairs; the rest are singletons
        [(3, base), (4, base + " extra"), (30, base.upper()),
         (31, base.upper() + " MORE")]
        + [(i, f"unique text number {i} " * 4) for i in range(100, 120)],
        "doc_id LONG, text STRING",
    )
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    got_pairs = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert {(3, 4), (30, 31)} <= got_pairs
    comp = connected_components(docs.select("doc_id"), pairs)
    out = with_split_leakage_safe(
        docs.select("doc_id"), comp, val_permille=300, test_permille=300
    )
    rows = {r.doc_id: (r.component, r.split) for r in out.collect()}
    assert len(rows) == 24  # the join loses nothing
    # the guarantee: cluster members share a split
    assert rows[3] == rows[4]
    assert rows[30] == rows[31]
    # the cluster label is the min id, and its bucket drives the split
    assert rows[3][0] == 3 and rows[30][0] == 30
    # singletons degenerate exactly to the per-document with_split
    per_doc = {
        r.doc_id: r.split
        for r in with_split(
            docs.select("doc_id"), val_permille=300, test_permille=300
        ).collect()
    }
    for i in range(100, 120):
        assert rows[i][1] == per_doc[i], i
    # deterministic: a second run is bit-identical
    out2 = with_split_leakage_safe(
        docs.select("doc_id"), comp, val_permille=300, test_permille=300
    )
    assert {tuple(r) for r in out2.collect()} == {tuple(r) for r in out.collect()}
