from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from databricks_observe_spark.operators import multimodal as M, text as T
from tests.conftest import fresh_context


def test_text_stats_invariants(tables):
    rows = T.text_stats(tables).collect()
    for r in rows:
        assert r.n_types <= r.n_tokens
        assert 0.0 < r.ttr <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert r.n_chars == len(" ") * 0 + r.n_chars  # present
    # n_chars matches the fixture's own column
    fixture = {r.doc_id: r.n_chars for r in tables["documents"].collect()}
    for r in rows:
        assert r.n_chars == fixture[r.doc_id]


def test_lang_profile_covers_all_docs(tables):
    df = T.lang_profile(tables)
    assert df.agg(F.sum("n_docs")).first()[0] == tables["documents"].count()


def test_langid_scores_every_test_doc(tables):
    df = T.langid_trigram(tables)
    n_test = tables["documents"].filter(F.col("doc_id") % 2 != 0).count()
    got = df.count()
    # every scored doc appears exactly once; docs with zero profile overlap
    # may be absent (no score rows) but that should be rare
    assert got >= n_test * 0.9
    assert df.groupBy("doc_id").count().agg(F.max("count")).first()[0] == 1


def test_fingerprint_stability_and_shape(tables):
    df = T.doc_fingerprints(tables)
    rows = df.collect()
    assert all(len(r.fingerprint) == 32 for r in rows)  # md5 hex
    # identical texts -> identical fingerprints
    dups = (
        tables["documents"]
        .groupBy("text")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    fp = {r.doc_id: r.fingerprint for r in rows}
    for d in dups:
        assert len({fp[i] for i in d.ids}) == 1


def test_multimodal_meta_matches_python_hash(tables):
    rows = M.multimodal_meta(tables).collect()
    texts = {r.doc_id: r.text for r in tables["documents"].collect()}
    for r in rows[:20]:
        blob = texts[r.doc_id].encode("utf-8")
        assert r.n_bytes == len(blob)
        assert r.sha256 == hashlib.sha256(blob).hexdigest()
        assert bytes.fromhex(r.magic) == blob[:4]


def test_media_features_deterministic_batching(tables, spark):
    df = M.media_features(tables)
    # driver-facing shape: scalar columns only (canonicalizable/hashable)
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,media_type:string,n_bytes:int,dim:int,value:double>"
    )
    rows: dict = {}
    for r in df.collect():
        rows.setdefault(r.doc_id, [None] * M.FEATURE_DIM)[r.dim] = r.value
    assert len(rows) == tables["documents"].count()
    assert all(None not in v for v in rows.values())
    # deterministic: repartitioning must not change features
    rows2 = {
        r.doc_id: r
        for r in M.extract_features(M.media_blobs(tables["documents"]).repartition(7)).collect()
    }
    for k in list(rows)[:20]:
        assert rows[k] == rows2[k].feature
        assert len(rows[k]) == M.FEATURE_DIM


def test_decode_media_stub_raises(tables):
    import pytest

    with pytest.raises(NotImplementedError):
        M.decode_media(b"\x89PNG", "image/png")


def test_tfidf_top3_per_doc(tables):
    rows = T.tfidf_keywords(tables).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == tables["documents"].count()
    for rs in by_doc.values():
        assert len(rs) <= 3
        scores = [r.tfidf for r in sorted(rs, key=lambda x: x.rnk)]
        assert scores == sorted(scores, reverse=True)


def test_heavy_hitters_are_frequent(tables):
    rows = T.heavy_hitter_tokens(tables).collect()
    assert len(rows) == 20
    freqs = [r.doc_freq for r in sorted(rows, key=lambda x: x.rnk)]
    assert freqs == sorted(freqs, reverse=True)


def test_quality_filter_reasons_match_thresholds(tables):
    from databricks_observe_spark.operators import text as T

    rows = T.quality_filter(tables).collect()
    assert rows and any(r.keep == 1 for r in rows)
    for r in rows:
        if r.n_tokens < T.MIN_TOKENS:
            assert r.reject_reason == "too_short" and r.keep == 0
        elif r.ttr_r < T.MIN_TTR:
            assert r.reject_reason == "low_diversity" and r.keep == 0
        elif r.stopword_ratio_r > T.MAX_STOPWORD_RATIO:
            assert r.reject_reason == "stopword_heavy" and r.keep == 0
        else:
            assert r.reject_reason is None and r.keep == 1


def test_vocab_coverage_monotone(tables):
    from databricks_observe_spark.operators import text as T

    rows = sorted(T.vocab_coverage(tables).collect(), key=lambda r: r.rank)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    freqs = [r.freq for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    shares = [r.cum_share for r in rows]
    assert shares == sorted(shares) and shares[-1] <= 1.0 + 1e-9


def test_repetition_signals_bounds(tables):
    from databricks_observe_spark.operators import text as T

    rows = T.repetition_signals(tables).collect()
    assert len(rows) == tables["documents"].count()
    for r in rows:
        assert 0 < r.n_distinct_bigrams <= r.n_bigrams
        assert 0 < r.distinct_ratio <= 1.0
        assert 0 < r.top_bigram_share <= 1.0
        assert 0 <= r.adjacent_repeat_frac < 1.0


def test_sequence_packing_conserves_tokens(tables):
    from pyspark.sql import functions as F

    from databricks_observe_spark.operators import text as T

    bins = T.sequence_packing(tables).collect()
    total = sum(r.total_tokens for r in bins)
    true_total = (
        tables["documents"]
        .select(F.size(F.split("text", " ")).alias("n"))
        .agg(F.sum("n"))
        .first()[0]
    )
    assert total == true_total
    # bins within a language are contiguous doc_id ranges
    by_lang: dict = {}
    for r in bins:
        by_lang.setdefault(r.lang, []).append(r)
    for rs in by_lang.values():
        rs.sort(key=lambda r: r.bin_id)
        assert [r.bin_id for r in rs] == list(range(len(rs)))
        for a, b in zip(rs, rs[1:]):
            assert a.last_doc <= b.first_doc


def test_pii_redaction_scrubs_synthetic_pii(spark):
    import duckdb

    import databricks_observe_spark.operators.text as T

    samples = [
        (0, "contact bob.smith+x@corp.example.org today"),
        (1, "ssn 123-45-6789 and phone 555-867-5309x"),
        (2, "server at 10.0.255.7 responded"),
        (3, "clean text with no sensitive content"),
        (4, "two mails a@b.io c@d.co one ip 1.2.3.4"),
    ]
    df = spark.createDataFrame(samples, "doc_id bigint, text string")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id", T.pii_redact_expr(F.col("text")).alias("red")
        ).collect()
    }
    assert got[0].red == "contact <EMAIL> today"
    assert got[1].red == "ssn <SSN> and phone <PHONE>x"
    assert got[2].red == "server at <IP> responded"
    assert got[3].red == "clean text with no sensitive content"
    assert got[4].red == "two mails <EMAIL> <EMAIL> one ip <IP>"
    # cross-engine: DuckDB's RE2 must scrub to the identical strings
    con = duckdb.connect()
    for doc_id, text in samples:
        (dred,) = con.execute(
            f"SELECT {T._pii_redact_sql('?')}", [text]
        ).fetchone()
        assert dred == got[doc_id].red, (doc_id, dred)


def test_stratified_sample_balances_languages(tables):
    import databricks_observe_spark.operators.text as T

    kept = T.stratified_sample(tables).groupBy("lang").count().collect()
    full = {r.lang: r.c for r in
            tables["documents"].groupBy("lang").agg(F.count("*").alias("c")).collect()}
    mn = min(full.values())
    for r in kept:
        # each language lands near the smallest language's size (hash noise
        # allowed), i.e. genuinely rebalanced rather than proportionally cut
        assert r["count"] <= full[r.lang]
        assert abs(r["count"] - mn) <= max(6, mn * 0.5)


def test_unigram_kl_flags_repetitive_doc(spark, tables):
    import databricks_observe_spark.operators.text as T

    rows = {r.doc_id: r.kl_r for r in T.unigram_kl(tables).collect()}
    assert len(rows) == tables["documents"].count()
    # KL >= 0 up to rounding noise on every doc
    assert all(v >= -1e-6 for v in rows.values())


def test_mixture_weights_rebalance_to_uniform(tables):
    import databricks_observe_spark.operators.text as T

    rows = T.mixture_weights(tables).collect()
    # weighted share == uniform share for every language
    for r in rows:
        assert abs(r.actual_share_r * r.weight_r - 1.0 / len(rows)) < 1e-4


def test_frame_sample_is_metadata_only_plan(tables):
    rows = M.frame_sample(tables).collect()
    assert rows
    for r in rows[:50]:
        assert r.frame_idx % 24 == 0  # 1 fps sampling at 24 fps
        assert r.frame_idx < r.n_frames
        assert r.ts_ms == r.frame_idx * 1000 // 24
    per_doc: dict[int, int] = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert max(per_doc.values()) <= 16  # MAX_SAMPLED cap holds


def test_image_resize_geometry_and_digest(tables):
    import hashlib

    rows = M.image_resize(tables).collect()
    assert rows
    texts = {
        r.doc_id: r.text
        for r in tables["documents"].filter("doc_id % 3 = 0").collect()
    }
    for r in rows[:20]:
        assert max(r.out_w, r.out_h) == 64  # longest edge hits the target
        assert r.out_w <= 64 and r.out_h <= 64
        expect = hashlib.sha256(
            texts[r.doc_id].encode() + b"|64x64"
        ).hexdigest()
        assert r.thumb_sha == expect


def test_pii_counts_follow_sequential_redaction(spark, tables):
    """A phone-shaped substring consumed by the earlier email redaction
    must NOT be reported as a phone redaction (code-review finding)."""
    import databricks_observe_spark.operators.text as T

    probe = {"documents": spark.createDataFrame(
        [(0, "reach me at 555-867-5309@x.co ok", "en", "s")],
        "doc_id bigint, text string, lang string, source string",
    )}
    (r,) = T.pii_redaction(probe).collect()
    assert r.n_email == 1
    assert r.n_phone == 0  # consumed by the email replace, not double-counted
    assert r.n_redactions == 1


def test_unigram_logprob_monotone_in_token_rarity(tables):
    from databricks_observe_spark.operators import text as T

    rows = T.unigram_logprob(tables).collect()
    assert len(rows) == tables["documents"].count()
    for r in rows[:50]:
        # probabilities < 1 -> negative logprobs; averages stay in range
        assert r.avg_lp_micro < 0
        assert r.lp_sum_micro <= r.avg_lp_micro  # sum over >=1 tokens
        assert r.n_tokens >= 1


def test_unigram_log_rounding_margins_verified(tables):
    """The quantize-before-log guard's no-flake claim, CHECKED: every
    grid point the fixtures attain must round with a margin far wider
    than a 1-ulp cross-engine ``ln`` divergence could move it.

    logprob: lp_micro = floor(ln(r_nano/1e9)*1e6 + 0.5); a 1-ulp log
    error moves the argument by ~|ln|*1.1e-16*1e6 < 1e-8, so a 1e-3
    floor-boundary distance is a >1e5x margin. kl: the same
    micro ln grid over kl's r_nano set — the downstream pico term is
    pure IEEE arithmetic on bit-identical inputs and needs no margin.
    Both families are also checked at sf0.01 (the driver scale) in
    tests/test_ln_boundary.py.
    """
    import math

    from pyspark.sql import functions as F

    from databricks_observe_spark.functions.textfns import doc_tokens

    toks = doc_tokens(tables).select(
        "doc_id", F.size("w").alias("n"), F.explode("w").alias("tok")
    )
    tf = toks.groupBy("doc_id", "n", "tok").agg(F.count(F.lit(1)).alias("tf"))
    cf = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cf"))
    total = toks.count()

    # --- unigram_logprob grid points (vocab-sized), via the operator's
    # own tf frame so the attained set is exactly what it quantizes ---
    from databricks_observe_spark.operators.text import _tfidf_tf_frame

    tf_op = _tfidf_tf_frame(tables)
    ctf_rows = tf_op.groupBy("tok").agg(F.sum("tf").alias("ctf")).collect()
    lp_total = float(sum(r.ctf for r in ctf_rows))
    pts = {max(math.floor(r.ctf / lp_total * 1e9 + 0.5), 1) for r in ctf_rows}
    for rn in pts:
        v = (math.log(rn / 1e9) * 1e6 + 0.5) % 1.0
        assert min(v, 1.0 - v) > 1e-3, rn

    # --- unigram_kl r_nano ln-grid points ---
    # The ONLY engine-variant op in the kl term is ln(r_nano/1e9)
    # floored to integer micro (lr_micro); the pico term
    # ((p*lr_micro)*1e6) is pure IEEE arithmetic on bit-identical
    # inputs and cannot diverge, so the margin check is on the ln grid
    # itself (a direct p*ln*1e12 floor has a worst attained margin of
    # only 1.66x the propagated error at sf0.01 — one adverse libm
    # pairing from a hash flip).
    rns = (
        tf.join(cf, on="tok")
        .select(
            F.greatest(
                F.floor(
                    (F.col("tf").cast("double") / F.col("n"))
                    / (F.col("cf").cast("double") / F.lit(float(total)))
                    * F.lit(1e9)
                    + F.lit(0.5)
                ),
                F.lit(1),
            ).alias("rn"),
        )
        .distinct()
        .collect()
    )
    assert rns
    for r in rns:
        v = math.log(r.rn / 1e9) * 1e6 + 0.5
        fr = v - math.floor(v)
        dist = min(fr, 1.0 - fr)
        err = max(abs(v) * 1.2e-16, 1e-12)  # 1-ulp ln, propagated
        assert dist > 1e4 * err, (r.rn, dist, err)


def test_bpe_pair_counts_weighted_by_word_frequency(tables, spark):
    from databricks_observe_spark.operators import text as T

    t2 = fresh_context(
        tables,
        documents=spark.createDataFrame(
            [(1, "ab ab cd"), (2, "ab x")],  # 'x' too short for a pair
            "doc_id bigint, text string",
        ),
    )
    rows = {(r.left_sym, r.right_sym): r.pair_count for r in T.bpe_pair_counts(t2).collect()}
    # 'ab' occurs 3 times -> pair (a,b)=3 ; 'cd' once -> (c,d)=1
    assert rows == {("a", "b"): 3, ("c", "d"): 1}


def test_textrank_conserves_rank_mass(tables):
    from databricks_observe_spark.operators import text as T

    rows = T.textrank_keywords(tables).collect()
    vocab = (
        tables["documents"]
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .count()
    )
    assert len(rows) == vocab
    # power iteration conserves total rank mass up to per-node rounding
    total = sum(r.rank_micro for r in rows)
    assert abs(total - 1_000_000) <= len(rows)
    teleport = int(0.15 * 1_000_000.0 / vocab + 0.5)
    assert all(r.rank_micro >= teleport for r in rows)
    # centrality signal: the max-rank token beats the uniform prior
    assert max(r.rank_micro for r in rows) > 1_000_000 // vocab


def test_fuzzy_match_probe_is_reflexively_consistent(tables):
    from databricks_observe_spark.operators import text as T

    rows = T.fuzzy_match_probe(tables).collect()
    for r in rows:
        assert 0 <= r.dist <= T.FUZZY_MAX_DIST
        assert r.doc_id != r.probe_id
    # a probe's own prefix is distance 0 from itself, excluded by the
    # self-filter; exact-duplicate docs of a probe must surface at 0
    import collections

    texts = {
        r.doc_id: r.text[: T.FUZZY_PREFIX_LEN]
        for r in tables["documents"].select("doc_id", "text").collect()
    }
    probes = {i: texts[i] for i in range(T.FUZZY_PROBE_DOCS)}
    expected_zero = {
        (d, p)
        for d, txt in texts.items()
        for p, ptxt in probes.items()
        if txt == ptxt and d != p
    }
    got_zero = {(r.doc_id, r.probe_id) for r in rows if r.dist == 0}
    assert expected_zero <= got_zero


def test_fuzzy_match_probe_on_empty_documents(tables):
    """An empty corpus has no probes and no matches: 0 rows, as its SQL
    twin's cross join with an empty probe set gives."""
    fresh = fresh_context(tables, documents=tables["documents"].limit(0))
    assert T.fuzzy_match_probe(fresh).collect() == []


def test_textrank_keywords_on_empty_documents(tables):
    """An empty corpus has no vocabulary and so no ranks: 0 rows, in the
    types its oracle gives over an empty ``documents`` view."""
    from tests.conftest import SF_DIR
    from tools.check_oracle import compare, oracle_con

    fresh = fresh_context(tables, documents=tables["documents"].limit(0))
    sdf = T.textrank_keywords(fresh)
    rows = sdf.collect()
    con = oracle_con(SF_DIR)
    con.execute(
        f"CREATE OR REPLACE VIEW documents AS"
        f" SELECT * FROM '{SF_DIR}/documents.parquet' LIMIT 0"
    )
    assert rows == []
    assert compare(sdf, rows, con, T.TEXTRANK_KEYWORDS_SQL) == []


def test_tf_idf_and_bm25_corpus_counts_on_a_null_text_document(tables):
    """A document with NULL ``text`` has no tokens: tfidf's N counts it,
    bm25's N does not, and both engines agree on each rule."""
    from tests.conftest import SF_DIR
    from tools.check_oracle import compare, oracle_con

    null_id = tables["documents"].agg(F.min("doc_id")).first()[0]
    fresh = fresh_context(
        tables,
        documents=tables["documents"].withColumn(
            "text", F.when(F.col("doc_id") != null_id, F.col("text"))
        ),
    )
    n_corpus = T._tfidf_tf_frame(fresh).first().n_corpus
    assert n_corpus == T._bm25_index(fresh).first().n_docs + 1
    con = oracle_con(SF_DIR)
    con.execute(
        "CREATE OR REPLACE VIEW documents AS SELECT * REPLACE"
        f" (CASE WHEN doc_id <> {null_id} THEN text END AS text)"
        f" FROM '{SF_DIR}/documents.parquet'"
    )
    for query, sql in (
        (T.tfidf_keywords, T.TFIDF_KEYWORDS_SQL),
        (T.bm25_scores, T.BM25_SCORES_SQL),
    ):
        sdf = query(fresh)
        assert compare(sdf, sdf.collect(), con, sql) == [], query.__name__
    con.close()


# one-class corpora: (Spark documents frame, DuckDB documents clause)
ONE_CLASS = {
    "one_document": (lambda d: d.orderBy("doc_id").limit(1), "ORDER BY doc_id LIMIT 1"),
    "target_language_only": (
        lambda d: d.filter(F.col("lang") == T.DSIR_TARGET_LANG),
        f"WHERE lang = '{T.DSIR_TARGET_LANG}'",
    ),
}


@pytest.mark.parametrize("case", sorted(ONE_CLASS))
def test_score_auc_on_one_class_documents(tables, case):
    """A corpus with one class has no (positive, negative) pair to rank,
    so ``auc_micro`` is NULL on both engines."""
    from tests.conftest import SF_DIR
    from tools.check_oracle import compare, oracle_con

    subset, clause = ONE_CLASS[case]
    fresh = fresh_context(tables, documents=subset(tables["documents"]))
    sdf = T.score_auc(fresh)
    rows = sdf.collect()
    con = oracle_con(SF_DIR)
    con.execute(
        f"CREATE OR REPLACE VIEW documents AS"
        f" SELECT * FROM '{SF_DIR}/documents.parquet' {clause}"
    )
    assert len(rows) == 1 and rows[0].n_pos * rows[0].n_neg == 0
    assert rows[0].auc_micro is None
    assert compare(sdf, rows, con, T.SCORE_AUC_SQL) == []


def test_bm25_ranks_are_contract_shaped(tables):
    from databricks_observe_spark.operators import text as T

    rows = T.bm25_scores(tables).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {q for q, _ in T.BM25_QUERIES}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= T.BM25_TOPK
        # scores descend; ties break on doc_id ascending
        for a, b in zip(rs, rs[1:]):
            assert (a.score_micro, -a.doc_id) >= (b.score_micro, -b.doc_id)


def test_bm25_favors_term_density(spark, tables):
    """A doc that is nothing but the query terms must outrank a doc that
    mentions them once among filler, under the same corpus stats."""
    from databricks_observe_spark.operators import text as T

    filler = "alpha beta gamma delta " * 10
    # no derived index: they point at the REAL corpus, not the synthetic
    # one below
    t2 = fresh_context(
        tables,
        documents=spark.createDataFrame(
            [
                (1, "spark join merge spark join merge", "en", "s", 10),
                (2, filler + "spark join merge", "en", "s", 10),
                (3, filler.strip(), "en", "s", 10),
            ],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        ),
    )
    rows = {
        (r.query_id, r.doc_id): r.rank for r in T.bm25_scores(t2).collect()
    }
    assert rows[("q_engine", 1)] < rows[("q_engine", 2)]
    assert ("q_engine", 3) not in rows  # no query term at all -> no score row


def test_bm25_idf_log_rounding_margins_verified(tables):
    """bm25's quantize-before-log guard, CHECKED like the unigram one:
    every idf grid point the probe terms attain must round to integer
    micro-units with a margin far wider than a 1-ulp cross-engine ``ln``
    divergence could move it (~1e-8 in the floored argument). The rest
    of the score is immune by construction: idf_micro is an exact
    integer on both engines once this holds, and the tf-normalization
    arithmetic is the same IEEE operation sequence in both SQL texts."""
    import math

    from pyspark.sql import functions as F

    from databricks_observe_spark.operators.text import (
        BM25_QUERIES,
        _bm25_index,
        _tfidf_tf_frame,
    )

    n_docs = _bm25_index(tables).first().n_docs
    probe_toks = {tok for _, toks in BM25_QUERIES for tok in toks}
    dfs = {
        r.df
        for r in _tfidf_tf_frame(tables)
        .filter(F.col("tok").isin(*probe_toks))
        .select("df")
        .collect()
    }
    assert dfs, "probe terms must hit the fixture vocabulary"
    for df in dfs:
        r_nano = max(
            math.floor((1.0 + (n_docs - df + 0.5) / (df + 0.5)) * 1e9 + 0.5), 1
        )
        v = (math.log(r_nano / 1e9) * 1e6 + 0.5) % 1.0
        assert min(v, 1.0 - v) > 1e-3, (df, r_nano)


def test_repetition_signals_single_token_doc(spark):
    """A no-space document must produce zero bigram rows on both engines
    (the old greatest() guard forced w[1] on a 1-element array — an
    INVALID_ARRAY_INDEX abort under Spark's default ANSI mode)."""
    import duckdb

    from databricks_observe_spark.operators import text as T

    docs = spark.createDataFrame(
        [(0, "hello", "en", "s", 5), (1, "a b a b", "en", "s", 7)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    got = {r.doc_id: r for r in T.repetition_signals({"documents": docs}).collect()}
    assert 0 not in got  # single-token doc: no bigrams, no row
    assert got[1].n_bigrams == 3 and got[1].n_distinct_bigrams == 2

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES"
        " (0, 'hello', 'en', 's', 5), (1, 'a b a b', 'en', 's', 7))"
        " AS t(doc_id, text, lang, source, n_chars)"
    )
    want = {r[0]: r for r in con.execute(T.REPETITION_SIGNALS_SQL).fetchall()}
    assert set(want) == set(got) == {1}
    assert want[1][1] == 3 and want[1][2] == 2


def test_bpe_apply_merges_greedy_semantics(tables):
    """The encode walk's contract, independently replayed: a Python
    reimplementation of greedy longest-match over the SAME top-32 merge
    table must reproduce every encoding, every encoding must concatenate
    back to its word, and every emitted 2-char unit must be a learned
    merge (no unit invents a pair the table never learned)."""
    pairs = T.bpe_pair_counts(tables).collect()
    ranked = sorted(
        pairs, key=lambda r: (-r.pair_count, r.left_sym + r.right_sym)
    )
    merges = {r.left_sym + r.right_sym for r in ranked[: T.BPE_MERGES]}

    def greedy(word: str) -> list[str]:
        out, i = [], 0
        while i < len(word):
            if word[i : i + 2] in merges:
                out.append(word[i : i + 2])
                i += 2
            else:
                out.append(word[i])
                i += 1
        return out

    rows = T.bpe_apply_merges(tables).collect()
    assert rows
    wf = (
        tables["documents"]
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .count()
        .collect()
    )
    assert {r.word for r in rows} == {r.w for r in wf}
    for r in rows:
        want = greedy(r.word)
        assert r.encoding.split(" ") == want, (r.word, r.encoding, want)
        assert r.n_units == len(want)
        assert "".join(want) == r.word
        for u in want:
            assert len(u) in (1, 2)
            if len(u) == 2:
                assert u in merges


def test_mixture_temperature_pow_margins_and_upsampling(tables):
    """The quantize-before-pow guard's no-flake claim, CHECKED: every
    attained pow grid point must floor with a margin far wider than a
    1-ulp cross-engine pow divergence (~2e-7 at the 1e9 scale) could
    move it; and the alpha<1 temperature must up-weight the smallest
    language relative to the largest (the whole point of the operator).
    """
    import math

    counts = {
        r.lang: r.n_docs
        for r in tables["documents"].groupBy("lang").agg(
            F.count(F.lit(1)).alias("n_docs")
        ).collect()
    }
    total = sum(counts.values())
    for n in counts.values():
        pn = max(math.floor(n / total * 1e9 + 0.5), 1)
        v = (math.pow(pn / 1e9, T.MIXTURE_ALPHA) * 1e9 + 0.5) % 1.0
        assert min(v, 1.0 - v) > 1e-3, (n, pn, v)

    rows = {r.lang: r for r in T.mixture_weights_temperature(tables).collect()}
    assert abs(sum(r.temp_share_r for r in rows.values()) - 1.0) < 1e-4
    lo = min(counts, key=counts.get)
    hi = max(counts, key=counts.get)
    if counts[lo] < counts[hi]:
        assert rows[lo].temp_weight_r > rows[hi].temp_weight_r
        assert rows[lo].temp_weight_r > 1.0 > rows[hi].temp_weight_r


def test_ngram_diversity_matches_python_recompute(tables):
    """Exact recompute of distinct-1/2 per source from the raw fixture."""
    import math
    from collections import defaultdict

    docs = tables["documents"].select("source", "text").collect()
    uni, bi = defaultdict(list), defaultdict(list)
    for r in docs:
        toks = r.text.split(" ")
        uni[r.source].extend(toks)
        bi[r.source].extend(
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        )
    got = {r.source: r for r in T.ngram_diversity(tables).collect()}
    assert set(got) == set(uni)
    for s in uni:
        r = got[s]
        assert r.n_tokens == len(uni[s])
        assert r.n_types == len(set(uni[s]))
        assert r.n_bigrams == len(bi[s])
        assert r.n_bigram_types == len(set(bi[s]))
        assert r.distinct1_r == math.floor(
            len(set(uni[s])) / len(uni[s]) * 1e6 + 0.5
        ) / 1e6
        assert 0.0 < r.distinct2_r <= 1.0


def test_dsir_weights_favor_target_language(tables):
    """DSIR sanity: target-lang docs must score higher on average than
    non-target docs (the whole point of the importance weight), the keep
    flag must be exactly the avg >= 0 threshold, and every ln input the
    fixture attains must clear the floor boundary with margin (the
    package ln-site rule, checked not assumed)."""
    import math

    from databricks_observe_spark.operators.text import (
        DSIR_BUCKETS,
        DSIR_TARGET_LANG,
        dsir_importance_weights,
    )

    langs = {
        r.doc_id: r.lang
        for r in tables["documents"].select("doc_id", "lang").collect()
    }
    rows = dsir_importance_weights(tables).collect()
    assert len(rows) == len(langs)
    tgt = [r.avg_lr_micro for r in rows if langs[r.doc_id] == DSIR_TARGET_LANG]
    oth = [r.avg_lr_micro for r in rows if langs[r.doc_id] != DSIR_TARGET_LANG]
    assert tgt and oth
    assert sum(tgt) / len(tgt) > sum(oth) / len(oth)
    for r in rows:
        assert r.keep == int(r.avg_lr_micro >= 0)

    # margin check over the attained bucket-probability grid points
    from databricks_observe_spark.operators.text import _tfidf_tf_frame

    tf = _tfidf_tf_frame(tables)
    bucketed = tf.join(
        tables["documents"].select("doc_id", "lang"), on="doc_id"
    ).select(
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % DSIR_BUCKETS
        ).alias("bucket"),
        "lang",
        "tf",
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("tf")).otherwise(0)
        ).alias("t"),
        F.sum("tf").alias("r"),
    ).collect()
    t_total = float(sum(r.t for r in counts))
    r_total = float(sum(r.r for r in counts))
    pts = set()
    for row in counts:
        pts.add(max(math.floor((row.t + 1) / (t_total + DSIR_BUCKETS) * 1e9 + 0.5), 1))
        pts.add(max(math.floor((row.r + 1) / (r_total + DSIR_BUCKETS) * 1e9 + 0.5), 1))
    for pn in pts:
        v = (math.log(pn / 1e9) * 1e6 + 0.5) % 1.0
        assert min(v, 1.0 - v) > 1e-3, pn


def _unimax_greedy(tokens_by_lang, epoch_cap, budget_epochs):
    """The paper's sequential greedy loop — the reference the closed-form
    window implementation must reproduce exactly."""
    total = sum(tokens_by_lang.values())
    budget = budget_epochs * total
    items = sorted(
        (n * epoch_cap, lang, n) for lang, n in tokens_by_lang.items()
    )
    alloc, remaining, m = {}, budget, len(items)
    pending = []
    for cap, lang, n in items:
        if cap * m <= remaining:
            alloc[lang] = cap
            remaining -= cap
            m -= 1
        else:
            pending.append(lang)
    # uniform water level for the uncapped tail, remainder one-each in
    # sort order so the allocation exhausts the budget exactly
    if pending:
        u, rem = divmod(remaining, len(pending))
        for j, lang in enumerate(pending):
            alloc[lang] = u + (1 if j < rem else 0)
    return alloc


def test_unimax_matches_greedy_and_exhausts_budget(tables):
    from databricks_observe_spark.operators.text import (
        UNIMAX_BUDGET_EPOCHS,
        UNIMAX_EPOCH_CAP,
        unimax_allocation,
    )

    toks = {
        r.lang: r.n
        for r in tables["documents"]
        .groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).alias("n"))
        .collect()
    }
    want = _unimax_greedy(toks, UNIMAX_EPOCH_CAP, UNIMAX_BUDGET_EPOCHS)
    got = {r.lang: r for r in unimax_allocation(tables).collect()}
    assert set(got) == set(want)
    for lang, r in got.items():
        assert r.alloc_tokens == want[lang]
        assert r.alloc_tokens <= r.cap_tokens
        assert r.cap_tokens == UNIMAX_EPOCH_CAP * r.n_tokens
    total = sum(toks.values())
    assert sum(r.alloc_tokens for r in got.values()) == min(
        UNIMAX_BUDGET_EPOCHS * total, UNIMAX_EPOCH_CAP * total
    )


def test_unimax_capped_branch_on_skewed_synthetic_corpus(spark):
    """The fixture's languages are all uncapped (budget 2x, cap 4x, mild
    skew); force the capped prefix with a synthetic corpus where one
    language dwarfs the rest, and check the closed form against the
    greedy loop including the remainder distribution."""
    from databricks_observe_spark.operators.text import (
        UNIMAX_BUDGET_EPOCHS,
        UNIMAX_EPOCH_CAP,
        unimax_allocation,
    )

    sizes = {"aa": 3, "bb": 5, "cc": 7, "huge": 1000}
    rows = [
        (f"{lang}-{i}", " ".join(["tok"] * n), lang, "src")
        for lang, n in sizes.items()
        for i in range(1)
    ]
    docs = spark.createDataFrame(
        [(i, text, lang, src) for i, (_, text, lang, src) in enumerate(rows)],
        "doc_id bigint, text string, lang string, source string",
    )
    got = {r.lang: r for r in unimax_allocation({"documents": docs}).collect()}
    want = _unimax_greedy(sizes, UNIMAX_EPOCH_CAP, UNIMAX_BUDGET_EPOCHS)
    assert {k: v.alloc_tokens for k, v in got.items()} == want
    # the small languages must actually be capped, the big one not
    assert all(got[lang].capped == 1 for lang in ("aa", "bb", "cc"))
    assert got["huge"].capped == 0
    assert sum(want.values()) == UNIMAX_BUDGET_EPOCHS * sum(sizes.values())


def test_score_auc_matches_python_recompute(tables):
    """Tie-aware Mann-Whitney recompute from the DSIR scores + labels,
    plus the boundedness facts the scale argument rests on: the milli
    grid the rank window runs over is provably within +-ln(1e9)*1000."""
    import math
    from collections import defaultdict

    from databricks_observe_spark.operators.text import (
        DSIR_TARGET_LANG,
        dsir_importance_weights,
        score_auc,
    )

    langs = {
        r.doc_id: r.lang
        for r in tables["documents"].select("doc_id", "lang").collect()
    }
    by_score = defaultdict(lambda: [0, 0])
    lo = hi = None
    for r in dsir_importance_weights(tables).collect():
        s = math.floor(r.avg_lr_micro / 1000.0)
        by_score[s][0 if langs[r.doc_id] == DSIR_TARGET_LANG else 1] += 1
        lo = s if lo is None else min(lo, s)
        hi = s if hi is None else max(hi, s)
    bound = math.log(1e9) * 1000  # |avg lr| <= ln(1e9) by construction
    assert -bound <= lo <= hi <= bound
    num2, neg_below, n_pos, n_neg = 0, 0, 0, 0
    for s in sorted(by_score):
        p, n = by_score[s]
        num2 += p * (2 * neg_below + n)
        neg_below += n
        n_pos += p
        n_neg += n
    got = score_auc(tables).collect()[0]
    assert (got.n_pos, got.n_neg, got.auc_num2) == (n_pos, n_neg, num2)
    # auc_micro is the exact integer half-up of auc*1e6: adding P*N to
    # 1e6*num2 before the 2*P*N floor-division adds exactly 0.5 micro
    assert got.auc_micro == (1000000 * num2 + n_pos * n_neg) // (
        2 * n_pos * n_neg
    )
    # the retired float form (auc_r) is pinned here as the display form.
    # Tolerance of ONE micro-unit: the reference value below is computed
    # in double arithmetic (exactly the boundary-unsafe form the integer
    # auc_micro replaced), so on a future fixture whose exact quotient
    # sits within a double-rounding of a k+0.5 boundary the DOUBLE side
    # may flip — the exact integer auc_micro is the authoritative one and
    # is already pinned bit-exactly above.
    assert (
        abs(got.auc_micro - math.floor(num2 / (2.0 * n_pos * n_neg) * 1e6 + 0.5))
        <= 1
    )
    # the score must genuinely rank the target language (else the eval
    # gate is vacuous)
    assert got.auc_micro > 550000
    # the localization companion is the same row minus the derived col
    from databricks_observe_spark.operators.text import score_auc_parts

    parts = score_auc_parts(tables).collect()[0]
    assert (parts.n_pos, parts.n_neg, parts.auc_num2) == (
        n_pos,
        n_neg,
        num2,
    )
    assert parts.asDict().keys() == {"n_pos", "n_neg", "auc_num2"}


def test_score_auc_type_envelope(tables):
    """Type contract for the AUC pair: the HASHED projections are
    all-BIGINT — auc_num2 was the only DECIMAL-typed output column in the
    registry and exactly the only hash failure — while the 2*U arithmetic
    INSIDE _auc_terms stays DECIMAL(38,0) (load-bearing past ~3e9 docs
    where O(P*N) exceeds int64). Also pins an overflow-behavior
    difference: a breach of the int64 output envelope would surface as a
    NULL under non-ANSI Spark (vs DuckDB's loud HUGEINT error), so assert
    non-null and the 2*P*N < 2^63 safety margin explicitly."""
    from pyspark.sql.types import DecimalType, LongType

    from databricks_observe_spark.operators.text import (
        _auc_terms,
        score_auc,
        score_auc_parts,
    )

    internal = _auc_terms(tables)
    assert isinstance(
        internal.schema["auc_num2"].dataType, DecimalType
    ), "the >int64 envelope must stay in the internal arithmetic"
    for df in (score_auc(tables), score_auc_parts(tables)):
        for fld in df.schema.fields:
            assert isinstance(fld.dataType, LongType), (
                fld.name,
                fld.dataType,
            )
    row = score_auc(tables).collect()[0]
    assert None not in (row.n_pos, row.n_neg, row.auc_num2, row.auc_micro)
    # BIGINT output is exact while 2*P*N < 2^63 (auc_num2 <= 2*P*N);
    # the fixture corpus sits ~10 orders of magnitude inside that.
    assert 2 * row.n_pos * row.n_neg < 2**63
    assert 0 <= row.auc_num2 <= 2 * row.n_pos * row.n_neg


def test_tokenizer_fertility_matches_weighted_recompute(tables):
    """The per-lang report must equal the occurrence-weighted rollup of
    the per-word BPE encodings (which have their own greedy-walk test),
    and satisfy the algebraic bounds: every word is at least one unit
    and every unit is 1-2 chars."""
    import math
    from collections import defaultdict

    from databricks_observe_spark.operators.text import (
        bpe_apply_merges,
        tokenizer_fertility,
    )

    units = {r.word: r.n_units for r in bpe_apply_merges(tables).collect()}
    agg = defaultdict(lambda: [0, 0, 0])  # words, units, chars
    for r in tables["documents"].select("lang", "text").collect():
        for w in r.text.split(" "):
            if not w:
                continue
            a = agg[r.lang]
            a[0] += 1
            a[1] += units[w]
            a[2] += len(w)
    got = {r.lang: r for r in tokenizer_fertility(tables).collect()}
    assert set(got) == set(agg)
    for lang, (nw, nu, nc) in agg.items():
        r = got[lang]
        assert (r.n_words, r.n_bpe_units, r.n_chars) == (nw, nu, nc)
        assert r.fertility_r == math.floor(nu / nw * 1e6 + 0.5) / 1e6
        assert r.chars_per_unit_r == math.floor(nc / nu * 1e6 + 0.5) / 1e6
        assert r.fertility_r >= 1.0
        assert 1.0 <= r.chars_per_unit_r <= 2.0


def test_score_calibration_matches_recompute_and_is_discriminative(tables):
    """Band-level replay from the DSIR scores; the report must cover
    every doc exactly once and the top band must be purer in the target
    language than the bottom band (else the reliability report carries
    no signal)."""
    import math
    from collections import defaultdict

    from databricks_observe_spark.operators.text import (
        CALIB_BAND_MICRO,
        DSIR_TARGET_LANG,
        dsir_importance_weights,
        score_calibration,
    )

    langs = {
        r.doc_id: r.lang
        for r in tables["documents"].select("doc_id", "lang").collect()
    }
    bands = defaultdict(lambda: [0, 0])
    for r in dsir_importance_weights(tables).collect():
        b = math.floor(r.avg_lr_micro / float(CALIB_BAND_MICRO))
        bands[b][0] += 1
        bands[b][1] += int(langs[r.doc_id] == DSIR_TARGET_LANG)
    got = {r.band: r for r in score_calibration(tables).collect()}
    assert set(got) == set(bands)
    for b, (n, p) in bands.items():
        r = got[b]
        assert (r.n_docs, r.n_pos) == (n, p)
        assert r.band_lo_micro == b * CALIB_BAND_MICRO
        assert r.pos_rate_bp == math.floor(p * 10000.0 / n + 0.5)
    assert sum(n for n, _ in bands.values()) == len(langs)
    # discriminative: target docs sit in higher bands ON AVERAGE (the
    # band-granularity form of AUC > 0.5; single-doc edge bands are too
    # noisy for an endpoint-purity check)
    n_pos = sum(p for _, p in bands.values())
    n_neg = sum(n - p for n, p in bands.values())
    mean_pos = sum(b * p for b, (_, p) in bands.items()) / n_pos
    mean_neg = sum(b * (n - p) for b, (n, p) in bands.items()) / n_neg
    assert mean_pos > mean_neg


def test_unimax_closed_form_matches_greedy_on_random_corpora(spark, monkeypatch):
    """Property sweep: the windowed closed form must equal the greedy
    waterfilling loop on adversarial synthetic corpora — heavy skew,
    singleton languages, tie groups, and (via a raised budget) the
    all-capped branch where the water level is undefined."""
    import random

    from databricks_observe_spark.operators import text as T

    rng = random.Random(7)
    cases = [
        {"a": 1},                                    # single language
        {"a": 1, "b": 1, "c": 1},                    # full tie group
        {"a": 2, "b": 2, "c": 1000},                 # heavy skew
        {f"l{i}": rng.randint(1, 50) for i in range(8)},
        {f"l{i}": rng.choice([3, 3, 3, 7, 500]) for i in range(6)},
    ]
    for budget_epochs, sizes in [(2, c) for c in cases] + [(10, cases[2])]:
        monkeypatch.setattr(T, "UNIMAX_BUDGET_EPOCHS", budget_epochs)
        docs = spark.createDataFrame(
            [
                (i, " ".join(["tok"] * n), lang, "src")
                for i, (lang, n) in enumerate(sizes.items())
            ],
            "doc_id bigint, text string, lang string, source string",
        )
        got = {
            r.lang: r.alloc_tokens
            for r in T.unimax_allocation({"documents": docs}).collect()
        }
        want = _unimax_greedy(sizes, T.UNIMAX_EPOCH_CAP, budget_epochs)
        assert got == want, (budget_epochs, sizes)
        total = sum(sizes.values())
        assert sum(got.values()) == min(
            budget_epochs * total, T.UNIMAX_EPOCH_CAP * total
        )


def test_corpus_card_matches_python_recompute(tables):
    import hashlib as H
    import math

    docs = tables["documents"].collect()
    toks = sum(len(r.text.split(" ")) for r in docs)
    chars = sum(r.n_chars for r in docs)
    uniq = len({H.md5(r.text.encode()).hexdigest() for r in docs})
    card = T.corpus_card(tables).collect()
    assert len(card) == 1
    c = card[0]
    assert c.n_docs == len(docs)
    assert c.n_langs == len({r.lang for r in docs})
    assert c.n_sources == len({r.source for r in docs})
    assert c.n_tokens == toks and c.n_chars == chars
    assert c.n_uniq_texts == uniq
    assert c.dup_bp == math.floor((len(docs) - uniq) * 10000.0 / len(docs) + 0.5)
    assert c.avg_tokens_r == math.floor(toks / len(docs) * 1e6 + 0.5) / 1e6


def test_audio_chunking_plan_covers_every_ms_once_with_overlap(tables):
    """Chunk plan invariants: full coverage of each audio's duration,
    fixed step, exact trailing overlap, exact 16-bit PCM byte ranges —
    and the plan stays JVM-only (no Python, no bytes touched)."""
    from collections import defaultdict

    from databricks_observe_spark.operators.multimodal import (
        CHUNK_MS,
        CHUNK_OVERLAP_MS,
        SAMPLE_RATE,
        audio_chunking,
    )

    step = CHUNK_MS - CHUNK_OVERLAP_MS
    by_doc = defaultdict(list)
    for r in audio_chunking(tables).collect():
        by_doc[r.doc_id].append(r)
    n_audio = tables["documents"].filter("doc_id % 3 = 1").count()
    assert len(by_doc) == n_audio
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.chunk_idx)
        dur = rs[0].duration_ms
        assert [r.chunk_idx for r in rs] == list(range(len(rs)))
        assert rs[0].start_ms == 0
        assert rs[-1].end_ms == dur  # coverage reaches the end exactly
        for a, b in zip(rs, rs[1:]):
            assert b.start_ms - a.start_ms == step
            if a.end_ms == a.start_ms + CHUNK_MS:  # full chunk
                assert a.end_ms - b.start_ms == CHUNK_OVERLAP_MS
        for r in rs:
            assert 0 < r.end_ms - r.start_ms <= CHUNK_MS
            assert r.byte_off == r.start_ms * SAMPLE_RATE * 2 // 1000
            assert r.byte_len == (r.end_ms - r.start_ms) * SAMPLE_RATE * 2 // 1000
