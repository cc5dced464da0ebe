"""Text-analysis operators over ``documents`` (extension surface).

Language-ID, quality scoring, token counting, fingerprinting — the text
half of the training-data pipeline toolkit. Everything is JVM built-ins
(split/regexp/md5/higher-order array fns); the corpus scan is one pass per
operator and aggregates are exact-arithmetic so oracles match bit-for-bit.

- ``text_stats``        — per-doc quality metrics (token/type counts, TTR,
  stopword ratio): the filters a curation pipeline thresholds on.
- ``lang_profile``      — per-language corpus rollup.
- ``langid_trigram``    — character-trigram language-ID: profiles learned
  from the even-doc_id half (top-40 trigrams per language), odd half
  classified by profile overlap, argmax with lang tie-break. A real n-gram
  classifier exercised entirely in SQL-expressible form.
- ``doc_fingerprints``  — winnowing-style rolling fingerprint: min md5 over
  word-4-gram windows (content-defined, shift-robust).
- ``token_count_regex`` — BPE-ish regex token counts vs whitespace counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from databricks_observe_spark.functions.rounding import (
    ln_micro,
    nano_grid,
    pow_nano,
    round_half_up,
    sql_ln_micro,
    sql_nano_grid,
    sql_pow_nano,
    sql_round_half_up,
)
from databricks_observe_spark.functions.fixpoint import (
    loop_session,
    pin_width,
    rebind,
)
from databricks_observe_spark.functions.textfns import doc_tokens
from databricks_observe_spark.memo import index
from databricks_observe_spark.sources.tables import documents_split

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
TRAIN_MOD = 2  # even doc_id -> training half
TOP_TRIGRAMS = 40


def signal_cols() -> list[F.Column]:
    """The per-doc quality signals ``n_tokens``, ``ttr`` and
    ``stopword_ratio`` over the whitespace tokens of ``text``: the columns
    :func:`reject_reason` thresholds. ``text_stats`` reports them and the
    curation pipeline carries them through its dedup shuffle."""
    toks = F.split(F.col("text"), " ")
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    return [
        F.size(toks).alias("n_tokens"),
        (F.size(F.array_distinct(toks)) / F.size(toks)).alias("ttr"),
        (stop_hits / F.size(toks)).alias("stopword_ratio"),
    ]


def text_stats(t: dict[str, DataFrame]) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    n_tokens, ttr, stopword_ratio = signal_cols()
    return t["documents"].select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        n_tokens,
        F.size(F.array_distinct(toks)).alias("n_types"),
        ttr,
        ((F.length("text") - F.size(toks) + 1) / F.size(toks)).alias("avg_token_len"),
        stopword_ratio,
    )


_STOP_LIST_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"
# DuckDB twin of signal_cols over a ``toks`` list column
_SIGNALS_SQL = f"""len(toks) AS n_tokens,
       len(list_distinct(toks)) * 1.0 / len(toks) AS ttr,
       len(list_filter(toks, x -> list_contains({_STOP_LIST_SQL}, x))) * 1.0 / len(toks)
         AS stopword_ratio"""

TEXT_STATS_SQL = f"""
WITH d AS (SELECT *, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id, lang, source,
       length(text) AS n_chars,
       len(list_distinct(toks)) AS n_types,
       (length(text) - len(toks) + 1) * 1.0 / len(toks) AS avg_token_len,
       {_SIGNALS_SQL}
FROM d
"""


def lang_profile(t: dict[str, DataFrame]) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum(F.size(toks)).alias("total_tokens"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


LANG_PROFILE_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def corpus_card(t: dict[str, DataFrame]) -> DataFrame:
    """The one-row data card a corpus release publishes: sizes,
    language/source breadth, exact-duplicate rate, and mean lengths —
    the headline block of a dataset datasheet, computed from the raw
    corpus instead of hand-maintained.

    Scale shape: two corpus passes, deliberately NOT one — the cell
    stats collapse in a map-side-combinable ``(lang, source)`` aggregate
    and the global unique-text count is its own two-phase distinct on
    the 16-byte digest; fusing them into one aggregate with three
    COUNT(DISTINCT)s would plan an Expand that multiplies the corpus
    scan by the number of distinct aggregates. Everything after the two
    collapses is (lang x source)-cardinality work; ratios are exact
    integer inputs to final :func:`round_half_up` divides.
    """
    d = t["documents"]
    cell = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    uniq = d.select(F.md5("text").alias("h")).agg(
        F.countDistinct("h").alias("n_uniq_texts")
    )
    rollup = cell.agg(
        F.sum("n_docs").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
    )
    return rollup.join(F.broadcast(uniq)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "n_tokens",
        "n_chars",
        "n_uniq_texts",
        F.floor(
            (F.col("n_docs") - F.col("n_uniq_texts"))
            * F.lit(10000.0)
            / F.col("n_docs")
            + F.lit(0.5)
        ).alias("dup_bp"),
        round_half_up(
            F.col("n_tokens").cast("double") / F.col("n_docs"), 6
        ).alias("avg_tokens_r"),
        round_half_up(
            F.col("n_chars").cast("double") / F.col("n_docs"), 6
        ).alias("avg_chars_r"),
    )


CORPUS_CARD_SQL = f"""
WITH cell AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY lang, source
),
uniq AS (
  SELECT COUNT(DISTINCT md5(text)) AS n_uniq_texts FROM documents
),
rollup AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         COUNT(DISTINCT lang) AS n_langs,
         COUNT(DISTINCT source) AS n_sources,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM cell
)
SELECT n_docs, n_langs, n_sources, n_tokens, n_chars, n_uniq_texts,
       CAST(FLOOR((n_docs - n_uniq_texts) * 10000.0 / n_docs + 0.5) AS BIGINT)
         AS dup_bp,
       {sql_round_half_up('CAST(n_tokens AS DOUBLE) / n_docs', 6)} AS avg_tokens_r,
       {sql_round_half_up('CAST(n_chars AS DOUBLE) / n_docs', 6)} AS avg_chars_r
FROM rollup CROSS JOIN uniq
"""


@index("char_trigrams")
def _char_trigrams(t: dict[str, DataFrame]) -> DataFrame:
    """Distinct (doc_id, lang, tg) character-trigram frame, memoized +
    materialized once per context — the index both langid branches read.

    Overlapping trigrams come from one codegen regex pass — the zero-width
    lookahead ``(?=(...))`` captures text[i:i+3] at every position (a
    zero-width match advances the matcher one char), so the whole build
    stays inside whole-stage codegen. Measured 1.75x faster at sf0.1 than
    the interpreted ``transform(sequence(...), i -> substring(...))``
    lambda (Spark never compiles LambdaFunction), with bit-identical
    output. Sub-3-char docs keep the substring semantics (the whole text
    as one truncated trigram). The per-doc ``array_distinct`` dedup is
    map-local — no shuffle.
    """
    return (
        documents_split(t)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(
                    F.when(F.length("text") < 3, F.array(F.col("text"))).otherwise(
                        F.regexp_extract_all("text", F.lit("(?s)(?=(...))"), 1)
                    )
                )
            ).alias("tg"),
        )
        .localCheckpoint()
    )


@index("langid_trained_profiles")
def _langid_profiles(t: dict[str, DataFrame]) -> DataFrame:
    """The TRAINED language-ID model: top-{TOP_TRIGRAMS} trigrams per
    language by document frequency in the training half (ties -> trigram
    asc). A few hundred rows; memoized + materialized like the k-means
    grid and IVF assignment — a language-ID profile is trained once and
    applied forever, so the setup phase builds it and the query measures
    scoring, not training."""
    train = _char_trigrams(t).filter(F.col("doc_id") % TRAIN_MOD == 0)
    freq = train.groupBy("lang", "tg").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("lang").orderBy(F.desc("df"), F.asc("tg"))
    return (
        freq.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_TRIGRAMS)
        .select(F.col("lang").alias("profile_lang"), "tg")
        .localCheckpoint()
    )


def langid_trigram(t: dict[str, DataFrame]) -> DataFrame:
    """Char-trigram language-ID, trained/evaluated on an even/odd split.

    Profiles come from the memoized trained model (:func:`_langid_profiles`
    — top-40 trigrams per language by training-half document frequency,
    ties -> trigram asc). Prediction: language whose profile shares the
    most distinct trigrams with the doc (ties -> lang asc). The only
    data-proportional work is the test-half scan of the trigram index
    joined against the broadcast profile.
    """
    tg = _char_trigrams(t)
    test = tg.filter(F.col("doc_id") % TRAIN_MOD != 0)
    profiles = _langid_profiles(t)

    scores = (
        test.join(F.broadcast(profiles), on="tg")
        .groupBy("doc_id", "lang", "profile_lang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    pick = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("profile_lang"))
    return (
        scores.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.col("profile_lang").alias("pred_lang"),
            "score",
            (F.col("lang") == F.col("profile_lang")).cast("int").alias("correct"),
        )
    )


LANGID_TRIGRAM_SQL = f"""
WITH tg AS (
  SELECT DISTINCT doc_id, lang, substr(text, i.i, 3) AS tg
  FROM documents
  CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(length(text) - 2, 1) + 1)) AS i) i
),
freq AS (
  SELECT lang, tg, COUNT(*) AS df FROM tg WHERE doc_id % {TRAIN_MOD} = 0 GROUP BY 1, 2
),
profiles AS (
  SELECT lang AS profile_lang, tg FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY df DESC, tg ASC) AS rnk FROM freq
  ) WHERE rnk <= {TOP_TRIGRAMS}
),
scores AS (
  SELECT t.doc_id, t.lang, p.profile_lang, COUNT(*) AS score
  FROM tg t JOIN profiles p ON t.tg = p.tg
  WHERE t.doc_id % {TRAIN_MOD} <> 0
  GROUP BY 1, 2, 3
)
SELECT doc_id, lang AS true_lang, profile_lang AS pred_lang, score,
       CAST(lang = profile_lang AS INT) AS correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, profile_lang ASC) AS rn
  FROM scores
) WHERE rn = 1
"""


def doc_fingerprints(t: dict[str, DataFrame]) -> DataFrame:
    """Winnowing-style fingerprint: min md5 over word-4-gram windows.

    Content-defined (survives token insertion far from the minimum);
    grouping by fingerprint surfaces near-dup clusters cheaply.
    """
    toks = doc_tokens(t)
    win = F.expr(
        "transform(sequence(1, greatest(size(w) - 3, 1)),"
        " i -> md5(concat_ws(' ', slice(w, i, 4))))"
    )
    return toks.select(
        "doc_id",
        F.array_min(win).alias("fingerprint"),
        F.size(win).alias("n_windows"),
    )


# slice-based for parity with Spark's slice(w, i, 4) on short docs
DOC_FINGERPRINTS_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
),
wins AS (
  SELECT doc_id, md5(array_to_string(toks[i.i : i.i + 3], ' ')) AS h
  FROM w CROSS JOIN LATERAL (SELECT unnest(range(1, greatest(len(toks) - 3, 1) + 1)) AS i) i
)
SELECT doc_id, MIN(h) AS fingerprint, COUNT(*) AS n_windows
FROM wins GROUP BY doc_id
"""


def heavy_hitter_tokens(t: dict[str, DataFrame]) -> DataFrame:
    """Corpus-wide heavy hitters: top-20 tokens by document frequency
    (ties -> token asc). The exact form of the frequency skim a curation
    pipeline uses to build stopword/blocklist tables."""
    df = (
        doc_tokens(t)
        .select("doc_id", F.explode(F.array_distinct("w")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    # orderBy().limit(k) plans as TakeOrderedAndProject: each task keeps its
    # local top-20, the driver merges 20-row heaps — the full vocab (billions
    # of tokens at 100 TB) never funnels through one reducer. Ranking then
    # runs a window over the 20 surviving rows only (a global row_number()
    # window would be a single reducer over the whole vocab).
    top = df.orderBy(F.desc("doc_freq"), F.asc("tok")).limit(20)
    w = Window.orderBy(F.desc("doc_freq"), F.asc("tok"))
    return top.select(
        "tok",
        "doc_freq",
        F.row_number().over(w).cast("int").alias("rnk"),
    )


HEAVY_HITTER_TOKENS_SQL = """
WITH df AS (
  SELECT tok, COUNT(*) AS doc_freq FROM (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) GROUP BY tok
)
SELECT tok, doc_freq, CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, tok ASC) AS INT) AS rnk
FROM df QUALIFY rnk <= 20
"""


@index("tfidf_tf")
def _tfidf_tf_frame(t: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, tok, tf, df, n_corpus) — the term index with its corpus
    statistics: ``tf`` the in-doc count, ``df`` the term's document
    frequency (its row count here: each (doc_id, tok) appears once) and
    ``n_corpus`` the ``documents`` row count. One tokenize pass feeds tf
    and df; both statistics depend only on the snapshot, so they are
    folded onto the rows once, at build, and no query re-aggregates
    them. At scale this is a written table; the setup phase
    (``setup_phase.build_setup_indexes``) builds it, so per-query
    timings measure steady-state execution."""
    n_corpus = t["documents"].agg(F.count(F.lit(1)).alias("n_corpus"))
    # df is a count over the tok partition of the tf rows, not a grouped
    # frame joined back: the window reuses the tok shuffle, where a join
    # would add a vocab-sized build side (and its broadcast job once AQE
    # sees it fits). n_corpus is a 1-row scalar.
    return (
        doc_tokens(t)
        .select("doc_id", F.explode("w").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("tok")))
        .crossJoin(F.broadcast(n_corpus))
        .localCheckpoint()
    )


def tfidf_keywords(t: dict[str, DataFrame]) -> DataFrame:
    """Top-3 TF-IDF keywords per document (ties -> token asc).

    tf = in-doc count; idf = ln(N / df) computed in exact integer inputs;
    the score is a deterministic double product. N is the ``documents``
    row count, a document with NULL ``text`` included (it has no
    tokens, so it adds to no df); the oracle's ``COUNT(*) FROM
    documents`` states the same rule. tf, df and N are read off the tf
    index, where they were folded at build: the query is a scan, a
    projection and the per-doc top-3 window, whose one exchange is
    ``hashpartitioning(doc_id)``.

    Rounding is :func:`round_half_up` (``floor(x*1e6+0.5)/1e6`` on BOTH
    engines) — pure IEEE arithmetic over the bit-identical score, so the
    rounded value (and hence the rnk ordering) cannot diverge even at
    0.5e-6 boundaries, where ``F.round(double, n)`` and the engines' own
    rounding can disagree; every oracle pair in the package uses the
    shared helper.
    """
    idf = F.log(F.col("n_corpus").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("tok"))
    return (
        _tfidf_tf_frame(t)
        .withColumn("tfidf", round_half_up(F.col("tf") * idf, 6))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "tok", "tf", "df", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


TFIDF_KEYWORDS_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         {sql_round_half_up('tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)', 6)} AS tfidf
  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
)
SELECT doc_id, tok, tf, df, tfidf,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS INT) AS rnk
FROM scored QUALIFY rnk <= 3
"""


def unigram_logprob(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document average token log-probability under the corpus's own
    unigram LM — the cheapest LM-based quality signal a training pipeline
    computes (low average logprob = gibberish / OCR noise / wrong-language
    text; the shape of a perplexity filter without a neural LM).

    Cross-engine determinism: each token's logprob ln(ctf/total) is an
    ln-site (``functions/rounding.py``) in integer micro-units; per-doc
    accumulation is an exact INTEGER sum of tf * lp_micro; the average is
    one fl(int)/fl(int) divide, floored back to micro-units. Plan: the
    memoized tf index joins the vocab-sized corpus-frequency aggregate
    (AQE broadcasts it when it fits), then one groupBy(doc) — two
    shuffles, nothing corpus-squared.
    """
    tf = _tfidf_tf_frame(t)
    ctf = tf.groupBy("tok").agg(F.sum("tf").alias("ctf"))
    # The corpus total is a SCALAR-AGGREGATE branch over the memoized tf
    # index, broadcast onto the scored rows. A sum() OVER (PARTITION BY
    # lit(1)) on the ctf frame would funnel every distinct token —
    # VOCAB-sized, unbounded at the 100 TB design point — through one
    # reducer task; the scalar branch map-side partially aggregates (one
    # small agg of the checkpointed index, same exact integer: sum(tf) ==
    # sum(ctf)) at the cost of one broadcast-build job.
    total = tf.agg(F.sum("tf").cast("double").alias("total"))
    lp_micro = ln_micro(nano_grid(F.col("ctf") / F.col("total")) / F.lit(1e9))
    scored = (
        tf.join(ctf, on="tok")
        .crossJoin(F.broadcast(total))
        .withColumn("lp_micro", lp_micro)
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lp_micro")).alias("lp_sum_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "lp_sum_micro",
            F.floor(
                F.col("lp_sum_micro").cast("double") / F.col("n_tokens")
                + F.lit(0.5)
            ).alias("avg_lp_micro"),
        )
    )


# the unigram corpus-probability nano grid — shared by the logprob and
# perplexity oracles and the boundary canary (same CTE aliases there)
_UNIGRAM_NANO_SQL = sql_nano_grid("ctf.ctf / tot.total")
_UNIGRAM_LP_MICRO_SQL = sql_ln_micro(f"{_UNIGRAM_NANO_SQL} / 1000000000.0")

UNIGRAM_LOGPROB_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
ctf AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY tok),
tot AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS total FROM ctf),
scored AS (
  SELECT tf.doc_id, tf.tf,
         CAST({_UNIGRAM_LP_MICRO_SQL} AS BIGINT) AS lp_micro
  FROM tf JOIN ctf ON tf.tok = ctf.tok CROSS JOIN tot
)
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tf * lp_micro) AS BIGINT) AS lp_sum_micro,
       CAST(FLOOR(CAST(SUM(tf * lp_micro) AS DOUBLE) / SUM(tf) + 0.5) AS BIGINT)
         AS avg_lp_micro
FROM scored GROUP BY doc_id
"""


@index("unigram_lp_table")
def _unigram_lp(t: dict[str, DataFrame]) -> DataFrame:
    """Memoized (doc_id, avg_lp_micro) quality-score frame — the written
    per-doc score table a CCNet-style pipeline materializes once per
    corpus snapshot (Wenzek et al. 2020 score once, then bucket/filter);
    downstream eval gates read it instead of re-deriving the unigram LM.
    Same stance as :func:`_dsir_scores` and the shingle/LSH/IVF setup
    artifacts. The materializer query (:func:`unigram_logprob`) still
    computes the full pipeline — this memo is the READ side.
    """
    return unigram_logprob(t).select("doc_id", "avg_lp_micro").localCheckpoint()


def perplexity_buckets(t: dict[str, DataFrame]) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (head/middle/tail)
    of the :func:`unigram_logprob` quality score — the tercile split a
    curation pipeline uses to keep head/middle and drop (or re-weight)
    the tail (Wenzek et al. 2020 bucket exactly this way, with a neural
    LM where this uses the corpus's own unigram LM).

    Scale shape: buckets are assigned per VALUE, not per document — the
    per-lang cumulative distribution runs over the
    ``(lang, avg_lp_micro)`` HISTOGRAM (distinct-score-sized, integer
    micro-unit scores), never a per-doc sort, so the only corpus-sized
    steps are the logprob aggregate itself and the final value-keyed
    join. A score block straddling a tercile boundary lands in the
    bucket of its upper cumulative count — deterministic exact-integer
    arithmetic (``3*cum <= k*n``), no interpolated percentile cutoff to
    diverge at a boundary. Low logprob = high perplexity = tail. Scores
    read from the memoized written score table (:func:`_unigram_lp`),
    like the DSIR eval gates.
    """
    lp = _unigram_lp(t)
    scored = lp.join(t["documents"].select("doc_id", "lang"), on="doc_id")
    hist = scored.groupBy("lang", "avg_lp_micro").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("avg_lp_micro")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("hi", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("lang"))
    )
    bucket = (
        F.when(F.col("hi") * 3 <= F.col("n"), F.lit("tail"))
        .when(F.col("hi") * 3 <= F.col("n") * 2, F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    buckets = cum.select("lang", "avg_lp_micro", bucket.alias("ppl_bucket"))
    return scored.join(buckets, on=["lang", "avg_lp_micro"]).select(
        "doc_id", "lang", "avg_lp_micro", "ppl_bucket"
    )


PERPLEXITY_BUCKETS_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
ctf AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY tok),
tot AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS total FROM ctf),
lpterm AS (
  SELECT tf.doc_id, tf.tf,
         CAST({_UNIGRAM_LP_MICRO_SQL} AS BIGINT) AS lp_micro
  FROM tf JOIN ctf ON tf.tok = ctf.tok CROSS JOIN tot
),
lp AS (
  SELECT doc_id,
         CAST(FLOOR(CAST(SUM(tf * lp_micro) AS DOUBLE) / SUM(tf) + 0.5) AS BIGINT)
           AS avg_lp_micro
  FROM lpterm GROUP BY doc_id
),
scored AS (
  SELECT d.doc_id, d.lang, lp.avg_lp_micro
  FROM lp JOIN documents d ON lp.doc_id = d.doc_id
),
hist AS (SELECT lang, avg_lp_micro, COUNT(*) AS cnt FROM scored GROUP BY 1, 2),
cum AS (
  SELECT lang, avg_lp_micro,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY avg_lp_micro
                        ROWS UNBOUNDED PRECEDING) AS hi,
         SUM(cnt) OVER (PARTITION BY lang) AS n
  FROM hist
),
b AS (
  SELECT lang, avg_lp_micro,
         CASE WHEN hi * 3 <= n THEN 'tail'
              WHEN hi * 3 <= n * 2 THEN 'middle'
              ELSE 'head' END AS ppl_bucket
  FROM cum
)
SELECT s.doc_id, s.lang, s.avg_lp_micro, b.ppl_bucket
FROM scored s JOIN b ON s.lang = b.lang AND s.avg_lp_micro = b.avg_lp_micro
"""


def token_count_regex(t: dict[str, DataFrame]) -> DataFrame:
    """BPE-ish regex tokenization count vs whitespace count (both engines
    use the same RE2/Java-compatible pattern).

    ``regexp_count`` counts matches in a single regex pass without ever
    materializing the match array (the old ``size(regexp_extract_all(...))``
    allocated every token string just to count them); the split memo
    (``documents_split``) spreads the regex CPU across cores.
    """
    return documents_split(t).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.regexp_count("text", F.lit(TOKEN_RE)).cast("int").alias("n_re_tokens"),
        F.length("text").alias("n_chars"),
    )


TOKEN_COUNT_REGEX_SQL = f"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_ws_tokens,
       len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_re_tokens,
       length(text) AS n_chars
FROM documents
"""


# quality_filter thresholds (measured on the fixture corpus: token counts
# 10-99 with quartiles 32/76, mean TTR 0.50 — these cuts split it meaningfully)
MIN_TOKENS = 25
MIN_TTR = 0.35
MAX_STOPWORD_RATIO = 0.6


def reject_reason() -> F.Column:
    """The quality keep rule over the :func:`signal_cols` columns: the
    first failed check (too_short -> low_diversity -> stopword_heavy),
    NULL for a kept doc. The CASE order is part of the contract and the
    oracle replays it exactly."""
    return (
        F.when(F.col("n_tokens") < MIN_TOKENS, F.lit("too_short"))
        .when(F.col("ttr") < MIN_TTR, F.lit("low_diversity"))
        .when(F.col("stopword_ratio") > MAX_STOPWORD_RATIO, F.lit("stopword_heavy"))
    )


# DuckDB twin of reject_reason
_REJECT_REASON_SQL = f"""CASE WHEN n_tokens < {MIN_TOKENS} THEN 'too_short'
            WHEN ttr < {MIN_TTR} THEN 'low_diversity'
            WHEN stopword_ratio > {MAX_STOPWORD_RATIO} THEN 'stopword_heavy'
       END"""


def quality_filter(t: dict[str, DataFrame]) -> DataFrame:
    """Curation-pipeline keep/drop decision over the text_stats signals,
    with the first-match reject reason a real filter chain reports.
    One corpus scan — the stats projection fuses into the filter.
    """
    s = text_stats(t)
    reason = reject_reason()
    return s.select(
        "doc_id",
        "lang",
        "n_tokens",
        round_half_up("ttr", 6).alias("ttr_r"),
        round_half_up("stopword_ratio", 6).alias("stopword_ratio_r"),
        reason.isNull().cast("int").alias("keep"),
        reason.alias("reject_reason"),
    )


QUALITY_FILTER_SQL = f"""
WITH d AS (SELECT *, string_split(text, ' ') AS toks FROM documents),
s AS (SELECT doc_id, lang, {_SIGNALS_SQL} FROM d),
r AS (SELECT *, {_REJECT_REASON_SQL} AS reject_reason FROM s)
SELECT doc_id, lang, n_tokens, {sql_round_half_up('ttr', 6)} AS ttr_r,
       {sql_round_half_up('stopword_ratio', 6)} AS stopword_ratio_r,
       CAST(reject_reason IS NULL AS INT) AS keep, reject_reason
FROM r
"""


def repetition_signals(t: dict[str, DataFrame]) -> DataFrame:
    """Gopher-style repetition quality signals, adapted to token bigrams
    (the fixture corpus has no line structure): per document, the distinct
    bigram ratio, the share of the single most frequent bigram, and the
    fraction of adjacent-repeat bigrams (tok[i] == tok[i+1]).

    These are the "repetitious document" filters a pretraining curation
    pass thresholds on (Rae et al. 2021 §A1.3 uses line/ngram duplicate
    fractions the same way). One explode + one per-doc aggregate; all
    ratios are exact-integer divisions so oracles match bit-for-bit.

    Sub-bigram documents (size(w) < 2) are filtered BEFORE the explode:
    the former ``greatest(size(w) - 1, 1)`` guard forced ``w[1]`` on a
    1-token doc, which ABORTS under Spark's default ANSI mode
    (INVALID_ARRAY_INDEX) — and with ANSI off would emit a (tok, NULL)
    bigram row the oracle's ``range(2, len(w) + 1)`` never produces.
    Filtered, both engines agree: no bigrams, no output row.
    """
    toks = doc_tokens(t).filter(F.size("w") >= 2)
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i - 1] AS a, w[i] AS b))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.a").alias("a"), F.col("g.b").alias("b"))
    cnt = bg.groupBy("doc_id", "a", "b").agg(F.count(F.lit(1)).alias("c"))
    return cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        round_half_up(F.count(F.lit(1)) / F.sum("c"), 6).alias("distinct_ratio"),
        round_half_up(F.max("c") / F.sum("c"), 6).alias("top_bigram_share"),
        round_half_up(
            F.coalesce(F.sum(F.when(F.col("a") == F.col("b"), F.col("c"))), F.lit(0))
            / F.sum("c"),
            6,
        ).alias("adjacent_repeat_frac"),
    )


REPETITION_SIGNALS_SQL = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
bg AS (
  SELECT doc_id, w[i.i - 1] AS a, w[i.i] AS b
  FROM tok CROSS JOIN LATERAL (SELECT unnest(range(2, len(w) + 1)) AS i) i
),
cnt AS (SELECT doc_id, a, b, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       COUNT(*) AS n_distinct_bigrams,
       {sql_round_half_up('COUNT(*) * 1.0 / SUM(c)', 6)} AS distinct_ratio,
       {sql_round_half_up('MAX(c) * 1.0 / SUM(c)', 6)} AS top_bigram_share,
       {sql_round_half_up('COALESCE(SUM(CASE WHEN a = b THEN c END), 0) * 1.0 / SUM(c)', 6)}
         AS adjacent_repeat_frac
FROM cnt GROUP BY doc_id
"""


PACK_TARGET = 2048  # tokens per packed training sequence


def pack_bins(d: DataFrame) -> DataFrame:
    """Cut each language's ``(doc_id, lang, n_tokens)`` stream, in doc_id
    order, every PACK_TARGET tokens and roll the bins up; a document
    lands in the bin where its first token falls. The cumulative sum is
    a per-language window (partition-parallel, exact integer
    arithmetic), and the rollup's grouping keys contain the window's
    partition key, so it adds no exchange."""
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = d.withColumn(
        "bin_id",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_TARGET),
    )
    return binned.groupBy("lang", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
        round_half_up(F.sum("n_tokens") / F.lit(float(PACK_TARGET)), 6).alias(
            "fill_ratio"
        ),
    )


def pack_bins_sql(src: str) -> str:
    """DuckDB twin of :func:`pack_bins` over the table or CTE ``src``."""
    return f"""SELECT lang, bin_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       {sql_round_half_up(f'SUM(n_tokens) / {float(PACK_TARGET)}', 6)} AS fill_ratio
FROM (
  SELECT *, CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens)
                 / {PACK_TARGET}) AS BIGINT) AS bin_id
  FROM {src}
) binned
GROUP BY lang, bin_id"""


def sequence_packing(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic sequence-packing plan: :func:`pack_bins` over the
    whole corpus — the contiguous-fill packing a pretraining tokenizer
    pipeline runs before writing fixed-length sample files. The per-bin
    rollup shows fill efficiency. At 100 TB the window runs per language
    shard — no global ordering is ever required.
    """
    return pack_bins(
        t["documents"].select(
            "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
        )
    )


SEQUENCE_PACKING_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
)
{pack_bins_sql('d')}
"""


VOCAB_TOP = 100


def vocab_coverage(t: dict[str, DataFrame]) -> DataFrame:
    """Frequency-ranked vocabulary with cumulative corpus coverage —
    the "how big a vocab covers 90% of tokens" skim a tokenizer build
    runs. Token counting is a map-side-combined groupBy; the cumulative
    sum needs a global order, so the vocab is PRE-PRUNED to rows that can
    reach the top-{VOCAB_TOP}: a distributed TakeOrdered finds the
    {VOCAB_TOP}-th frequency and only tokens at or above it enter the
    window. cum_freq for a surviving row depends only on rows ranked above
    it — all of which also survive the prune — so the result is exact while
    the single-reducer window input is ~{VOCAB_TOP} rows (+ boundary ties)
    instead of a billions-of-tokens vocab."""
    toks = doc_tokens(t).select(F.explode("w").alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    total = freq.agg(F.sum("freq").cast("double").alias("total"))
    kth = (
        freq.orderBy(F.desc("freq"), F.asc("tok"))
        .limit(VOCAB_TOP)
        .agg(F.min("freq").alias("kth_freq"))
    )
    pruned = (
        freq.join(F.broadcast(kth))
        .filter(F.col("freq") >= F.col("kth_freq"))
        .drop("kth_freq")
    )
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .withColumn("cum_freq", F.sum("freq").over(wsum))
        .filter(F.col("rank") <= VOCAB_TOP)
        .join(F.broadcast(total))
        .select(
            "tok",
            "freq",
            F.col("rank").cast("int").alias("rank"),
            round_half_up(F.col("cum_freq").cast("double") / F.col("total"), 6).alias(
                "cum_share"
            ),
        )
    )


VOCAB_COVERAGE_SQL = f"""
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
freq AS (SELECT tok, COUNT(*) AS freq FROM toks GROUP BY tok),
total AS (SELECT CAST(SUM(freq) AS DOUBLE) AS total FROM freq),
ranked AS (
  SELECT tok, freq,
         CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS INT) AS rank,
         SUM(freq) OVER (ORDER BY freq DESC, tok ASC
                         ROWS UNBOUNDED PRECEDING) AS cum_freq
  FROM freq
)
SELECT tok, freq, rank, {sql_round_half_up('CAST(cum_freq AS DOUBLE) / total', 6)} AS cum_share
FROM ranked, total
WHERE rank <= {VOCAB_TOP}
"""


# --- PII scrubbing ----------------------------------------------------------
# (name, pattern, replacement): RE2-and-Java-compatible (no lookaround), in
# a FIXED application order (SSN before phone so the narrower pattern wins).
# One shared literal list renders into both engines so the redaction
# semantics cannot drift. The fixture corpus is synthetic and PII-free —
# the oracle proves cross-engine regex agreement on it (md5 of the scrubbed
# text), while tests/test_text_multimodal.py drives synthetic PII through
# the same expressions to prove the patterns actually redact.
PII_PATTERNS = [
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}", "<SSN>"),
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
]


def pii_redact_expr(col: F.Column) -> F.Column:
    """Sequential redaction of every PII pattern over a text column."""
    out = col
    for _, pat, rep in PII_PATTERNS:
        out = F.regexp_replace(out, pat, rep)
    return out


def pii_redaction(t: dict[str, DataFrame]) -> DataFrame:
    """Per-doc PII scrub: hit counts per pattern and the md5 of the
    sequentially-redacted text. One corpus scan, all JVM regex — the shape
    a compliance pass runs before training-data export.

    Counts are taken at each STAGE of the sequential redaction (pattern i
    counted on the text after patterns 0..i-1 were applied), so the report
    states exactly what each replace step did — a count on the original
    text would claim e.g. a phone redaction that the earlier email pass
    already consumed.

    It reads the split memo (``documents_split``): one stage, the regex
    passes on every core, no shuffle.
    """
    cur = F.col("text")
    counts = []
    total = F.lit(0)
    for name, pat, rep in PII_PATTERNS:
        c = F.regexp_count(cur, F.lit(pat))
        counts.append(c.cast("int").alias(f"n_{name}"))
        total = total + c
        cur = F.regexp_replace(cur, pat, rep)
    return documents_split(t).select(
        "doc_id",
        *counts,
        total.cast("int").alias("n_redactions"),
        F.md5(cur).alias("redacted_md5"),
    )


def _pii_redact_sql(col: str) -> str:
    out = col
    for _, pat, rep in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


def _pii_redaction_sql() -> str:
    stages = ["SELECT doc_id, text AS t0 FROM documents"]
    cols = []
    for i, (name, pat, rep) in enumerate(PII_PATTERNS):
        stages.append(
            f"SELECT *, CAST(len(regexp_extract_all(t{i}, '{pat}')) AS INT) AS n_{name}, "
            f"regexp_replace(t{i}, '{pat}', '{rep}', 'g') AS t{i + 1} FROM s{i}"
        )
        cols.append(f"n_{name}")
    ctes = ",\n".join(f"s{i} AS ({q})" for i, q in enumerate(stages))
    last = len(PII_PATTERNS)
    return (
        f"WITH {ctes}\n"
        f"SELECT doc_id, {', '.join(cols)}, "
        f"CAST({' + '.join(cols)} AS INT) AS n_redactions, "
        f"md5(t{last}) AS redacted_md5 FROM s{last}"
    )


PII_REDACTION_SQL = _pii_redaction_sql()


# --- corpus mixture rebalancing ---------------------------------------------


def mixture_weights(t: dict[str, DataFrame]) -> DataFrame:
    """Per-language sampling weights toward a UNIFORM language mixture —
    the up/down-weighting table a pretraining data-mixing stage consumes.

    weight = target_share / actual_share = (total / n_langs) / n_lang,
    computed from exact integer counts with one final double division, so
    both engines agree bit-for-bit. Output is language-cardinality-sized
    (broadcast-small at any corpus scale)."""
    d = t["documents"]
    # (total, n_langs) ride the language-cardinality frame as single-
    # partition windows (no scalar branch, no broadcast cross join; same
    # exact integers)
    w_all = Window.partitionBy(F.lit(1))
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("total", F.sum("n_docs").over(w_all))
        .withColumn("n_langs", F.count(F.lit(1)).over(w_all))
    )
    return counts.select(
        "lang",
        "n_docs",
        round_half_up(F.col("n_docs").cast("double") / F.col("total"), 6).alias(
            "actual_share_r"
        ),
        round_half_up(
            (F.col("total").cast("double") / F.col("n_langs")) / F.col("n_docs"), 6
        ).alias("weight_r"),
    )


MIXTURE_WEIGHTS_SQL = f"""
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total, COUNT(*) AS n_langs FROM c)
SELECT lang, n_docs,
       {sql_round_half_up('CAST(n_docs AS DOUBLE) / total', 6)} AS actual_share_r,
       {sql_round_half_up('(CAST(total AS DOUBLE) / n_langs) / n_docs', 6)} AS weight_r
FROM c CROSS JOIN t
"""


MIXTURE_ALPHA = 0.3  # temperature exponent: q_l ~ p_l^alpha (T = 1/alpha)


def mixture_weights_temperature(t: dict[str, DataFrame]) -> DataFrame:
    """Temperature-scaled language-sampling weights, ``q_l ~ p_l^alpha``
    with alpha = 0.3 — the mT5/XLM-R low-resource up-sampling rule, the
    T != 1 companion to :func:`mixture_weights`'s uniform target.

    ``p^alpha`` is an ln-site (``functions/rounding.py``) in integer
    nano-units, so the normalizing SUM is exact integer arithmetic.
    Output is language-cardinality-sized.
    """
    d = t["documents"]
    # both normalizing scalars (corpus total, then the pa sum) ride the
    # language-cardinality frame as single-partition windows over its
    # bounded rows instead of two scalar-aggregate branches + broadcast
    # cross joins, which would re-plan the corpus scan per branch and pay
    # two broadcast-build jobs; the windowed sums are the same exact
    # integers.
    w_all = Window.partitionBy(F.lit(1))
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("total", F.sum("n_docs").over(w_all))
    )
    p_nano = nano_grid(F.col("n_docs") / F.col("total"))
    pa = pow_nano(p_nano / F.lit(1e9), MIXTURE_ALPHA)
    scored = counts.select(
        "lang", "n_docs", "total", pa.alias("pa")
    ).withColumn("pa_sum", F.sum("pa").over(w_all))
    return scored.select(
        "lang",
        "n_docs",
        round_half_up(F.col("pa").cast("double") / F.col("pa_sum"), 6).alias(
            "temp_share_r"
        ),
        round_half_up(
            (F.col("pa").cast("double") / F.col("pa_sum"))
            / (F.col("n_docs").cast("double") / F.col("total")),
            6,
        ).alias("temp_weight_r"),
    )


# the mixture share nano grid — shared by the oracle and the canary
_MIXTURE_NANO_SQL = sql_nano_grid("CAST(n_docs AS DOUBLE) / total")

MIXTURE_WEIGHTS_TEMPERATURE_SQL = f"""
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
b AS (
  SELECT lang, n_docs, total,
         {sql_pow_nano(f"{_MIXTURE_NANO_SQL} / 1000000000.0", MIXTURE_ALPHA)} AS pa
  FROM c CROSS JOIN t
),
n AS (SELECT CAST(SUM(pa) AS BIGINT) AS pa_sum FROM b)
SELECT lang, n_docs,
       {sql_round_half_up('CAST(pa AS DOUBLE) / pa_sum', 6)} AS temp_share_r,
       {sql_round_half_up('(CAST(pa AS DOUBLE) / pa_sum) / (CAST(n_docs AS DOUBLE) / total)', 6)} AS temp_weight_r
FROM b CROSS JOIN n
"""


UNIMAX_EPOCH_CAP = 4  # max epochs over any language's corpus (UniMax N)
UNIMAX_BUDGET_EPOCHS = 2  # token budget = 2x the total corpus


def unimax_allocation(t: dict[str, DataFrame]) -> DataFrame:
    """UniMax language-sampling allocation (Chung et al. 2023): spread a
    total training-token budget as uniformly as possible across languages,
    subject to a per-language repeat cap of UNIMAX_EPOCH_CAP epochs — the
    principled alternative to temperature sampling
    (:func:`mixture_weights_temperature`) that never over-repeats a
    low-resource language. Budget = UNIMAX_BUDGET_EPOCHS x total tokens.

    The paper's greedy loop is a waterfilling problem with a closed form:
    sort languages by capacity ``cap = EPOCH_CAP * tokens`` ascending;
    a prefix is capped (gets its full capacity) and everyone after gets
    the water level ``u = (B - S_k) / (n - k)``. The capped prefix is
    found with one window pass — ``cap_i * (n-i+1) <= B - S_{i-1}``
    prefix-AND'ed so a later accidental satisfaction cannot reopen it —
    and the leftover ``(B - S_k) mod (n - k)`` tokens go one each to the
    first remainder uncapped languages, so the allocation sums to B
    EXACTLY (min(B, total capacity)) in pure integer arithmetic.

    Scale shape: ONE corpus scan collapses to the language-cardinality
    count frame; every window/join after runs on that tiny frame (a
    hundred rows for any real corpus), so the unpartitioned prefix
    windows never see corpus rows. No floats until the final epochs_r
    display divide.
    """
    d = t["documents"]
    # checkpoint the language-cardinality collapse: downstream it feeds
    # the totals aggregate, the ranked frame AND (via `flagged`) the
    # water-level aggregate — without it each consumer replays the
    # corpus scan (4 scans measured)
    counts = (
        d.groupBy("lang")
        .agg(F.sum(F.size(F.split(F.col("text"), " "))).alias("n_tokens"))
        .localCheckpoint()
    )
    # (total, n_langs) ride the checkpointed language frame as single-
    # partition windows over its bounded rows — no scalar-aggregate
    # branch, no broadcast-build job (exact integers)
    w_all0 = Window.partitionBy(F.lit(1))
    base = counts.select(
        "lang",
        "n_tokens",
        (F.col("n_tokens") * F.lit(UNIMAX_EPOCH_CAP)).alias("cap_tokens"),
        (
            F.sum("n_tokens").over(w_all0) * F.lit(UNIMAX_BUDGET_EPOCHS)
        ).alias("budget"),
        F.count(F.lit(1)).over(w_all0).alias("n_langs"),
    )
    w_ord = Window.orderBy("cap_tokens", "lang")
    w_pfx = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = base.select(
        "*",
        F.row_number().over(w_ord).alias("i"),
        F.coalesce(
            F.sum("cap_tokens").over(
                w_ord.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("s_prev"),
    )
    flagged = ranked.withColumn(
        "capped",
        F.min(
            (
                F.col("cap_tokens") * (F.col("n_langs") - F.col("i") + 1)
                <= F.col("budget") - F.col("s_prev")
            ).cast("int")
        ).over(w_pfx),
    )
    # water level (k, s_k) rides the same frame as single-partition
    # windows — the frame already flows through an unpartitioned window
    # (w_pfx), so these add no exchange
    leveled = flagged.withColumn(
        "k", F.sum("capped").over(w_all0)
    ).withColumn(
        "s_k", F.sum(F.col("cap_tokens") * F.col("capped")).over(w_all0)
    )
    alloc = F.when(F.col("capped") == 1, F.col("cap_tokens")).otherwise(
        F.expr("(budget - s_k) div (n_langs - k)")
        + (
            F.col("i") - F.col("k")
            <= F.expr("(budget - s_k) % (n_langs - k)")
        ).cast("bigint")
    )
    return (
        leveled
        .select(
            "lang",
            "n_tokens",
            "cap_tokens",
            "capped",
            alloc.alias("alloc_tokens"),
        )
        .withColumn(
            "epochs_r",
            round_half_up(
                F.col("alloc_tokens").cast("double") / F.col("n_tokens"), 6
            ),
        )
    )


UNIMAX_ALLOCATION_SQL = f"""
WITH c AS (
  SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
),
t AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS total,
         COUNT(*) AS n_langs
  FROM c
),
base AS (
  SELECT lang, n_tokens,
         n_tokens * {UNIMAX_EPOCH_CAP} AS cap_tokens,
         total * {UNIMAX_BUDGET_EPOCHS} AS budget,
         n_langs
  FROM c CROSS JOIN t
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (ORDER BY cap_tokens, lang) AS i,
         COALESCE(SUM(cap_tokens) OVER (ORDER BY cap_tokens, lang
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s_prev
  FROM base
),
flagged AS (
  SELECT *,
         MIN(CAST(cap_tokens * (n_langs - i + 1) <= budget - s_prev AS INT))
           OVER (ORDER BY cap_tokens, lang
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
  FROM ranked
),
level AS (
  SELECT CAST(SUM(capped) AS BIGINT) AS k,
         CAST(SUM(cap_tokens * capped) AS BIGINT) AS s_k
  FROM flagged
)
SELECT lang, n_tokens, cap_tokens, capped,
       CASE WHEN capped = 1 THEN cap_tokens
            ELSE (budget - s_k) // (n_langs - k)
                 + CAST(i - k <= (budget - s_k) % (n_langs - k) AS BIGINT)
       END AS alloc_tokens,
       {sql_round_half_up(
           'CAST(CASE WHEN capped = 1 THEN cap_tokens '
           'ELSE (budget - s_k) // (n_langs - k) '
           '+ CAST(i - k <= (budget - s_k) % (n_langs - k) AS BIGINT) '
           'END AS DOUBLE) / n_tokens',
           6,
       )} AS epochs_r
FROM flagged CROSS JOIN level
"""


def stratified_keep(d: DataFrame) -> DataFrame:
    """The rows of ``d`` (``doc_id``, ``lang``, ...) a language-balanced
    downsample keeps, plus their ``bucket``: every language is cut to ~the
    smallest language's size by a content-stable md5 bucket of doc_id —
    reproducible across runs, engines and partitionings (df.sample() is
    none of those).

    The keep decision is the exact integer comparison
    ``bucket * n_lang < min_count * 10^6``, so no float rate ever enters
    the plan. The bucket takes 8 md5 hex chars before the modulus: 16^8
    is not a multiple of 10^6, so buckets are near-uniform with bias
    1/4294 (~0.02%) — 6 hex chars would leave buckets below 777216
    over-represented by a full 6.25% (16^6 / 10^6 = 16.78), visibly
    skewing the keep rate above the intended min_count/n_lang. The
    per-lang counts side is language-cardinality-sized, so it broadcasts,
    and min_count rides it as a single-partition window over its bounded
    rows: one broadcast join instead of a scalar branch plus a cross
    join."""
    counts = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_lang"))
        .withColumn(
            "min_count", F.min("n_lang").over(Window.partitionBy(F.lit(1)))
        )
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("bigint") % 1000000
    return (
        d.join(F.broadcast(counts), on="lang")
        .withColumn("bucket", bucket)
        .filter(
            F.col("bucket") * F.col("n_lang") < F.col("min_count") * F.lit(1000000)
        )
    )


_BUCKET_SQL = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000"


def stratified_keep_sql(src: str) -> str:
    """DuckDB twin of :func:`stratified_keep` over the table or CTE
    ``src``: its rows plus ``bucket``."""
    return f"""SELECT d.*, {_BUCKET_SQL} AS bucket
FROM {src} d
JOIN (
  SELECT lang, COUNT(*) AS n_lang, MIN(COUNT(*)) OVER () AS min_count
  FROM {src} GROUP BY lang
) c ON d.lang = c.lang
WHERE {_BUCKET_SQL} * c.n_lang < c.min_count * 1000000"""


def stratified_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Language-balanced downsample of the corpus (:func:`stratified_keep`)."""
    return stratified_keep(t["documents"]).select("doc_id", "lang", "source", "bucket")


STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, bucket FROM ({stratified_keep_sql('documents')})
"""


def unigram_kl(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document KL divergence of the doc unigram distribution from the
    corpus distribution — the distribution-shift score a curation pass uses
    to flag outlier/templated documents (high KL = atypical vocabulary).

    p = tf/len(doc), q = cf/total; KL = sum p*ln(p/q). The per-doc SUM is
    made order-independent by quantizing each term to integer pico-units
    and summing as DECIMAL — bit-identical across engines and
    partitionings. Two corpus
    shuffles (doc-term, corpus-term), both map-side combined; the corpus
    frequency side is vocab-sized -> joined without a forced broadcast.

    ``ln(p/q)`` is an ln-site (``functions/rounding.py``), ``lr_micro``,
    taken BEFORE the p-weighting: the pico term
    ``floor((p*lr_micro)*1e6 + 0.5)`` then uses only correctly-rounded
    IEEE ops on bit-identical inputs, so it cannot diverge cross-engine
    however close it sits to a boundary."""
    # every moment derives from the memoized (doc_id, tok, tf) index —
    # n = sum(tf) per doc, cf = sum(tf) per tok, total = sum(tf) — at the
    # cost of two index-sized aggregates and one doc-key join (the
    # tfidf_keywords rule: never re-explode what tf already knows).
    base = _tfidf_tf_frame(t)
    # per-doc length as a window on the index (one doc-keyed exchange,
    # BOUNDED frames — a doc's distinct tokens). The scalar grand total
    # is a scalar-aggregate branch over the memoized index, broadcast:
    # a sum() OVER (PARTITION BY lit(1)) on the VOCAB-sized cf frame
    # would funnel every distinct token through one reducer task.
    # sum(tf) over the index == sum(cf), the same exact integer, map-side
    # partially aggregated; one broadcast-build job is the price.
    tf = base.withColumn(
        "n", F.sum("tf").over(Window.partitionBy("doc_id"))
    )
    cf = base.groupBy("tok").agg(F.sum("tf").alias("cf"))
    total_df = base.agg(F.sum("tf").alias("total"))
    p = F.col("tf").cast("double") / F.col("n")
    q = F.col("cf").cast("double") / F.col("total")
    lr_micro = ln_micro(nano_grid(p / q) / F.lit(1e9))
    # the pico term is ((p * lr) * 1e6) with this exact association on
    # both engines. floor(x + 0.5) is the round_half_up formula kept
    # integral so the per-doc SUM is exact decimal arithmetic (no
    # double->decimal cast, which would reintroduce the engine-specific
    # shortest-repr conversion).
    term_units = F.floor(
        (p * lr_micro) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("decimal(38,0)")
    # cf carries one row per distinct token — vocab-sized at 100 TB, so no
    # broadcast hint (AQE decides); the 1-row total always broadcasts.
    return (
        tf.join(cf, on="tok")
        .crossJoin(F.broadcast(total_df))
        .groupBy("doc_id", "n")
        .agg(
            round_half_up(
                F.sum(term_units).cast("double") / F.lit(1e12), 6
            ).alias("kl_r")
        )
        .select("doc_id", F.col("n").alias("n_tokens"), "kl_r")
    )


# the kl p/q ratio nano grid — shared by the oracle and the canary; the
# pico term is ((p * lr_micro) * 1e6), the association the Spark side uses
_KL_NANO_SQL = sql_nano_grid(
    "(CAST(tf AS DOUBLE) / n) / (CAST(cf AS DOUBLE) / total)"
)

_KL_LR_MICRO_SQL = (
    f"CAST({sql_ln_micro(f'{_KL_NANO_SQL} / 1000000000.0')} AS BIGINT)"
)

_KL_TERM_UNITS_SQL = f"""CAST(floor(((CAST(tf AS DOUBLE) / n)
                     * {_KL_LR_MICRO_SQL}) * 1000000.0 + 0.5)
               AS DECIMAL(38,0))"""

UNIGRAM_KL_SQL = f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, n, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3),
cf AS (SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok),
tot AS (SELECT COUNT(*) AS total FROM toks)
SELECT doc_id, n AS n_tokens,
       {sql_round_half_up(f'CAST(SUM({_KL_TERM_UNITS_SQL}) AS DOUBLE) / 1000000000000.0', 6)} AS kl_r
FROM tf JOIN cf USING (tok) CROSS JOIN tot
GROUP BY doc_id, n
"""


MAD_K = 3.0  # flag docs more than 3 scaled MADs from the median


def length_outliers(t: dict[str, DataFrame]) -> DataFrame:
    """Robust per-language length-outlier detection: median + median
    absolute deviation (MAD) of token counts per language, flagging
    documents beyond {MAD_K} MADs — the outlier filter a curation pass
    prefers over mean/stddev because a few giant documents cannot drag
    the threshold.

    Exact medians via percentile over per-language partitions (both
    engines interpolate the same order statistics); the comparison uses
    integer-scaled arithmetic (|x - med| vs K * MAD) with values rounded
    to 6 places, so the keep/flag decision is bit-stable cross-engine.
    Two aggregates over a (doc, lang, n_tokens) projection — never a
    corpus-wide sort.
    """
    d = t["documents"].select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    med = d.groupBy("lang").agg(
        F.expr("percentile(n_tokens, 0.5)").alias("med")
    )
    dev = d.join(F.broadcast(med), on="lang").withColumn(
        "absdev", F.abs(F.col("n_tokens") - F.col("med"))
    )
    mad = dev.groupBy("lang").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), on="lang")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            round_half_up("med", 6).alias("med_r"),
            round_half_up("mad", 6).alias("mad_r"),
            (
                round_half_up("absdev", 6)
                > round_half_up(F.col("mad") * MAD_K, 6)
            ).cast("int").alias("is_outlier"),
        )
    )


LENGTH_OUTLIERS_SQL = f"""
WITH d AS (
  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens FROM documents
),
med AS (SELECT lang, quantile_cont(n_tokens, 0.5) AS med FROM d GROUP BY lang),
dev AS (
  SELECT d.doc_id, d.lang, d.n_tokens, med.med,
         abs(d.n_tokens - med.med) AS absdev
  FROM d JOIN med ON d.lang = med.lang
),
mad AS (SELECT lang, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY lang)
SELECT dev.doc_id, dev.lang, dev.n_tokens,
       {sql_round_half_up('dev.med', 6)} AS med_r, {sql_round_half_up('mad.mad', 6)} AS mad_r,
       CAST({sql_round_half_up('dev.absdev', 6)} > {sql_round_half_up(f'mad.mad * {MAD_K}', 6)} AS INT) AS is_outlier
FROM dev JOIN mad ON dev.lang = mad.lang
"""


# --- BPE tokenizer-training primitive ---------------------------------------


def bpe_pair_counts(t: dict[str, DataFrame]) -> DataFrame:
    """The inner loop of BPE tokenizer training, one merge step: adjacent
    symbol-pair frequencies over the corpus, weighted by WORD frequency —
    the argmax row is the next merge.

    The classic scale trick is built in: pairs are counted per DISTINCT
    word and weighted by the word's corpus count (the word-frequency
    table is vocabulary-sized; the corpus is only scanned once to build
    it), so a 100 TB corpus costs one token explode + one
    vocabulary-sized pair explode, never a per-occurrence character walk.
    Symbols here are characters (merge step 0); iterating merges would
    re-run this over the re-segmented vocabulary.
    """
    words = (
        doc_tokens(t)
        .select(F.explode("w").alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = words.select(
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(word) - 1),"
                " i -> named_struct('left_sym', substring(word, i, 1),"
                " 'right_sym', substring(word, i + 1, 1)))"
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(
            F.col("p.left_sym").alias("left_sym"),
            F.col("p.right_sym").alias("right_sym"),
        )
        .agg(F.sum("cnt").alias("pair_count"))
    )


BPE_PAIR_COUNTS_SQL = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
wf AS (
  SELECT word, COUNT(*) AS cnt FROM toks WHERE length(word) >= 2 GROUP BY word
),
p AS (
  SELECT substr(word, i.i, 1) AS left_sym, substr(word, i.i + 1, 1) AS right_sym, cnt
  FROM wf
  CROSS JOIN LATERAL (SELECT unnest(range(1, length(word))) AS i) i
)
SELECT left_sym, right_sym, CAST(SUM(cnt) AS BIGINT) AS pair_count
FROM p GROUP BY 1, 2
"""


BPE_MERGES = 32  # learned merge-table size applied by bpe_apply_merges


def bpe_apply_merges(t: dict[str, DataFrame]) -> DataFrame:
    """The BPE ENCODE side — apply a learned merge table to the corpus by
    greedy left-to-right longest-match over the fixed vocabulary:
    completes the tokenizer story :func:`bpe_pair_counts` trains.

    The merge table is the top-``BPE_MERGES`` step-0 pairs (count desc,
    merged-unit asc — deterministic on exact integer counts), carried
    in-plan as a 1-row collected array cross-joined broadcast, never a
    driver-side literal. The walk is an ``aggregate`` fold over character
    positions — ties to the same scale rule as training: greedy
    tokenization is a per-word property, so the corpus is scanned once
    for the word-frequency table and the O(len)-per-word walk runs over
    the DISTINCT vocabulary only (never per occurrence). Per word:
    consume 2 chars when the bigram at the cursor is a learned merge,
    else 1 — longest-match-first with a max unit length of 2.
    """
    words = (
        doc_tokens(t)
        .select(F.explode("w").alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # pair table is charset^2-bounded (tiny at any corpus scale), so the
    # single-partition ranking window and the collect_list are both safe
    w = Window.orderBy(F.desc("pair_count"), F.asc("mu"))
    marr = (
        bpe_pair_counts(t)
        .select(F.concat("left_sym", "right_sym").alias("mu"), "pair_count")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BPE_MERGES)
        .agg(F.sort_array(F.collect_list("mu")).alias("marr"))
    )
    units = F.expr(
        "aggregate(sequence(1, char_length(word)),"
        " named_struct('nxt', 1, 'us', cast(array() as array<string>)),"
        " (acc, i) -> IF(i < acc.nxt, acc,"
        "   IF(array_contains(marr, substring(word, i, 2)),"
        "      named_struct('nxt', i + 2,"
        "                   'us', array_append(acc.us, substring(word, i, 2))),"
        "      named_struct('nxt', i + 1,"
        "                   'us', array_append(acc.us, substring(word, i, 1))))),"
        " acc -> acc.us)"
    )
    return (
        words.join(F.broadcast(marr))
        .select("word", "cnt", units.alias("us"))
        .select(
            "word",
            "cnt",
            F.size("us").cast("int").alias("n_units"),
            F.concat_ws(" ", "us").alias("encoding"),
        )
    )


BPE_APPLY_MERGES_SQL = f"""
WITH RECURSIVE toks AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
wf AS (
  SELECT word, COUNT(*) AS cnt FROM toks WHERE length(word) >= 1 GROUP BY word
),
p AS (
  SELECT substr(word, i.i, 1) || substr(word, i.i + 1, 1) AS mu, cnt
  FROM (SELECT * FROM wf WHERE length(word) >= 2) w2
  CROSS JOIN LATERAL (SELECT unnest(range(1, length(word))) AS i) i
),
pc AS (SELECT mu, SUM(cnt) AS pair_count FROM p GROUP BY mu),
m AS (
  SELECT list(mu) AS marr FROM (
    SELECT mu FROM pc ORDER BY pair_count DESC, mu ASC LIMIT {BPE_MERGES}
  )
),
walk AS (
  SELECT word, 1 AS pos, CAST([] AS VARCHAR[]) AS us FROM wf
  UNION ALL
  SELECT w.word,
         w.pos + CASE WHEN list_contains(m.marr, substr(w.word, w.pos, 2))
                      THEN 2 ELSE 1 END,
         list_append(w.us,
                     CASE WHEN list_contains(m.marr, substr(w.word, w.pos, 2))
                          THEN substr(w.word, w.pos, 2)
                          ELSE substr(w.word, w.pos, 1) END)
  FROM walk w CROSS JOIN m
  WHERE w.pos <= length(w.word)
)
SELECT wk.word, wf.cnt, CAST(len(wk.us) AS INT) AS n_units,
       array_to_string(wk.us, ' ') AS encoding
FROM walk wk JOIN wf ON wk.word = wf.word
WHERE wk.pos > length(wk.word)
"""


@index("bpe_encoded_vocab")
def _bpe_encodings(t: dict[str, DataFrame]) -> DataFrame:
    """Memoized (word, n_units) encoded-vocabulary frame — the written
    artifact a tokenizer pipeline materializes once per (corpus, merge
    table) snapshot (the greedy walk is deterministic given the learned
    merges, and every downstream fertility/coverage gate re-reads it);
    same stance as :func:`_dsir_scores` / :func:`_unigram_lp`. The
    materializer query (:func:`bpe_apply_merges`) still computes the
    full walk — this memo is the READ side.
    """
    return bpe_apply_merges(t).select("word", "n_units").localCheckpoint()


def tokenizer_fertility(t: dict[str, DataFrame]) -> DataFrame:
    """Per-language tokenizer fertility report over the learned BPE
    vocabulary — units/word (fertility) and chars/unit (compression),
    the numbers that decide whether a tokenizer trained on the mix
    penalizes a language (high fertility = more sequence positions per
    word = that language pays more compute per byte). Completes the
    tokenizer story: :func:`bpe_pair_counts` trains,
    :func:`bpe_apply_merges` encodes, this evaluates.

    Scale shape: greedy BPE encoding is a per-WORD property, so the
    expensive fold runs once per DISTINCT vocabulary word and is read
    here from the memoized encoded-vocab table (:func:`_bpe_encodings`
    — the artifact a tokenizer pipeline writes once per merge-table
    snapshot); the per-language occurrence weights come from the
    memoized tf index joined to the (doc_id, lang) projection — the
    exact :func:`dsir_importance_weights` shape, no re-tokenize
    (measured 0.46 s vs 0.59 s for the explode-and-regroup form at
    sf0.1, bit-identical output) — collapsed to the
    (lang, word)-cardinality frame; the two vocab-sized frames join on
    word (shuffle join — both are vocabulary-bounded, far below corpus
    size) and fold to the language-cardinality report. Exact integer
    sums, two final divides.
    """
    enc = _bpe_encodings(t).withColumnRenamed("word", "tok")
    langs = t["documents"].select("doc_id", "lang")
    lw = (
        _tfidf_tf_frame(t)
        .filter(F.length("tok") >= 1)
        .join(langs, on="doc_id")
        .groupBy("lang", "tok")
        .agg(F.sum("tf").alias("cnt"))
    )
    return (
        lw.join(enc, on="tok")
        .groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_units")).alias("n_bpe_units"),
            F.sum(F.col("cnt") * F.length("tok")).alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_bpe_units",
            "n_chars",
            round_half_up(
                F.col("n_bpe_units").cast("double") / F.col("n_words"), 6
            ).alias("fertility_r"),
            round_half_up(
                F.col("n_chars").cast("double") / F.col("n_bpe_units"), 6
            ).alias("chars_per_unit_r"),
        )
    )


TOKENIZER_FERTILITY_SQL = f"""
WITH enc AS ({BPE_APPLY_MERGES_SQL}),
lw AS (
  SELECT lang, word, COUNT(*) AS cnt FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
  ) WHERE length(word) >= 1 GROUP BY 1, 2
),
agg AS (
  SELECT lang,
         CAST(SUM(lw.cnt) AS BIGINT) AS n_words,
         CAST(SUM(lw.cnt * n_units) AS BIGINT) AS n_bpe_units,
         CAST(SUM(lw.cnt * length(lw.word)) AS BIGINT) AS n_chars
  FROM lw JOIN enc ON lw.word = enc.word
  GROUP BY lang
)
SELECT lang, n_words, n_bpe_units, n_chars,
       {sql_round_half_up('CAST(n_bpe_units AS DOUBLE) / n_words', 6)} AS fertility_r,
       {sql_round_half_up('CAST(n_chars AS DOUBLE) / n_bpe_units', 6)} AS chars_per_unit_r
FROM agg
"""


# --- TextRank keyword centrality ---------------------------------------------

TEXTRANK_DAMPING = 0.85
TEXTRANK_ITERS = 3


@index("textrank_cooccurrence_graph")
def _textrank_graph(t: dict[str, DataFrame]):
    """(nodes, edges, deg, n) of the corpus token co-occurrence graph,
    ``n`` the vocabulary size.

    Edges = adjacent-token pairs summed over the corpus, symmetrized;
    one shuffle keyed on the pair. The graph is vocab-sized — at 100 TB
    the corpus scan dominates and the iteration state stays tiny.
    Memoized in the context (at scale: a written co-occurrence table
    maintained by ingest, like the shingle/LSH/IVF indexes).
    """
    toks = doc_tokens(t)
    pair = F.explode(
        F.expr(
            "transform(sequence(1, size(w) - 1),"
            " i -> struct(element_at(w, i) AS a, element_at(w, i + 1) AS b))"
        )
    )
    directed = (
        toks.filter(F.size("w") >= 2)
        .select(pair.alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = (
        directed.select(F.col("a").alias("u"), F.col("b").alias("v"), "w")
        .unionByName(directed.select(F.col("b").alias("u"), F.col("a").alias("v"), "w"))
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    ).localCheckpoint()
    deg = edges.groupBy("u").agg(F.sum("w").alias("wdeg")).localCheckpoint()
    nodes = toks.select(F.explode("w").alias("tok")).distinct().localCheckpoint()
    # the scalar vocab size is part of the graph build: counting it HERE
    # (the declared setup phase) keeps bench steady-state honest — under
    # a min-of-N protocol a lazily-memoized count would land only in the
    # discarded first pass and be charged to neither phase.
    return nodes, edges, deg, nodes.count()


def textrank_keywords(
    t: dict[str, DataFrame], materialize: bool = True
) -> DataFrame:
    """TextRank keyword centrality: PageRank power iteration over the
    corpus-wide token co-occurrence graph (adjacent-pair edges, weighted,
    symmetrized) — the classic unsupervised keyword extractor, and the
    engine's general iterative-graph-centrality primitive.

    Fixed-point form (the ``kmeans_clusters`` determinism recipe): ranks
    live as integer micro-units; each iteration's per-edge contribution
    is ``floor(d * w * r / wdeg + 0.5)`` — an identical IEEE expression
    in both engines — and per-node accumulation is an exact INTEGER sum,
    so all ``TEXTRANK_ITERS`` rounds are bit-reproducible and the DuckDB
    oracle replays them exactly (unrolled CTEs).

    Scale: the heavy work (pair counting) is one corpus scan + one
    shuffle; the rank frame is vocab-sized, so the iterations plan on a
    :func:`loop_session` — shuffle width pinned to the measured vocab size,
    AQE and auto-broadcast off — and ALL of them materialize in ONE job
    through lazy checkpoints. Dangling/isolated tokens keep
    the teleport mass via the left join.

    ``materialize=False`` skips the final materialization so the plan
    gate can inspect the full un-truncated iteration DAG.

    An empty corpus has no vocabulary and so no ranks: 0 rows, as the
    oracle's empty ``nodes`` CTE gives.
    """
    nodes, edges, deg, n = _textrank_graph(t)
    if n == 0:
        return nodes.select(
            F.col("tok").alias("token"), F.lit(0).cast("bigint").alias("rank_micro")
        )
    # same IEEE expression the oracle floors: 0.15 * 1e6 / n, then +0.5
    teleport = int(0.15 * 1000000.0 / n + 0.5)
    spark = nodes.sparkSession
    # a lazy localCheckpoint plans its round when it is built, so every
    # round is built on the loop session, not just the final action
    loop = loop_session(spark)
    pin_width(loop, n)
    nodes, ed = rebind(nodes, loop), rebind(edges.join(deg, on="u"), loop)
    r = nodes.select(
        "tok",
        F.floor(F.lit(1000000.0) / F.lit(float(n)) + F.lit(0.5)).alias("r"),
    )
    for it in range(TEXTRANK_ITERS):
        contribs = (
            ed.join(r, ed["u"] == r["tok"])
            .select(
                F.col("v").alias("tok"),
                F.floor(
                    F.lit(TEXTRANK_DAMPING)
                    * F.col("w").cast("double")
                    * F.col("r").cast("double")
                    / F.col("wdeg").cast("double")
                    + F.lit(0.5)
                ).alias("c"),
            )
            .groupBy("tok")
            .agg(F.sum("c").alias("c"))
        )
        r = nodes.join(contribs, on="tok", how="left").select(
            "tok",
            (F.lit(teleport) + F.coalesce(F.col("c"), F.lit(0))).alias("r"),
        )
        if it < TEXTRANK_ITERS - 1:
            # truncate recompute between iterations; LAZY — the single
            # materializing action below computes every round in one job
            r = r.localCheckpoint(eager=False)
    out = r.select(F.col("tok").alias("token"), F.col("r").alias("rank_micro"))
    if materialize:
        # the one action of the whole power iteration
        out = out.localCheckpoint()
    return rebind(out, spark)


def _textrank_sql() -> str:
    d = TEXTRANK_DAMPING
    head = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
pairs AS (
  SELECT unnest(w[1:len(w) - 1]) AS a, unnest(w[2:len(w)]) AS b
  FROM toks WHERE len(w) >= 2
),
directed AS (SELECT a, b, COUNT(*) AS w FROM pairs GROUP BY 1, 2),
edges AS (
  SELECT u, v, CAST(SUM(w) AS BIGINT) AS w FROM (
    SELECT a AS u, b AS v, w FROM directed
    UNION ALL SELECT b AS u, a AS v, w FROM directed
  ) GROUP BY 1, 2
),
deg AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wdeg FROM edges GROUP BY u),
nodes AS (SELECT DISTINCT unnest(w) AS tok FROM toks),
nn AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (
  SELECT tok, CAST(FLOOR(1000000.0 / nn.n + 0.5) AS BIGINT) AS r
  FROM nodes CROSS JOIN nn
)"""
    body = []
    prev = "r0"
    for i in range(1, TEXTRANK_ITERS + 1):
        body.append(f""",
c{i} AS (
  SELECT e.v AS tok,
         CAST(SUM(CAST(FLOOR({d} * CAST(e.w AS DOUBLE) * CAST(r.r AS DOUBLE)
                              / CAST(deg.wdeg AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS c
  FROM edges e JOIN {prev} r ON e.u = r.tok JOIN deg ON e.u = deg.u
  GROUP BY e.v
),
r{i} AS (
  SELECT n.tok,
         CAST(FLOOR(0.15 * 1000000.0 / nn.n + 0.5) AS BIGINT) + COALESCE(c{i}.c, 0) AS r
  FROM nodes n CROSS JOIN nn LEFT JOIN c{i} ON n.tok = c{i}.tok
)""")
        prev = f"r{i}"
    return head + "".join(body) + f"""
SELECT tok AS token, r AS rank_micro FROM {prev}
"""


TEXTRANK_KEYWORDS_SQL = _textrank_sql()


# --- fuzzy matching ----------------------------------------------------------

FUZZY_PROBE_DOCS = 5  # doc_id < 5 prefixes serve as the probe set
FUZZY_PREFIX_LEN = 24
FUZZY_MAX_DIST = 12


def fuzzy_match_probe(t: dict[str, DataFrame]) -> DataFrame:
    """Edit-distance fuzzy matching: find documents whose text prefix is
    within ``FUZZY_MAX_DIST`` Levenshtein edits of any probe string (the
    prefixes of docs 0..4) — the fuzzy-lookup primitive behind title
    matching, near-duplicate triage, and entity reconciliation.

    The probe set is a bounded parameter (collected once, embedded as an
    array literal), so the scan stays single-pass with the distance
    computed per (doc, probe) inside whole-stage codegen — JVM
    ``levenshtein``, no join operator, no UDF. At scale the probe side is
    the broadcast side by construction.
    """
    docs = t["documents"]
    probes = (
        docs.filter(F.col("doc_id") < FUZZY_PROBE_DOCS)
        .select("doc_id", F.substring("text", 1, FUZZY_PREFIX_LEN).alias("p"))
        .collect()
    )
    # typed: an empty corpus has no probes, and array() alone is VOID-typed
    probe_arr = F.array(
        *[
            F.struct(F.lit(int(r.doc_id)).alias("probe_id"), F.lit(r.p).alias("p"))
            for r in sorted(probes, key=lambda r: r.doc_id)
        ]
    ).cast("array<struct<probe_id:int,p:string>>")
    exploded = docs.select(
        "doc_id",
        F.substring("text", 1, FUZZY_PREFIX_LEN).alias("prefix"),
        F.explode(probe_arr).alias("pr"),
    )
    return (
        exploded.select(
            "doc_id",
            F.col("pr.probe_id").alias("probe_id"),
            F.levenshtein("prefix", F.col("pr.p")).alias("dist"),
        )
        .filter(
            (F.col("dist") <= FUZZY_MAX_DIST) & (F.col("doc_id") != F.col("probe_id"))
        )
    )


FUZZY_MATCH_PROBE_SQL = f"""
WITH probes AS (
  SELECT doc_id AS probe_id, substr(text, 1, {FUZZY_PREFIX_LEN}) AS p
  FROM documents WHERE doc_id < {FUZZY_PROBE_DOCS}
)
SELECT d.doc_id, probes.probe_id,
       CAST(levenshtein(substr(d.text, 1, {FUZZY_PREFIX_LEN}), probes.p) AS INT) AS dist
FROM documents d CROSS JOIN probes
WHERE levenshtein(substr(d.text, 1, {FUZZY_PREFIX_LEN}), probes.p) <= {FUZZY_MAX_DIST}
  AND d.doc_id <> probes.probe_id
"""


# --- BM25 probe retrieval (extension: retrieval-quality data selection) -----

# Okapi parameters (standard defaults) and an embedded probe query set —
# the fixed "information needs" a curation pipeline scores the corpus
# against (retrieval-aware data selection / dedup triage). Tokens are
# drawn from the fixture vocabulary so every query matches documents.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10
BM25_QUERIES = (
    ("q_engine", ("spark", "join", "merge")),
    ("q_business", ("customer", "order", "query")),
    ("q_vector", ("vector", "hash", "stream")),
)


@index("bm25_doclen_stats")
def _bm25_index(t: dict[str, DataFrame]) -> DataFrame:
    """(doc_id, dl, n_docs, avgdl) — the statistics a BM25 index stores
    beside its postings that the tf index does not carry: per-document
    token length, and the (n_docs, avgdl) scalar pair folded onto every
    row (one setup-time broadcast), so the scoring query needs no 1-row
    cross join, as a real index keeps these scalars in its header. Term
    document frequency is the tf index's own ``df``. Derived once from
    the memoized tf index (at scale: written with the index, maintained
    by ingest; the setup phase builds it)."""
    dl = (
        _tfidf_tf_frame(t)
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
        .localCheckpoint()
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    return dl.crossJoin(F.broadcast(stats)).localCheckpoint()


def bm25_scores(t: dict[str, DataFrame]) -> DataFrame:
    """Okapi BM25 top-{BM25_TOPK} per probe query over the corpus — the
    retrieval primitive behind retrieval-aware data selection (score a
    training corpus against a set of target information needs, keep /
    up-weight what ranks). Lucene's positive-idf form:
    ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``.

    N (``n_docs``) counts the documents that have tokens, so a document
    with NULL ``text`` is not one; tfidf's N counts every row. The
    oracle's ``stats`` CTE, a count over the per-doc lengths, states the
    same rule.

    Cross-engine determinism: idf is an ln-site
    (``functions/rounding.py``) in integer micro-units, each (term, doc)
    contribution floors to integer micro-units after the
    tf-normalization product, and the per-doc score is an exact INTEGER
    sum — order-independent under any partitioning. Ranking ties break
    on doc_id.

    Plan: the memoized tf index, which carries each term's df, joins the
    broadcast probe terms (tiny), then the document-length index, which
    carries the (n_docs, avgdl) corpus scalars (folded at setup build —
    no 1-row cross join at query time). The document-length frame is
    CORPUS-sized, so it carries no broadcast hint — AQE broadcasts it at
    runtime when it actually fits (it does at fixture scale) and falls
    back to a shuffled hash join at 100 TB. One (query, doc) aggregate,
    then a per-query rank window over candidate docs only. Nothing
    corpus-squared; the one corpus-sized shuffle is the (query_id,
    doc_id) aggregate.
    """
    tf = _tfidf_tf_frame(t)
    spark = tf.sparkSession
    terms = spark.createDataFrame(
        [(qid, tok) for qid, toks in BM25_QUERIES for tok in toks],
        "query_id string, tok string",
    )
    r_nano = nano_grid(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    idf_micro = ln_micro(r_nano / F.lit(1e9))
    tfnorm = (F.col("tf") * F.lit(BM25_K1 + 1.0)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
        )
    )
    scored = (
        tf.join(F.broadcast(terms), on="tok")
        .join(_bm25_index(t), on="doc_id")
        .withColumn("contrib", F.floor(idf_micro * tfnorm + F.lit(0.5)))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("query_id", "doc_id", "score_micro", "rank")
    )


# the bm25 idf nano grid (aliases: s = corpus stats, d = df frame) —
# shared by the oracle and the boundary canary
_BM25_IDF_NANO_SQL = sql_nano_grid(
    "1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)"
)


def _bm25_sql() -> str:
    terms = ", ".join(
        f"('{qid}', '{tok}')" for qid, toks in BM25_QUERIES for tok in toks
    )
    return f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfr AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
terms AS (SELECT * FROM (VALUES {terms}) AS v(query_id, tok)),
scored AS (
  SELECT t.query_id, tf.doc_id,
         CAST(SUM(FLOOR(
           {sql_ln_micro(f"{_BM25_IDF_NANO_SQL} / 1000000000.0")}
           * ((tf.tf * CAST({BM25_K1 + 1.0} AS DOUBLE)) /
              (tf.tf + CAST({BM25_K1} AS DOUBLE)
                       * (CAST({1.0 - BM25_B} AS DOUBLE)
                          + CAST({BM25_B} AS DOUBLE) * l.dl / s.avgdl)))
           + 0.5)) AS BIGINT) AS score_micro
  FROM tf
  JOIN terms t ON tf.tok = t.tok
  JOIN dfr d ON tf.tok = d.tok
  JOIN dl l ON tf.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY t.query_id, tf.doc_id
)
SELECT query_id, doc_id, score_micro, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {BM25_TOPK}
"""


BM25_SCORES_SQL = _bm25_sql()


# --- corpus-level n-gram diversity ------------------------------------------


def ngram_diversity(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source distinct-n diversity (distinct-1 / distinct-2 ratios,
    Li et al. 2016): the corpus-level templated-content detector — a
    source whose bigram ratio collapses is boilerplate/mirror spam even
    when every individual document passes per-doc quality filters
    (:func:`repetition_signals` is the within-doc half; this is the
    across-doc half a curation dashboard ranks sources by).

    Scale shape: the memoized token index (:func:`doc_tokens` — the
    tokenize-once written table every text operator shares) joins the
    (doc_id, source) projection and emits unigrams and bigrams as a
    single tagged explode (no re-tokenize, no second pass for bigrams —
    measured 0.42 s vs 0.68 s for the split-from-parquet form at sf0.1,
    bit-identical); the distinct counting is a two-level aggregate —
    ``(source, n, gram)`` partial counts first (map-side combinable,
    the only corpus-sized shuffle), then the source-cardinality rollup.
    No count_distinct Expand doubling the exploded stream, no
    per-source sort. Ratios are exact-integer inputs to one final
    :func:`round_half_up` divide.
    """
    d = doc_tokens(t).join(
        t["documents"].select("doc_id", "source"), on="doc_id"
    )
    toks = F.col("w")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(
        F.transform(toks, lambda x: F.struct(F.lit(1).alias("n"), x.alias("g"))),
        F.transform(
            bigrams, lambda x: F.struct(F.lit(2).alias("n"), x.alias("g"))
        ),
    )
    exploded = d.select(
        "source", F.explode(grams).alias("gr")
    ).select("source", F.col("gr.n").alias("n"), F.col("gr.g").alias("g"))
    partial = exploded.groupBy("source", "n", "g").agg(
        F.count(F.lit(1)).alias("occ")
    )
    agg = partial.groupBy("source").agg(
        F.sum(F.when(F.col("n") == 1, F.col("occ"))).alias("n_tokens"),
        F.count(F.when(F.col("n") == 1, F.lit(1))).alias("n_types"),
        F.sum(F.when(F.col("n") == 2, F.col("occ"))).alias("n_bigrams"),
        F.count(F.when(F.col("n") == 2, F.lit(1))).alias("n_bigram_types"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "n_types",
        "n_bigrams",
        "n_bigram_types",
        round_half_up(
            F.col("n_types").cast("double") / F.col("n_tokens"), 6
        ).alias("distinct1_r"),
        round_half_up(
            F.col("n_bigram_types").cast("double") / F.col("n_bigrams"), 6
        ).alias("distinct2_r"),
    )


NGRAM_DIVERSITY_SQL = f"""
WITH d AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
uni AS (SELECT source, 1 AS n, unnest(toks) AS g FROM d),
bi AS (
  SELECT source, 2 AS n, toks[i] || ' ' || toks[i + 1] AS g
  FROM d, UNNEST(generate_series(1, len(toks) - 1)) AS t(i)
),
partial AS (
  SELECT source, n, g, COUNT(*) AS occ FROM (
    SELECT * FROM uni UNION ALL SELECT * FROM bi
  ) GROUP BY 1, 2, 3
),
agg AS (
  SELECT source,
         CAST(SUM(CASE WHEN n = 1 THEN occ END) AS BIGINT) AS n_tokens,
         CAST(COUNT(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN n = 2 THEN occ END) AS BIGINT) AS n_bigrams,
         CAST(COUNT(CASE WHEN n = 2 THEN 1 END) AS BIGINT) AS n_bigram_types
  FROM partial GROUP BY source
)
SELECT source, n_tokens, n_types, n_bigrams, n_bigram_types,
       {sql_round_half_up('CAST(n_types AS DOUBLE) / n_tokens', 6)} AS distinct1_r,
       {sql_round_half_up('CAST(n_bigram_types AS DOUBLE) / n_bigrams', 6)} AS distinct2_r
FROM agg
"""


# --- DSIR importance-resampling weights -------------------------------------

DSIR_BUCKETS = 256  # hashed n-gram feature space (paper uses 10k at web scale)
DSIR_TARGET_LANG = "en"  # the "target domain" the raw corpus is scored against


def dsir_importance_weights(t: dict[str, DataFrame]) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023): score
    every raw-corpus document by how much its hashed-unigram feature
    distribution looks like a target domain (here: the ``en`` slice),
    ``w(doc) = sum_f tf_f * [ln p_target(f) - ln p_raw(f)]`` — the
    domain-matching selection step a pretraining pipeline runs between
    dedup and mixing. Laplace +1 smoothing keeps every bucket finite.

    Scale shape: features are md5-hash buckets of the memoized tf index
    (content-stable, engine-identical), so the bucket LM is a
    DSIR_BUCKETS-row aggregate — both "train the two feature LMs" and
    "score every doc" are ONE corpus-sized shuffle each, and the bucket
    log-ratio table broadcasts into the scoring join. No per-doc Python,
    no vocabulary-sized model state on the driver.

    Each smoothed bucket log-probability is an ln-site
    (``functions/rounding.py``); per-doc accumulation is exact integer
    micro-unit arithmetic, so the weight is bit-identical across engines
    and partitionings. ``keep`` flags docs at least as target-like as the
    raw average (log-ratio >= 0) — the threshold form of the paper's
    resampling step, with no global sort.
    """
    tf = _tfidf_tf_frame(t)
    langs = t["documents"].select("doc_id", "lang")
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )
    tfb = tf.join(langs, on="doc_id").withColumn("bucket", bucket)
    # the grand totals ride ON the bucket-count frame as a single-
    # partition window over DSIR_BUCKETS bounded rows (the pipeline.py
    # stage-5 trick) instead of a separate global-aggregate branch, which
    # would re-compute the counts subtree (Catalyst does not CSE across
    # branches) and pay a broadcast-build job for a 1-row frame
    w_all = Window.partitionBy(F.lit(1))
    counts = (
        tfb.groupBy("bucket")
        .agg(
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("tf")).otherwise(0)
            ).alias("t_cnt"),
            F.sum("tf").alias("r_cnt"),
        )
        .withColumn("t_total", F.sum("t_cnt").over(w_all).cast("double"))
        .withColumn("r_total", F.sum("r_cnt").over(w_all).cast("double"))
    )

    def _lp_micro(cnt: str, total: str) -> F.Column:
        p = (F.col(cnt) + F.lit(1)).cast("double") / (
            F.col(total) + F.lit(float(DSIR_BUCKETS))
        )
        return ln_micro(nano_grid(p) / F.lit(1e9))

    lr = counts.select(
        "bucket",
        (_lp_micro("t_cnt", "t_total") - _lp_micro("r_cnt", "r_total")).alias(
            "lr_micro"
        ),
    )
    scored = tfb.join(F.broadcast(lr), on="bucket")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("lr_micro")).alias("lr_sum_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "lr_sum_micro",
            F.floor(
                F.col("lr_sum_micro").cast("double") / F.col("n_tokens")
                + F.lit(0.5)
            ).alias("avg_lr_micro"),
        )
        .withColumn("keep", (F.col("avg_lr_micro") >= 0).cast("int"))
    )


def _dsir_nano_sql(cnt: str, total: str) -> str:
    """The DSIR Laplace-smoothed nano grid — shared by the oracle and
    the boundary canary so the two can never de-sync."""
    return sql_nano_grid(f"({cnt} + 1) / ({total} + {DSIR_BUCKETS}.0)")


DSIR_IMPORTANCE_WEIGHTS_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
tfb AS (
  SELECT tf.doc_id, tf.tf, d.lang,
         CAST(('0x' || substr(md5(tf.tok), 1, 8))::BIGINT AS BIGINT)
           % {DSIR_BUCKETS} AS bucket
  FROM tf JOIN documents d ON tf.doc_id = d.doc_id
),
counts AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN tf ELSE 0 END)
              AS BIGINT) AS t_cnt,
         CAST(SUM(tf) AS BIGINT) AS r_cnt
  FROM tfb GROUP BY bucket
),
totals AS (
  SELECT CAST(SUM(t_cnt) AS DOUBLE) AS t_total,
         CAST(SUM(r_cnt) AS DOUBLE) AS r_total
  FROM counts
),
lr AS (
  SELECT bucket,
         CAST({sql_ln_micro(f"{_dsir_nano_sql('t_cnt', 't_total')} / 1000000000.0")}
              - {sql_ln_micro(f"{_dsir_nano_sql('r_cnt', 'r_total')} / 1000000000.0")}
              AS BIGINT) AS lr_micro
  FROM counts CROSS JOIN totals
)
SELECT tfb.doc_id,
       CAST(SUM(tfb.tf) AS BIGINT) AS n_tokens,
       CAST(SUM(tfb.tf * lr.lr_micro) AS BIGINT) AS lr_sum_micro,
       CAST(FLOOR(CAST(SUM(tfb.tf * lr.lr_micro) AS DOUBLE) / SUM(tfb.tf) + 0.5)
            AS BIGINT) AS avg_lr_micro,
       CAST(FLOOR(CAST(SUM(tfb.tf * lr.lr_micro) AS DOUBLE) / SUM(tfb.tf) + 0.5)
            >= 0 AS INT) AS keep
FROM tfb JOIN lr ON tfb.bucket = lr.bucket
GROUP BY tfb.doc_id
"""


@index("dsir_score_table")
def _dsir_scores(t: dict[str, DataFrame]) -> DataFrame:
    """Memoized (doc_id, avg_lr_micro) DSIR score frame — the written
    table the selection step of a real pipeline materializes once per
    corpus snapshot (Xie et al. 2023 score -> resample is explicitly
    two passes); the AUC/calibration eval gates read it instead of
    re-deriving the bucket LMs per query. Same stance as the shingle /
    LSH / IVF / k-means setup artifacts.
    """
    return (
        dsir_importance_weights(t)
        .select("doc_id", "avg_lr_micro")
        .localCheckpoint()
    )


def _auc_terms(t: dict[str, DataFrame]) -> DataFrame:
    """Shared integer core of the AUC eval gate: the tie-aware
    Mann-Whitney statistic of the DSIR importance score against the
    target-language label, as THREE exact integers — ``n_pos``,
    ``n_neg``, and ``auc_num2`` (twice the U statistic, so ties
    contribute their exact 1/2 without fractional arithmetic).

    Every step is integer/decimal-exact: group docs by milli-quantized
    score, order groups ascending, sum ``pos_g * (2*neg_below + neg_g)``
    in DECIMAL(18,0)/DECIMAL(38,0) — the product alone exceeds int64
    once the corpus passes ~3e9 docs (2*U is O(P*N)); decimal sums are
    exact and order-independent on both engines up to 1e38. No doubles
    touch the output, so the frame hashes identically on any
    engine/libm/platform combination.

    Scale shape: the scores come from the memoized written score table
    (:func:`_dsir_scores` — the selection pipeline materializes it
    anyway); they are quantized to the milli grid (FLOOR of the
    integer micro score / 1000) BEFORE grouping, which bounds the
    grid frame by construction — |avg log-ratio| <= ln(1e9), so at most
    ~41k distinct milli scores exist REGARDLESS of corpus size — and the
    corpus collapses onto it in one map-side-combinable aggregate. The
    cumulative window then runs over the bounded grid only (never corpus
    rows), exactly the drift_psi/ks_drift discipline.
    """
    scores = _dsir_scores(t)
    labeled = scores.join(
        t["documents"].select("doc_id", "lang"), on="doc_id"
    ).select(
        F.floor(F.col("avg_lr_micro").cast("double") / F.lit(1000.0)).alias(
            "s_milli"
        ),
        (F.col("lang") == DSIR_TARGET_LANG).cast("bigint").alias("pos"),
    )
    g = labeled.groupBy("s_milli").agg(
        F.sum("pos").alias("pos_n"),
        F.sum(F.lit(1) - F.col("pos")).alias("neg_n"),
    )
    w_lt = Window.orderBy("s_milli").rowsBetween(
        Window.unboundedPreceding, -1
    )
    terms = g.select(
        "pos_n",
        "neg_n",
        (
            F.col("pos_n").cast("decimal(18,0)")
            * (
                F.lit(2) * F.coalesce(F.sum("neg_n").over(w_lt), F.lit(0))
                + F.col("neg_n")
            ).cast("decimal(18,0)")
        ).alias("num2"),
    )
    return terms.agg(
        F.sum("pos_n").alias("n_pos"),
        F.sum("neg_n").alias("n_neg"),
        F.sum(F.col("num2").cast("decimal(38,0)")).alias("auc_num2"),
    )


def score_auc_parts(t: dict[str, DataFrame]) -> DataFrame:
    """The integer-only Mann-Whitney parts (``n_pos``, ``n_neg``,
    ``auc_num2``): this row and :func:`score_auc` differ ONLY in the
    final derived column, so a pair of results pins any cross-engine
    divergence to one projection. See :func:`_auc_terms` for semantics
    and the scale argument.

    The hashed projection is all-BIGINT. For ``DECIMAL(38,0)``, DuckDB's
    ``.df()`` converts to float64 (``78724.0``) while Spark's
    ``toPandas`` yields an object column of ``Decimal('78724')`` — any
    hasher that canonicalizes pandas values diverges on the identical
    number (collect/Arrow paths agree; pandas is the one that splits).
    With BIGINT both engines land on int64. So the DECIMAL(38,0)
    envelope stays INTERNAL to :func:`_auc_terms` (where it is
    load-bearing: 2*U is O(P*N) and exceeds int64 past ~3e9 docs) and
    the output is ``CAST(auc_num2 AS BIGINT)`` on both engines — safe at
    any fixture scale where ``2*P*N < 2^63`` (~9.2e18; the envelope pin
    lives in ``tests/test_text_multimodal.py``).
    """
    return _auc_terms(t).select(
        "n_pos",
        "n_neg",
        F.col("auc_num2").cast("bigint").alias("auc_num2"),
    )


def score_auc(t: dict[str, DataFrame]) -> DataFrame:
    """Exact ROC-AUC of the DSIR importance score against the
    target-language label — the eval gate a pipeline runs before trusting
    a learned quality/selection score to rank real data (here: does the
    hashed-unigram log-ratio actually rank ``en`` docs above the rest?).

    Semantics and scale shape: :func:`_auc_terms`. The reported AUC is
    ``auc_micro`` — the half-up micro-unit quantization of
    ``auc_num2 / (2*P*N)``, computed as ONE exact integer floor-division
    ``(1000000*auc_num2 + P*N) div (2*P*N)`` in DECIMAL(38,0) (adding
    ``P*N`` is adding exactly 0.5 ulp of the micro grid, so floor = half
    up). NO double arithmetic anywhere: a float form of this row can
    hash differently across engine environments even where the local
    differential check passes bit-for-bit, so the hashed projection
    carries no double (its display form, ``auc_micro / 1e6``,
    is pinned in ``tests/test_text_multimodal.py``). Exact while
    ``1e6 * P * N < 1e38`` — i.e. up to ~1e16 documents per class.
    A corpus with one class (``P * N = 0``) has no pair to rank, so
    ``auc_micro`` is NULL on both engines (the divisor is ``NULLIF``-ed).

    ``auc_num2`` is output as BIGINT (see :func:`score_auc_parts` for
    the pandas-hasher rationale; the DECIMAL(38,0) arithmetic stays
    internal). ``auc_micro`` was already BIGINT — Spark's ``div``
    (IntegralDivide) returns LONG even on decimal operands.

    Overflow semantics at the envelope edge (informational, pinned in
    tests): past ~1e38 the Spark DECIMAL(38,0) product silently returns
    NULL under the default non-ANSI mode, while DuckDB's HUGEINT twin
    raises — a breach would surface as a NULL/hash divergence here, not
    a loud error. Unreachable below ~1e16 docs per class; the envelope
    pin test asserts non-null outputs so a future fixture regime change
    fails loudly.
    """
    return _auc_terms(t).select(
        "n_pos",
        "n_neg",
        F.col("auc_num2").cast("bigint").alias("auc_num2"),
        F.expr(
            "CAST(CAST(1000000 AS DECIMAL(38,0)) * auc_num2"
            " + CAST(n_pos AS DECIMAL(38,0)) * n_neg AS DECIMAL(38,0))"
            " div NULLIF(CAST(CAST(2 AS DECIMAL(38,0)) * n_pos * n_neg"
            " AS DECIMAL(38,0)), 0)"
        ).alias("auc_micro"),
    )


_AUC_TERMS_SQL = f"""
WITH dsir AS ({DSIR_IMPORTANCE_WEIGHTS_SQL}),
labeled AS (
  SELECT FLOOR(CAST(s.avg_lr_micro AS DOUBLE) / 1000.0) AS s_milli,
         CAST(d.lang = '{DSIR_TARGET_LANG}' AS BIGINT) AS pos
  FROM dsir s JOIN documents d ON s.doc_id = d.doc_id
),
g AS (
  SELECT s_milli,
         CAST(SUM(pos) AS BIGINT) AS pos_n,
         CAST(SUM(1 - pos) AS BIGINT) AS neg_n
  FROM labeled GROUP BY s_milli
),
terms AS (
  SELECT pos_n, neg_n,
         CAST(pos_n AS DECIMAL(18,0))
           * CAST(2 * COALESCE(SUM(neg_n) OVER (ORDER BY s_milli
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + neg_n AS DECIMAL(18,0)) AS num2
  FROM g
),
parts AS (
  SELECT CAST(SUM(pos_n) AS BIGINT) AS n_pos,
         CAST(SUM(neg_n) AS BIGINT) AS n_neg,
         CAST(SUM(CAST(num2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS auc_num2
  FROM terms
)
"""

# hashed projections are all-BIGINT on both engines — the DECIMAL/
# HUGEINT envelope stays internal to the CTE arithmetic (see
# score_auc_parts docstring for the pandas-hasher rationale).
SCORE_AUC_PARTS_SQL = f"""
{_AUC_TERMS_SQL}
SELECT n_pos, n_neg, CAST(auc_num2 AS BIGINT) AS auc_num2 FROM parts
"""

# auc_micro: all arithmetic in HUGEINT (int128) — exact to ~1.7e38, the
# same envelope as the Spark side's DECIMAL(38,0) div. No doubles.
SCORE_AUC_SQL = f"""
{_AUC_TERMS_SQL}
SELECT n_pos, n_neg, CAST(auc_num2 AS BIGINT) AS auc_num2,
       CAST((1000000 * CAST(auc_num2 AS HUGEINT)
               + CAST(n_pos AS HUGEINT) * n_neg)
            // NULLIF(2 * CAST(n_pos AS HUGEINT) * n_neg, 0) AS BIGINT) AS auc_micro
FROM parts
"""


CALIB_BAND_MICRO = 5000  # 5-milli-nat score bands for the reliability report


def score_calibration(t: dict[str, DataFrame]) -> DataFrame:
    """Reliability report for the DSIR selection score: per fixed
    5-milli-nat score band, how many docs land there and what fraction
    actually is the target language — the monitoring companion to
    :func:`score_auc` (AUC says the ranking works; this says WHERE the
    threshold should sit and whether the score drifts band by band).

    Scale shape: one map-side-combinable aggregate collapses the corpus
    onto the score-band grid, which is bounded by construction (the avg
    log-ratio lives in +-ln(1e9), so at most ~8300 bands exist at any
    corpus size). Band edges are exact integer floors of the integer
    micro score — no ntile/global sort — and the rate is integer basis
    points. Scores read from the memoized written score table
    (:func:`_dsir_scores`), like the AUC gate.
    """
    scores = _dsir_scores(t)
    labeled = scores.join(
        t["documents"].select("doc_id", "lang"), on="doc_id"
    ).select(
        F.floor(
            F.col("avg_lr_micro").cast("double") / F.lit(float(CALIB_BAND_MICRO))
        ).alias("band"),
        (F.col("lang") == DSIR_TARGET_LANG).cast("bigint").alias("pos"),
    )
    return (
        labeled.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pos").alias("n_pos"),
        )
        .select(
            "band",
            (F.col("band") * F.lit(CALIB_BAND_MICRO)).alias("band_lo_micro"),
            "n_docs",
            "n_pos",
            F.floor(
                F.col("n_pos") * F.lit(10000.0) / F.col("n_docs") + F.lit(0.5)
            ).alias("pos_rate_bp"),
        )
    )


SCORE_CALIBRATION_SQL = f"""
WITH dsir AS ({DSIR_IMPORTANCE_WEIGHTS_SQL}),
labeled AS (
  SELECT FLOOR(CAST(s.avg_lr_micro AS DOUBLE) / {CALIB_BAND_MICRO}.0) AS band,
         CAST(d.lang = '{DSIR_TARGET_LANG}' AS BIGINT) AS pos
  FROM dsir s JOIN documents d ON s.doc_id = d.doc_id
)
SELECT CAST(band AS BIGINT) AS band,
       CAST(band * {CALIB_BAND_MICRO} AS BIGINT) AS band_lo_micro,
       COUNT(*) AS n_docs,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(FLOOR(SUM(pos) * 10000.0 / COUNT(*) + 0.5) AS BIGINT) AS pos_rate_bp
FROM labeled GROUP BY band
"""
