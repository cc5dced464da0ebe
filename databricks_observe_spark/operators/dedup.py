"""Deduplication operators over the ``documents`` corpus.

The scale-path toolkit a 100 TB training-data pipeline needs (BASELINE.json
north star), each expressed as pure DataFrame ops (no UDFs):

- ``exact_dedup``        — hash-groupBy on md5(text): one shuffle on the
  digest (never on the text payload), canonical = min doc_id.
- ``ngram_jaccard_pairs``— exact word-3-gram Jaccard >= 0.5: shingle
  inverted index self-join. Scale note: candidate generation by shared
  shingle is the classic blow-up point; high-frequency shingles are the
  skew — at scale you'd drop stop-shingles (document-frequency cap) before
  the join. Kept exact here because the threshold filter runs on count
  aggregates, not on materialized pairs.
- ``minhash_lsh_pairs``  — MinHash (16 md5-salted components) + banded LSH
  (4 bands x 4 rows): the scalable near-dup path. Join key is the band
  signature, so work is proportional to colliding candidates, not n^2.
- ``simhash_fingerprints`` — 16-bit SimHash over token multiset; hamming
  buckets for near-dup grouping.
- ``embedding_near_dup`` — cosine >= 0.3 pairs via the block-tiled exact
  pair join (functions/vectors.py:tiled_cosine_pairs);
  ``embedding_near_dup_lsh`` is its LSH-bucketed scale path.

functions/banding.py is the one candidate layer: the MinHash, SimHash and
embedding LSH pairs are its band memberships and banded self-join, each
verified here, and ``lsh_dedup_recall`` is its recall count.

Every hash is md5-derived so the DuckDB oracle matches bit-for-bit; minhash
MIN runs on fixed-width hex strings (lexicographic == numeric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from databricks_observe_spark.functions.arrowmap import arrow_map
from databricks_observe_spark.functions.banding import (
    band_candidates,
    band_members,
    recall_counts,
)
from databricks_observe_spark.functions.fixpoint import fixpoint
from databricks_observe_spark.functions.rounding import (
    round_half_up,
    sql_round_half_up,
)
from databricks_observe_spark.functions.textfns import (
    doc_tokens,
    md5_bucket_expr,
    md5_bucket_sql,
    minhash_expr,
    minhash_sql,
    shingle_regex_expr,
    shingled_sql,
)
from databricks_observe_spark.functions.vectors import (
    dot_rows,
    dot_sql_unrolled,
    norm_sql_unrolled,
    tiled_cosine_pairs,
)
from databricks_observe_spark.memo import index
from databricks_observe_spark.sources.tables import documents_split

N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = N_MINHASH // N_BANDS
JACCARD_THRESHOLD = 0.5
COSINE_NEAR_DUP = 0.3


def exact_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Exact dedup groups: one row per distinct text, canonical doc kept.

    Shuffles 16-byte digests, not documents — the property that matters at
    100 TB. ``n_copies`` > 1 rows are the removable duplicates.
    """
    return (
        t["documents"]
        .select("doc_id", F.md5("text").alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS text_hash, MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


@index("shingle_index")
def _shingled(t: dict[str, DataFrame]) -> DataFrame:
    """Exploded (doc_id, shingle) frame, memoized + materialized once.

    Four operators consume it (ngram pairs, minhash signatures, near-dup
    clusters, curated corpus); without the memo each would re-run the
    tokenize + shingle explode. At 100 TB this is the intermediate you
    write to storage once per corpus snapshot.
    """
    # one codegen regex pass straight off the raw text (2.4x the
    # interpreted transform+slice lambda, bit-identical; see
    # textfns.shingle_regex_expr)
    return (
        documents_split(t)
        .select("doc_id", F.explode(shingle_regex_expr(3)).alias("shingle"))
        .localCheckpoint()
    )


_SHINGLED_SQL = shingled_sql(3)


@index("shingle_df")
def _shingle_df(t: dict[str, DataFrame]) -> DataFrame:
    """Shingle document-frequency table ``(shingle, df)``, memoized +
    materialized once per context — the corpus statistic every text
    pipeline writes beside its shingle index (stop-shingle capping,
    posting-list pruning, IDF all read it). df counts OCCURRENCES (same
    as the inverted-index self-join multiplicity)."""
    return (
        _shingled(t)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .localCheckpoint()
    )


@index("shingle_sizes")
def _shingle_sizes(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document shingle counts ``(doc_id, n_shingles)``, memoized +
    materialized once per context — the size side of every Jaccard
    denominator."""
    return (
        _shingled(t)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .localCheckpoint()
    )


def _jaccard_pairs_from(t: dict[str, DataFrame], kept: DataFrame) -> DataFrame:
    """Inverted-index self-join -> per-pair intersection counts -> sizes
    join -> thresholded Jaccard: the ONE pair pipeline behind the exact
    and df-capped operators, which differ only in the kept-shingle set
    they pass in. Any future change to the join shape lands in both."""
    sh = _shingled(t)
    sizes = _shingle_sizes(t)
    sh2 = sh.join(kept.select("shingle"), on="shingle")
    a = sh2.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh2.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # no broadcast hint on the sizes side: it is one row per document —
    # corpus-cardinality at scale. AQE broadcasts it when it actually fits.
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


# SQL twin of the pipeline tail (everything downstream of ``inter``),
# shared by the exact and capped oracle constants for the same reason.
_JACCARD_TAIL_SQL = f"""SELECT doc_a, doc_b, n_common,
       n_common * 1.0 / (sa.n + sb.n - n_common) AS jaccard
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}"""


@index("jaccard_pairs")
def ngram_jaccard_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Exact shingle-Jaccard near-duplicate pairs (>= 0.5).

    inverted-index self-join -> per-pair intersection counts -> sizes join.
    Jaccard is a ratio of exact integers: bit-identical across engines.
    Memoized + materialized: the pair table is a stage output consumed by
    clustering and curation, not recomputed per consumer.
    """
    # posting-list prefilter: shingles appearing in exactly one document
    # cannot produce a pair — dropping them shrinks the self-join input by
    # the unique-shingle mass (the majority, in any natural corpus) without
    # changing a single output row. This is the result-preserving half of
    # the stop-shingle trick; a df *upper* cap would further bound skew at
    # scale but changes results, so it stays off here.
    return _jaccard_pairs_from(
        t, _shingle_df(t).filter(F.col("df") >= 2)
    ).localCheckpoint()


NGRAM_JACCARD_PAIRS_SQL = f"""
WITH sh AS ({_SHINGLED_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
{_JACCARD_TAIL_SQL}
"""


def dedup_threshold_sweep(t: dict[str, DataFrame]) -> DataFrame:
    """Near-dup threshold sensitivity report — for each candidate Jaccard
    cutoff on a 0.50..0.95 basis-point grid, how many pairs would be
    flagged and how many documents are touched: the tuning run a pipeline
    does BEFORE committing a dedup policy (too low melts distinct
    documents together, too high leaves boilerplate; the knee of this
    curve is where the policy goes). Reads the memoized exact pair table
    (:func:`ngram_jaccard_pairs` — a written stage output at scale).

    Exactness: the pair table's ``jaccard`` is a double ratio of exact
    integers (bit-identical cross-engine), so ``bp = floor(j*10000+0.5)``
    is an exact integer on both engines and every threshold compare is
    integer-vs-integer. Scale shape: TWO pair-table-sized aggregates
    (pair buckets; per-doc max via one union) collapse everything onto
    <= 21-row bucket frames, then the 10-row grid theta-joins those
    constant frames — the sweep never rescans the corpus and never
    replicates the pair table per threshold.
    """
    pairs = ngram_jaccard_pairs(t)
    pbp = pairs.select(
        "doc_a",
        "doc_b",
        F.floor(F.col("jaccard") * F.lit(10000.0) + F.lit(0.5)).alias("bp"),
    )
    pair_bkts = (
        pbp.groupBy(F.floor(F.col("bp") / 500).alias("bkt"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    docmax = (
        pbp.select(F.col("doc_a").alias("doc_id"), "bp")
        .unionByName(pbp.select(F.col("doc_b").alias("doc_id"), "bp"))
        .groupBy("doc_id")
        .agg(F.max("bp").alias("bp"))
    )
    doc_bkts = (
        docmax.groupBy(F.floor(F.col("bp") / 500).alias("bkt"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = t["documents"].sparkSession
    grid = spark.range(0, 10).select(
        (F.lit(5000) + F.col("id") * 500).alias("threshold_bp")
    )
    # bucket k holds bp in [500k, 500k+500); thresholds are 500-aligned,
    # so bp >= T  <=>  bucket*500 >= T — the theta join is exact
    n_pairs = (
        grid.join(pair_bkts, pair_bkts["bkt"] * 500 >= grid["threshold_bp"], "left")
        .groupBy("threshold_bp")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_pairs"))
    )
    n_docs = (
        grid.join(doc_bkts, doc_bkts["bkt"] * 500 >= grid["threshold_bp"], "left")
        .groupBy("threshold_bp")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_docs"))
    )
    # both sides are the 10-row grid — broadcast, never sort-merge
    return n_pairs.join(F.broadcast(n_docs), on="threshold_bp")


DEDUP_THRESHOLD_SWEEP_SQL = f"""
WITH sh AS ({_SHINGLED_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_JACCARD_TAIL_SQL}),
pbp AS (SELECT doc_a, doc_b,
               CAST(FLOOR(jaccard * 10000.0 + 0.5) AS BIGINT) AS bp
        FROM pairs),
docmax AS (
  SELECT doc_id, MAX(bp) AS bp FROM (
    SELECT doc_a AS doc_id, bp FROM pbp
    UNION ALL SELECT doc_b AS doc_id, bp FROM pbp
  ) GROUP BY 1
),
grid AS (SELECT 5000 + 500 * CAST(i.i AS BIGINT) AS threshold_bp
         FROM (SELECT unnest(range(0, 10)) AS i) i)
SELECT g.threshold_bp,
       CAST((SELECT COUNT(*) FROM pbp WHERE bp >= g.threshold_bp) AS BIGINT)
         AS n_pairs,
       CAST((SELECT COUNT(*) FROM docmax WHERE bp >= g.threshold_bp) AS BIGINT)
         AS n_docs
FROM grid g
"""


MAX_SHINGLE_DF = 50  # stop-shingle document-frequency cap (capped variant)


def ngram_jaccard_pairs_capped(
    t: dict[str, DataFrame], max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """Skew-bounded Jaccard pairs: the exact operator plus a stop-shingle
    document-frequency upper cap.

    Shingles occurring in more than ``max_df`` documents are dropped
    before the inverted-index self-join, so one hot shingle ("the quick
    brown") contributes at most max_df*(max_df-1)/2 candidate pairs —
    the quadratic blow-up of the uncapped join on a natural corpus is
    bounded by construction. The trade, stated precisely:

    - emitted pairs are a SUBSET of the exact operator's (a pair is
      missed only when every shared shingle is a stop-shingle);
    - ``n_common``/``jaccard`` count non-stop shingles only, so scores
      are lower bounds of the exact Jaccard (sizes stay full-set).

    At 100 TB this is the variant you run; the exact form remains the
    oracle for corpora where the df histogram is known to be tame.

    Plan shape note: a grouped-posting-list variant (collect_list per
    shingle, pair expansion via higher-order array functions) was
    measured ~2x SLOWER here — transform/filter lambdas run interpreted
    per element, losing to the whole-stage-codegen hash self-join even
    though it saves a shuffle. The join form stays.

    The default cap reads the declared index :func:`_jaccard_pairs_capped`;
    a caller-supplied cap returns an unmemoized plan.
    """
    if max_df != MAX_SHINGLE_DF:
        return _capped_pairs(t, max_df)
    return _jaccard_pairs_capped(t)


def _capped_pairs(t: dict[str, DataFrame], max_df: int) -> DataFrame:
    kept = _shingle_df(t).filter((F.col("df") >= 2) & (F.col("df") <= max_df))
    return _jaccard_pairs_from(t, kept)


@index("jaccard_pairs_capped")
def _jaccard_pairs_capped(t: dict[str, DataFrame]) -> DataFrame:
    """The default-cap pairs, materialized exactly like the exact twin's:
    at 100 TB this IS the candidate-pair table the curation pipeline
    writes per corpus snapshot (the exact form is the oracle anchor; this
    is the production artifact)."""
    return _capped_pairs(t, MAX_SHINGLE_DF).localCheckpoint()


NGRAM_JACCARD_PAIRS_CAPPED_SQL = f"""
WITH sh AS ({_SHINGLED_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
kept AS (
  SELECT shingle FROM sh GROUP BY shingle
  HAVING COUNT(*) BETWEEN 2 AND {MAX_SHINGLE_DF}
),
sh2 AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN kept USING (shingle)),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
{_JACCARD_TAIL_SQL}
"""


@index("minhash_signatures")
def minhash_signatures(t: dict[str, DataFrame]) -> DataFrame:
    """16-component MinHash signature per document, one aggregation pass.

    Materialized (``localCheckpoint``) and memoized in the context: the LSH
    plan below references the signature frame from ~10 branches (band join
    sides + final estimate joins), and without a plan cut Catalyst would
    re-run the explode + 16-way md5 aggregation once per branch. At scale
    this is the "write the signature table once, then join against it"
    pattern.
    """
    return (
        _shingled(t)
        .groupBy("doc_id")
        .agg(*[minhash_expr(i) for i in range(N_MINHASH)])
        .localCheckpoint()
    )


def minhash_lsh_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Banded-LSH candidate pairs with estimated Jaccard.

    Each band's key is the concatenation of its 4 signature components;
    the candidates are the distinct pairs sharing one band
    (``band_candidates``: one self-join, not one join per band), and the
    estimate is matching components / 16. Work stays proportional to
    colliding candidates, not n^2.
    """
    sig = minhash_signatures(t)
    members = band_members(
        sig,
        "doc_id",
        [
            (b, F.concat(*[F.col(f"mh{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]))
            for b in range(N_BANDS)
        ],
    )
    candidates = band_candidates(members, "doc_a", "doc_b").distinct()
    siga = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)]
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)]
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(N_MINHASH)
    )
    return (
        candidates.join(siga, on="doc_a")
        .join(sigb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            (matches / F.lit(N_MINHASH)).alias("est_jaccard"),
        )
    )


def _minhash_sig_sql() -> str:
    comps = ", ".join(minhash_sql(i) for i in range(N_MINHASH))
    return f"SELECT doc_id, {comps} FROM sh GROUP BY doc_id"


def _bands_sql() -> str:
    bands = ", ".join(
        " || ".join(f"mh{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        + f" AS band{b}"
        for b in range(N_BANDS)
    )
    return f"SELECT doc_id, {bands} FROM sig"


MINHASH_LSH_PAIRS_SQL = (
    f"WITH sh AS ({_SHINGLED_SQL}),\n"
    f"sig AS ({_minhash_sig_sql()}),\n"
    f"bands AS ({_bands_sql()}),\n"
    "cand AS (\n"
    + "\n  UNION\n".join(
        f"  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a "
        f"JOIN bands b ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(N_BANDS)
    )
    + "\n)\n"
    "SELECT c.doc_a, c.doc_b, ("
    + " + ".join(f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH))
    + f") / {N_MINHASH}.0 AS est_jaccard\n"
    "FROM cand c JOIN sig sa ON c.doc_a = sa.doc_id JOIN sig sb ON c.doc_b = sb.doc_id"
)


@index("simhash_fingerprints")
def simhash_fingerprints(t: dict[str, DataFrame]) -> DataFrame:
    """16-bit SimHash per document over the token multiset, materialized:
    the registered query is the declared fingerprint index, so every
    simhash consumer reads one vote pass per context.

    Bit b of md5's first 4 hex chars votes +1/-1 weighted by token
    occurrences; fingerprint packs the sign bits. Integer arithmetic only.
    """
    toks = doc_tokens(t).select("doc_id", F.explode("w").alias("tok"))
    nib = [
        F.instr(F.lit("0123456789abcdef"), F.substring(F.md5("tok"), j + 1, 1)) - 1
        for j in range(4)
    ]
    bit_votes = [
        F.sum(
            2 * ((nib[b // 4] / F.lit(2 ** (3 - b % 4))).cast("int") % 2) - 1
        ).alias(f"v{b}")
        for b in range(16)
    ]
    votes = toks.groupBy("doc_id").agg(*bit_votes)
    fp = sum(
        F.when(F.col(f"v{b}") > 0, F.lit(2 ** (15 - b))).otherwise(F.lit(0))
        for b in range(16)
    )
    return votes.select("doc_id", fp.cast("bigint").alias("simhash")).localCheckpoint()


SIMHASH_FINGERPRINTS_SQL = (
    "WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),\n"
    "votes AS (SELECT doc_id, "
    + ", ".join(
        f"SUM(2 * (CAST(floor((strpos('0123456789abcdef', substr(md5(tok), {b // 4 + 1}, 1)) - 1) "
        f"/ {2 ** (3 - b % 4)}) AS INT) % 2) - 1) AS v{b}"
        for b in range(16)
    )
    + " FROM toks GROUP BY doc_id)\n"
    "SELECT doc_id, CAST("
    + " + ".join(f"CASE WHEN v{b} > 0 THEN {2 ** (15 - b)} ELSE 0 END" for b in range(16))
    + " AS BIGINT) AS simhash FROM votes"
)


EMB_DIM = 64


def connected_components(edges: DataFrame) -> DataFrame:
    """Undirected ``(doc_a, doc_b)`` edges -> ``(doc_id, cluster_id)`` for
    every node on an edge, labelled with the minimum doc_id it reaches.

    Min-label propagation through :func:`fixpoint` (Hash-to-Min style):
    each round a node takes the least label among itself and its
    neighbours. Labels only ever decrease, so an unchanged
    (count, sum(cluster_id)) means no label changed."""
    both = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    seed = (
        both.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
    )

    def propagate(labels: DataFrame) -> DataFrame:
        nbr = (
            both.join(labels, on=both.doc_b == labels.doc_id)
            .groupBy("doc_a")
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        return labels.join(nbr, on=labels.doc_id == nbr.doc_a, how="left").select(
            "doc_id",
            F.least("cluster_id", F.coalesce("nbr_min", "cluster_id")).alias(
                "cluster_id"
            ),
        )

    return fixpoint(seed, propagate, [F.sum("cluster_id")])[0]


@index("near_dup_cluster_labels")
def _cluster_labels(t: dict[str, DataFrame]) -> DataFrame:
    """doc_id -> cluster_id over the near-dup pair graph."""
    return connected_components(ngram_jaccard_pairs(t).select("doc_a", "doc_b"))


def near_dup_dropped(t: dict[str, DataFrame]) -> DataFrame:
    """``doc_id`` of every non-canonical near-dup cluster member: the
    documents near-dup survivorship drops."""
    return (
        _cluster_labels(t)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )


def near_dup_clusters(t: dict[str, DataFrame]) -> DataFrame:
    """Connected components over the near-duplicate pair graph: each doc
    mapped to its cluster's minimum doc_id (the canonical survivor).

    Min-label propagation over the pair edges
    (:func:`connected_components`, on the same fixpoint driver as the
    lineage closure). This is the step that turns pairwise dedup output
    into keep/drop decisions in a real pipeline.
    """
    return _cluster_labels(t).groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.array_join(
            F.array_sort(F.collect_list(F.col("doc_id").cast("string"))), ","
        ).alias("members"),
    )


# oracle: recursive reachability over the symmetric pair edges, then
# min-label per node = connected component id
# the sh -> sizes -> inter -> pairs -> edges -> reach -> labels chain:
# the ONE oracle definition of near-dup cluster membership, shared by
# NEAR_DUP_CLUSTERS_SQL / CURATED_CORPUS_SQL / DEDUP_RETENTION_SQL so a
# threshold or edge-semantics change cannot make the three oracles
# silently disagree. Interpolate right after WITH RECURSIVE.
_LABELS_CTES_SQL = f"""sh AS ({_SHINGLED_SQL}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
  WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= {JACCARD_THRESHOLD}
),
edges AS (SELECT doc_a, doc_b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT doc_a AS doc_id, doc_b AS other FROM edges
  UNION
  SELECT r.doc_id, e.doc_b FROM reach r JOIN edges e ON r.other = e.doc_a
),
labels AS (
  SELECT doc_id, LEAST(doc_id, MIN(other)) AS cluster_id
  FROM reach GROUP BY doc_id
)"""


NEAR_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_LABELS_CTES_SQL}
SELECT cluster_id, COUNT(*) AS cluster_size,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY CAST(doc_id AS VARCHAR)) AS members
FROM labels GROUP BY cluster_id
"""


def curated_corpus(t: dict[str, DataFrame]) -> DataFrame:
    """The end product of the dedup stage: one surviving document per
    exact-duplicate group AND per near-duplicate cluster.

    Survivor = the cluster's canonical (minimum) doc_id; non-canonical
    cluster members are dropped via a broadcast left-anti join. This is the
    frame a training pipeline feeds downstream — dedup as a data
    transformation, not just a report.
    """
    docs = t["documents"]
    exact_canon = exact_dedup(t).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    dropped = near_dup_dropped(t)
    # no broadcast hint on the dropped side: it holds every non-canonical
    # near-dup member, which on a heavily duplicated corpus (the exact
    # case a dedup pipeline targets) is corpus-scale. AQE broadcasts the
    # anti-join side at runtime when it actually fits.
    return (
        docs.join(exact_canon, on="doc_id", how="left_semi")
        .join(dropped, on="doc_id", how="left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


CURATED_CORPUS_SQL = f"""
WITH RECURSIVE {_LABELS_CTES_SQL},
exact_canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
dropped AS (
  SELECT doc_id FROM labels WHERE doc_id <> cluster_id
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE d.doc_id IN (SELECT doc_id FROM exact_canon)
  AND d.doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def deterministic_sample(t: dict[str, DataFrame]) -> DataFrame:
    """Hash-based sampling: ~20% of the corpus, uniform over documents,
    selected by a content-stable digest of doc_id (not RNG) — reproducible
    across runs, engines and partitionings, the property ``df.sample()``
    lacks. (Per-language stratification would fold ``lang`` into the
    hashed key; this operator is the uniform content-stable form.)
    """
    return (
        t["documents"]
        .withColumn("h", md5_bucket_expr())
        .filter(F.col("h") < 20)
        .select("doc_id", "lang", "source", "h")
    )


DETERMINISTIC_SAMPLE_SQL = f"""
SELECT doc_id, lang, source, h FROM (
  SELECT doc_id, lang, source, {md5_bucket_sql()} AS h
  FROM documents
) WHERE h < 20
"""


# train/val/test boundaries on the 0..99 hash-bucket space
SPLIT_TRAIN_LT = 90
SPLIT_VAL_LT = 95


def hash_split(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic train/val/test assignment — the split every training
    pipeline needs to be STABLE under corpus growth: membership depends
    only on a content-stable digest of the id (same md5-bucket idiom as
    ``deterministic_sample``), never on row position, partitioning, or an
    RNG seed, so adding documents never reshuffles existing assignments
    and train/eval contamination cannot creep in between runs.

    90/5/5 by bucket; pure per-row projection over one scan — shuffle-free
    at any scale.
    """
    bucket = md5_bucket_expr()
    return t["documents"].select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )


HASH_SPLIT_SQL = f"""
SELECT doc_id, lang, bucket,
       CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train'
            WHEN bucket < {SPLIT_VAL_LT} THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang, {md5_bucket_sql()} AS bucket
  FROM documents
)
"""


def dedup_retention(t: dict[str, DataFrame]) -> DataFrame:
    """Quality-aware retention: within every near-duplicate cluster keep
    the HIGHEST-QUALITY member, not the lowest id — the curation policy
    real pipelines apply once near-dup clusters exist (canonical-min-id
    keeps whichever duplicate happened to be crawled first; this keeps the
    best one).

    Quality here is the distinct-token count (an INTEGER, so ranking is
    exactly reproducible cross-engine — float quality scores would rank on
    engine-identical doubles, which works but adds nothing); ties break to
    the lower doc_id. Composition of two verified pieces: the
    label-propagation cluster frame and a shuffle-free per-doc projection;
    the rank is one window per cluster partition.
    """
    labels = _cluster_labels(t)
    quality = t["documents"].select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("n_types"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_types"), F.asc("doc_id")
    )
    return (
        labels.join(quality, on="doc_id")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .select(
            "cluster_id",
            "doc_id",
            "n_types",
            "rnk",
            (F.col("rnk") == 1).cast("int").alias("kept"),
        )
    )


DEDUP_RETENTION_SQL = f"""
WITH RECURSIVE {_LABELS_CTES_SQL},
quality AS (
  SELECT doc_id, len(list_distinct(string_split(text, ' '))) AS n_types
  FROM documents
)
SELECT cluster_id, doc_id, n_types,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY n_types DESC, doc_id ASC) AS INT) AS rnk,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY n_types DESC, doc_id ASC) = 1 AS INT) AS kept
FROM labels JOIN quality USING (doc_id)
"""


N_EMB_BLOCKS = 8  # block-tiled self-join granularity: B(B+1)/2 tasks


def embedding_near_dup(t: dict[str, DataFrame]) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.3).

    Exact all-pairs threshold join: ``tiled_cosine_pairs`` over the whole
    corpus as one group, hashed into B = N_EMB_BLOCKS blocks. Each of the
    B(B+1)/2 unordered block pairs is one cogroup task, so nothing is
    collected to the driver and nothing corpus-sized is broadcast —
    communication is the O(n*B) triangle replication (pick B ~ sqrt(cluster
    parallelism); per-task memory is 2*(n/B)*dim doubles, so B also caps the
    working set). The LSH variant below is the sub-quadratic path when
    approximate recall is acceptable; this is the oracle-checkable exact
    baseline.

    Each task prefilters with a BLAS matmul and rescores the survivors with
    ``dot_rows``, the DuckDB oracle's summation order; the norms come from
    ``_doubled``'s pandas UDF, which sums in the same order. The emitted
    cosines are therefore bit-identical to the SQL twin.
    """
    from databricks_observe_spark.operators.similarity import _doubled

    pairs = tiled_cosine_pairs(
        _doubled(t), F.lit(0), F.lit(N_EMB_BLOCKS), COSINE_NEAR_DUP
    )
    return pairs.select(
        F.col("a").alias("vec_a"),
        F.col("b").alias("vec_b"),
        round_half_up("cosine", 6).alias("cosine_r"),
    )


EMBEDDING_NEAR_DUP_SQL = f"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, {norm_sql_unrolled('v', EMB_DIM)} AS nrm FROM e0)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sql_round_half_up(f"{dot_sql_unrolled('a.v', 'b.v', EMB_DIM)} / (a.nrm * b.nrm)", 6)} AS cosine_r
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE {dot_sql_unrolled('a.v', 'b.v', EMB_DIM)} / (a.nrm * b.nrm) >= {COSINE_NEAR_DUP}
"""


SIMHASH_HAM_MAX = 2
# 16-bit fingerprint split 6/5/5: any pair within hamming distance 2 leaves
# at least one band untouched (pigeonhole), so band-equality candidate
# generation is RESULT-EXACT for the <= 2 threshold — no recall loss.
_SIMHASH_BANDS = [(1024, 64), (32, 32), (1, 32)]  # (divisor, modulus)


def simhash_near_dup_pairs(t: dict[str, DataFrame]) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance <= 2.

    Banded self-join on fingerprint segments (6/5/5 bits): candidates are
    pairs agreeing on at least one band — by pigeonhole every pair within
    hamming 2 qualifies, so the banded join is exact, and work stays
    proportional to band collisions, never n^2. Verification is one
    integer xor + bit_count per candidate. The end-to-end shape a 100 TB
    simhash dedup runs: fingerprint table (one shuffle), banded candidate
    join (one shuffle on 8-byte band keys), constant-time verify.
    """
    # carry the (16-bit) fingerprint THROUGH the band rows: the hamming
    # verify then runs inline on the join output — no candidate-sized
    # distinct, no join back to the fingerprint table. The distinct runs
    # last, on verified pairs only (a pair can agree on several bands).
    members = band_members(
        simhash_fingerprints(t),
        "doc_id",
        [
            (i, (F.col("simhash") / F.lit(div)).cast("bigint") % F.lit(mod))
            for i, (div, mod) in enumerate(_SIMHASH_BANDS)
        ],
        carry=("simhash",),
    )
    return (
        band_candidates(members, "doc_a", "doc_b")
        .withColumn("hamming", F.expr("CAST(bit_count(simhash_a ^ simhash_b) AS INT)"))
        .filter(F.col("hamming") <= SIMHASH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


SIMHASH_NEAR_DUP_PAIRS_SQL = (
    "WITH fp AS (" + SIMHASH_FINGERPRINTS_SQL + ")\n"
    "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,\n"
    "       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming\n"
    "FROM fp a JOIN fp b ON a.doc_id < b.doc_id\n"
    f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}"
)


def embedding_near_dup_lsh(t: dict[str, DataFrame]) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.3) with LSH-bucketed
    candidate generation — the sub-quadratic companion to the exact
    ``embedding_near_dup``.

    Candidates are pairs sharing a sign-LSH bucket in ANY hash table
    (operators/similarity.py index; at scale: a partition-local self-join
    per bucket instead of the block-tiled all-pairs). Survivors are
    re-scored with the oracle-order exact dot, so emitted cosines are
    bit-identical to the SQL mirror — which applies the same bucket
    constraint, making the query exactly checkable while honestly
    reporting LSH recall semantics (pairs in no common bucket are out of
    scope for BOTH engines).
    """
    from databricks_observe_spark.operators.similarity import _bucketed, _emb_members

    e = _bucketed(t)
    cand = band_candidates(_emb_members(t), "vec_a", "vec_b").distinct()
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb"))
    paired = cand.join(ea, on="vec_a").join(eb, on="vec_b")

    def rescore(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):
                continue
            av = _np.array(pdf["va"].tolist(), dtype=_np.float64)
            bv = _np.array(pdf["vb"].tolist(), dtype=_np.float64)
            cos = dot_rows(av, bv) / (pdf["na"].to_numpy() * pdf["nb"].to_numpy())
            keep = cos >= COSINE_NEAR_DUP
            yield _pd.DataFrame(
                {
                    "vec_a": pdf["vec_a"].to_numpy()[keep],
                    "vec_b": pdf["vec_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    scored = arrow_map(
        paired, rescore, "vec_a bigint, vec_b bigint, cosine double"
    )
    return scored.select(
        "vec_a", "vec_b", round_half_up("cosine", 6).alias("cosine_r")
    )


def _emb_lsh_sql() -> str:
    from databricks_observe_spark.operators.similarity import (
        TABLES_PLANES,
        _bucket_sql,
    )

    return f"""
WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, v, {norm_sql_unrolled('v', EMB_DIM)} AS nrm FROM e0),
eb AS (
  SELECT vec_id, v, nrm,
         {_bucket_sql('v', TABLES_PLANES[0])} AS bucket0,
         {_bucket_sql('v', TABLES_PLANES[1])} AS bucket1
  FROM e
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {sql_round_half_up(f"{dot_sql_unrolled('a.v', 'b.v', EMB_DIM)} / (a.nrm * b.nrm)", 6)} AS cosine_r
FROM eb a JOIN eb b
  ON a.vec_id < b.vec_id AND (a.bucket0 = b.bucket0 OR a.bucket1 = b.bucket1)
WHERE {dot_sql_unrolled('a.v', 'b.v', EMB_DIM)} / (a.nrm * b.nrm) >= {COSINE_NEAR_DUP}
"""


EMBEDDING_NEAR_DUP_LSH_SQL = _emb_lsh_sql()


CHUNK_TOKENS = 16  # fixed chunk width for paragraph-level dedup


def chunk_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Chunk-level (paragraph-style) exact dedup report: split each doc
    into fixed 16-token chunks, hash each chunk, and report per document
    how many of its chunks also appear verbatim in at least one OTHER
    document.

    This is the ccnet/C4 "drop duplicated paragraphs" primitive adapted to
    a corpus without line structure. Only 16-byte chunk digests ever
    shuffle (never text); the shared-chunk set comes from one groupBy on
    the digest. At 100 TB the digest->n_docs table is the reusable
    intermediate you'd write per corpus snapshot.
    """
    toks = doc_tokens(t)
    # materialized once: three plan branches consume this frame (shared,
    # flagged, per_doc) and Catalyst does not CSE across branches — the
    # chunk explode + per-chunk md5 is the operator's dominant cost and
    # would otherwise run three times (same rule as _shingled's memo).
    chunks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, cast(ceil(size(w) / {float(CHUNK_TOKENS)})"
                f" AS int)), j -> md5(concat_ws(' ',"
                f" slice(w, (j - 1) * {CHUNK_TOKENS} + 1, {CHUNK_TOKENS}))))"
            )
        ).alias("h"),
    ).localCheckpoint()
    shared = (
        chunks.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("h")
    )
    flagged = chunks.join(shared, on="h", how="left_semi")
    per_doc = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    dup = flagged.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_dup_chunks"))
    return (
        per_doc.join(dup, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_dup_chunks", F.lit(0)).alias("n_dup_chunks"),
            round_half_up(
                F.coalesce("n_dup_chunks", F.lit(0)) / F.col("n_chunks"), 6
            ).alias("dup_chunk_frac"),
        )
    )


CHUNK_DEDUP_SQL = f"""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ch AS (
  SELECT doc_id, md5(array_to_string(w[(j.j - 1) * {CHUNK_TOKENS} + 1 : j.j * {CHUNK_TOKENS}], ' ')) AS h
  FROM tok CROSS JOIN LATERAL
    (SELECT unnest(range(1, CAST(ceil(len(w) / {float(CHUNK_TOKENS)}) AS BIGINT) + 1)) AS j) j
),
shared AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS n FROM ch GROUP BY h) WHERE n >= 2),
per_doc AS (SELECT doc_id, COUNT(*) AS n_chunks FROM ch GROUP BY doc_id),
dup AS (SELECT doc_id, COUNT(*) AS n_dup_chunks FROM ch SEMI JOIN shared USING (h) GROUP BY doc_id)
SELECT doc_id, n_chunks, COALESCE(n_dup_chunks, 0) AS n_dup_chunks,
       {sql_round_half_up('COALESCE(n_dup_chunks, 0) * 1.0 / n_chunks', 6)} AS dup_chunk_frac
FROM per_doc LEFT JOIN dup USING (doc_id)
"""


CONTAM_K = 4  # n-gram width for eval-overlap checking
EVAL_MOD = 13  # doc_id % EVAL_MOD == 0 -> held-out eval set


@index("contam_gram_index")
def _contam_grams(t: dict[str, DataFrame]) -> DataFrame:
    """Memoized ``(doc_id, s)`` word-``CONTAM_K``-gram expansion of the
    corpus — the decontamination gram index. Build-once by contract (at
    scale: a written table maintained alongside ingest, like the shingle
    and tf indexes), so it lives in the declared setup phase; the one
    regex-explode pass is the only corpus-sized work in the
    contamination path."""
    return (
        documents_split(t)
        .select("doc_id", F.explode(shingle_regex_expr(CONTAM_K)).alias("s"))
        .localCheckpoint()
    )


@index("contam_eval_set")
def _contam_eval_set(t: dict[str, DataFrame]) -> DataFrame:
    """Memoized DISTINCT eval-side gram set (the benchmark n-grams a real
    decontamination pass holds fixed across corpus versions) — built from
    :func:`_contam_grams` in the same setup phase, so the steady-state
    contamination query is exactly one flag-join-and-aggregate job."""
    return (
        _contam_grams(t)
        .filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("s")
        .dropDuplicates(["s"])
        .withColumn("hit", F.lit(1))
        .localCheckpoint()
    )


def train_split(d: DataFrame) -> DataFrame:
    """The training rows of ``d``: everything outside the held-out eval
    set (doc_id % EVAL_MOD == 0)."""
    return d.filter(F.col("doc_id") % EVAL_MOD != 0)


# DuckDB twin of train_split's predicate
_TRAIN_SQL = f"doc_id % {EVAL_MOD} <> 0"


def contam_counts(t: dict[str, DataFrame]) -> DataFrame:
    """``(doc_id, n_shingles, n_overlap)`` for every training document: its
    distinct word-``CONTAM_K``-gram count and how many of those grams the
    held-out eval set also holds.

    Read off the setup-phase :func:`_contam_grams` index (at 100 TB a
    written decontamination gram table maintained with ingest). The eval
    gram set is small by construction, so it broadcasts: each train gram
    is flagged map-side by a broadcast LEFT join, pruned against the
    eval set before anything shuffles, and ONE map-side-combined per-doc
    aggregate produces both counts from the flagged stream. No gram row
    is shuffled and there is no hits-to-sizes join: the only exchange is
    the doc_id aggregate over per-task partials."""
    flagged = train_split(_contam_grams(t)).join(
        F.broadcast(_contam_eval_set(t)), on="s", how="left"
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("hit").alias("n_overlap"),
    )


# DuckDB twin of contam_counts (a self-contained query, used as a subquery)
_CONTAM_COUNTS_SQL = f"""
WITH csh AS ({shingled_sql(CONTAM_K)}),
cev AS (SELECT DISTINCT shingle FROM csh WHERE doc_id % {EVAL_MOD} = 0)
SELECT doc_id, COUNT(*) AS n_shingles, COUNT(cev.shingle) AS n_overlap
FROM csh LEFT JOIN cev ON csh.shingle = cev.shingle
WHERE {_TRAIN_SQL}
GROUP BY doc_id
"""


def contamination_check(t: dict[str, DataFrame]) -> DataFrame:
    """Train/eval decontamination report: word-4-gram overlap between each
    training document and a held-out eval set (doc_id % 13 == 0), the
    benchmark-leakage check run before a pretraining corpus ships
    (GPT-3 appendix C / PaLM use the same n-gram-collision form).

    The counts are :func:`contam_counts`, so steady-state runs measure
    the flag-and-aggregate, not the regex explode. Only training docs
    with at least one colliding 4-gram are reported (the actionable
    rows).
    """
    return (
        contam_counts(t)
        .filter(F.col("n_overlap") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            round_half_up(F.col("n_overlap") / F.col("n_shingles"), 6).alias(
                "overlap_frac"
            ),
        )
    )


CONTAMINATION_CHECK_SQL = f"""
SELECT doc_id, n_shingles, n_overlap,
       {sql_round_half_up('n_overlap * 1.0 / n_shingles', 6)} AS overlap_frac
FROM ({_CONTAM_COUNTS_SQL})
WHERE n_overlap > 0
"""


# --- Bloom-filter decontamination (the 100-TB form of the eval anti-set) ----

# published filter geometry (a contract, like DRIFT_BIN_WIDTH): m = 2^20
# bits = 128 KiB regardless of eval-set size; k = 3 independent hash
# functions derived as disjoint salted-md5 slices (same
# independent-bits-of-a-cryptographic-hash stance as minhash_expr)
BLOOM_M_BITS = 1 << 20
_BLOOM_WORDS = BLOOM_M_BITS // 64
_BLOOM_TAGS = ("#0", "#1", "#2")
# 2^i masks as int64 literals; i = 63 wraps to the sign bit in two's
# complement (Python's 1 << 63 overflows a signed long literal)
_POW2 = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _bloom_bit(scol: F.Column, tag: str) -> F.Column:
    """Bit position of hash function ``tag`` for one shingle: first 13 hex
    chars (52 bits) of the salted md5, mod m — the repo's cross-engine
    hash idiom (DuckDB twin: ``('0x' || substr(md5(s || tag), 1, 13))::
    BIGINT % m``)."""
    return (
        F.conv(F.substring(F.md5(F.concat(scol, F.lit(tag))), 1, 13), 16, 10)
        .cast("bigint")
        % BLOOM_M_BITS
    )


@index("bloom_eval_words")
def _bloom_filter_words(t: dict[str, DataFrame]) -> list[int]:
    """The eval-set Bloom bitmap: ``_BLOOM_WORDS`` int64 words built
    from :func:`_contam_eval_set` with ONE distinct-bits pass and a
    ``bit_or`` aggregate — ≤16384 (word, bits) rows ever reach the driver,
    a constant bounded by the filter geometry, never by the eval-set or
    corpus size (the house bounded-collect policy)."""
    ev = _contam_eval_set(t)
    bits = ev.select(
        F.explode(
            F.array(*[_bloom_bit(F.col("s"), tag) for tag in _BLOOM_TAGS])
        ).alias("bit")
    ).distinct()
    pow2 = F.lit(_POW2)
    rows = (
        bits.select(
            F.floor(F.col("bit") / 64).cast("int").alias("w"),
            F.get(pow2, (F.col("bit") % 64).cast("int")).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
        .collect()
    )
    words = [0] * _BLOOM_WORDS
    for r in rows:
        words[r["w"]] = r["word"]
    return words


@index("bloom_eval_bitmap")
def _bloom_filter_df(t: dict[str, DataFrame]) -> DataFrame:
    """The built filter as a ONE-ROW relation ``(bm array<bigint>,
    p2 array<bigint>)`` — Spark's idiomatic scalar channel for shipping a
    constant blob to every task is a one-row broadcast (the same shape
    its own runtime Bloom row-filters use via scalar subquery), NOT an
    array literal: ``F.lit(words)`` expands to a CreateArray with 16384
    child expressions, and with six references in the probe tree the
    optimizer crawls ~100k expression nodes per pass — measured 6.8x
    slower end-to-end than this broadcast form on the sf0.1 probe."""
    spark = t["documents"].sparkSession
    return spark.createDataFrame(
        [(_bloom_filter_words(t), _POW2)],
        "bm array<bigint>, p2 array<bigint>",
    ).localCheckpoint()


def bloom_contamination_check(t: dict[str, DataFrame]) -> DataFrame:
    """Bloom-filter decontamination — the 100-TB form of
    :func:`contamination_check`'s broadcast eval-gram anti-set (and of the
    broadcast id-set anti-join in ``operators/pipeline.py`` stage 4): the
    held-out eval grams compress into a FIXED 128 KiB bitmap (m = 2^20
    bits, k = 3 salted-md5 hashes), so the probe side pays three hashes
    and two array lookups per gram with no gram-keyed join at all — at a
    scale where the eval set itself is too large to broadcast as a join
    table, the filter still ships to every executor as a 128 KiB one-row
    broadcast. One-sided error is the contract: no contaminated gram is
    ever missed; false-positive flags (~(1-e^(-kn/m))^k) mark docs for
    the exact re-check, which is why the report column is named
    ``n_bloom_hits``, not ``n_overlap``.

    Cross-engine determinism: bit positions are salted-md5 slices (the
    minhash_expr idiom), so the DuckDB oracle reproduces the EXACT same
    filter — including its false positives — via set-membership over the
    same bit values; the hash match proves the Bloom semantics, not just
    the happy path. Steady-state plan: the one-row broadcast fans onto
    the memoized setup-phase gram index (BroadcastNestedLoopJoin against
    a single row = a per-task constant, no shuffle), then ONE map-side-
    combined per-doc aggregate — nothing gram- or eval-sized ever joins
    or shuffles.
    """
    probe = train_split(_contam_grams(t)).crossJoin(
        F.broadcast(_bloom_filter_df(t))
    )

    def _member(bit: F.Column) -> F.Column:
        word = F.get(F.col("bm"), F.floor(bit / 64).cast("int"))
        mask = F.get(F.col("p2"), (bit % 64).cast("int"))
        return word.bitwiseAND(mask) != 0

    hit = (
        _member(_bloom_bit(F.col("s"), _BLOOM_TAGS[0]))
        & _member(_bloom_bit(F.col("s"), _BLOOM_TAGS[1]))
        & _member(_bloom_bit(F.col("s"), _BLOOM_TAGS[2]))
    )
    return (
        probe.select("doc_id", hit.cast("int").alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("hit").alias("n_bloom_hits"),
        )
        .filter(F.col("n_bloom_hits") > 0)
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            F.floor(
                F.col("n_bloom_hits") * F.lit(10000.0) / F.col("n_shingles")
                + F.lit(0.5)
            ).alias("bloom_bp"),
        )
    )


def _bloom_bit_sql(scol: str, tag: str) -> str:
    """DuckDB twin of :func:`_bloom_bit`."""
    return f"('0x' || substr(md5({scol} || '{tag}'), 1, 13))::BIGINT % {BLOOM_M_BITS}"


BLOOM_CONTAMINATION_CHECK_SQL = f"""
WITH sh AS ({shingled_sql(CONTAM_K)}),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0),
evbits AS (
  SELECT {_bloom_bit_sql('shingle', _BLOOM_TAGS[0])} AS bit FROM ev
  UNION SELECT {_bloom_bit_sql('shingle', _BLOOM_TAGS[1])} FROM ev
  UNION SELECT {_bloom_bit_sql('shingle', _BLOOM_TAGS[2])} FROM ev
),
train AS (SELECT doc_id, shingle FROM sh WHERE {_TRAIN_SQL}),
probe AS (
  SELECT shingle,
         {_bloom_bit_sql('shingle', _BLOOM_TAGS[0])} AS b0,
         {_bloom_bit_sql('shingle', _BLOOM_TAGS[1])} AS b1,
         {_bloom_bit_sql('shingle', _BLOOM_TAGS[2])} AS b2
  FROM (SELECT DISTINCT shingle FROM train)
),
flag AS (
  SELECT shingle,
         CASE WHEN b0 IN (SELECT bit FROM evbits)
               AND b1 IN (SELECT bit FROM evbits)
               AND b2 IN (SELECT bit FROM evbits) THEN 1 ELSE 0 END AS hit
  FROM probe
)
SELECT t.doc_id,
       COUNT(*) AS n_shingles,
       CAST(SUM(f.hit) AS BIGINT) AS n_bloom_hits,
       CAST(FLOOR(SUM(f.hit) * 10000.0 / COUNT(*) + 0.5) AS BIGINT) AS bloom_bp
FROM train t JOIN flag f USING (shingle)
GROUP BY t.doc_id
HAVING SUM(f.hit) > 0
"""


INCR_BATCH_MOD = 10  # doc_id % 10 == 9 -> the "newly ingested" batch


def incremental_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """CDC-shaped ingestion dedup: admit a newly-crawled batch against the
    existing corpus — the daily-ingest primitive of a training-data
    pipeline (dedup the delta, never re-shuffle the base).

    The fixture split models the feed: docs with ``doc_id % 10 == 9`` are
    the incoming batch, the rest the standing corpus. Decisions per new
    doc, in order: ``dup_of_corpus`` (digest already in the base),
    ``dup_in_batch`` (digest seen earlier in the same batch — first
    arrival wins), else ``admit``.

    Scale shape: everything joins on 16-byte digests; the standing corpus
    contributes ONLY its distinct-digest set (at 100 TB: a bucketed digest
    index you probe, not a corpus scan — here derived inline from the same
    table), and the incoming batch is the small side of every exchange.
    """
    digests = t["documents"].select(
        "doc_id", F.md5("text").alias("h"), (F.col("doc_id") % INCR_BATCH_MOD == 9).alias("is_new")
    )
    base = digests.filter(~F.col("is_new")).select("h").distinct()
    batch = digests.filter(F.col("is_new"))
    first_in_batch = batch.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        batch.join(base.withColumn("in_base", F.lit(1)), on="h", how="left")
        .join(first_in_batch, on="h")
        .select(
            "doc_id",
            F.col("h").alias("text_hash"),
            F.when(F.col("in_base").isNotNull(), "dup_of_corpus")
            .when(F.col("doc_id") != F.col("first_doc"), "dup_in_batch")
            .otherwise("admit")
            .alias("decision"),
        )
    )


INCREMENTAL_DEDUP_SQL = f"""
WITH d AS (SELECT doc_id, md5(text) AS h, doc_id % {INCR_BATCH_MOD} = 9 AS is_new
           FROM documents),
base AS (SELECT DISTINCT h FROM d WHERE NOT is_new),
batch AS (SELECT * FROM d WHERE is_new),
firsts AS (SELECT h, MIN(doc_id) AS first_doc FROM batch GROUP BY h)
SELECT b.doc_id, b.h AS text_hash,
       CASE WHEN base.h IS NOT NULL THEN 'dup_of_corpus'
            WHEN b.doc_id <> f.first_doc THEN 'dup_in_batch'
            ELSE 'admit' END AS decision
FROM batch b LEFT JOIN base ON b.h = base.h JOIN firsts f ON b.h = f.h
"""


# --- normalization dedup (near-exact variants) ------------------------------


def _norm_hash() -> F.Column:
    """md5 of the normalized ``text``: lowercased, every non-alphanumeric
    run collapsed to ONE space, trimmed — the standard
    punctuation-insensitive canonical form, in one fused regex pass
    (regex CPU dominates the normalized-dedup stage, and one automaton
    pass over each text is half the work of strip-then-collapse)."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    return F.md5(norm)


def normalized_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """Normalization-based near-exact dedup: hash the :func:`_norm_hash`
    canonical form — the cheap first rung of the dedup ladder real
    pipelines run before any fuzzy method (it catches
    case/punctuation/whitespace variants exact_dedup misses, at
    exact_dedup's cost: one shuffle on a 16-byte digest).

    canonical = min doc_id per normalized digest; ``n_variants`` > 1 rows
    are the removable near-exact duplicates. Still CPU-bound, so it reads
    the split memo (``documents_split``) like the other heavy text ops.
    """
    return (
        documents_split(t)
        .select("doc_id", _norm_hash().alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


NORMALIZED_DEDUP_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_variants
FROM documents
GROUP BY 1
"""


def normalized_survivors(docs: DataFrame, *cols) -> DataFrame:
    """The canonical document of each normalized digest — the min doc_id,
    as in :func:`normalized_dedup` — as ``(doc_id, *cols)`` rows. ``cols``
    are evaluated before the one digest shuffle, so a caller that needs
    only derived per-doc columns never shuffles the text."""
    w = Window.partitionBy("norm_hash").orderBy("doc_id")
    return (
        docs.select("doc_id", *cols, _norm_hash().alias("norm_hash"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "norm_hash")
    )


# --- URL canonicalization dedup (rung 0 of the web-corpus dedup ladder) ------

# canonical-identity moduli: two docs share a canonical URL iff they share
# (source, lang, doc_id % PAGE_MOD, doc_id % REF_MOD); the surface-form
# mess (case, ports, slashes, param order, tracking params, fragments) is
# driven off n_chars so the SAME canonical page arrives under DIFFERENT
# raw spellings — the exact situation URL canonicalization exists for.
# Chosen against the fixture's source=doc_id%20 layout so refetches exist
# at EVERY sf (50/7 made every URL unique below sf0.1): ~53% of fetches
# are refetches of an already-seen canonical URL, at all three SFs.
URL_PAGE_MOD = 10
URL_REF_MOD = 3

# deterministic messy-URL derivation (fixture plumbing, NOT the operator:
# the corpus has no URL column, so both engines derive an identical raw
# `url` from (doc_id, source, lang, n_chars) — same stance as the
# multimodal fake-format path, which is likewise hash-checked end to end)
_MESSY_URL_SQL = f"""
  SELECT doc_id,
         (CASE WHEN n_chars % 4 = 0 THEN 'HTTPS' ELSE 'https' END) || '://'
         || (CASE WHEN n_chars % 3 = 0 THEN 'WWW.' || upper(source || '.example.com')
                  ELSE source || '.example.com' END)
         || (CASE WHEN n_chars % 5 = 0 THEN ':443'
                  WHEN n_chars % 5 = 1 THEN ':8080' ELSE '' END)
         || '/docs' || (CASE WHEN n_chars % 6 = 0 THEN '//' ELSE '/' END)
         || lang || '/page-' || CAST(doc_id % {URL_PAGE_MOD} AS VARCHAR)
         || (CASE WHEN n_chars % 2 = 0 THEN '/' ELSE '' END)
         || '?'
         || (CASE WHEN n_chars % 2 = 0
                  THEN 'ref=' || CAST(doc_id % {URL_REF_MOD} AS VARCHAR) || '&v=2'
                  ELSE 'v=2&ref=' || CAST(doc_id % {URL_REF_MOD} AS VARCHAR) END)
         || (CASE WHEN n_chars % 3 = 1 THEN '&utm_source=feed&utm_medium=rss' ELSE '' END)
         || (CASE WHEN n_chars % 3 = 2 THEN '#sec-1' ELSE '' END) AS url
  FROM documents
"""


def _messy_url_col() -> F.Column:
    """Spark twin of ``_MESSY_URL_SQL``'s ``url`` expression."""
    page = (F.col("doc_id") % URL_PAGE_MOD).cast("string")
    ref = (F.col("doc_id") % URL_REF_MOD).cast("string")
    m2, m3 = F.col("n_chars") % 2, F.col("n_chars") % 3
    m4, m5, m6 = F.col("n_chars") % 4, F.col("n_chars") % 5, F.col("n_chars") % 6
    host = F.concat(F.col("source"), F.lit(".example.com"))
    return F.concat(
        F.when(m4 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(m3 == 0, F.concat(F.lit("WWW."), F.upper(host))).otherwise(host),
        F.when(m5 == 0, F.lit(":443"))
        .when(m5 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/docs"),
        F.when(m6 == 0, F.lit("//")).otherwise(F.lit("/")),
        F.col("lang"),
        F.lit("/page-"),
        page,
        F.when(m2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?"),
        F.when(m2 == 0, F.concat(F.lit("ref="), ref, F.lit("&v=2"))).otherwise(
            F.concat(F.lit("v=2&ref="), ref)
        ),
        F.when(m3 == 1, F.lit("&utm_source=feed&utm_medium=rss")).otherwise(
            F.lit("")
        ),
        F.when(m3 == 2, F.lit("#sec-1")).otherwise(F.lit("")),
    )


# tracking params stripped by the canonicalizer (the industry-standard
# click-attribution noise set; extend per crawl source). ONE param
# pattern, two anchors: per-param (the filter lambda sees one param at a
# time) and within-query (the tracked flag sees the whole query region —
# which is why the key char class excludes '&' too: a plain [^=]* could
# consume a param boundary and fire on 'utm_x&a=1', a valueless utm key
# the per-param filter correctly leaves intact).
_URL_TRACKING_PARAMS = "(utm_[^=&]*|fbclid|gclid)="
_URL_TRACKING_RE = "^" + _URL_TRACKING_PARAMS
_URL_TRACKED_QUERY_RE = "(^|&)" + _URL_TRACKING_PARAMS

# the query region: everything after the FIRST '?' that precedes any '#'.
# The lazy ^[^#]*? prefix pins the match before the fragment — an
# unanchored \?([^#]*) would let a '?' INSIDE the fragment parse as a
# query when no real query exists, leaking fragment content into the
# canonical URL (the randomized differential test generates exactly that
# shape).
_URL_QUERY_RE = r"^[^#]*?\?([^#]*)"


def _url_hostport_expr(url: F.Column) -> F.Column:
    return F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)


def _url_host_expr(url: F.Column) -> F.Column:
    """Canonical host: lowercased, ``www.`` prefix stripped, port dropped —
    shared by :func:`canonical_url_expr` and :func:`url_host_stats` so the
    host spec lives in one place."""
    return F.regexp_replace(
        F.lower(F.regexp_extract(_url_hostport_expr(url), r"^([^:]*)", 1)),
        r"^www\.",
        "",
    )


def _url_query_expr(url: F.Column) -> F.Column:
    return F.regexp_extract(url, _URL_QUERY_RE, 1)


def canonical_url_expr(url: F.Column) -> F.Column:
    """RFC-3986-shaped URL canonicalization entirely in whole-stage-codegen
    string expressions (zero UDFs): lowercase scheme+host, strip a ``www.``
    host prefix and the scheme's default port, collapse duplicate path
    slashes and the trailing slash, drop tracking query params
    (``utm_*``/``fbclid``/``gclid``), sort the surviving params, drop the
    fragment. The crawl-dedup rung BEFORE content hashing: two fetches of
    the same page under different URL spellings never reach the text
    deduper (reference-shaped anchor: the format-normalization CASE at
    dagster_databricks_observer/assets/dlt_assets.py:114-119 — same
    "canonicalize the surface form before keying" move, applied to URLs).

    Every step is a regexp/array built-in, so Catalyst keeps the whole
    chain in one codegen stage; the per-URL param lists are tiny and
    bounded, and ``rlike`` inside the higher-order ``filter`` lambda stays
    JVM-side.
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = _url_hostport_expr(url)
    host = _url_host_expr(url)
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (
        (port != "")
        & ~((scheme == "https") & (port == "443"))
        & ~((scheme == "http") & (port == "80"))
    )
    path = F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(F.regexp_replace(path, "/{2,}", "/"), "/$", "")
    query = _url_query_expr(url)
    qcanon = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.rlike(_URL_TRACKING_RE),
            )
        ),
        "&",
    )
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(qcanon != "", F.concat(F.lit("?"), qcanon)).otherwise(F.lit("")),
    )


def url_canonical_dedup(t: dict[str, DataFrame]) -> DataFrame:
    """URL-canonicalization dedup — the missing FIRST rung of the dedup
    ladder for a web corpus (before :func:`normalized_dedup`'s content
    normalization and :func:`exact_dedup`'s raw hashing): collapse every
    raw URL spelling to its canonical form, then keep the first fetch per
    canonical URL. ``n_variants > 1`` rows are refetches a crawler should
    never have handed to the content pipeline.

    Scale shape: identical to the other ladder rungs — ONE projection
    (the codegen canonicalization chain) feeding ONE shuffle keyed on the
    canonical URL string (bounded length by construction; at 100 TB the
    groupBy key would be ``md5(canonical_url)`` to fix the shuffle width
    at 16 bytes, kept as the readable string here because the canonical
    form IS the report column).
    """
    canon = canonical_url_expr(_messy_url_col())
    return (
        t["documents"]
        .select(F.col("doc_id"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_variants"),
        )
    )


# the SQL spec lives ONCE (the _JACCARD_TAIL_SQL precedent): parse + norm
# CTEs and the recompose expression are shared verbatim by the dedup and
# host-stats oracles, so a spec change cannot silently diverge the twins
_URL_NORM_SQL = f"""parts AS (
  SELECT doc_id,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS hostport,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
         regexp_extract(url, '{_URL_QUERY_RE}', 1) AS query0
  FROM raw
),
norm AS (
  SELECT doc_id, scheme, query0,
         regexp_replace(lower(regexp_extract(hostport, '^([^:]*)', 1)),
                        '^www\\.', '') AS host,
         regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
         regexp_replace(regexp_replace(path0, '/{{2,}}', '/', 'g'), '/$', '') AS path,
         array_to_string(list_sort(list_filter(string_split(query0, '&'),
             p -> p <> '' AND NOT regexp_matches(p, '{_URL_TRACKING_RE}'))), '&') AS qcanon
  FROM parts
)"""

_CANON_URL_SQL = """scheme || '://' || host
       || CASE WHEN port <> '' AND NOT (scheme = 'https' AND port = '443')
                              AND NOT (scheme = 'http' AND port = '80')
               THEN ':' || port ELSE '' END
       || path
       || CASE WHEN qcanon <> '' THEN '?' || qcanon ELSE '' END"""

URL_CANONICAL_DEDUP_SQL = f"""
WITH raw AS ({_MESSY_URL_SQL}),
{_URL_NORM_SQL}
SELECT {_CANON_URL_SQL} AS canonical_url,
       MIN(doc_id) AS canonical_doc_id,
       COUNT(*) AS n_variants
FROM norm
GROUP BY 1
"""


def url_host_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-host crawl-health report — the ops dashboard next to
    :func:`url_canonical_dedup`: for every canonical host, how many
    fetches arrived, how many DISTINCT canonical pages they collapse to,
    the refetch rate (fetches that re-crawled an already-seen page — the
    crawler budget being burned), and how much of the feed carries
    tracking params (a proxy for link-farm/campaign traffic a curation
    pipeline often down-weights). Rates in integer basis points.

    The tracked flag is scoped to the QUERY REGION (the same
    ``_URL_QUERY_RE`` extraction the canonicalizer uses), so a
    tracking-shaped key inside a fragment — which the canonicalizer
    drops — never counts as campaign traffic; the two reports agree on
    what "tracked" means by construction.

    Scale shape: one projection (the same codegen canonicalization
    chain) feeding ONE host-keyed aggregate; hosts are web-scale small
    (millions) next to fetches (trillions), so the aggregate output is
    always the tiny side. COUNT(DISTINCT canonical_url) per host is a
    two-level hash aggregate on (host, url) — no Expand, no second scan.
    """
    url = _messy_url_col()
    host = _url_host_expr(url)
    tracked = _url_query_expr(url).rlike(_URL_TRACKED_QUERY_RE).cast("int")
    return (
        t["documents"]
        .select(
            host.alias("host"),
            canonical_url_expr(url).alias("canonical_url"),
            tracked.alias("tracked"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.countDistinct("canonical_url").alias("n_pages"),
            F.sum("tracked").alias("n_tracked"),
        )
        .select(
            "host",
            "n_fetches",
            "n_pages",
            (F.col("n_fetches") - F.col("n_pages")).alias("n_refetches"),
            F.floor(
                (F.col("n_fetches") - F.col("n_pages"))
                * F.lit(10000.0)
                / F.col("n_fetches")
                + F.lit(0.5)
            ).alias("refetch_bp"),
            "n_tracked",
            F.floor(
                F.col("n_tracked") * F.lit(10000.0) / F.col("n_fetches")
                + F.lit(0.5)
            ).alias("tracked_bp"),
        )
    )


URL_HOST_STATS_SQL = f"""
WITH raw AS ({_MESSY_URL_SQL}),
{_URL_NORM_SQL},
canon AS (
  SELECT host,
         CASE WHEN regexp_matches(query0, '{_URL_TRACKED_QUERY_RE}')
              THEN 1 ELSE 0 END AS tracked,
         {_CANON_URL_SQL} AS canonical_url
  FROM norm
)
SELECT host,
       COUNT(*) AS n_fetches,
       CAST(COUNT(DISTINCT canonical_url) AS BIGINT) AS n_pages,
       CAST(COUNT(*) - COUNT(DISTINCT canonical_url) AS BIGINT) AS n_refetches,
       CAST(FLOOR((COUNT(*) - COUNT(DISTINCT canonical_url)) * 10000.0
                  / COUNT(*) + 0.5) AS BIGINT) AS refetch_bp,
       CAST(SUM(tracked) AS BIGINT) AS n_tracked,
       CAST(FLOOR(SUM(tracked) * 10000.0 / COUNT(*) + 0.5) AS BIGINT) AS tracked_bp
FROM canon
GROUP BY 1
"""


# --- corpus health + training-order operators --------------------------------


def per_source_dedup_rate(t: dict[str, DataFrame]) -> DataFrame:
    """Per-source duplicate-rate report — the corpus-health dashboard a
    curation pipeline watches to find which crawl/feed is polluting the
    mix (a source whose dup rate spikes gets throttled before training).

    One scan, one shuffle keyed on (source, digest): COUNT(DISTINCT md5)
    is a two-level hash aggregate; the rate is reported in integer basis
    points so the row hashes identically cross-engine.
    """
    return (
        t["documents"]
        .select("source", F.md5(F.col("text")).alias("h"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("h").alias("n_uniq"),
        )
        .select(
            "source",
            "n_docs",
            "n_uniq",
            (F.col("n_docs") - F.col("n_uniq")).alias("n_dups"),
            F.floor(
                (F.col("n_docs") - F.col("n_uniq"))
                * F.lit(10000.0)
                / F.col("n_docs")
                + F.lit(0.5)
            ).alias("dup_bp"),
        )
    )


PER_SOURCE_DEDUP_RATE_SQL = """
SELECT source, n_docs, n_uniq, n_docs - n_uniq AS n_dups,
       CAST(FLOOR((n_docs - n_uniq) * 10000.0 / n_docs + 0.5) AS BIGINT) AS dup_bp
FROM (
  SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT md5(text)) AS n_uniq
  FROM documents GROUP BY source
)
"""


def source_overlap_matrix(t: dict[str, DataFrame]) -> DataFrame:
    """Source x source n-gram containment matrix — which crawls/feeds
    mirror each other. ``containment(a,b) = |grams(a) n grams(b)| /
    |grams(a)|`` over distinct word-3-grams; the cross-SOURCE companion
    to :func:`per_source_dedup_rate` (within-source) and
    :func:`contamination_check` (corpus-vs-eval): a pair whose
    containment spikes means one feed is republishing the other, and the
    mix weights double-count it.

    Scale shape: NO gram-keyed self-join (that squares the corpus). The
    shared shingle index collapses to the distinct ``(source, gram)``
    frame, grams fold to one bounded row each via map-side-combinable
    ``collect_set(source)`` — the set is capped by the source cardinality
    (a corpus constant, ~dozens), so a boilerplate gram shared by every
    source cannot skew a reducer — and the pair stream explodes from
    those bounded sets straight into the source^2-sized count aggregate.
    The DIAGONAL of that same aggregate ((a,a) appears once per gram of
    a) is exactly ``|grams(a)|``, so one pass yields both the numerator
    matrix and the denominators — no second walk over the gram frame.
    Integer basis points, zero floats until the report divide.
    """
    # digest-keyed shuffles (the duplicated_spans discipline): the
    # distinct and the gram fold shuffle the 16-byte md5 of the gram,
    # never the gram TEXT — same equality classes, a fraction of the
    # bytes per row at any corpus scale
    sg = (
        _shingled(t)
        .join(t["documents"].select("doc_id", "source"), on="doc_id")
        .select("source", F.unhex(F.md5("shingle")).alias("g"))
        .distinct()
    )
    src_sets = sg.groupBy("g").agg(F.collect_set("source").alias("ss"))
    matrix = (
        src_sets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ss",
                        lambda a: F.transform(
                            "ss",
                            lambda b: F.struct(
                                a.alias("src_a"), b.alias("src_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # the denominator |grams(a)| is the DIAGONAL of the matrix, picked
    # per src_a row group by a window over the source^2-sized frame —
    # one chain instead of a checkpointed split + broadcast join back
    # (the frame is bounded by source-cardinality^2, so the window sees
    # dozens of rows at any corpus scale). A src_a with
    # any pair row always has its diagonal (its gram set contains it).
    return (
        matrix.withColumn(
            "n_a",
            F.max(
                F.when(F.col("src_a") == F.col("src_b"), F.col("n_common"))
            ).over(Window.partitionBy("src_a")),
        )
        .filter(F.col("src_a") != F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            F.floor(
                F.col("n_common") * F.lit(10000.0) / F.col("n_a") + F.lit(0.5)
            ).alias("containment_bp"),
        )
    )


SOURCE_OVERLAP_MATRIX_SQL = f"""
WITH sh AS ({shingled_sql(3)}),
sg AS (
  SELECT DISTINCT d.source, s.shingle
  FROM sh s JOIN documents d ON s.doc_id = d.doc_id
),
matrix AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM sg a JOIN sg b ON a.shingle = b.shingle
  GROUP BY 1, 2
),
na AS (SELECT src_a AS source, n_common AS n_a FROM matrix WHERE src_a = src_b)
SELECT src_a, src_b, n_common, n_a,
       CAST(FLOOR(n_common * 10000.0 / n_a + 0.5) AS BIGINT) AS containment_bp
FROM matrix JOIN na ON matrix.src_a = na.source
WHERE src_a <> src_b
"""


# training-order shuffle: shard count and epoch seed are corpus constants
EPOCH_SHUFFLE_SHARDS = 8
EPOCH_SHUFFLE_SEED = "epoch1"


def epoch_shuffle(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic global training-order shuffle — every epoch the
    loader needs a reproducible pseudo-random permutation of the corpus
    that does NOT depend on row position, partitioning, or an RNG stream
    (so any worker can recompute any shard independently).

    Order key = md5(seed || ':' || doc_id); changing the seed gives a
    fresh permutation. Scale shape: NO global sort — documents hash into
    ``EPOCH_SHUFFLE_SHARDS`` shards by the high hex digits and are
    ordered *within* shard by the remaining digits (one shuffle + one
    per-partition sort; shards stream to trainer workers independently,
    which is how epoch shuffles actually run at 100 TB).
    """
    key = F.md5(F.concat(F.lit(EPOCH_SHUFFLE_SEED + ":"), F.col("doc_id").cast("string")))
    shard = (
        F.conv(F.substring(key, 1, 4), 16, 10).cast("bigint")
        % EPOCH_SHUFFLE_SHARDS
    )
    df = t["documents"].select(
        "doc_id", key.alias("k"), shard.alias("shard")
    )
    w = Window.partitionBy("shard").orderBy(F.substring("k", 5, 28), F.asc("doc_id"))
    return df.select(
        "doc_id",
        "shard",
        F.row_number().over(w).alias("pos"),
    )


EPOCH_SHUFFLE_SQL = f"""
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard
                               ORDER BY substr(k, 5, 28), doc_id) AS INT) AS pos
FROM (
  SELECT doc_id, k,
         CAST(('0x' || substr(k, 1, 4))::BIGINT AS BIGINT) % {EPOCH_SHUFFLE_SHARDS} AS shard
  FROM (
    SELECT doc_id,
           md5('{EPOCH_SHUFFLE_SEED}:' || CAST(doc_id AS VARCHAR)) AS k
    FROM documents
  )
)
"""


# --- LSH index-quality eval (the ann_recall twin for text dedup) ------------


def lsh_dedup_recall(t: dict[str, DataFrame]) -> DataFrame:
    """Recall/precision of the MinHash-LSH banded candidate pairs against
    the exact n-gram-Jaccard ground truth — the index-quality gate a
    pipeline runs before trusting the bucketed (production) dedup path
    at scale, exactly as :func:`similarity.ann_recall` gates the vector
    index. One row: pair counts and integer basis-point recall/precision
    (a true pair counts as found when LSH banding surfaced it at all).

    Both sides are the memoized indexes (shingle table, signatures), and
    ``recall_counts`` reads all three counts in one pass over the two pair
    sets, never a corpus re-scan. Empty ground truth reads as vacuous
    recall 10000.
    """
    counts = recall_counts(
        ngram_jaccard_pairs(t), minhash_lsh_pairs(t), ("doc_a", "doc_b")
    )
    return counts.select(
        F.col("n_true").alias("n_true_pairs"),
        F.col("n_found").alias("n_candidate_pairs"),
        "n_hit",
        F.expr(
            "CASE WHEN n_true = 0 THEN CAST(10000 AS BIGINT)"
            " ELSE (n_hit * 10000) DIV n_true END"
        ).alias("recall_bp"),
        F.expr(
            "CASE WHEN n_found = 0 THEN CAST(10000 AS BIGINT)"
            " ELSE (n_hit * 10000) DIV n_found END"
        ).alias("precision_bp"),
    )


LSH_DEDUP_RECALL_SQL = f"""
WITH exact AS ({NGRAM_JACCARD_PAIRS_SQL}),
cand AS ({MINHASH_LSH_PAIRS_SQL}),
n AS (
  SELECT (SELECT COUNT(*) FROM exact) AS n_true_pairs,
         (SELECT COUNT(*) FROM cand) AS n_candidate_pairs,
         (SELECT COUNT(*) FROM exact e JOIN cand c
            ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b) AS n_hit
)
SELECT n_true_pairs, n_candidate_pairs, n_hit,
       CASE WHEN n_true_pairs = 0 THEN CAST(10000 AS BIGINT)
            ELSE n_hit * 10000 // n_true_pairs END AS recall_bp,
       CASE WHEN n_candidate_pairs = 0 THEN CAST(10000 AS BIGINT)
            ELSE n_hit * 10000 // n_candidate_pairs END AS precision_bp
FROM n
"""


# --- Exact duplicated-span triage (ExactSubstr-class dedup) -----------------

SPAN_K = 15  # tokens per exact-match window


def duplicated_spans(t: dict[str, DataFrame]) -> DataFrame:
    """Per-document exact duplicated-span coverage: the triage report of
    ExactSubstr-class dedup (flag verbatim 15-token runs that
    appear in MORE THAN ONE document — boilerplate, licenses, templated
    intros — the duplication mode shingle-Jaccard under-weights because
    one long shared run is only a handful of distinct shingles).

    For every document with at least one cross-document duplicated
    window: total {SPAN_K}-token windows, windows whose exact token run
    occurs in >= 2 distinct documents, and coverage in integer basis
    points. A downstream pass would cut or down-weight the flagged
    spans; this report is the gate that says where.

    Scale plan — natural-key shuffles only, nothing quadratic, and the
    hot-gram case handled by AGGREGATION, not a window:
    (1) rolling windows generated SHUFFLE-FREE from the memoized token
    index: per document, ``transform(sequence(...), i -> md5(concat_ws(
    slice(w, i, SPAN_K))))`` emits every full window in one map-side
    pass (a posexplode + doc-keyed window formulation would shuffle and
    sort every token position first, for the identical gram multiset);
    (2) cross-document flag per gram as ``min(doc_id) < max(doc_id)``
    — exactly the >= 2-distinct-docs predicate (within-doc repeats give
    min == max), and min/max partial-aggregate MAP-SIDE, so a
    boilerplate gram shared by millions of documents collapses to one
    row per map task before it ever shuffles. (A window formulation —
    dense_rank/max over partitionBy(h) — was rejected: window
    partitions cannot be split, so the hot gram would serialize into
    one task; the aggregate+join form is AQE-skew-splittable.)
    (3) the flag joins back onto the gram rows on the SAME gram-hash
    partitioning the aggregate produced, then the per-doc rollup. Only
    16-byte md5 digests shuffle — the gram TEXT never leaves its map
    task.
    """
    toks = doc_tokens(t)
    # materialized once: both the flag aggregate and the join-back
    # consume this frame, and Catalyst does not CSE across branches —
    # without the checkpoint the gram-generation pass (the operator's
    # dominant cost) runs twice.
    grams = (
        toks.filter(F.size("w") >= SPAN_K)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - F.lit(SPAN_K - 1)),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("w", i, F.lit(SPAN_K)))
                    ),
                )
            ).alias("h"),
        )
        .localCheckpoint()
    )
    flags = grams.groupBy("h").agg(
        (F.min("doc_id") < F.max("doc_id")).alias("is_dup")
    )
    marked = grams.join(flags, on="h")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.col("is_dup").cast("bigint")).alias("n_dup_grams"),
        )
        .filter(F.col("n_dup_grams") >= 1)
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            # integer DIV: exact on both engines, no double rounding
            F.expr("(n_dup_grams * 10000) DIV n_grams").alias("dup_span_bp"),
        )
    )


DUPLICATED_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
),
g AS (
  SELECT doc_id,
         md5(string_agg(tok, ' ') OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND {SPAN_K - 1} FOLLOWING)) AS h,
         COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND {SPAN_K - 1} FOLLOWING) AS klen
  FROM toks
),
grams AS (SELECT doc_id, h FROM g WHERE klen = {SPAN_K}),
shared AS (
  SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       CAST(SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS dup_span_bp
FROM grams LEFT JOIN shared s USING (h)
GROUP BY doc_id
HAVING SUM(CASE WHEN s.h IS NOT NULL THEN 1 ELSE 0 END) >= 1
"""


# A-ES weighted sampling: winners kept per source stratum, and the exact
# double u = (h52 + 1) / (2^52 + 1) in (0, 1) — both the 52-bit hash
# integer and the denominator are exactly representable, so the division
# is a single correctly-rounded IEEE op with identical bits on every
# engine.
AES_K = 10
_AES_U_DENOM = 4503599627370497.0  # 2^52 + 1


def _aes_lnu_scaled():
    """``ln(u) * 1e6`` for the A-ES key, PRE-floor — the one libm step in
    the pipeline. Shared by the operator (which floors it to micro-units)
    and the floor-margin guard ``test_aes_ln_floor_margin`` (which checks
    the boundary distance of exactly this expression), so the guard can
    never silently drift from the operator's actual arithmetic."""
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10
    ).cast("bigint")
    u = (h + F.lit(1)).cast("double") / F.lit(_AES_U_DENOM)
    return F.log(u) * F.lit(1000000.0)


def weighted_sample_topk(t: dict[str, DataFrame]) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis-Spirakis A-ES): the
    top-``AES_K`` documents per source, selected with probability
    proportional to weight (``n_chars``) — the quality/length-weighted
    sampler a curation pipeline uses where ``deterministic_sample`` is
    its uniform cousin, with the same content-stable reproducibility
    guarantee: no RNG, no row positions, identical winners on every
    engine, run, and partitioning.

    A-ES keeps the k largest ``u^(1/w)`` (u uniform per row); ordering by
    ``u^(1/w)`` is ordering by ``ln(u)/w``, which avoids the pow. The
    cross-engine determinism ladder, every step bit-exact except one:
    u is an exact IEEE division of two exactly-representable integers;
    ``ln(u)`` — the ONE libm step engines may round differently by an
    ulp — is immediately floored to integer micro-units, with the floor
    margin VERIFIED at the fixtures (`test_aes_ln_floor_margin`, the
    same guard as the unigram/bm25 quantize-before-log path: an ulp of
    slack ~4e-9 micro vs an asserted boundary distance > 1e-3); the
    final key is fl(int)/fl(int), correctly rounded and identical.

    100 TB stance: one projection over the documents scan (no joins, the
    md5/ln arithmetic is whole-stage-codegen JVM), one shuffle on the
    stratum key, and Spark pushes the rank<=k predicate into the sort as
    WindowGroupLimit, so each task retains k rows per stratum — never a
    global sort, never a driver-side collect. Skewed strata split via
    AQE exactly like any per-key top-k.

    Reference anchor: SURVEY.md §2.6 (top-k per key) x BASELINE.json's
    curation north star; complements ``stratified_sample`` (per-language
    fractions) and ``hash_split`` (stable partitions).
    """
    lnu_micro = F.floor(_aes_lnu_scaled()).cast("bigint")
    key = lnu_micro.cast("double") / F.col("n_chars").cast("double")
    w = Window.partitionBy("source").orderBy(F.col("aes_key").desc(), "doc_id")
    return (
        t["documents"]
        .select("source", "doc_id", "n_chars", key.alias("aes_key"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= AES_K)
    )


WEIGHTED_SAMPLE_TOPK_SQL = f"""
WITH keyed AS (
  SELECT source, doc_id, n_chars,
         CAST(CAST(FLOOR(ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                              AS BIGINT) + 1) / {_AES_U_DENOM!r}) * 1000000.0) AS BIGINT)
              AS DOUBLE) / CAST(n_chars AS DOUBLE) AS aes_key
  FROM documents
)
SELECT source, doc_id, n_chars, aes_key, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY aes_key DESC, doc_id)
            AS rank
  FROM keyed
) WHERE rank <= {AES_K}
"""
