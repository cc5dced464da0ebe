"""ln-site boundary diagnostic: every hashed ``ln``/``pow`` grid (the
``ln_micro``/``pow_nano`` twins of ``functions/rounding.py`` over a
``nano_grid`` input) must keep its attained fixture points far from a
floor boundary, so a cross-engine / cross-libm ``ln`` or ``pow``
divergence fails loudly here as a named test instead of silently as a
red oracle row.

Seven hashed families, checked at BOTH fixture scales — sf0.001 (the
pytest scale) and sf0.01 (the scale the differential oracle runs at):

- DSIR micro grid — feeds dsir_importance_weights, score_calibration,
  score_auc(_parts).
- unigram-logprob nano grid — also feeds perplexity_buckets.
- drift nano grid — feeds drift_psi and streaming_drift_psi.
- unigram-kl lr-micro grid (the ln floors to integer micro BEFORE the
  p-weighting, so this grid is the query's ONLY engine-variant site).
- bm25 idf grid over the probe-query tokens.
- mixture-temperature pow grid — feeds mixture_weights_temperature.
- tfidf product-form canary (a site that keeps its own ``ln``: the
  direct tf*ln floor — measured safe, kept visible).

Every quantization fragment is IMPORTED from the operator modules
(``sql_nano_grid`` compositions / ``_drift_nano_sql``) — the canary
queries embed the byte-identical SQL text the shipped oracles use, so
a formula change re-derives the attained grid here automatically
instead of passing vacuously against a stale copy (the CTE aliases
below deliberately match each oracle's).

Margin rule (error-relative, house form): a 1-ulp ln/pow error moves
the scaled pre-floor value by at most ``|y| * 1.2e-16``; we assert every
attained point clears its nearest integer by > 1e4x that bound —
four orders of magnitude above the worst plausible libm spread.
Observed minima: DSIR 2.6e6 ulp (sf0.001) / 2.6e7 (sf0.01);
logprob ~4e7; drift 2.6e5 / 4.4e6; kl lr 2.5e5 / 2e6; bm25 6e8;
mixture pow 2e6 / 2.2e4 (the tightest family); tfidf 5.7e7.

Pure DuckDB + math — no SparkSession.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from databricks_observe_spark.operators.events import (
    DRIFT_BIN_WIDTH,
    DRIFT_N_BINS,
    DRIFT_SPLIT_TS,
    _drift_nano_sql,
)
from databricks_observe_spark.functions.rounding import sql_pow_nano
from databricks_observe_spark.operators.text import (
    BM25_QUERIES,
    MIXTURE_ALPHA,
    _BM25_IDF_NANO_SQL,
    _KL_NANO_SQL,
    _MIXTURE_NANO_SQL,
    _UNIGRAM_NANO_SQL,
    _dsir_nano_sql,
    DSIR_BUCKETS,
    DSIR_TARGET_LANG,
)

SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
MARGIN_ULP = 1e4  # asserted floor; observed minima are 2.2e4+ (above)


def _assert_margins(ys: list[float], family: str) -> None:
    assert ys, family
    for y in ys:
        fr = y - math.floor(y)
        dist = min(fr, 1.0 - fr)
        err = max(abs(y) * 1.2e-16, 1e-12)
        assert dist > MARGIN_ULP * err, (family, y, dist, err)


def _ln_micro_ys(nanos: list) -> list[float]:
    """The pre-floor micro values for a 1e-9-grid nano set — the exact
    expression the oracles floor: ln(nano/1e9)*1e6 + 0.5."""
    return [math.log(float(n) / 1e9) * 1e6 + 0.5 for n in nanos]


@pytest.fixture(scope="module", params=SF_DIRS)
def con(request):
    c = duckdb.connect()
    for tbl in ("documents", "events"):
        c.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM "
            f"read_parquet('{request.param}/{tbl}.parquet')"
        )
    yield c
    c.close()


def test_dsir_micro_grid_boundary_distance(con):
    # CTE shapes and aliases mirror DSIR_IMPORTANCE_WEIGHTS_SQL; the
    # nano expressions ARE the oracle's (same _dsir_nano_sql calls).
    nanos = [
        r[0]
        for r in con.execute(
            f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
tfb AS (
  SELECT tf.tf, d.lang,
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
totals AS (SELECT CAST(SUM(t_cnt) AS DOUBLE) AS t_total,
                  CAST(SUM(r_cnt) AS DOUBLE) AS r_total FROM counts)
SELECT DISTINCT {_dsir_nano_sql('t_cnt', 't_total')} AS nano
FROM counts CROSS JOIN totals
UNION
SELECT DISTINCT {_dsir_nano_sql('r_cnt', 'r_total')} AS nano
FROM counts CROSS JOIN totals
"""
        ).fetchall()
    ]
    _assert_margins(_ln_micro_ys(nanos), "dsir")


def test_unigram_logprob_nano_grid_boundary_distance(con):
    nanos = [
        r[0]
        for r in con.execute(
            f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
ctf AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY tok),
tot AS (SELECT CAST(SUM(ctf) AS DOUBLE) AS total FROM ctf)
SELECT DISTINCT {_UNIGRAM_NANO_SQL} AS nano FROM ctf CROSS JOIN tot
"""
        ).fetchall()
    ]
    _assert_margins(_ln_micro_ys(nanos), "logprob")


def test_drift_nano_grid_boundary_distance(con):
    # CTEs mirror DRIFT_PSI_SQL; the nano expressions ARE the oracle's
    # (_drift_nano_sql). NOTE: the drift oracle takes ln of the nano
    # INTEGER itself, not nano/1e9 — same boundary set shifted by the
    # constant ln(1e9), asserted on the oracle's own form here.
    nanos = [
        v
        for r in con.execute(
            f"""
WITH ev AS (
  SELECT event_type,
         LEAST(GREATEST(FLOOR(value / {DRIFT_BIN_WIDTH}), 0),
               {DRIFT_N_BINS - 1}) AS bin,
         CAST(ts < TIMESTAMP '{DRIFT_SPLIT_TS}' AS INT) AS is_ref
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT event_type, bin, CAST(SUM(is_ref) AS BIGINT) AS ref_n,
         CAST(SUM(1 - is_ref) AS BIGINT) AS cur_n
  FROM ev GROUP BY 1, 2
),
totals AS (
  SELECT event_type, CAST(SUM(ref_n) AS BIGINT) AS ref_total,
         CAST(SUM(cur_n) AS BIGINT) AS cur_total
  FROM counts GROUP BY event_type
),
grid AS (
  SELECT t.event_type, b.bin, t.ref_total, t.cur_total
  FROM totals t CROSS JOIN (
    SELECT unnest(generate_series(0, {DRIFT_N_BINS - 1})) AS bin) b
),
filled AS (
  SELECT g.event_type, g.bin, g.ref_total, g.cur_total,
         COALESCE(c.ref_n, 0) AS ref_n, COALESCE(c.cur_n, 0) AS cur_n
  FROM grid g LEFT JOIN counts c
    ON g.event_type = c.event_type AND g.bin = c.bin
)
SELECT DISTINCT {_drift_nano_sql('ref_n', 'ref_total')} AS pn,
                {_drift_nano_sql('cur_n', 'cur_total')} AS qn
FROM filled
"""
        ).fetchall()
        for v in r
    ]
    ys = [math.log(float(n)) * 1e6 + 0.5 for n in set(nanos)]
    _assert_margins(ys, "drift")


def test_unigram_kl_lr_micro_grid_boundary_distance(con):
    """kl's only engine-variant op is this ln grid (observed minima 2.5e5
    ulp at sf0.001, 2e6 at sf0.01); a direct p*ln*1e12 floor measured a
    worst attained margin of only 1.66x the propagated error at sf0.01."""
    nanos = [
        r[0]
        for r in con.execute(
            f"""
WITH toks AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, n, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2, 3),
cf AS (SELECT tok, COUNT(*) AS cf FROM toks GROUP BY tok),
tot AS (SELECT COUNT(*) AS total FROM toks)
SELECT DISTINCT {_KL_NANO_SQL} AS nano
FROM tf JOIN cf USING (tok) CROSS JOIN tot
"""
        ).fetchall()
    ]
    _assert_margins(_ln_micro_ys(nanos), "kl_lr")


def test_bm25_idf_grid_boundary_distance(con):
    probe = sorted({tok for _, toks in BM25_QUERIES for tok in toks})
    toklist = ", ".join(f"'{tok}'" for tok in probe)
    # aliases s (stats) and d (df frame) match _bm25_sql's
    nanos = [
        r[0]
        for r in con.execute(
            f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
d AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks
      WHERE tok IN ({toklist}) GROUP BY tok),
s AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT DISTINCT {_BM25_IDF_NANO_SQL} AS nano FROM d CROSS JOIN s
"""
        ).fetchall()
    ]
    _assert_margins(_ln_micro_ys(nanos), "bm25")


def test_mixture_pow_grid_boundary_distance(con):
    """The temperature weights floor pow(share_nano/1e9, alpha)*1e9: the
    Python mirror must reproduce the oracle's floors, with margin."""
    rows = con.execute(
        f"""
WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total FROM c),
g AS (SELECT DISTINCT {_MIXTURE_NANO_SQL} AS nano FROM c CROSS JOIN t)
SELECT nano, {sql_pow_nano('nano / 1000000000.0', MIXTURE_ALPHA)} AS pa FROM g
"""
    ).fetchall()
    ys = [math.pow(float(n) / 1e9, MIXTURE_ALPHA) * 1e9 + 0.5 for n, _ in rows]
    assert [math.floor(y) for y in ys] == [pa for _, pa in rows]
    _assert_margins(ys, "mixture_pow")


def test_tfidf_product_grid_boundary_distance(con):
    """tfidf's hashed score floors tf * ln(n_docs/df) * 1e6 directly (a
    product-form floor) — measured safe (min 5.7e7 ulp, the tf
    multipliers are small and the attained set tiny), so no hardening
    needed; this canary keeps it visible. No
    nano grid exists for this family (the ln input is the raw exact
    ratio), so the formula is mirrored inline from tfidf_keywords."""
    rows = con.execute(
        """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT DISTINCT tf.tf, df.df, n.n_docs
FROM tf JOIN df USING (tok) CROSS JOIN n
"""
    ).fetchall()
    ys = [tf_ * math.log(nd / df_) * 1e6 + 0.5 for tf_, df_, nd in rows]
    _assert_margins(ys, "tfidf")
