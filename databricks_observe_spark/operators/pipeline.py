"""End-to-end curation pipeline — the composed form of the corpus
curation stages, as ONE DataFrame DAG.

Each stage is the standalone operator's own stage function (and each
oracle stage its own SQL fragment), so a stage's thresholds, hash and
window live in one module and the pipeline cannot drift from the
registered, oracle-checked operator. Reference anchor: the E2/E3
pipeline assets (``assets/dlt_assets.py:136-188``,
``assets/customer_assets.py:8-28``), whose rebuild rule (SURVEY.md §1.3)
is "one declarative job, not N chained jobs".

Stage order (each stage consumes the previous stage's survivors):

1. normalized-hash dedup survivorship (``dedup.normalized_survivors``;
   subsumes exact dedup: an exact duplicate is also a normalized
   duplicate). The per-doc signals (``text.signal_cols``) are derived in
   the same projection, so the digest shuffle carries no text.
2. near-duplicate cluster survivorship (``dedup.near_dup_dropped``, off
   the memoized setup-phase cluster labels)
3. quality gate (``text.reject_reason`` is NULL; a row-local predicate)
4. decontamination — the held-out eval set leaves the corpus
   (``dedup.train_split``), and any train doc whose word-4-gram overlap
   with the eval set exceeds half its shingles drops. The counts are
   ``dedup.contam_counts`` over the setup-phase gram indexes; the
   main path anti-joins the broadcast contaminated-id set
5. language-stratified downsample of the CLEAN corpus
   (``text.stratified_keep``: per-language counts of the stage-4
   survivors, not of the raw corpus)
6. sequence packing (``text.pack_bins``) over the sampled survivors; the
   per-bin rollup is the pipeline's output

Scale shape: the corpus-sized path is ONE linear flow with two
corpus-sized shuffles (the normalized digest and the packing language
window); the contaminated-id side is one map-side-combined doc_id
aggregate over the gram index, and every join on the main path
broadcasts a small side (dropped cluster members, contaminated ids,
language counts). The plan gate
(tests/test_plans.py::test_curation_pipeline_e2e_composes_without_redundant_shuffles)
pins the exchange budget and the no-sort-merge-join property.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from databricks_observe_spark.operators.dedup import (
    NORMALIZED_DEDUP_SQL,
    _CONTAM_COUNTS_SQL,
    _LABELS_CTES_SQL,
    _TRAIN_SQL,
    contam_counts,
    near_dup_dropped,
    normalized_survivors,
    train_split,
)
from databricks_observe_spark.operators.text import (
    _REJECT_REASON_SQL,
    _SIGNALS_SQL,
    pack_bins,
    pack_bins_sql,
    reject_reason,
    signal_cols,
    stratified_keep,
    stratified_keep_sql,
)
from databricks_observe_spark.sources.tables import documents_split

# drop a train doc when more than half its distinct 4-grams collide with
# the eval set (integer comparison n_overlap * 2 > n_shingles — no float
# rate enters the plan); partial overlap stays, the report operator
# (contamination_check) is where partial overlap is surfaced
CONTAM_DROP_NUM = 2


def curation_pipeline_e2e(
    t: dict[str, DataFrame], checkpoint: bool = True
) -> DataFrame:
    """normalize -> dedup -> quality -> decontaminate -> stratify -> pack,
    one DataFrame DAG (module docstring has the full stage contract).

    ``checkpoint=False`` skips the stage-4 materialization so the plan
    gate can inspect the full un-truncated DAG (every join broadcast, no
    sort-merge fallback anywhere in the composition).
    """
    s1 = normalized_survivors(documents_split(t), "lang", *signal_cols())
    s2 = s1.join(F.broadcast(near_dup_dropped(t)), on="doc_id", how="left_anti")
    s3 = s2.filter(reject_reason().isNull())
    contaminated = (
        contam_counts(t)
        .filter(F.col("n_overlap") * CONTAM_DROP_NUM > F.col("n_shingles"))
        .select("doc_id")
    )
    s4 = train_split(s3).join(
        F.broadcast(contaminated), on="doc_id", how="left_anti"
    )
    # the clean survivor frame feeds two consumers (the language counts
    # and the sampled row flow); materialize it ONCE so the plan doesn't
    # replay the dedup+decontamination subtree per consumer. The frame is
    # ids + per-doc stats — no text — and at scale this is exactly the
    # stage boundary a production pipeline stages to storage between the
    # curation and packing phases.
    if checkpoint:
        s4 = s4.localCheckpoint()
    return pack_bins(stratified_keep(s4))


CURATION_PIPELINE_E2E_SQL = f"""
WITH RECURSIVE {_LABELS_CTES_SQL},
signals AS (
  SELECT doc_id, lang, {_SIGNALS_SQL}
  FROM (SELECT *, string_split(text, ' ') AS toks FROM documents)
),
clean AS (
  SELECT * FROM signals
  WHERE doc_id IN (SELECT canonical_doc_id FROM ({NORMALIZED_DEDUP_SQL}))
    AND doc_id NOT IN (SELECT doc_id FROM labels WHERE doc_id <> cluster_id)
    AND {_REJECT_REASON_SQL} IS NULL
    AND {_TRAIN_SQL}
    AND doc_id NOT IN (
      SELECT doc_id FROM ({_CONTAM_COUNTS_SQL})
      WHERE n_overlap * {CONTAM_DROP_NUM} > n_shingles
    )
),
sampled AS ({stratified_keep_sql('clean')})
{pack_bins_sql('sampled')}
"""
