"""The whole registry, checked in one walk.

The session-scoped ``surface`` fixture (``tests/conftest.py``) builds
every registered query's frame once at sf0.001 (the six streaming
queries run their availableNow micro-batches to completion) and
records, from that one frame, its executed plan (read before
collecting), its schema, its collected rows and its verdict against the
DuckDB oracle (``tools/check_oracle.py:compare``). Walking
``registry.queries()`` is total by construction: a new registration is
checked the moment it is registered. Three tests here assert on the walk
(``tests/test_output_types.py`` lints its output types, and
``tests/test_plans.py`` checks each named plan claim against it):

- **Oracle.** Every query matches its oracle; a failure lists every
  failing query.
- **Plan shape.** Each operator in ``PLAN_ALLOWLIST`` appears in exactly
  the queries listed for it. A new occurrence fails until it is audited
  and listed with its reason; a stale entry fails too, so the allowlist
  cannot rot into a dead list.
- **Plan table.** Every query's plan matches its row of
  ``tests/plan_table.json`` (``tools/dump_plans.py:plan_row``), and each
  row's exchange, SinglePartition-exchange and Python-node totals equal
  the benchmark's own plan reader (``perfbench.layers.plan_counters``).
  A failure lists each changed query with the changed keys only; after
  reviewing the change, ``python tools/dump_plans.py`` rewrites the table.
"""

from __future__ import annotations

import re

from perfbench.layers import plan_counters
from tests.conftest import SF_DIR
from tools.check_oracle import oracle_con
from tools.dump_plans import plan_row, read_table, row_changes


# operator (as it prints in an executed plan) -> the queries allowed to
# contain it, each with why. Measured on the sf0.001 fixture.
PLAN_ALLOWLIST: dict[str, dict[str, str]] = {
    "CartesianProduct": {},
    "BroadcastNestedLoopJoin": {
        "bloom_contamination_check": "the one-row Bloom bitmap fans onto every probe gram",
        "bpe_apply_merges": "the one-row merge-table array fans onto the distinct words",
        "corpus_card": "the one-row distinct-text count joins the one-row rollup",
        "dedup_threshold_sweep": "two theta joins of the 10-row threshold grid onto bucket counts",
        "skew_report": "the one-row total/median stats join the 10 top keys",
        "unigram_kl": "the one-row corpus token total joins the scored rows",
        "unigram_logprob": "the one-row corpus token total joins the scored rows",
        "vocab_coverage": "the one-row kth-frequency cut and the one-row total",
    },
    "SortMergeJoin": {
        "curated_corpus": "anti-join on the dropped near-dups, corpus-sized on duplicated data",
        "merge_upsert": "MERGE is one full-outer join on the key, which cannot broadcast",
        "perplexity_buckets": "docs join the per-(lang, score) tercile table, score-value-sized",
        "topo_levels": "every node LEFT-joins its level; both sides are node-sized",
    },
    "Exchange SinglePartition": {
        "corpus_card": "two one-row aggregates (rollup, distinct texts), combined map-side",
        "curation_pipeline_e2e": "min over the per-lang counts, one row per lang",
        "dsir_importance_weights": "corpus totals over the 256-row bucket table",
        "expectations_report": "the one-row pass/fail aggregate, combined map-side",
        "funnel_conversion": "the one-row funnel totals, combined map-side",
        "lateness_report": "the prefix max over block maxima, one row per block",
        "lsh_dedup_recall": "the one-row recall counts, combined map-side",
        "mixture_weights": "the corpus total over the per-lang counts",
        "mixture_weights_temperature": "the corpus total over the per-lang counts",
        "rate_anomaly": "global hour bounds over the per-type min/max",
        "score_auc": "the rank window over the bounded milli-score grid",
        "score_auc_parts": "the rank window over the bounded milli-score grid",
        "sensor_cursor_roundtrip": "collects the per-key cursor into its one map row",
        "skew_report": "the one-row total/median stats, combined map-side",
        "stratified_sample": "min over the per-lang counts, one row per lang",
        "unigram_kl": "the one-row corpus token total, combined map-side",
        "unigram_logprob": "the one-row corpus token total, combined map-side",
        "unimax_allocation": "the budget waterfill windows over the per-lang frame",
        "vocab_coverage": "the cumulative window over the ~100 top tokens, and the total",
    },
}


def test_every_query_matches_its_oracle(surface):
    failing = {name: p.verdict for name, p in surface.items() if p.verdict}
    assert not failing, f"{len(failing)} queries fail their oracle:\n" + "\n".join(
        f"{name}: " + "; ".join(v[:3]) for name, v in failing.items()
    )



def test_plan_shape(surface):
    problems = []
    for op, allowed in PLAN_ALLOWLIST.items():
        got = {name for name, p in surface.items() if op in p.plan}
        if got - set(allowed):
            problems.append(f"{op} in unlisted queries: {sorted(got - set(allowed))}")
        if set(allowed) - got:
            problems.append(f"stale {op} entries: {sorted(set(allowed) - got)}")
    assert problems == [], "\n".join(problems)



def _totals(row: dict[str, int]) -> dict[str, int]:
    """A row's totals in ``plan_counters`` terms."""
    return {
        "exchanges": sum(
            n for k, n in row.items() if k.startswith(("Exchange ", "BroadcastExchange"))
        ),
        "single_partition_exchanges": row.get("Exchange SinglePartition", 0),
        "python_nodes": sum(
            n for k, n in row.items() if re.search("InPandas|InArrow|EvalPython", k)
        ),
    }


def test_plan_table(surface):
    table = read_table()
    problems = [f"{name}: no row" for name in sorted(surface.keys() - table.keys())]
    problems += [
        f"{name}: row names no registered query"
        for name in sorted(table.keys() - surface.keys())
    ]
    for name in sorted(surface.keys() & table.keys()):
        row = plan_row(surface[name].plan)
        if row != table[name]:
            problems.append(f"{name}: {row_changes(table[name], row)}")
        totals, counters = _totals(row), plan_counters(surface[name].plan)
        if totals != counters:
            problems.append(f"{name}: row totals {totals} != plan_counters {counters}")
    assert not problems, (
        f"{len(problems)} plan table problems:\n" + "\n".join(problems)
        + "\nregenerate: python tools/dump_plans.py"
    )


def test_auc_pair_pandas_surface_is_int64_on_both_engines(tables):
    """The decimal divergence mechanism, pinned shut: for a
    DECIMAL(38,0) column DuckDB's ``.df()`` converts to float64
    (``78724.0``) while Spark's ``toPandas`` yields an object column of
    ``Decimal('78724')`` — identical values, diverging pandas
    canonicalization, so rows and schema match while the hash differs.
    The BIGINT projection must land BOTH engines on int64 on
    that same surface."""
    from databricks_observe_spark.operators.text import (
        SCORE_AUC_PARTS_SQL,
        SCORE_AUC_SQL,
        score_auc,
        score_auc_parts,
    )

    for df in (score_auc(tables), score_auc_parts(tables)):
        pdf = df.toPandas()
        assert all(str(dt) == "int64" for dt in pdf.dtypes), pdf.dtypes

    con = oracle_con(SF_DIR)
    for sql in (SCORE_AUC_SQL, SCORE_AUC_PARTS_SQL):
        ddf = con.execute(sql).df()
        assert all(str(dt) == "int64" for dt in ddf.dtypes), ddf.dtypes
