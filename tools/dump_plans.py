"""Regenerate PLANS.md: formatted physical plans for representative queries.

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COMMENTARY = {
    "flagship_us_customers": (
        "Both dimension joins are BroadcastHashJoin; the `r_name = 'AMERICA'` "
        "predicate is pushed into the region scan and only nation keys from "
        "that region reach the probe. The customer scan reads 5 of 5 needed "
        "columns (pruned), never shuffles."
    ),
    "pricing_summary": (
        "Single scan with the shipdate predicate pushed to parquet, partial "
        "(map-side) HashAggregate before one AQE-coalesced exchange, final "
        "aggregate on 4 groups. Decimal sums keep the result "
        "order-independent."
    ),
    "local_supplier_revenue": (
        "The only shuffle is lineitem |x| orders; customer/supplier/nation/"
        "region all broadcast. The c_nationkey = s_nationkey residual rides "
        "on the supplier broadcast join exactly as written."
    ),
    "user_sessions": (
        "events scan -> one exchange on user_id -> sort -> session-window "
        "aggregation inside the partition. At 100 TB this is the minimal "
        "shape: one shuffle keyed by the session entity."
    ),
    "latest_update_per_entity": (
        "updates derivation is a projection over the events scan (no "
        "materialization); ranking window sorts within the entity partition "
        "after a single exchange; rn = 1 filter prunes immediately."
    ),
    "embedding_near_dup": (
        "Block-tiled exact threshold join (functions/vectors.py:"
        "tiled_cosine_pairs): each row is hashed into one of 8 blocks and "
        "copied by a Generate (explode of a sequence) to the left side of "
        "block pairs (k, k..7) and the right side of (0..k, k); one "
        "FlatMapCoGroupsInPandas scores each of the 36 block pairs (BLAS "
        "prefilter + oracle-order exact rescore). No pair table, no join; "
        "nothing corpus-sized is collected or broadcast."
    ),
    "ann_bruteforce_topk": (
        "Single MapInArrow scan (worker-reusing runner, functions/arrowmap.py) of the checkpointed norm table against the "
        "broadcast 10-row query matrix — no join operator at all; the only "
        "exchange feeds the per-query ranking window."
    ),
    "quality_filter": (
        "Shuffle-free: the text_stats projection and the keep/reject CASE "
        "fuse into one WholeStageCodegen span over the documents scan."
    ),
    "ivf_ann_topk": (
        "IVF probe shape: candidates come from an equi-join of the "
        "assigned-list index against the broadcast (query, list) probe "
        "table — a partition-pruned lookup at scale — then one Arrow "
        "rescore pass and the per-query ranking window. No all-pairs join."
    ),
    "chunk_dedup": (
        "Chunk digests explode from the token index; shared-chunk "
        "membership is a LeftSemi join on the 16-byte digest (text never "
        "shuffles); two small per-doc aggregates close it out."
    ),
    "contamination_check": (
        "The eval 4-gram set is the BroadcastExchange side of a LeftOuter "
        "flagging join over the setup-phase gram index; ONE "
        "map-side-combined per-doc aggregate reads both the shingle count "
        "and the overlap count off the flagged stream — no gram row "
        "shuffles twice, no hits-to-sizes join, and the corpus never "
        "re-explodes at query time."
    ),
    "sequence_packing": (
        "One hash-partitioned window per lang computes the running token "
        "offset; the bin rollup is a partial+final aggregate. No global "
        "sort, no single-partition stage."
    ),
    "heavy_hitter_tokens": (
        "The corpus-wide top-20 plans as TakeOrderedAndProject (per-task "
        "heaps merged on the driver) after a map-side-combined document-"
        "frequency aggregate; the only Window runs over the 20 surviving "
        "rows. The full vocabulary never funnels through one reducer."
    ),
    "kmeans_assign": (
        "One Arrow-batched pass (MapInArrow since r21) against the broadcast K x 64 "
        "codebook assigns every vector: no join, no shuffle of the "
        "embedding payload, constant driver traffic. The iterative "
        "kmeans_clusters form repeats this E-step and adds a map-side-"
        "combined posexplode aggregate whose output is K*64 rows."
    ),
    "incremental_dedup": (
        "The admission decision joins the incoming batch against the "
        "standing corpus's distinct digest set and the batch's own "
        "first-arrival table — every exchange keys on a 16-byte md5, "
        "never document text, so ingest cost scales with the delta."
    ),
    "stratified_sample": (
        "The keep decision is an exact integer comparison against two "
        "broadcast sides (per-language counts, scalar min): one corpus "
        "scan, zero shuffles of document rows."
    ),
    "unigram_kl": (
        "Two map-side-combined aggregates (doc-term, corpus-term) meet in "
        "a broadcast join; per-term contributions are rounded and summed "
        "as DECIMAL so the per-doc KL is partitioning-independent. The "
        "corpus grand total is a scalar-aggregate branch broadcast as one "
        "row (r22): its only SinglePartition exchange carries one partial "
        "sum per map task — the full vocabulary never funnels through one "
        "reducer."
    ),
    "semantic_dedup": (
        "SemDeDup: one Arrow E-step pass against the broadcast codebook "
        "assigns clusters; a window over cluster counts its rows, and "
        "tiled_cosine_pairs (the same join as embedding_near_dup) splits "
        "each cluster into ceil(size / SEMDEDUP_BLOCK_CAP) hash blocks and "
        "scores each (cluster, block-pair) in one FlatMapCoGroupsInPandas "
        "task — work scales with sum(cluster_size^2), per-task memory is "
        "capped, no corpus-level pair join ever forms, and building the "
        "DataFrame runs no job; the assignment table is memoized — at "
        "scale a written table maintained beside the corpus."
    ),
    "column_histograms": (
        "ANALYZE-style stats from ONE table scan: the (cid, value) "
        "aggregate (column as a tinyint ordinal — 1 shuffled byte vs a "
        "~15-byte name) is materialized once (the local stand-in for the "
        "ANALYZE intermediate a pipeline writes to storage), then a "
        "per-col stats aggregate broadcast-joins back and the equi-width "
        "bucket histogram derives per distinct value, weighted by its "
        "count — everything after the scan is distinct-pairs-sized."
    ),
    "simhash_near_dup_pairs": (
        "Banded simhash self-join with the fingerprint carried through "
        "the band rows: hamming verification (xor + bit_count) runs "
        "inline on the join output and distinct applies to verified "
        "pairs only — one shuffle on the band key, no candidate-sized "
        "distinct, no join back to the fingerprint table."
    ),
    "kmeans_clusters": (
        "Fixed-point Lloyd: inputs quantized to a 1e-6 grid (binary-value "
        "rounding), each iteration one Arrow pass against the broadcast "
        "centroids emitting K integer partial-sum rows per partition — "
        "exact, order-independent combine; the final summary is two "
        "map-side-combined aggregates over the assignment plus a "
        "broadcast majority join. Bit-reproducible, so the full loop is "
        "oracle-checked."
    ),
    "describe_detail": (
        "DESCRIBE DETAIL from the file INDEX: the binaryFile source "
        "lists + stats the backing files (content column pruned, one row "
        "per file), so cost scales with file count, never row count; "
        "describe_detail and table_files_meta share one memoized 10-row "
        "per-table stats aggregate, and the catalog enrichment side "
        "broadcasts."
    ),
    "compaction_plan": (
        "OPTIMIZE-style small-file packing planned from the same "
        "binaryFile file INDEX: one window (partitioned by table, file "
        "count-sized) assigns each file a running-sum bin — table DATA "
        "is never scanned, so the plan costs what a metadata query costs."
    ),
    "schema_drift": (
        "Catalog-vs-storage diff: BOTH sides are catalog-sized metadata "
        "(parquet footer reads bounded by table count — the same probe "
        "the reference makes — and the information_schema model), so the "
        "full-outer diff computes driver-side and emits ONE local "
        "relation: a single tiny job, where a distributed diff of two "
        "driver-resident frames planned several. The oracle DESCRIBEs "
        "the registered views — no filesystem path in the SQL, valid at "
        "any sf dir."
    ),
    "zorder_key": (
        "Z-order layout: the Morton key is 32 pure-integer bit terms "
        "(whole-stage codegen, no UDF); file assignment range-partitions "
        "on the z-prefix and ntiles within each range — the production "
        "write shape (sort by z, cut files), parallel across ranges with "
        "no global-window funnel."
    ),
    "run_output_lookup": (
        "S11 point read: the 1-row probe key (min entity) broadcasts, "
        "the updates scan is pruned by the hash-join probe, and only one "
        "entity's rows reach the top-1 sort."
    ),
    "media_features": (
        "Multimodal feature extraction: blobs stay on executors, decode "
        "runs in an Arrow-batched kernel (mapInArrow via functions/arrowmap.py) with an explicit schema, and "
        "the array posexplodes to scalar (dim, value) rows — "
        "driver-canonicalizable and fully oracle-checked (features are "
        "sha256-derived)."
    ),
    "hash_split": (
        "Content-stable train/val/test split: a pure per-row projection "
        "over one scan (md5 bucket of the id) — shuffle-free at any "
        "scale, and membership never moves when the corpus grows."
    ),
    "unigram_logprob": (
        "Unigram-LM quality signal: the memoized tf index joins the "
        "vocab-sized corpus-frequency aggregate (AQE broadcasts it when "
        "it fits), per-token logprobs quantize to integer micro-units, "
        "and one groupBy(doc) accumulates exact integer sums — two "
        "shuffles, nothing corpus-squared. The corpus total is a "
        "scalar-aggregate broadcast branch (r22), never a vocab-wide "
        "single-partition window."
    ),
    "dedup_retention": (
        "Quality-aware retention: the label-propagation cluster frame "
        "joins a shuffle-free per-doc integer quality projection; one "
        "row_number window per cluster partition picks the keeper "
        "(quality desc, id asc)."
    ),
    "epoch_shuffle": (
        "Deterministic training-order shuffle with NO global sort: the "
        "md5 order key hash-shards the corpus (one exchange) and the "
        "permutation is a per-shard window sort — shards stream to "
        "trainer workers independently, the actual 100 TB epoch shape."
    ),
    "int8_quantize": (
        "Vector compression summary: higher-order array folds "
        "(aggregate/transform) over the memoized norm table — zero "
        "exchanges, zero Python; the whole operator is a per-row JVM "
        "projection that scales embarrassingly."
    ),
    "scd2_history": (
        "SCD2 gaps-and-islands: lag mark, running-sum island number, "
        "island rollup, and the lead(valid_to) window all cluster on the "
        "entity key — the updates stream crosses the wire once."
    ),
    "value_deciles": (
        "Equal-frequency binning: the ntile window partitions on "
        "event_type and the (event_type, decile) rollup REUSES that "
        "partitioning — Catalyst proves the clustering subsumes the "
        "group keys, so the events stream sees exactly one exchange."
    ),
    "ann_recall": (
        "Index-quality eval: ground truth and LSH candidates share the "
        "memoized norm table and broadcast query matrix; the overlap "
        "join runs on (query, neighbor) pairs — 2x50 rows — so the eval "
        "costs two index probes, not a third scan."
    ),
    "per_source_dedup_rate": (
        "Corpus-health rollup: md5 digests project below the exchange "
        "(the shuffle carries 16-byte hashes, never text), and the "
        "distinct-count runs as a two-level partial aggregate."
    ),
    "textrank_keywords": (
        "PageRank power iteration: the heavy pair-count aggregation runs "
        "once (one corpus shuffle, checkpointed); each iteration joins "
        "the edge table against the BROADCAST vocab-sized rank state and "
        "re-aggregates integer contributions — the plan shown is the "
        "final iteration (earlier rounds are checkpoint-truncated)."
    ),
    "funnel_conversion": (
        "Ordered funnel: both running-min stage windows, the per-user "
        "aggregate, and the final single-row rollup ride ONE hash "
        "exchange of the events stream on user_id — strict temporal "
        "sequencing costs no extra shuffle."
    ),
    "expectations_report": (
        "DLT expectations: every declared constraint folds to a "
        "SUM(CASE) inside one aggregate over one scan (map-side partials "
        "collapse each task to a single row); the per-constraint rows "
        "explode from that one result row, so constraint count never "
        "multiplies the scan."
    ),
    "merge_upsert": (
        "MERGE INTO shape: base and change batch exchange once on the "
        "key for a single full-outer hash join; matched-update, "
        "matched-delete, unmatched-insert, and carry all resolve in the "
        "join's projection — the rewrite-on-merge physical form."
    ),
    "lateness_report": (
        "Distributed prefix scan with a FIXED block count: block size "
        "adapts via a 1-row max-arrival scalar, the within-block running "
        "max runs under a blk-partitioned window, and the exclusive "
        "block-prefix max is a second window over the constant-sized "
        "(<=1024-row) maxima frame, broadcast back — no driver fold, and "
        "the stream is never funneled through a data-sized "
        "single-partition window at any event count."
    ),
    "event_type_pivot": (
        "PIVOT with declared values as conditional aggregation: one "
        "hash-aggregate pair over one scan (Spark's native pivot() "
        "plans a second exchange through pivotfirst — rejected, "
        "measured)."
    ),
    "fuzzy_match_probe": (
        "Fuzzy lookup: the probe set embeds as an array literal, so "
        "the Levenshtein scoring runs per (doc, probe) inside "
        "whole-stage codegen over a single scan — no join operator "
        "in the plan at all."
    ),
    "curation_pipeline_e2e": (
        "The six-stage curation DAG as ONE job, each stage the "
        "standalone operator's own stage function: a single projection "
        "derives the normalized digest and the token signals from one "
        "scan; the corpus-sized path is linear through the digest "
        "window, broadcast anti-joins (cluster tails, contaminated ids), "
        "the quality predicate, the broadcast lang-counts join, and the "
        "packing window; the contaminated-id set aggregates the "
        "setup-phase gram index. The clean survivor frame (ids + stats, "
        "no text) materializes once so no consumer replays the curation "
        "subtree — plan-gated to <=4 exchanges in this shipped form and "
        "broadcast-only joins throughout."
    ),
    "observability_report": (
        "The reference's whole 15-minute observe tick in one job: the "
        "per-table COUNT(*) union is the only data-proportional work "
        "(row-group-metadata-cheap, scheduled concurrently); catalog "
        "enrichment, schema sizes, the memoized 10-row file stats, the "
        "driver-side drift diff, and the file-index compaction bins all "
        "broadcast onto it (explicit hints since r09, plan-gated: no "
        "SortMergeJoin can appear inside the fused build) — one job "
        "replaces the reference's 3N+1 serial remote round-trips."
    ),
    "bm25_scores": (
        "BM25 probe retrieval: the memoized tf index joins the broadcast "
        "probe terms; df/doc-length/corpus-stats are STORED index "
        "statistics (built in setup, like any BM25 index persists them) "
        "riding along as vocab-sized or single-row broadcasts; one "
        "(query, doc) aggregate, then a rank window the optimizer "
        "converts to a partial WindowGroupLimit — each map task ships "
        "at most k rows per query. Integer micro-unit scores, "
        "quantize-before-log idf, nothing corpus-squared."
    ),
    "zone_map_plan": (
        "Data-skipping audit: ONE projection scan of ONLY the clustering "
        "column (ReadSchema is the single shipdate field) feeding one "
        "per-block aggregate whose per-predicate conditional sums ride as "
        "columns; the (predicate, block) rows explode from a literal "
        "struct array AFTER aggregation (r22 — the old 3-row predicate "
        "cross join multiplied the scan by the predicate count; no join "
        "of any kind remains). Blocks are value-range defined — no "
        "global-sort ntile, no single-task window. At 100 TB the same "
        "plan reads per-file footer min/max instead of computing them."
    ),
    "duplicated_spans": (
        "ExactSubstr-class triage: rolling 15-token windows from the "
        "memoized token index via one doc-keyed window pass (bounded "
        "ring-buffer frame); the cross-doc flag is min(doc_id) < "
        "max(doc_id) per gram — partial-aggregated MAP-SIDE, so a hot "
        "boilerplate gram collapses to one row per task before "
        "shuffling, and the flag joins back as a JOIN (AQE-skew-"
        "splittable; a window over the gram hash would serialize the "
        "hot gram into one unsplittable task). Natural-key shuffles "
        "only; 16-byte digests move, never gram text."
    ),
    "lsh_dedup_recall": (
        "Index-quality gate: exact-Jaccard truth and LSH candidates are "
        "both memoized pair sets; the eval is a semi join plus three "
        "1-row aggregates cross-joined by broadcast — two index probes, "
        "never a corpus re-scan."
    ),
    "lineage_closure_deep": (
        "Path-doubling closure over the ~100-deep stress graph: each "
        "round composes the checkpointed closure with its broadcast self "
        "and dedups through one exchange — 8 rounds for depth 103 "
        "(O(log d), asserted), where single-hop BFS needs ~100. The plan "
        "shown is the final round; earlier rounds are "
        "checkpoint-truncated by design."
    ),
    "range_join_incidents": (
        "Interval-containment join WITHOUT a nested loop: the raw "
        "BETWEEN predicate would plan BroadcastNestedLoopJoin "
        "(O(|probe| x |windows|)); instead each fixed-width window "
        "explodes into its covering hour buckets and the join is one "
        "BroadcastHashJoin on the bucket with the containment predicate "
        "as its non-equi residual. Severe-error filters are pushed into "
        "the window-side scan; the probe scan is pruned to three "
        "columns and the JOIN shuffles nothing. The exchanges are the "
        "output aggregate's: the window-side DISTINCT (hours-sized) and "
        "the two-phase exact COUNT DISTINCT of users whose first hop is "
        "keyed (window, user) — swap in approx_count_distinct when "
        "window-x-user cardinality is hot."
    ),
    "time_rollup_multigrain": (
        "Hypertable-style continuous aggregate: ONE events scan feeds "
        "an Expand that fans each row into its hour/day/grand-total "
        "grain tuples map-side, collapsed by a single two-phase "
        "distinct aggregate — every grain from one scan and at most "
        "two exchanges, where per-grain jobs would scan N times."
    ),
    "weighted_sample_topk": (
        "Deterministic A-ES weighted sampling: one 3-column scan (the "
        "text column is never read), whole-stage-codegen md5/ln key "
        "arithmetic, one stratum shuffle, and the rank<=k predicate "
        "pushed into the sort as partial + final WindowGroupLimit — "
        "each task retains k rows per stratum, so there is no global "
        "sort and no full-stratum materialization at any scale."
    ),
    "bpe_apply_merges": (
        "BPE encode: the charset^2-bounded merge table collapses to a "
        "1-row collected array and broadcasts into the aggregate-fold "
        "walk, which runs over the DISTINCT vocabulary (one corpus "
        "explode builds the word-frequency table; the O(len) greedy "
        "walk never touches per-occurrence rows)."
    ),
    "mixture_weights_temperature": (
        "q ~ p^alpha sampling weights: two language-cardinality "
        "aggregates and two broadcast scalar joins — the pow output is "
        "floored to integer nano-units before the normalizing SUM, so "
        "every exchange carries exact integers."
    ),
    "perplexity_buckets": (
        "CCNet tercile bucketing with NO per-doc sort: the per-lang "
        "cumulative window runs over the (lang, score) HISTOGRAM "
        "(distinct-integer-score-sized), and docs join their bucket by "
        "value — the only corpus-sized exchanges are the LM score "
        "aggregate itself and the final value-keyed join."
    ),
    "dsir_importance_weights": (
        "DSIR: train (the 256-bucket target/raw LM aggregate) and score "
        "(per-doc sum) are each ONE corpus-shuffle pass over the "
        "memoized tf index; the log-ratio table broadcasts into the "
        "scoring join, so no corpus row ever repartitions on the "
        "256-value bucket key."
    ),
    "ngram_diversity": (
        "The memoized token index (doc_tokens, the tokenize-once "
        "written table — the Scan ExistingRDD side) broadcast-joins the "
        "(doc_id,source) projection, then unigrams and bigrams leave "
        "ONE Generate as tagged structs; distinctness comes from the "
        "(source,n,gram) partial aggregate — no re-tokenize, no "
        "count_distinct Expand doubling the exploded stream."
    ),
    "drift_psi": (
        "The events scan collapses in one map-side-combined (type,bin) "
        "aggregate, checkpointed ONCE because both the totals rollup "
        "and the broadcast grid fill read it; everything downstream is "
        "type-cardinality arithmetic on exact integer nano/femto units."
    ),
    "ks_drift": (
        "Same checkpoint discipline as drift_psi on a 20x finer grid; "
        "the ECDF prefix window and the max-gap rollup run over the "
        "constant (types x bins) frame in pure-integer cross-product "
        "form — no smoothing, no ln sites at all."
    ),
    "unimax_allocation": (
        "One corpus scan collapses to the checkpointed language-count "
        "frame; the waterfilling closed form (prefix-AND capped flag, "
        "water level, remainder spread) is windows and broadcast joins "
        "over that tiny frame — exact-integer budget exhaustion."
    ),
    "score_auc": (
        "DSIR scores read from the memoized written score table; docs "
        "collapse onto the bounded milli-score grid (|avg lr| <= "
        "ln(1e9) by construction) in one map-side combined aggregate, "
        "so the tie-aware rank window never sees corpus rows. Since "
        "r09 the hashed output is integer-only (auc_micro is one exact "
        "DECIMAL(38,0) integral division, no doubles anywhere); since "
        "r10 it is all-BIGINT — the DECIMAL(38,0) 2*U envelope stays "
        "internal and the output casts down (the r09 driver "
        "localization proved the decimal OUTPUT TYPE was the only "
        "cross-engine divergence)."
    ),
    "source_overlap_matrix": (
        "No gram-keyed self-join: grams fold to bounded collect_set "
        "rows (capped by source cardinality), pairs explode from those "
        "sets into ONE source^2-sized count whose diagonal doubles as "
        "the containment denominator — one pass over the shingle index."
    ),
    "tokenizer_fertility": (
        "The greedy BPE walk lives in the memoized encoded-vocab table "
        "and occurrence weights come from the memoized tf index joined "
        "to the (doc_id,lang) projection — no re-tokenize; the two "
        "vocab-sized frames join and fold to language cardinality."
    ),
    "score_calibration": (
        "Same join discipline as score_auc; the corpus collapses onto "
        "the 5-milli-nat band grid (bounded by the +-ln(1e9) score "
        "range) in one map-side-combined aggregate — no ntile, no "
        "global sort, integer basis points."
    ),
    "corpus_card": (
        "Two deliberate corpus passes — map-side-combined (lang,source) "
        "cell stats plus a two-phase global distinct on the 16-byte "
        "digest; fusing the three COUNT(DISTINCT)s would plan an Expand "
        "multiplying the corpus scan (plan-gated)."
    ),
    "audio_chunking": (
        "Metadata-only chunk plan: one scan, one Generate (the chunk "
        "sequence explode), exact integer PCM byte ranges — no Python, "
        "no blob bytes move; only planned ranges reach a decoder."
    ),
    "rate_anomaly": (
        "The events scan collapses in the checkpointed hourly "
        "aggregate; the (types x hours) grid fill, the trailing-24h "
        "frame, and the decimal-exact cross-multiplied z^2 test all "
        "run on that tiny frame — empty hours are materialized so a "
        "silent feed can alarm."
    ),
    "url_canonical_dedup": (
        "Rung 0 of the dedup ladder: the whole canonicalization chain "
        "(regexp parses, param filter+sort, recompose) is ONE codegen "
        "projection; the only exchange is the aggregate on the "
        "canonical key. No joins, nothing leaves the JVM (plan-gated)."
    ),
    "bloom_contamination_check": (
        "The eval anti-set ships as a fixed 128 KiB ONE-ROW broadcast "
        "(BroadcastNestedLoopJoin against a single row = a per-task "
        "constant), so the gram probe has no keyed join at all — three "
        "salted-md5 bits + two array lookups per gram, then the one "
        "map-side-combined per-doc aggregate (plan-gated)."
    ),
    "url_host_stats": (
        "One scan through the codegen canonicalization chain, then the "
        "COUNT(DISTINCT canonical_url) plans as the two-level "
        "(host, url) -> host hash aggregate — no Expand multiplying the "
        "scan, no joins (plan-gated)."
    ),
    "dedup_threshold_sweep": (
        "Two pair-table-sized aggregates collapse everything onto "
        "<=21-row bucket frames; the 10-row threshold grid theta-joins "
        "those constants (2 BroadcastNestedLoopJoins on tiny frames) — "
        "the sweep never rescans the corpus and never replicates the "
        "pair table per threshold (plan-gated)."
    ),
}


def main() -> None:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as e
    from databricks_observe_spark.session import get_spark

    spark = get_spark("plan-dump")
    qs = e.queries()
    out = [
        "# PLANS — physical plans for representative queries (sf0.01)",
        "",
        "Generated by `python tools/dump_plans.py`. These are the plans the",
        "100 TB design stance commits to — broadcasts for dimensions, pushed",
        "predicates, partial aggregation, one shuffle per natural key",
        "(asserted programmatically in tests/test_plans.py).",
        "",
    ]
    for name, note in COMMENTARY.items():
        df = qs[name](spark, "/root/testdata/sf0.01")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree + scan details, trim the verbose middle
        tree, _, details = plan.partition("\n\n")
        scans = "\n\n".join(
            block
            for block in details.split("\n\n")
            if "Scan parquet" in block.split("\n")[0]
            or "PushedFilters" in block
        )
        out += [f"## {name}", "", note, "", "```", tree.strip()]
        if scans:
            out += ["", scans.strip()]
        out += ["```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
