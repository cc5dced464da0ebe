from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from databricks_observe_spark.operators import dedup as D, similarity as S
from tests.conftest import fresh_context


def test_exact_dedup_partitions_corpus(tables):
    df = D.exact_dedup(tables)
    assert df.agg(F.sum("n_copies")).first()[0] == tables["documents"].count()
    # canonical ids are real doc ids
    docs = {r.doc_id for r in tables["documents"].select("doc_id").collect()}
    assert {r.canonical_doc_id for r in df.collect()} <= docs


def test_jaccard_pairs_bounds(tables):
    rows = D.ngram_jaccard_pairs(tables).collect()
    for r in rows:
        assert 0.5 <= r.jaccard <= 1.0
        assert r.doc_a < r.doc_b


def test_minhash_estimates_track_true_jaccard(tables):
    """LSH candidates with high estimated similarity should be the same
    pairs exact Jaccard flags — the estimator must correlate."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(tables).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in D.minhash_lsh_pairs(tables).collect()
    }
    strong = {p for p, j in exact.items() if j >= 0.8}
    if strong:  # at sf0.001 near-dups may not exist; guard
        found = {p for p, e in est.items() if e >= 0.5}
        assert len(strong & found) / len(strong) >= 0.8


def test_simhash_close_for_near_dups(tables):
    fps = {r.doc_id: r.simhash for r in D.simhash_fingerprints(tables).collect()}
    assert all(0 <= v < 2**16 for v in fps.values())
    exact = [r for r in D.ngram_jaccard_pairs(tables).collect() if r.jaccard >= 0.9]
    for r in exact:
        ham = bin(fps[r.doc_a] ^ fps[r.doc_b]).count("1")
        assert ham <= 4, f"near-identical docs should have close simhash, got {ham}"


def test_ann_bruteforce_shape_and_order(tables):
    rows = S.ann_bruteforce_topk(tables).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(10))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        cos = [r.cosine_r for r in rs]
        assert cos == sorted(cos, reverse=True)
        assert all(r.neighbor_id != q for r in rs)


def test_lsh_buckets_partition_everything(tables):
    df = S.lsh_bucket_stats(tables)
    assert df.agg(F.sum("n_vecs")).first()[0] == tables["embeddings"].count()
    assert all(set(r.bucket) <= {"0", "1"} for r in df.collect())


def test_ann_lsh_recall_vs_bruteforce(tables):
    """Explicit recall gate: 2 tables x 4 planes with 1-bit multiprobe
    measures 0.70-0.72 against brute force at sf0.001/0.01/0.1 on the
    near-random fixture vectors; the 0.6 floor fails on any parameter or
    probe-generation regression while leaving margin for geometry noise."""
    exact = {
        (r.query_id, r.neighbor_id) for r in S.ann_bruteforce_topk(tables).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id) for r in S.ann_lsh_topk(tables).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall collapsed: {recall}"


def test_near_dup_clusters_partition_pairs(tables):
    pairs = D.ngram_jaccard_pairs(tables).collect()
    clusters = D.near_dup_clusters(tables).collect()
    in_pairs = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    members = [int(m) for r in clusters for m in r.members.split(",")]
    # every doc in a pair lands in exactly one cluster
    assert sorted(members) == sorted(in_pairs)
    for r in clusters:
        ms = [int(m) for m in r.members.split(",")]
        assert r.cluster_id == min(ms)
        assert r.cluster_size == len(ms) >= 2


def test_curated_corpus_drops_cluster_tails(tables):
    docs_n = tables["documents"].count()
    clusters = D.near_dup_clusters(tables).collect()
    dropped = sum(r.cluster_size - 1 for r in clusters)
    curated = D.curated_corpus(tables)
    assert curated.count() == docs_n - dropped
    # every cluster canonical survives, every non-canonical is gone
    kept = {r.doc_id for r in curated.select("doc_id").collect()}
    for r in clusters:
        members = [int(m) for m in r.members.split(",")]
        assert r.cluster_id in kept
        assert all(m not in kept for m in members if m != r.cluster_id)


def test_deterministic_sample_is_stable(tables):
    a = {r.doc_id for r in D.deterministic_sample(tables).collect()}
    b = {r.doc_id for r in D.deterministic_sample(tables).collect()}
    assert a == b
    n = tables["documents"].count()
    assert 0.1 * n < len(a) < 0.35 * n  # ~20% with hash variance


def test_capped_jaccard_is_subset_with_lower_bound_scores(tables):
    exact = {
        (r.doc_a, r.doc_b): r.jaccard for r in D.ngram_jaccard_pairs(tables).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs_capped(tables).collect()
    }
    assert set(capped) <= set(exact)
    for p, j in capped.items():
        assert j <= exact[p] + 1e-12


def test_capped_jaccard_bounds_hot_shingle_blowup(spark, tables):
    """A stop-shingle shared by every document must not reach the
    self-join under the df cap: candidate pair count stays bounded by
    genuine (rare-shingle) overlap instead of going quadratic."""
    n = 40
    hot = "the quick brown fox jumps over the lazy dog"  # >3 tokens: many shared shingles
    rows = ",".join(
        f"({i}, 'en', 'syn', CAST('{hot} unique{i}a unique{i}b unique{i}c' AS STRING))"
        for i in range(n)
    )
    docs = spark.sql(
        f"SELECT col1 AS doc_id, col2 AS lang, col3 AS source, col4 AS text,"
        f" length(col4) AS n_chars FROM VALUES {rows}"
    )
    t = {"documents": docs}
    # uncapped: every pair shares the hot shingles -> O(n^2) candidates
    exact_pairs = D.ngram_jaccard_pairs(t).count()
    assert exact_pairs == n * (n - 1) / 2  # the blow-up this test pins
    t2 = {"documents": docs}
    capped_pairs = D.ngram_jaccard_pairs_capped(t2, max_df=10).count()
    assert capped_pairs == 0  # hot shingles capped away; no rare overlap


def test_simhash_banded_join_is_exact_for_ham2(tables):
    """The 6/5/5 banded candidate join must equal the brute-force
    hamming<=2 pair set (pigeonhole guarantee) — no recall loss."""
    fps = {r.doc_id: r.simhash for r in D.simhash_fingerprints(tables).collect()}
    brute = {
        (a, b)
        for a in fps
        for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= D.SIMHASH_HAM_MAX
    }
    banded = {
        (r.doc_a, r.doc_b): r.hamming
        for r in D.simhash_near_dup_pairs(tables).collect()
    }
    assert set(banded) == brute
    for (a, b), h in banded.items():
        assert h == bin(fps[a] ^ fps[b]).count("1")


def test_embedding_lsh_pairs_subset_of_exact(tables):
    exact = {
        (r.vec_a, r.vec_b): r.cosine_r for r in D.embedding_near_dup(tables).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b): r.cosine_r
        for r in D.embedding_near_dup_lsh(tables).collect()
    }
    assert set(lsh) <= set(exact)
    for p, c in lsh.items():
        assert c == exact[p]  # identical scoring on the shared candidates


def test_ivf_recall_vs_bruteforce(tables):
    """IVF-flat with the per-label codebook and nprobe=3 measures ~0.86
    recall at sf0.01 while scanning ~31% of the corpus; the 0.7 floor
    fails on quantizer/probe regressions while leaving geometry margin."""
    exact = {
        (r.query_id, r.neighbor_id) for r in S.ann_bruteforce_topk(tables).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in S.ivf_ann_topk(tables).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"IVF recall collapsed: {recall}"


def test_ivf_candidates_come_from_probed_lists_only(tables):
    """Every reported neighbor must be assigned to one of its query's
    probed lists — the partition-pruning contract."""
    assigned = {r.vec_id: r.list_id for r in S._ivf_assigned(tables).collect()}
    topk = S.ivf_ann_topk(tables).collect()
    # recompute probe sets exactly as the operator does
    import numpy as np

    q_ids, q_mat, q_nrm = S._query_set_bc(tables).value
    c_ids, c_mat, c_nrm = S._centroids_bc(tables).value
    acc = np.outer(q_mat[:, 0], c_mat[:, 0])
    for d in range(1, q_mat.shape[1]):
        acc = acc + np.outer(q_mat[:, d], c_mat[:, d])
    qcos = acc / np.outer(q_nrm, c_nrm)
    order = np.argsort(-qcos, axis=1, kind="stable")[:, : S.NPROBE]
    probes = {
        int(q_ids[qi]): {int(c_ids[ci]) for ci in order[qi]}
        for qi in range(len(q_ids))
    }
    for r in topk:
        assert assigned[r.neighbor_id] in probes[r.query_id]


def test_chunk_dedup_exact_dups_fully_flagged(tables):
    """Doc pairs with identical text (exact_dedup n_copies > 1) must have
    every chunk flagged as duplicated; chunk counts tile the token count."""
    import math

    cd = {r.doc_id: r for r in D.chunk_dedup(tables).collect()}
    toks = {
        r.doc_id: len(r.text.split(" "))
        for r in tables["documents"].select("doc_id", "text").collect()
    }
    assert set(cd) == set(toks)
    for doc, n in toks.items():
        assert cd[doc].n_chunks == math.ceil(n / D.CHUNK_TOKENS)
    dup_groups = [r for r in D.exact_dedup(tables).collect() if r.n_copies > 1]
    texts = {
        r.doc_id: r.text for r in tables["documents"].select("doc_id", "text").collect()
    }
    by_hash: dict = {}
    for doc, txt in texts.items():
        by_hash.setdefault(txt, []).append(doc)
    for docs in by_hash.values():
        if len(docs) > 1:
            for doc in docs:
                assert cd[doc].dup_chunk_frac == 1.0


def test_contamination_only_reports_real_overlap(tables):
    """Reported rows are train docs only, overlap bounded by shingle
    count, and every reported overlap is backed by a genuine shared
    4-gram with some eval doc."""
    rows = D.contamination_check(tables).collect()
    texts = {
        r.doc_id: r.text.split(" ")
        for r in tables["documents"].select("doc_id", "text").collect()
    }

    def grams(ws):
        k = D.CONTAM_K
        n = max(len(ws) - k + 1, 1)
        return {" ".join(ws[i : i + k]) for i in range(n)}

    ev_grams = set()
    for doc, ws in texts.items():
        if doc % D.EVAL_MOD == 0:
            ev_grams |= grams(ws)
    for r in rows:
        assert r.doc_id % D.EVAL_MOD != 0
        assert 1 <= r.n_overlap <= r.n_shingles
        assert len(grams(texts[r.doc_id]) & ev_grams) == r.n_overlap


def test_kmeans_assign_matches_init_codebook(tables):
    from databricks_observe_spark.operators import similarity as S

    rows = S.kmeans_assign(tables).collect()
    n_vecs = tables["embeddings"].count()
    assert len(rows) == n_vecs
    # each init vector is its own nearest centroid at distance 0
    own = {r.vec_id: r for r in rows if r.vec_id < S.KMEANS_K}
    for vid, r in own.items():
        assert r.sq_dist_r == 0.0 and r.cluster == vid


def test_kmeans_clusters_deterministic_and_improving(tables):
    from databricks_observe_spark.operators import similarity as S

    a = sorted(S.kmeans_clusters(tables).collect())
    b = sorted(S.kmeans_clusters(tables).collect())
    assert a == b  # bit-stable across runs (integer M-step partials)
    n_vecs = tables["embeddings"].count()
    assert sum(r.n_vectors for r in a) == n_vecs
    assert all(r.n_vectors > 0 for r in a)
    # membership digest is a partition of the id space
    assert sum(r.id_sum for r in a) == n_vecs * (n_vecs - 1) // 2
    assert min(r.id_min for r in a) == 0
    # Lloyd iterations must not be worse than the init assignment (the
    # 1e-6 input quantization perturbs inertia by far less than the
    # iteration improvement)
    init_inertia = (
        S.kmeans_assign(tables).agg({"sq_dist_r": "sum"}).collect()[0][0]
    )
    assert sum(r.inertia_micro for r in a) / 1e9 <= init_inertia
    # clusters capture latent structure: majority label better than chance
    n_labels = tables["embeddings"].select("label").distinct().count()
    avg_purity = sum(r.purity_micro / 1e6 for r in a) / len(a)
    assert avg_purity > 1.5 / n_labels


def test_incremental_dedup_decisions(tables):
    from databricks_observe_spark.operators import dedup as D

    rows = D.incremental_dedup(tables).collect()
    n_batch = tables["documents"].filter("doc_id % 10 = 9").count()
    assert len(rows) == n_batch
    base_hashes = {
        r.h
        for r in tables["documents"]
        .filter("doc_id % 10 <> 9")
        .selectExpr("md5(text) AS h")
        .distinct()
        .collect()
    }
    by_hash: dict[str, list] = {}
    for r in rows:
        by_hash.setdefault(r.text_hash, []).append(r)
    for h, grp in by_hash.items():
        if h in base_hashes:
            assert all(g.decision == "dup_of_corpus" for g in grp)
        else:
            admits = [g for g in grp if g.decision == "admit"]
            assert len(admits) == 1  # exactly the first arrival
            assert admits[0].doc_id == min(g.doc_id for g in grp)
            assert all(
                g.decision == "dup_in_batch" for g in grp if g.doc_id != admits[0].doc_id
            )


def test_semantic_dedup_pairs_are_within_cluster_and_high_cos(tables):
    from databricks_observe_spark.operators import similarity as S

    rows = S.semantic_dedup(tables).collect()
    assert rows  # fixture has semantic duplicates at the chosen threshold
    assign = {r.vec_id: r.cluster for r in S.kmeans_assign(tables).collect()}
    for r in rows:
        assert r.cosine_r >= S.SEMDEDUP_COS
        assert r.keep_id < r.drop_id  # lowest id is the keeper
        assert assign[r.keep_id] == assign[r.drop_id] == r.cluster
    # one keeper decision per dropped vector
    drops = [r.drop_id for r in rows]
    assert len(drops) == len(set(drops))


def test_semantic_dedup_output_invariant_to_block_cap(tables, monkeypatch):
    """The block-pair tiling is an execution detail: forcing every fixture
    cluster to sub-split (cap lower than any cluster size) must reproduce
    the single-block output bit-for-bit — no pair lost at block borders,
    no cosine changed by the tiling. The same holds for the corpus-wide
    tiling of embedding_near_dup at one block and at 13."""
    from databricks_observe_spark.operators import similarity as S

    base = sorted(map(tuple, S.semantic_dedup(tables).collect()))
    monkeypatch.setattr(S, "SEMDEDUP_BLOCK_CAP", 32)
    capped = sorted(map(tuple, S.semantic_dedup(tables).collect()))
    assert base == capped and base

    emb_base = sorted(map(tuple, D.embedding_near_dup(tables).collect()))
    for n_blocks in (1, 13):
        monkeypatch.setattr(D, "N_EMB_BLOCKS", n_blocks)
        emb = sorted(map(tuple, D.embedding_near_dup(tables).collect()))
        assert emb == emb_base and emb_base


def test_hash_split_stable_and_complete(tables):
    from databricks_observe_spark.operators import dedup as D

    rows = D.hash_split(tables).collect()
    assert len(rows) == tables["documents"].count()
    assert {r.split for r in rows} <= {"train", "val", "test"}
    # growth-stability: the assignment of a doc depends only on its id —
    # recomputing over a shrunk corpus must not move surviving docs
    subset = fresh_context(tables, documents=tables["documents"].filter("doc_id % 2 = 0"))
    sub = {r.doc_id: r.split for r in D.hash_split(subset).collect()}
    full = {r.doc_id: r.split for r in rows}
    assert all(full[d] == s for d, s in sub.items())
    # rough proportions at the 90/5/5 boundaries
    frac_train = sum(1 for r in rows if r.split == "train") / len(rows)
    assert 0.8 < frac_train < 0.97


def test_dedup_retention_keeps_best_member_per_cluster(tables):
    from databricks_observe_spark.operators import dedup as D

    rows = D.dedup_retention(tables).collect()
    assert rows
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    clusters = {r.cluster_id: r for r in D.near_dup_clusters(tables).collect()}
    for cid, members in by_cluster.items():
        assert len(members) == clusters[cid].cluster_size
        kept = [m for m in members if m.kept == 1]
        assert len(kept) == 1 and kept[0].rnk == 1
        # the keeper has maximal quality (ties -> lowest id)
        best = max(members, key=lambda m: (m.n_types, -m.doc_id))
        assert kept[0].doc_id == best.doc_id


def test_normalized_dedup_catches_case_and_punct_variants(tables, spark):
    from databricks_observe_spark.operators import dedup as D

    # a new context: the derived indexes of ``tables`` describe its corpus
    t2 = fresh_context(
        tables,
        documents=spark.createDataFrame(
            [
                (1, "Hello,  World!"),
                (2, "hello world"),
                (3, "HELLO WORLD."),
                (4, "goodbye world"),
            ],
            "doc_id bigint, text string",
        ),
    )
    rows = {r.canonical_doc_id: r for r in D.normalized_dedup(t2).collect()}
    # the three hello variants normalize to one digest, canonical = min id
    assert rows[1].n_variants == 3
    assert rows[4].n_variants == 1
    assert len(rows) == 2


def test_per_source_dedup_rate_accounts_every_doc(tables):
    rows = D.per_source_dedup_rate(tables).collect()
    assert sum(r.n_docs for r in rows) == tables["documents"].count()
    for r in rows:
        assert r.n_dups == r.n_docs - r.n_uniq
        assert 0 <= r.dup_bp <= 10000


def test_epoch_shuffle_is_a_sharded_permutation(tables):
    rows = D.epoch_shuffle(tables).collect()
    docs = {r.doc_id for r in tables["documents"].select("doc_id").collect()}
    assert {r.doc_id for r in rows} == docs and len(rows) == len(docs)
    by_shard: dict = {}
    for r in rows:
        assert 0 <= r.shard < D.EPOCH_SHUFFLE_SHARDS
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        assert sorted(r.pos for r in rs) == list(range(1, len(rs) + 1))
    # actually shuffled: concatenated shard order must not be doc_id order
    flat = [
        r.doc_id
        for s in sorted(by_shard)
        for r in sorted(by_shard[s], key=lambda r: r.pos)
    ]
    assert flat != sorted(flat)
    # deterministic: a second evaluation reproduces the permutation
    again = {(r.doc_id): (r.shard, r.pos) for r in D.epoch_shuffle(tables).collect()}
    assert {r.doc_id: (r.shard, r.pos) for r in rows} == again


def test_ann_recall_matches_ground_truth_overlap(tables):
    rows = S.ann_recall(tables).collect()
    assert {r.query_id for r in rows} == set(range(S.N_QUERIES))
    for r in rows:
        assert 0 <= r.n_hit <= S.TOP_K
        assert r.recall_bp == r.n_hit * 10000 // S.TOP_K
    # the multi-table multiprobe index is gated at >= 0.6 mean recall
    assert sum(r.n_hit for r in rows) / (len(rows) * S.TOP_K) >= 0.6


@pytest.mark.parametrize(
    "op",
    [
        S.ann_bruteforce_topk,
        S.ann_lsh_topk,
        S.ivf_ann_topk,
        S.ann_recall,
        D.embedding_near_dup,
        D.embedding_near_dup_lsh,
        S.lsh_bucket_stats,
    ],
    ids=lambda op: op.__name__,
)
def test_vector_operators_on_empty_embeddings(tables, op):
    """An empty corpus has no queries, codebook, buckets or pairs: every
    vector operator returns 0 rows, as its SQL twin does."""
    fresh = fresh_context(tables, embeddings=tables["embeddings"].limit(0))
    assert op(fresh).collect() == []


def test_int8_quantize_error_within_half_step(tables):
    rows = S.int8_quantize(tables).collect()
    assert len(rows) == tables["embeddings"].count()
    for r in rows:
        # scale_micro == 0 is the legitimate all-zero-vector case (the
        # operator's guard quantizes it to all-zero codes; its dedicated
        # DuckDB test covers it) — only NEGATIVE scales are impossible
        assert r.scale_micro >= 0
        if r.scale_micro == 0:
            assert r.sum_abs_codes == 0 and r.mse_nano == 0
            continue
        assert r.sum_abs_codes <= S.DIM * S.INT8_LEVELS
        # rounding to the nearest code keeps per-dim error <= scale/2,
        # so MSE <= (scale/2)^2 (+1 nano for the two quantizations)
        scale = r.scale_micro / 1e6
        assert 0 <= r.mse_nano <= (scale / 2) ** 2 * 1e9 + 1


def test_int8_oracle_survives_zero_vector():
    """The scale=0 CASE guard: a zero vector must quantize to all-zero
    codes in the oracle SQL rather than raising on CAST(NaN AS BIGINT)."""
    import duckdb

    con = duckdb.connect()
    zeros = "[" + ", ".join(["0.0"] * S.DIM) + "]"
    ones = "[" + ", ".join(["1.0"] * S.DIM) + "]"
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM (VALUES "
        f"(0, {zeros}::FLOAT[], 0), (1, {ones}::FLOAT[], 0)"
        f") AS t(vec_id, embedding, label)"
    )
    rows = {r[0]: r for r in con.execute(S.INT8_QUANTIZE_SQL).fetchall()}
    assert rows[0][1] == 0 and rows[0][2] == 0 and rows[0][3] == 0  # zero vec
    assert rows[1][3] == S.DIM * S.INT8_LEVELS  # ones vec: every code 127


def test_curation_pipeline_e2e_stage_invariants(tables):
    """The composed pipeline's output must be consistent with the
    component operators' own decisions (composition, not reinvention)."""
    from pyspark.sql import functions as F

    from databricks_observe_spark.operators import text as T
    from databricks_observe_spark.operators.pipeline import curation_pipeline_e2e

    rows = curation_pipeline_e2e(tables).collect()
    assert rows
    for r in rows:
        assert r.n_docs >= 1 and r.total_tokens >= 1
        assert r.first_doc <= r.last_doc
        # no eval doc may survive into the packed corpus
        assert r.first_doc % 13 != 0 and r.last_doc % 13 != 0
    # the packed token total can never exceed the quality-pass corpus
    q = T.quality_filter(tables)
    cap = (
        q.filter(F.col("keep") == 1)
        .agg(F.sum("n_tokens"))
        .collect()[0][0]
    )
    assert sum(r.total_tokens for r in rows) <= cap


def test_curation_pipeline_e2e_equals_its_stages_rebuilt(tables):
    """The pipeline's rows, rebuilt in Python from the standalone
    operators' collected outputs: normalized-dedup canonicals, near-dup
    cluster survivors, the quality keep flag, the contamination counts
    under the pipeline's drop rule plus the eval holdout, an 8-hex md5
    stratified keep over the clean per-language counts, and packing at
    PACK_TARGET."""
    import hashlib
    import math
    from collections import Counter, defaultdict

    from databricks_observe_spark.operators import text as T
    from databricks_observe_spark.operators.pipeline import (
        CONTAM_DROP_NUM,
        curation_pipeline_e2e,
    )

    canon = {r.canonical_doc_id for r in D.normalized_dedup(tables).collect()}
    nd_dropped = {
        r.doc_id for r in D._cluster_labels(tables).collect() if r.doc_id != r.cluster_id
    }
    contaminated = {
        r.doc_id
        for r in D.contamination_check(tables).collect()
        if r.n_overlap * CONTAM_DROP_NUM > r.n_shingles
    }
    clean = {
        r.doc_id: (r.lang, r.n_tokens)
        for r in T.quality_filter(tables).collect()
        if r.keep == 1
        and r.doc_id in canon
        and r.doc_id not in nd_dropped
        and r.doc_id % D.EVAL_MOD != 0
        and r.doc_id not in contaminated
    }
    n_lang = Counter(lang for lang, _ in clean.values())
    min_count = min(n_lang.values())

    def bucket(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10**6

    streams = defaultdict(list)
    for doc_id in sorted(clean):
        lang, n = clean[doc_id]
        if bucket(doc_id) * n_lang[lang] < min_count * 10**6:
            streams[lang].append((doc_id, n))
    want = set()
    for lang, docs in streams.items():
        bins, cum = defaultdict(list), 0
        for doc_id, n in docs:
            bins[cum // T.PACK_TARGET].append((doc_id, n))
            cum += n
        for bin_id, members in bins.items():
            total = sum(n for _, n in members)
            fill = math.floor(total / T.PACK_TARGET * 1e6 + 0.5) / 1e6
            want.add(
                (lang, bin_id, len(members), total, members[0][0], members[-1][0], fill)
            )
    got = {tuple(r) for r in curation_pipeline_e2e(tables).collect()}
    assert got == want


def test_lsh_dedup_recall_counts_are_consistent(tables):
    (r,) = D.lsh_dedup_recall(tables).collect()
    exact = {(x.doc_a, x.doc_b) for x in D.ngram_jaccard_pairs(tables).collect()}
    cand = {(x.doc_a, x.doc_b) for x in D.minhash_lsh_pairs(tables).collect()}
    assert r.n_true_pairs == len(exact)
    assert r.n_candidate_pairs == len(cand)
    assert r.n_hit == len(exact & cand)
    assert 0 <= r.recall_bp <= 10000 and 0 <= r.precision_bp <= 10000
    # banding at these parameters keeps high recall on the fixtures
    assert r.recall_bp >= 8000


def test_lsh_dedup_recall_vacuous_on_pairless_corpus(spark, tables):
    """Empty ground truth (no doc pair shares a single shingle) must read
    as vacuous recall 10000, not a divide-by-zero or a 0."""
    t2 = fresh_context(
        tables,
        documents=spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon", "en", "s", 10),
                (2, "zeta eta theta iota kappa", "en", "s", 10),
                (3, "mu nu xi omicron pi rho", "en", "s", 10),
            ],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        ),
    )
    (r,) = D.lsh_dedup_recall(t2).collect()
    assert r.n_true_pairs == 0
    assert r.n_hit == 0
    assert r.recall_bp == 10000  # vacuously perfect


def test_duplicated_spans_flags_verbatim_runs_only(spark, tables):
    """A 15-token run copied verbatim across two docs is flagged in both;
    a doc sharing vocabulary but no 15-token run is not flagged."""
    span = " ".join(f"tok{i}" for i in range(15))
    t2 = fresh_context(
        tables,
        documents=spark.createDataFrame(
            [
                (1, "intro one two three " + span, "en", "s", 10),
                (2, span + " outro four five six", "en", "s", 10),
                (3, "tok0 tok1 unrelated tok5 tok9 filler " * 4, "en", "s", 10),
            ],
            "doc_id bigint, text string, lang string, source string, n_chars bigint",
        ),
    )
    rows = {r.doc_id: r for r in D.duplicated_spans(t2).collect()}
    assert set(rows) == {1, 2}
    for d in (1, 2):
        assert rows[d].n_dup_grams >= 1
        assert 0 < rows[d].dup_span_bp <= 10000
        # the shared run is 15 tokens = exactly one window per doc
        assert rows[d].n_dup_grams == 1


def test_aes_ln_floor_margin(tables):
    """The ONE non-bit-exact step in weighted_sample_topk is ln(u); its
    output is floored to integer micro-units. Verify at the fixtures that
    no ln(u)*1e6 value sits near a floor boundary (ulp-scale cross-engine
    divergence is ~4e-9 micro-units; require > 1e-3 of slack)."""
    from databricks_observe_spark.operators.dedup import _aes_lnu_scaled

    lnu = _aes_lnu_scaled()
    frac = lnu - F.floor(lnu)
    row = (
        tables["documents"]
        .select(F.min(frac).alias("lo"), F.max(frac).alias("hi"))
        .collect()[0]
    )
    assert row.lo > 1e-3 and row.hi < 1 - 1e-3


def test_weighted_sample_favors_heavy_documents(tables):
    """A-ES with weight = n_chars must bias winners toward longer docs:
    the winners' mean length exceeds the corpus mean."""
    from databricks_observe_spark.operators.dedup import AES_K, weighted_sample_topk

    out = weighted_sample_topk(tables)
    per_source = {r.source: r["count"] for r in out.groupBy("source").count().collect()}
    assert all(c == AES_K for c in per_source.values())
    win_mean = out.agg(F.avg("n_chars")).collect()[0][0]
    corpus_mean = tables["documents"].agg(F.avg("n_chars")).collect()[0][0]
    assert win_mean > corpus_mean


def test_source_overlap_matrix_matches_python_recompute(tables):
    """Set-arithmetic replay of the containment matrix from the raw
    corpus using the same truncated-3-gram shingle definition, plus the
    diagonal-denominator identity the one-pass plan rests on."""
    import math
    from collections import defaultdict

    from databricks_observe_spark.operators.dedup import source_overlap_matrix

    grams = defaultdict(set)
    for r in tables["documents"].select("source", "text").collect():
        toks = r.text.split(" ")
        for i in range(max(len(toks) - 2, 1)):
            grams[r.source].add(" ".join(toks[i : i + 3]))

    rows = source_overlap_matrix(tables).collect()
    seen = {(r.src_a, r.src_b) for r in rows}
    for r in rows:
        inter = len(grams[r.src_a] & grams[r.src_b])
        assert r.src_a != r.src_b
        assert r.n_common == inter
        assert r.n_a == len(grams[r.src_a])
        assert r.containment_bp == math.floor(inter * 10000.0 / r.n_a + 0.5)
    # every source pair that shares at least one gram must be reported
    for a in grams:
        for b in grams:
            if a != b and grams[a] & grams[b]:
                assert (a, b) in seen


def test_bloom_contamination_never_misses(tables):
    """The Bloom contract: one-sided error. Every doc/gram the exact
    broadcast check flags MUST appear in the Bloom report with at least
    as many hits (false positives allowed, false negatives never), and
    both reports must agree on the per-doc shingle denominators."""
    exact = {r.doc_id: r for r in D.contamination_check(tables).collect()}
    bloom = {r.doc_id: r for r in D.bloom_contamination_check(tables).collect()}
    assert set(exact) <= set(bloom)
    for doc_id, e in exact.items():
        b = bloom[doc_id]
        assert b.n_shingles == e.n_shingles
        assert b.n_bloom_hits >= e.n_overlap


def test_bloom_bitmap_is_bounded_and_consistent(tables):
    """The collected filter is exactly the published geometry (m/64 int64
    words — a constant independent of eval-set size) and its popcount
    equals the distinct-bit count of the eval grams."""
    words = D._bloom_filter_words(tables)
    assert len(words) == D.BLOOM_M_BITS // 64
    grams = [r.s for r in D._contam_eval_set(tables).select("s").collect()]
    import hashlib

    def bit(s: str, tag: str) -> int:
        h = hashlib.md5((s + tag).encode()).hexdigest()
        return int(h[:13], 16) % D.BLOOM_M_BITS

    expect = {bit(s, tag) for s in grams for tag in D._BLOOM_TAGS}
    popcount = sum(bin(w & 0xFFFFFFFFFFFFFFFF).count("1") for w in words)
    assert popcount == len(expect)
    # spot-check membership for every eval bit
    for b in expect:
        assert (words[b // 64] >> (b % 64)) & 1 == 1


def test_url_canonicalization_cases(spark):
    """Targeted surface-form cases: the canonicalizer must lowercase
    scheme/host, strip www., default ports, duplicate+trailing slashes,
    tracking params and fragments, sort surviving params — and be
    IDEMPOTENT (canonical of canonical is itself)."""
    cases = [
        (
            "HTTPS://WWW.SRC0.EXAMPLE.COM:443/docs//en/page-3/?v=2&ref=1&utm_source=x#frag",
            "https://src0.example.com/docs/en/page-3?ref=1&v=2",
        ),
        ("http://Host.com:80/a/b?b=2&a=1", "http://host.com/a/b?a=1&b=2"),
        ("https://h.com:8080/x?utm_medium=rss", "https://h.com:8080/x"),
        ("https://h.com/", "https://h.com"),
    ]
    df = spark.createDataFrame([(raw,) for raw, _ in cases], "url string")
    got = [
        r.c for r in df.select(D.canonical_url_expr(F.col("url")).alias("c")).collect()
    ]
    assert got == [want for _, want in cases]
    # idempotence: re-canonicalizing the outputs is a fixed point
    df2 = spark.createDataFrame([(g,) for g in got], "url string")
    again = [
        r.c
        for r in df2.select(D.canonical_url_expr(F.col("url")).alias("c")).collect()
    ]
    assert again == got


def test_url_canonical_dedup_partitions_corpus(tables):
    """Same partition invariant as exact_dedup: every document lands in
    exactly one canonical-URL group, and canonical ids are real doc ids
    that themselves belong to the group they canonicalize."""
    df = D.url_canonical_dedup(tables)
    assert df.agg(F.sum("n_variants")).first()[0] == tables["documents"].count()
    docs = {r.doc_id for r in tables["documents"].select("doc_id").collect()}
    assert {r.canonical_doc_id for r in df.collect()} <= docs
    # variants exist in the fixture (the derivation guarantees refetches)
    assert df.filter(F.col("n_variants") > 1).count() > 0


def test_dedup_threshold_sweep_matches_python_recompute(tables):
    """Set-arithmetic replay from the pair table itself: exact pair/doc
    counts at every grid threshold, plus the monotone-non-increasing
    shape the knee-finding read of the curve depends on."""
    import math

    pairs = D.ngram_jaccard_pairs(tables).collect()
    bps = [(r.doc_a, r.doc_b, math.floor(r.jaccard * 10000.0 + 0.5)) for r in pairs]
    rows = sorted(
        D.dedup_threshold_sweep(tables).collect(), key=lambda r: r.threshold_bp
    )
    assert [r.threshold_bp for r in rows] == list(range(5000, 10000, 500))
    for r in rows:
        want_pairs = sum(1 for _, _, bp in bps if bp >= r.threshold_bp)
        docs = {d for a, b, bp in bps if bp >= r.threshold_bp for d in (a, b)}
        assert r.n_pairs == want_pairs
        assert r.n_docs == len(docs)
    for lo, hi in zip(rows[1:], rows):
        assert lo.n_pairs <= hi.n_pairs and lo.n_docs <= hi.n_docs


def test_url_host_stats_consistent_with_canonical_dedup(tables):
    """Cross-operator identities: host stats and the dedup rung must
    agree on fetch totals, page counts, and the refetch mass."""
    hosts = D.url_host_stats(tables).collect()
    dedup = D.url_canonical_dedup(tables).collect()
    assert sum(r.n_fetches for r in hosts) == tables["documents"].count()
    assert sum(r.n_pages for r in hosts) == len(dedup)
    assert sum(r.n_refetches for r in hosts) == sum(
        r.n_variants - 1 for r in dedup
    )
    for r in hosts:
        assert r.n_refetches == r.n_fetches - r.n_pages
        assert 0 <= r.n_tracked <= r.n_fetches
