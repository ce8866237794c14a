"""Semantic unit tests for the round-5 operators on hand-built
inputs where the expected outcome is known by construction. Parity
(tools/parity.py) separately pins each against DuckDB on the driver
corpus; these pin the operator DEFINITIONS.

Each test writes a tiny table into tmp_path under the driver's
table-naming contract and calls the registered query with that
directory — the full production code path, not a reimplementation.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest


def _write(spark, tmp_path, name: str, rows, schema: str) -> str:
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/{name}.parquet")
    return str(tmp_path)


# ---------------------------------------------------------------------------
# MMR rerank: must prefer a diverse pick over a near-duplicate
# ---------------------------------------------------------------------------


def _mmr_reference(vecs, query_id, k_cand=8, k_out=4, lam=0.7):
    """Greedy MMR reference implementation (plain Python)."""

    def cos(u, v):
        num = sum(a * b for a, b in zip(u, v))
        den = math.sqrt(sum(a * a for a in u)) * math.sqrt(
            sum(b * b for b in v)
        )
        return round(num / den, 6)

    q = vecs[query_id]
    rel = {
        i: cos(q, v) for i, v in vecs.items() if i != query_id
    }
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:k_cand]
    selected = []
    for _ in range(min(k_out, len(cand))):
        best = None
        for c in cand:
            if c in selected:
                continue
            if not selected:
                score = rel[c]
            else:
                score = lam * rel[c] - (1 - lam) * max(
                    cos(vecs[c], vecs[s]) for s in selected
                )
            if best is None or (score, -c) > (best[1], -best[0]):
                best = (c, score)
        selected.append(best[0])
    return selected


def test_mmr_matches_greedy_reference(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        similarity_mmr_rerank,
    )

    rows = [
        (0, [1.0, 0.0], 0),       # query
        (1, [1.0, 0.001], 0),     # best match
        (2, [0.999, 0.0011], 0),  # near-duplicate of 1
        (3, [0.6, 0.8], 1),       # diverse
        (4, [0.55, 0.83], 1),     # near-duplicate of 3
        (5, [0.0, 1.0], 2),       # orthogonal
    ]
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<double>, label long",
    )
    got = [
        r["vec_id"]
        for r in similarity_mmr_rerank(spark, sf)
        .filter("query_id = 0")
        .orderBy("rank")
        .collect()
    ]
    vecs = {i: v for i, v, _ in rows}
    assert got == _mmr_reference(vecs, 0)
    # the diversity penalty reorders the tail: pure relevance would
    # rank 3 ahead of nothing here, but with a tiny lambda the
    # orthogonal vector overtakes the near-dups — check that too
    lam_small = _mmr_reference(vecs, 0, lam=0.1)
    assert 5 in lam_small


# ---------------------------------------------------------------------------
# Two-sample KS: identical samples → 0; disjoint supports → 1
# ---------------------------------------------------------------------------


def _events_rows(pairs):
    t0 = dt.datetime(2024, 1, 1)
    return [
        (i, t0 + dt.timedelta(minutes=i), 1, et, v, "{}")
        for i, (et, v) in enumerate(pairs)
    ]


_EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string,"
    " value double, props string"
)


def test_ks_identical_distributions_is_zero(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        events_ks_two_sample,
    )

    vals = [1.0, 2.0, 3.0, 4.0]
    rows = _events_rows(
        [("click", v) for v in vals] + [("view", v) for v in vals]
    )
    sf = _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    [r] = events_ks_two_sample(spark, sf).collect()
    assert r["ks_stat"] == 0.0


def test_ks_disjoint_supports_is_one(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        events_ks_two_sample,
    )

    rows = _events_rows(
        [("click", v) for v in (1.0, 2.0, 3.0)]
        + [("view", v) for v in (10.0, 11.0)]
    )
    sf = _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    [r] = events_ks_two_sample(spark, sf).collect()
    assert r["ks_stat"] == 1.0


# ---------------------------------------------------------------------------
# Runs test: strictly alternating series → maximal runs, z > 0
# ---------------------------------------------------------------------------


def test_runs_test_alternating_series(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        orders_runs_test_randomness,
    )

    d0 = dt.datetime(1995, 1, 1)
    rows = [
        (
            i,
            1,
            "O",
            100.0 if i % 2 == 0 else 50.0,
            d0 + dt.timedelta(days=i),
            "1-URGENT",
        )
        for i in range(10)
    ]
    sf = _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    [r] = orders_runs_test_randomness(spark, sf).collect()
    # 9 directions alternate down/up/... → every step changes: 9 runs
    assert r["runs"] == 9
    assert r["n1"] == 4 and r["n2"] == 5
    n1, n2, runs = 4, 5, 9
    mu = 1 + 2.0 * n1 * n2 / (n1 + n2)
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) ** 2 * (n1 + n2 - 1.0))
    )
    assert r["z_stat"] == pytest.approx(
        round((runs - mu) / math.sqrt(var), 4)
    )


# ---------------------------------------------------------------------------
# Winsorized / trimmed means: outlier-robust by construction
# ---------------------------------------------------------------------------


def test_winsorized_and_trimmed_suppress_outlier(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        customer_winsorized_stats,
    )

    vals = [float(v) for v in range(1, 20)] + [10000.0]
    rows = [(i, f"c{i}", 0, v, "SEG") for i, v in enumerate(vals)]
    sf = _write(
        spark, tmp_path, "customer", rows,
        "c_custkey long, c_name string, c_nationkey long,"
        " c_acctbal double, c_mktsegment string",
    )
    [r] = customer_winsorized_stats(spark, sf).collect()
    raw_mean_cents = sum(v * 100 for v in vals) / len(vals)
    assert r["winsorized_mean"] < raw_mean_cents / 2
    assert r["trimmed_mean"] < raw_mean_cents / 2
    # discrete p95 of 20 values = 19th sorted value (ceil(.95*20)=19)
    assert r["p95_cents"] == 1900


# ---------------------------------------------------------------------------
# 2-core peeling: triangle survives, pendant vertex is peeled
# ---------------------------------------------------------------------------


def test_2core_peels_pendant_keeps_triangle(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        graph_2core_peeling,
    )

    # parts 10,11,12 share orders 1,2 (triangle, each pair twice);
    # part 13 shares orders 3,4 with part 10 only (pendant edge)
    rows = []
    for ok in (1, 2):
        for pk in (10, 11, 12):
            rows.append((ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                         dt.datetime(1995, 1, 1)))
    for ok in (3, 4):
        for pk in (10, 13):
            rows.append((ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
                         dt.datetime(1995, 1, 1)))
    sf = _write(
        spark, tmp_path, "lineitem", rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    got = {
        r["node"]: (r["deg_initial"], r["deg_after_2_peels"])
        for r in graph_2core_peeling(spark, sf).collect()
    }
    assert set(got) == {10, 11, 12}      # pendant 13 peeled
    assert got[10] == (3, 2)             # lost its edge to 13
    assert got[11] == (2, 2) and got[12] == (2, 2)


# ---------------------------------------------------------------------------
# Label propagation: a path graph converges to the min id label
# ---------------------------------------------------------------------------


def test_label_propagation_path_graph(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        graph_label_propagation,
    )

    # path 20-21-22: each adjacent pair shares 3 orders (threshold)
    rows = []
    for ok in (1, 2, 3):
        for pk in (20, 21):
            rows.append((ok, pk))
    for ok in (4, 5, 6):
        for pk in (21, 22):
            rows.append((ok, pk))
    sf = _write(
        spark, tmp_path, "lineitem",
        [(ok, pk, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
          dt.datetime(1995, 1, 1)) for ok, pk in rows],
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate timestamp",
    )
    got = {
        r["node"]: (r["l1"], r["l2"])
        for r in graph_label_propagation(spark, sf).collect()
    }
    assert got[20] == (20, 20)
    assert got[21] == (20, 20)
    # round 1: node 22 takes neighbor 21's id; round 2: 21's new
    # label (20) reaches it
    assert got[22] == (21, 20)


# ---------------------------------------------------------------------------
# Snapshot diff: one customer per category
# ---------------------------------------------------------------------------


def test_snapshot_diff_categories(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        orders_snapshot_diff,
    )

    d96 = dt.datetime(1996, 6, 1)
    d97 = dt.datetime(1997, 6, 1)
    rows = [
        (1, 101, "O", 100.0, d97, "1-URGENT"),   # added
        (2, 102, "O", 100.0, d96, "1-URGENT"),   # removed
        (3, 103, "O", 100.0, d96, "1-URGENT"),   # unchanged
        (4, 103, "O", 100.0, d97, "1-URGENT"),
        (5, 104, "O", 100.0, d96, "1-URGENT"),   # changed (+50)
        (6, 104, "O", 150.0, d97, "1-URGENT"),
    ]
    sf = _write(
        spark, tmp_path, "orders", rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp,"
        " o_orderpriority string",
    )
    got = {
        r["change_type"]: (r["n_customers"], r["delta_cents"])
        for r in orders_snapshot_diff(spark, sf).collect()
    }
    assert got == {
        "added": (1, 10000),
        "removed": (1, -10000),
        "unchanged": (1, 0),
        "changed": (1, 5000),
    }


# ---------------------------------------------------------------------------
# Shard manifest: exclusive running budget, per-source
# ---------------------------------------------------------------------------


def test_shard_manifest_budget_boundaries(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        multimodal_shard_manifest,
    )

    rows = [(i, "x", "en", "srcA", 1000) for i in range(5)]
    sf = _write(
        spark, tmp_path, "documents", rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    got = {
        r["shard_id"]: (r["n_docs"], r["first_doc"], r["last_doc"])
        for r in multimodal_shard_manifest(spark, sf).collect()
    }
    # exclusive cums 0,1000,2000,3000,4000 / 2048 → 0,0,0,1,1
    assert got == {0: (3, 0, 2), 1: (2, 3, 4)}


# ---------------------------------------------------------------------------
# Bigram LM: exact closed-form on a one-doc corpus
# ---------------------------------------------------------------------------


def test_bigram_lm_closed_form(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        text_bigram_lm_logprob,
    )

    sf = _write(
        spark, tmp_path, "documents",
        [(0, "a b a b", "en", "s", 7)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    [r] = text_bigram_lm_logprob(spark, sf).collect()
    assert r["n_bigrams"] == 3
    # c(a)=c(b)=2, N=4, c2(ab)=2, c2(ba)=1
    lp_ab = math.log(0.7 * 2 / 2 + 0.3 * 2 / 4)
    lp_ba = math.log(0.7 * 1 / 2 + 0.3 * 2 / 4)
    assert r["avg_logprob"] == pytest.approx(
        round((2 * lp_ab + lp_ba) / 3, 3)
    )


# ---------------------------------------------------------------------------
# kNN label vote: majority wins, tie breaks to smaller label
# ---------------------------------------------------------------------------


def test_knn_vote_majority_and_tiebreak(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        embedding_knn_label_vote,
    )

    # query 0 plus 10 corpus vectors all near [1,0]: 6 with label 7,
    # 4 with label 3 → majority 7
    rows = [(0, [1.0, 0.0], 99)]
    for i in range(1, 11):
        rows.append((i, [1.0, i * 1e-4], 7 if i <= 6 else 3))
    # pad ids 1,2 are queries too (vec_id < 5 in the registered
    # query uses < 5; here only vec_id<5 become queries) — assert
    # only on query 0
    sf = _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<double>, label long",
    )
    out = {
        r["query_id"]: (r["pred_label"], r["votes"])
        for r in embedding_knn_label_vote(spark, sf).collect()
    }
    pred, votes = out[0]
    assert pred == 7 and votes == 6


# ---------------------------------------------------------------------------
# Pettitt: the rank identity must equal the sign-sum definition
# ---------------------------------------------------------------------------


def test_pettitt_rank_identity_matches_signsum(spark, tmp_path):
    from wilayah_aceh_etl_spark.plans.round5_queries import (
        events_pettitt_changepoint,
    )

    # tie-free series with an obvious level shift after day 5
    series = [3.0, 1.0, 4.0, 2.0, 5.0, 20.0, 22.0, 21.0, 23.0, 24.0]
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for d, cnt in enumerate(series):
        for _ in range(int(cnt)):
            rows.append(
                (eid, t0 + dt.timedelta(days=d, minutes=eid % 60),
                 1, "click", 1.0, "{}")
            )
            eid += 1
    sf = _write(spark, tmp_path, "events", rows, _EV_SCHEMA)
    [r] = events_pettitt_changepoint(spark, sf).collect()

    # brute-force U_t = sum_{i<=t} sum_{j>t} sign(x_j - x_i)
    y = [int(c) for c in series]
    n = len(y)

    def sign(v):
        return (v > 0) - (v < 0)

    best_k, best_day = -1, None
    for t in range(1, n):
        u = sum(
            sign(y[j] - y[i]) for i in range(t) for j in range(t, n)
        )
        if abs(u) > best_k:
            best_k, best_day = abs(u), t0 + dt.timedelta(days=t - 1)
    assert r["k_stat"] == best_k
    assert r["change_day"] == best_day.date().isoformat()


def test_ivf_kmeans_recall_not_worse_than_seeded(spark):
    """r4 verdict ask #6: the Lloyd-trained coarse quantizer must
    reach recall@10 ≥ the first-C-by-id quantizer at identical
    n_centroids/n_probe.

    MEASUREMENT CAVEAT (found building this): queries must be
    DISJOINT from the seed ids. The similarity_ivf_recall meter
    queries vec_id<5, which are themselves seed centroids 0-4 of
    the first-16 quantizer — each query probes its own Voronoi cell,
    inflating seeded recall to ~0.90 when its recall on non-seed
    queries is ~0.40 (30 random 16-centroid inits: mean 0.44). On
    disjoint queries the trained quantizer wins clearly
    (0.40→0.55 at sf0.01, q200-219)."""
    from pyspark.sql import functions as F

    from wilayah_aceh_etl_spark.operators import similarity as S
    from wilayah_aceh_etl_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.01"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id").between(200, 219))
    truth = {
        (r.query_id, r.vec_id)
        for r in S.brute_force_topk(emb, queries, k=10).collect()
    }

    def recall(df):
        hits = {(r.query_id, r.vec_id) for r in df.collect()}
        return len(hits & truth) / len(truth)

    seeded = recall(S.ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4))
    trained = recall(
        S.ivf_kmeans_topk(
            emb, queries, k=10, n_centroids=16, n_probe=4, n_iter=2
        )
    )
    assert trained >= seeded, (trained, seeded)


def test_wav_pure_python_stack(spark):
    """WAV encode→decode round trip + Spark featurization: the
    arithmetic waveform survives RIFF serialization, and truncated /
    non-PCM payloads hit the None seam instead of raising."""
    from pyspark.sql import functions as F

    from wilayah_aceh_etl_spark.operators import multimodal as M

    flat = [((3 * 31 + k * 17) % 65536) - 32768 for k in range(120 * 2)]
    w = M.make_wav(flat, 16000, 2, 16)
    assert M.parse_wav_header(w) == (16000, 2, 16, 120)
    rate, n_ch, bits, out = M.decode_wav_samples(w)
    assert out == flat
    # unknown chunks between fmt and data are skipped by the walk
    import struct

    licked = (
        w[:12]
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + w[12:]
    )
    fixed = b"RIFF" + struct.pack("<I", len(licked) - 8) + licked[8:]
    assert M.parse_wav_header(fixed) == (16000, 2, 16, 120)
    # seam: truncation sweep never raises; compressed fmt → None
    for cut in range(0, len(w), 7):
        M.parse_wav_header(w[:cut])
    mp3ish = w[:20] + b"\x02" + w[21:]  # audio_format=2 (ADPCM)
    assert M.parse_wav_header(mp3ish) is None
    # Spark side: mapInPandas featurizer on a real payload column
    df = spark.range(6).select(F.col("id").alias("doc_id"))
    media = M.attach_wav_payload(df, "doc_id")
    got = {r.media_id: r for r in M.wav_sample_stats(media).collect()}
    assert got[0].n_frames == 50 and got[0].n_channels == 1
    assert got[1].n_frames == 51 and got[1].n_channels == 2
    assert got[1].sample_rate == 16000
    ch0 = [((1 * 31 + (k * 2) * 17) % 65536) - 32768 for k in range(51)]
    assert got[1].sum_amp == sum(ch0)
    assert got[1].min_amp == min(ch0) and got[1].max_amp == max(ch0)


def test_decode_media_real_routes_to_real_parser(spark):
    """r4 verdict ask #5: decode_media(real=True) on a PNG payload
    must go through the REAL header parser — the decoded dims are the
    encoded dims, NOT what the md5-seeded fake would fabricate."""
    from pyspark.sql import functions as F

    from wilayah_aceh_etl_spark.operators import multimodal as M

    df = spark.range(3, 4).select(F.col("id").alias("doc_id"))
    media = M.attach_png_payload(df, "doc_id")
    [row] = M.decode_media(media, real=True).collect()
    assert (row.width, row.height) == (1 + 3 % 64, 1 + (3 * 7) % 64)
    payload = bytes(media.collect()[0].payload)
    fake = M._fake_decode(payload)
    assert (row.width, row.height) != (fake[0], fake[1])
    assert M.parse_image_header(payload) == (row.width, row.height, 1)


def test_logreg_trainer_learns_separable_data(spark, tmp_path):
    """On linearly separable data the quantized GD trainer must
    reach 100% training accuracy within a few iterations, from the
    registered query's own code path."""
    from pyspark.sql import functions as F

    from wilayah_aceh_etl_spark.operators.ml_train import (
        logreg_train_quantized,
    )

    # y = 1 iff x0 > 0, with margin; 2-dim, 40 rows
    rows = [
        (i, [1.0 + (i % 7) * 0.1, ((i * 13) % 5 - 2) * 0.3], 1)
        for i in range(20)
    ] + [
        (20 + i, [-1.0 - (i % 7) * 0.1, ((i * 7) % 5 - 2) * 0.3], 0)
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, y int"
    )
    out = {
        r["iter"]: r["n_correct"]
        for r in logreg_train_quantized(df, n_iter=4, lr=1.0).collect()
    }
    assert out[4] == 40, out
    # monotone non-decreasing accuracy on this easy problem
    assert out[1] <= out[2] <= out[3] <= out[4]
    # determinism: re-running gives the identical trajectory
    again = {
        r["iter"]: r["n_correct"]
        for r in logreg_train_quantized(df, n_iter=4, lr=1.0).collect()
    }
    assert again == out


def test_bpe_trainer_learns_known_merges(spark, tmp_path):
    """Hand-built corpus with merges known by construction,
    including a run of identical tokens (left-greedy floor(k/2))
    and early exhaustion (fewer possible merges than iterations)."""
    from wilayah_aceh_etl_spark.plans.round7_queries import (
        text_bpe_train_merges,
    )

    # 'aaaa' x3 + 'ab' x1: pair (a,a) counted overlapping = 3*3=9;
    # merge1 = (a,a) -> 'aa|aa' (greedy, 2 merges per word);
    # then (aa,aa) count 3 -> merge2; then (a,b) count 1 -> merge3
    rows = [(i, "aaaa aaaa aaaa ab") for i in range(1)]
    sf = _write(
        spark, tmp_path, "documents", rows, "doc_id long, text string"
    )
    got = [
        (r.iter, r.merge_left, r.merge_right, r.pair_count)
        for r in text_bpe_train_merges(spark, sf).collect()
    ]
    assert got == [
        (1, "a", "a", 9),
        (2, "aa", "aa", 3),
        (3, "a", "b", 1),
    ]

    # exhaustion: single two-char word -> only one merge possible
    sf2 = _write(
        spark, tmp_path / "d2", "documents", [(0, "xy xy")],
        "doc_id long, text string",
    )
    got2 = text_bpe_train_merges(spark, str(tmp_path / "d2")).collect()
    assert [(r.iter, r.merge_left, r.merge_right) for r in got2] == [
        (1, "x", "y")
    ]


def test_kmeans_seeds_by_rank_on_offset_ids(spark):
    """Rank-based seeding (r8 review finding): a corpus whose ids all
    exceed C must still train with C seeds instead of crashing on an
    empty argmax, and the derived-C sizing invariant must hold on
    id-sparse corpora. Dense 0-based corpora are unaffected (rank-k
    == id<C there — every oracle-gated query keeps its semantics)."""
    from wilayah_aceh_etl_spark.operators import similarity as S

    rows = [
        (100000 + i * 7, [float(v), float((v * 3 + i) % 11 - 5)])
        for i, v in enumerate([1, 2, 3, 100, 101, 102])
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = S.kmeans_centroids(corpus, n_centroids=2, n_iter=2).collect()
    assert len(cents) >= 1
    # seeds keyed by ORIGINAL id: both from the corpus's first 2 by rank
    assert {int(r["cid"]) for r in cents} <= {100000, 100007}
    # derived-C semantic dedup on the same offset corpus: every row
    # verdicted, mean cluster size within target
    got = S.semantic_dedup(
        corpus, threshold=0.35, n_iter=1,
        n_centroids=None, target_cluster_size=2,
    ).collect()
    assert len(got) == len(rows)
    sizes = {}
    for r in got:
        sizes[r.cid] = sizes.get(r.cid, 0) + 1
    assert len(rows) / max(16, -(-len(rows) // 2)) <= 2
