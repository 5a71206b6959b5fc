"""Extension-operator tests: MinHashLSH recall vs exact jaccard, ANN
recall vs brute force, simhash properties, dedup survivors."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.operators.minhash import (
    minhash_neardup_pairs,
    neardup_components,
)
from serverless_etl_reporting_pipeline_spark.operators.multimodal import attach_binary, frame_sample, resize
from serverless_etl_reporting_pipeline_spark.operators.vectors import knn_bruteforce, quantize_np
from serverless_etl_reporting_pipeline_spark.plans import REGISTRY
from serverless_etl_reporting_pipeline_spark.sources.reader import load_table


def test_minhash_recall_of_true_pairs(spark, sf_dir):
    """Every exact-jaccard≥0.5 pair (t07 oracle-verified) must be found
    by the LSH candidate join."""
    docs = load_table(spark, sf_dir, "documents")
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in REGISTRY["t07_ngram_jaccard_pairs"].builder(spark, sf_dir).collect()
    }
    assert true_pairs, "fixture should contain planted near-dup pairs"
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_neardup_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert true_pairs <= lsh_pairs


def test_incremental_neardup_flags_synthetic(spark):
    """Snapshot docs are flagged iff they have a corpus near-dup, with
    dup_src = the SMALLEST matching corpus id; corpus-internal dups and
    snapshot-internal dups must not flag anything."""
    from serverless_etl_reporting_pipeline_spark.operators.minhash import incremental_neardup_flags

    X = [f"x{i}" for i in range(16)]
    Y = [f"y{i}" for i in range(16)]
    corpus = spark.createDataFrame(
        [(1, " ".join(X)), (2, " ".join(X)), (3, " ".join(Y))],  # 1~2 internal dup
        "doc_id long, text string",
    )
    snapshot = spark.createDataFrame(
        [(10, " ".join(X)), (11, " ".join(f"z{i}" for i in range(16))),
         (12, " ".join(f"w{i}" for i in range(16))), (13, " ".join(f"w{i}" for i in range(16)))],
        "doc_id long, text string",  # 12~13 snapshot-internal dup: NOT flagged
    )
    out = {
        r["doc_id"]: (r["is_dup"], r["dup_src"])
        for r in incremental_neardup_flags(corpus, snapshot, jaccard_threshold=0.5).collect()
    }
    assert out == {10: (True, 1), 11: (False, None), 12: (False, None), 13: (False, None)}


def test_neardup_components_chain_propagation(spark):
    """Min-label propagation across a 3-node chain needs >1 round —
    the exact case a single-pass rule gets wrong."""
    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["lbl"] for r in neardup_components(pairs).collect()}
    assert comp == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}


def test_neardup_components_driver_fold_matches_distributed(spark, monkeypatch):
    """The bounded driver union-find (edges ≤ _CC_DRIVER_CAP) and the
    distributed min-label loop must label every graph identically —
    forcing the fallback with a cap of 0 pins the equivalence on a
    shape with chains, a V, and a singleton edge."""
    from serverless_etl_reporting_pipeline_spark.operators import minhash as mh

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (5, 40), (70, 80), (80, 60)],
        "id_a long, id_b long",
    )
    fold = {r["id"]: r["lbl"] for r in mh.neardup_components(pairs).collect()}
    monkeypatch.setattr(mh, "_CC_DRIVER_CAP", 0)  # probe always truncates
    loop = {r["id"]: r["lbl"] for r in mh.neardup_components(pairs).collect()}
    assert fold == loop == {10: 5, 20: 5, 30: 5, 40: 5, 5: 5, 70: 60, 80: 60, 60: 60}


def test_transitive_survivors_collapse_vshapes(spark):
    """docs 1 and 2 are each near-dups of 3 but not of each other (a
    V-shape, so a direct keep-lowest rule would keep {1, 2});
    connected components keep only the component min {1}."""
    X = [f"x{i}" for i in range(16)]
    Y = [f"y{i}" for i in range(16)]
    rows = [(1, " ".join(X)), (2, " ".join(Y)), (3, " ".join(X[:14] + Y[:14]))]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_neardup_pairs(docs, jaccard_threshold=0.4)
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 3), (2, 3)}
    losers = {r["id"] for r in neardup_components(pairs).collect() if r["lbl"] < r["id"]}
    assert {r[0] for r in rows} - losers == {1}


def test_ann_e2lsh_prunes_and_recalls(spark, sf_dir):
    """E2LSH approx top-k must (a) actually prune — fewer candidates than
    the full set — and (b) overlap the exact euclidean top-10."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import ann_topk_e2lsh

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(quantize_np(emb.filter("vec_id = 0").select("embedding").collect()[0][0]))
    rest = emb.filter("vec_id != 0")
    # k larger than the fixture so the result size IS the candidate count
    n = rest.count()
    cands = ann_topk_e2lsh(rest, q, k=n).count()
    assert 0 < cands < n, f"no pruning: {cands}/{n} candidates"
    approx = {r["vec_id"] for r in ann_topk_e2lsh(rest, q, k=10).collect()}
    exact = {r["vec_id"] for r in knn_bruteforce(rest, q, k=10).collect()}
    assert approx & exact


def test_lsh_banded_neardup_subset_of_exact(spark, sf_dir):
    """Banded-LSH near-dup pairs must be a nonempty SUBSET of the exact
    all-pairs result at the same threshold (blocking can only lose
    pairs, never invent them), with identical cosines on the overlap."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        neardup_map,
        neardup_pairs_lsh_banded,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    lsh = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in neardup_pairs_lsh_banded(emb, threshold=0.44, seed=4242).collect()
    }
    # neardup_map emits (dup, kept-min, cos); rebuild the full exact pair
    # set from the grid kernel directly for a fair comparison
    from serverless_etl_reporting_pipeline_spark.operators.vectors import _grid_pairs, _grid_size

    q = emb.select(F.col("vec_id").cast("long").alias("_id"), F.col("embedding").alias("_qv"))
    exact = {
        (r["id_a"], r["id_b"]): round(r["raw_cos"] * 1e6) / 1e6
        for r in _grid_pairs(q, _grid_size(emb), tau=0.44).collect()
    }
    assert lsh, "banded LSH found no pairs at all"
    assert set(lsh) <= set(exact), "LSH invented pairs the exact op lacks"
    for k, v in lsh.items():
        assert v == exact[k], f"cosine mismatch on {k}"


def test_frame_sample_fanout(spark, sf_dir):
    """1→N kernel fan-out: every doc yields 2–6 even-indexed frames
    (stub probe gives 4–11 frames, sampled every 2)."""
    docs = load_table(spark, sf_dir, "documents")
    frames = frame_sample(attach_binary(docs), every_n=2)
    per_doc = frames.groupBy("doc_id").count().collect()
    assert len(per_doc) == docs.count()
    assert all(2 <= r["count"] <= 6 for r in per_doc)
    assert frames.filter(F.col("frame_idx") % 2 != 0).count() == 0


def test_resize_one_row_per_doc(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = resize(attach_binary(docs), 32, 16).collect()
    assert len(out) == docs.count()
    assert all(r["width"] == 32 and r["height"] == 16 for r in out)
    assert len({r["resized_md5"] for r in out}) > 1  # payload-dependent


def test_ivf_probes_subset(spark, sf_dir):
    """IVF top-k must return k rows, all drawn from the 2 probed cells."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import ivf_topk, quantized

    emb = load_table(spark, sf_dir, "embeddings")
    qq = emb.filter("vec_id = 0").select(quantized("embedding").alias("q")).collect()[0]["q"]
    got = ivf_topk(emb.filter("vec_id != 0"), qq, k=10, nprobe=2).collect()
    assert len(got) == 10
    labels = {
        r["label"]
        for r in emb.filter(F.col("vec_id").isin([x["vec_id"] for x in got])).select("label").collect()
    }
    assert len(labels) <= 2


def test_asof_backward_join_edges(spark):
    """Literal-frame edge cases: inclusive equality, latest-wins,
    no-match nulls, per-key isolation, payload clash rejection."""
    from datetime import datetime

    import pytest as _pytest

    from serverless_etl_reporting_pipeline_spark.operators.asof import asof_backward_join

    t = lambda m: datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(1, t(10), "a"), (2, t(5), "a"), (3, t(0), "b"), (4, t(30), "c")],
        "id bigint, ts timestamp, k string",
    )
    right = spark.createDataFrame(
        [("a", t(5), 100), ("a", t(9), 101), ("b", t(1), 200)],
        "k string, rts timestamp, payload int",
    )
    out = {
        r["id"]: r["payload"]
        for r in asof_backward_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts", payload_cols=["payload"]
        ).collect()
    }
    assert out[1] == 101  # latest at-or-before wins (not just any earlier)
    assert out[2] == 100  # equal timestamp is inclusive
    assert out[3] is None  # right row is later -> no match
    assert out[4] is None  # key with no right rows at all
    with _pytest.raises(ValueError):
        asof_backward_join(left, right.withColumnRenamed("payload", "id"),
                           on=["k"], left_ts="ts", right_ts="rts", payload_cols=["id"])


def test_interval_join_edges(spark):
    """Inclusive bounds, cross-bucket matches, out-of-window exclusion,
    clash rejection."""
    from datetime import datetime, timedelta

    import pytest as _pytest

    from serverless_etl_reporting_pipeline_spark.operators.rangejoin import interval_join

    base = datetime(2024, 1, 1, 10, 0, 0)
    left = spark.createDataFrame([(1, base, "a")], "lid bigint, ts timestamp, k string")
    right = spark.createDataFrame(
        [
            (10, base - timedelta(minutes=5), "a"),  # exactly at lower bound (inclusive)
            (11, base, "a"),  # exactly at upper bound (inclusive)
            (12, base - timedelta(minutes=4, seconds=59), "a"),  # crosses bucket boundary
            (13, base - timedelta(minutes=5, microseconds=1), "a"),  # 1us outside
            (14, base - timedelta(minutes=1), "b"),  # wrong key
        ],
        "rid bigint, rts timestamp, k string",
    )
    got = {
        r["rid"]
        for r in interval_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            lower_us=-5 * 60 * 1_000_000, upper_us=0,
        ).collect()
    }
    assert got == {10, 11, 12}
    with _pytest.raises(ValueError):
        interval_join(left, right.withColumnRenamed("rts", "ts"),
                      on=["k"], left_ts="ts", right_ts="ts", lower_us=-1, upper_us=0)
    with _pytest.raises(ValueError):  # inverted bounds = empty window
        interval_join(left, right, on=["k"], left_ts="ts", right_ts="rts",
                      lower_us=0, upper_us=-300_000_000)


def test_embedding_neardup_map_properties(spark, sf_dir):
    """Survivor map invariants: kept_id is always a smaller id, each dup
    appears once, and every above-threshold pair's larger side is mapped."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import neardup_map, top_similar_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    rows = neardup_map(emb, threshold=0.44).collect()
    assert rows, "threshold 0.44 should catch the closest synthetic pairs"
    assert all(r["kept_id"] < r["dup_id"] for r in rows)
    assert len({r["dup_id"] for r in rows}) == len(rows)
    top = top_similar_pairs(emb, k=1).collect()[0]
    if top["raw_cos"] >= 0.44:
        assert top["id_b"] in {r["dup_id"] for r in rows}


def test_simhash_near_dups_close(spark, sf_dir):
    """Planted near-dup pairs should have small simhash hamming distance
    relative to random pairs."""
    sig = {r["doc_id"]: r["simhash"] for r in REGISTRY["t08_simhash"].builder(spark, sf_dir).collect()}
    pairs = [(r["id_a"], r["id_b"]) for r in REGISTRY["t07_ngram_jaccard_pairs"].builder(spark, sf_dir).collect()]

    def ham(a, b):
        return sum(x != y for x, y in zip(sig[a], sig[b]))

    near = [ham(a, b) for a, b in pairs]
    some_random = [ham(0, d) for d in list(sig)[1:40] if d != 0]
    assert max(near) < sum(some_random) / len(some_random)  # near-dups ≪ random average


def test_chunk_tokens_overlap_and_coverage(spark):
    """Chunks cover every token; consecutive chunks share exactly
    `overlap` tokens; short/empty docs yield one chunk."""
    from serverless_etl_reporting_pipeline_spark.operators.text import chunk_tokens, tokens

    import pytest as _pytest

    words_170 = " ".join(f"w{i}" for i in range(170))
    df = spark.createDataFrame(
        [(1, words_170), (2, "just three words"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_tokens(df, "doc_id", "text", chunk_size=100, overlap=20).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 170 tokens, stride 80: ceil((170-20)/80)=2 chunks of 100 and 90
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_chunk_tokens"] for r in c1] == [100, 90]
    a, b = c1[0]["chunk_text"].split(), c1[1]["chunk_text"].split()
    assert a[80:] == b[:20]          # exact overlap region
    assert a + b[20:] == words_170.split()  # full coverage, in order
    # short doc: one whole chunk; empty doc: one empty chunk
    assert [r["n_chunk_tokens"] for r in by_doc[2]] == [3]
    assert [r["n_chunk_tokens"] for r in by_doc[3]] == [0]
    with _pytest.raises(ValueError):
        chunk_tokens(df, "doc_id", "text", chunk_size=50, overlap=50)


def test_stratified_sample_quota_and_determinism(spark, sf_dir):
    from serverless_etl_reporting_pipeline_spark.operators.text import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    samp = stratified_sample(docs, ["lang"], 10, "doc_id")
    counts = {r["lang"]: r["n"] for r in samp.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    pop = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in counts.items():
        assert n == min(10, pop[lang])
    # rerun-stable: same ids both times
    ids1 = sorted(r["doc_id"] for r in samp.collect())
    ids2 = sorted(r["doc_id"] for r in stratified_sample(docs, ["lang"], 10, "doc_id").collect())
    assert ids1 == ids2


def test_kmv_sketch_exact_when_under_k(spark):
    """Fewer distinct keys than k → the sketch holds them all and the
    estimate IS the exact distinct count."""
    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_sketch

    df = spark.range(1000).select((F.col("id") % 37).alias("k"))
    row = kmv_sketch(df, F.col("k"), k=256).collect()[0]
    assert row["n_rows"] == 1000
    assert row["k_used"] == 37
    assert row["est_distinct"] == 37


def test_kmv_sketch_partition_invariant_and_close(spark):
    """The k-th minimum (and hence the estimate) must not depend on how
    the input is split; the estimate should land within ~3/sqrt(k)."""
    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_sketch

    base = spark.range(20000).select(F.col("id").alias("k"))
    a = kmv_sketch(base.repartition(3), F.col("k"), k=128).collect()[0]
    b = kmv_sketch(base.repartition(17), F.col("k"), k=128).collect()[0]
    assert a == b
    assert abs(a["est_distinct"] - 20000) < 20000 * 0.3


def test_frequent_keys_equals_plain_groupby(spark):
    """Candidate pruning must not change the answer: compare against the
    plain groupBy heavy-hitter set on a skewed synthetic."""
    from serverless_etl_reporting_pipeline_spark.operators.sketch import frequent_keys

    # key i appears i^2 times, i in 1..40 → n = 22140, heavy tail
    df = spark.range(1, 41).select(
        F.explode(F.expr("sequence(1, CAST(id * id AS INT))")).alias("_"),
        F.col("id").alias("k"),
    )
    got = {
        (r["key_value"], r["cnt"])
        for r in frequent_keys(df.repartition(5), F.col("k"), threshold_denom=50, capacity=64).collect()
    }
    n = df.count()
    want = {
        (str(r["k"]), r["c"])
        for r in df.groupBy("k").agg(F.count("*").alias("c")).filter(F.col("c") * 50 > n).collect()
    }
    assert got == want and want


def test_frequent_keys_capacity_contract(spark):
    from serverless_etl_reporting_pipeline_spark.operators.sketch import frequent_keys
    import pytest as _pytest

    df = spark.range(10).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError):
        frequent_keys(df, F.col("k"), threshold_denom=100, capacity=50)


def test_sq8_rerank_matches_bruteforce_head(spark, sf_dir):
    """SQ8's reranked top-k comes from int8-score candidates; with 50
    candidates over the fixture the exact top-1 must survive the cut,
    and the cosines it reports must equal the exact kernel's."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import sq8_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"]: r["cos"] for r in knn_bruteforce(rest, list(quantize_np(q)), k=10).collect()}
    sq = sq8_rerank_topk(rest, list(q), k=10, n_candidates=50).collect()
    assert abs(sq[0]["score_i8"]) <= 127 * 127 * 64
    top_exact = max(exact, key=exact.get)
    sq_ids = [r["vec_id"] for r in sq]
    assert top_exact in sq_ids
    for r in sq:
        if r["vec_id"] in exact:
            assert r["cos"] == exact[r["vec_id"]]


def test_kmv_grouped_exact_under_k_and_partition_invariant(spark):
    """Per-group sketches: groups with < k distinct keys report the
    exact distinct count; results must not depend on input split."""
    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_sketch_grouped

    # group g in {0,1,2}: g=0 has 10 distinct keys, g=1 has 300, g=2 has 50
    df = spark.range(6000).select(
        (F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 30)
        .when(F.col("id") % 3 == 1, F.col("id") % 900)
        .otherwise(F.col("id") % 150)
        .alias("k"),
    )
    a = sorted(kmv_sketch_grouped(df.repartition(2), ["g"], F.col("k"), k=128).collect())
    b = sorted(kmv_sketch_grouped(df.repartition(13), ["g"], F.col("k"), k=128).collect())
    assert a == b
    by_g = {r["g"]: r for r in a}
    assert by_g[0]["k_used"] == 10 and by_g[0]["est_distinct"] == 10
    assert by_g[2]["k_used"] == 50 and by_g[2]["est_distinct"] == 50
    # g=1 has 300 distinct (> k): estimate within 3/sqrt(128) ≈ 27%
    assert by_g[1]["k_used"] == 128
    assert abs(by_g[1]["est_distinct"] - 300) < 300 * 0.3
    assert all(r["n_rows"] == 2000 for r in a)


def test_kmv_grouped_null_group_and_null_keys(spark):
    """NULL semantics are defined: a NULL group key keeps its own sketch
    row (pandas partial must not dropna it, merge join must be
    null-safe), NULL key values are excluded from the sketch but counted
    in n_rows, and an all-NULL-key group is absent entirely."""
    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_sketch_grouped

    df = spark.createDataFrame(
        # group 'a': 3 rows, keys {1, 2, NULL}; group NULL: 2 rows, keys {7, 8};
        # group 'z': 2 rows, both keys NULL
        [("a", 1), ("a", 2), ("a", None), (None, 7), (None, 8), ("z", None), ("z", None)],
        "g string, k int",
    )
    rows = {r["g"]: r for r in kmv_sketch_grouped(df.repartition(3), ["g"], F.col("k"), k=16).collect()}
    assert set(rows) == {"a", None}, rows  # 'z' (all-NULL keys) absent, NULL group kept
    assert rows["a"]["n_rows"] == 3 and rows["a"]["k_used"] == 2 and rows["a"]["est_distinct"] == 2
    assert rows[None]["n_rows"] == 2 and rows[None]["est_distinct"] == 2


def test_x04_interval_brackets_true_quantile(spark, sf_dir):
    """The histogram sketch's [est_lo, est_hi) bucket interval must
    contain the TRUE order-statistic quantile (ceil(q*n)-th smallest),
    and the interval width must be exactly one bucket."""
    rows = REGISTRY["x04_histogram_quantiles"].builder(spark, sf_dir).collect()
    vals = sorted(
        r["value"]
        for r in load_table(spark, sf_dir, "events").select("value").dropna().collect()
    )
    assert len(rows) == 3
    for r in rows:
        t = -(-(r["q_micro"] * r["n_rows"]) // 1000000)  # exact ceil
        true_v = vals[t - 1]
        true_micro = round(true_v * 1000000)
        # ±1 micro slack for the rounded bound representation
        assert r["est_lo_micro"] - 1 <= true_micro <= r["est_hi_micro"] + 1, (r, true_v)
        assert r["cum_count"] >= t > r["cum_count"] - r["n_rows"]


def test_pipe01_funnel_consistent_with_standalone_stages(spark, sf_dir):
    """The composed pipeline must agree with the standalone stage
    queries it chains: quality totals match t16's keep bucket, funnel
    counts are monotone per domain, and the mixture targets apportion
    the budget exactly."""
    from serverless_etl_reporting_pipeline_spark.plans.pipeline import _PIPE_BUDGET

    rows = REGISTRY["pipe01_pretrain_funnel"].builder(spark, sf_dir).collect()
    spark.catalog.clearCache()
    assert rows
    for r in rows:
        assert r["n_raw"] >= r["n_quality"] >= r["n_dedup"] >= r["n_clean"] >= r["n_selected"]
    t16 = {
        r["reason"]: r["docs"]
        for r in REGISTRY["t16_quality_filter"].builder(spark, sf_dir).collect()
    }
    assert sum(r["n_quality"] for r in rows) == t16.get("keep", 0)
    # largest-remainder apportionment: targets of domains WITH clean docs
    # sum exactly to the budget
    assert sum(r["target_docs"] for r in rows if r["n_clean"] > 0) == _PIPE_BUDGET
    assert sum(r["n_selected"] for r in rows) > 0


def test_v11_semdedup_subset_of_v07_exact(spark, sf_dir):
    """Cluster-bucketed semantic dedup can only RESTRICT the exact
    all-pairs dup map: every v11 dup is a v07 dup at the same threshold,
    and its survivor id can only be >= the global survivor (the cluster
    hides some smaller-id candidates). Equality is not expected — that
    is the recall/work trade the clustering buys."""
    v11 = {r["dup_id"]: r for r in REGISTRY["v11_semdedup"].builder(spark, sf_dir).collect()}
    v07 = {r["dup_id"]: r for r in REGISTRY["v07_embedding_neardup"].builder(spark, sf_dir).collect()}
    assert v11, "fixture produced no semantic dups — test is vacuous"
    assert set(v11) <= set(v07), set(v11) - set(v07)
    for dup_id, r in v11.items():
        assert r["kept_id"] >= v07[dup_id]["kept_id"], (dup_id, r, v07[dup_id])


def test_v12_probe_consistent_with_v09_pairs(spark, sf_dir):
    """The incremental probe must agree exactly with the full banded
    pair set restricted to watermark-crossing pairs: a snapshot vector
    is flagged iff v09 found it a cross-watermark pair, dup_src is the
    smallest such corpus id, and the cosine matches bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    wm = int(0.8 * (max_id + 1))
    v09 = REGISTRY["v09_embedding_neardup_lsh"].builder(spark, sf_dir).collect()
    cross = {}
    for r in v09:  # id_a < id_b always; crossing pairs have id_a < wm <= id_b
        if r["id_a"] < wm <= r["id_b"]:
            cur = cross.get(r["id_b"])
            if cur is None or r["id_a"] < cur[0]:
                cross[r["id_b"]] = (r["id_a"], r["cos"])
    v12 = REGISTRY["v12_incremental_embedding_probe"].builder(spark, sf_dir).collect()
    assert cross, "fixture produced no cross-watermark near-dups — vacuous"
    got = {r["vec_id"]: (r["dup_src"], r["cos"]) for r in v12 if r["is_dup"]}
    assert got == cross
    assert {r["vec_id"] for r in v12} == {
        int(r["vec_id"]) for r in emb.filter(F.col("vec_id") >= wm).select("vec_id").collect()
    }


def test_t23_consistent_with_t21_stats(spark, sf_dir):
    """The scrub transform must agree with the stats query it extends:
    per doc, t23.n_passages == t21.n_passages and t23.n_dropped ==
    t21.n_dup_passages — and at least one doc actually loses passages."""
    t21 = {r["doc_id"]: r for r in REGISTRY["t21_passage_dedup_stats"].builder(spark, sf_dir).collect()}
    t23 = {r["doc_id"]: r for r in REGISTRY["t23_boilerplate_scrub"].builder(spark, sf_dir).collect()}
    assert set(t21) == set(t23)
    for d, r in t23.items():
        assert r["n_passages"] == t21[d]["n_passages"], d
        assert r["n_dropped"] == t21[d]["n_dup_passages"], d
        assert r["n_kept"] + r["n_dropped"] == r["n_passages"], d
    assert any(r["n_dropped"] > 0 for r in t23.values()), "scrub vacuous on fixture"


def test_v13_batch_knn_matches_per_query_bruteforce(spark, sf_dir):
    """The batched kernel must give EXACTLY the single-query brute-force
    answer for every query in the batch (same corpus, same k, same
    tie-break) — the batching is a physical optimization only."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    batch = {
        (r["qid"], r["rk"]): (r["vec_id"], r["cos"])
        for r in REGISTRY["v13_batch_knn"].builder(spark, sf_dir).collect()
    }
    for qid in (0, 3, 7):
        qv = emb.filter(F.col("vec_id") == qid).select("embedding").collect()[0][0]
        single = knn_bruteforce(corpus, list(quantize_np(qv)), k=3).collect()
        for rk, r in enumerate(single, start=1):
            assert batch[(qid, rk)] == (r["vec_id"], r["cos"]), (qid, rk)


def test_t24_ratio_consistent_with_t19_counts(spark, sf_dir):
    """The ratio-policy verdict must agree with t19's any-overlap count:
    identical shared-shingle numbers on the overlap set, identical
    flagged-doc universe, and the 20% flag exactly where shared*5 >=
    n_shingles."""
    t19 = {r["doc_id"]: r["shared_8grams"] for r in REGISTRY["t19_decontamination"].builder(spark, sf_dir).collect()}
    t24 = {r["doc_id"]: r for r in REGISTRY["t24_contamination_ratio"].builder(spark, sf_dir).collect()}
    assert {d for d, r in t24.items() if r["shared"] > 0} == set(t19)
    for d, shared in t19.items():
        assert t24[d]["shared"] == shared, d
    for d, r in t24.items():
        assert r["contaminated"] == (r["shared"] * 5 >= r["n_shingles"]), d


def test_semdedup_degenerate_inputs_defined(spark):
    """r6 advisor: NULL labels must raise (not TypeError deep in sorted),
    and zero-norm vectors must behave deterministically — assigned to the
    lowest label, never flagged as anyone's duplicate."""
    import pytest as _pytest

    from serverless_etl_reporting_pipeline_spark.operators.vectors import semdedup_map

    schema = "vec_id long, embedding array<float>, label long"
    with _pytest.raises(ValueError, match="NULL label"):
        semdedup_map(
            spark.createDataFrame(
                [(1, [1.0, 0.0], 0), (2, [0.9, 0.1], None)], schema
            )
        ).collect()

    # ids 1,2 are near-identical in cluster 0; id 3 is a ZERO vector
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.999, 0.001], 0),
            (3, [0.0, 0.0], 7),
            (4, [0.0, 1.0], 7),
        ],
        schema,
    )
    rows = semdedup_map(df, threshold=0.9).collect()
    # 2 dups onto 1; the zero vector neither pairs with 4 (same label)
    # nor with anything it lands near after deterministic assignment
    assert [(r["dup_id"], r["kept_id"]) for r in rows] == [(2, 1)]


def test_v14_ivf_probe_recall_and_exhaustive_equivalence(spark, sf_dir):
    """IVF probe quality contract: (1) probing EVERY cell is exactly
    exact kNN — same rows, same ranks, same cosines (the bucket union
    covers the corpus and both paths share the (cos DESC, id) total
    order), so any kernel/pruning bug breaks equality; (2) recall is
    monotone non-decreasing in nprobe (more buckets can only add
    candidates)."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        batch_knn,
        ivf_batch_probe,
        ivf_index_build,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    exact = [tuple(r) for r in batch_knn(corpus, queries, k=3).collect()]
    cent, post = ivf_index_build(corpus)
    n_cells = cent.count()
    assert [
        tuple(r) for r in ivf_batch_probe(cent, post, queries, k=3, nprobe=n_cells).collect()
    ] == exact
    exact_set = {(q, v) for q, v, _, _ in exact}
    prev = -1.0
    for nprobe in (1, 2, max(2, n_cells // 2), n_cells):
        got = {
            (r["qid"], r["vec_id"])
            for r in ivf_batch_probe(cent, post, queries, k=3, nprobe=nprobe).collect()
        }
        recall = len(got & exact_set) / len(exact_set)
        assert recall >= prev - 1e-9, f"recall dropped at nprobe={nprobe}"
        prev = recall
    assert prev == 1.0  # full probe == exact
    spark.catalog.clearCache()


def test_ivf_probe_zero_norm_vectors_excluded(spark):
    """Zero-norm corpus/query vectors have undefined cosine: the corpus
    row never appears in any result, the zero query returns no rows, and
    well-formed queries are unaffected — deterministically, no NaNs."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        ivf_batch_probe,
        ivf_index_build,
    )

    schema = "vec_id long, embedding array<float>, label long"
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 0),
            (11, [0.9, 0.1], 0),
            (12, [0.0, 0.0], 0),  # zero-norm posting in a probed cell
            (13, [0.0, 1.0], 1),
        ],
        schema,
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 0.0], 0)], schema
    ).select(F.col("vec_id").alias("qid"), "embedding")
    cent, post = ivf_index_build(corpus)
    rows = ivf_batch_probe(cent, post, queries, k=4, nprobe=2).collect()
    assert {r["qid"] for r in rows} == {0}  # zero query contributes nothing
    got = [r["vec_id"] for r in rows]
    assert 12 not in got and got[0] == 10  # zero posting excluded, best first
    spark.catalog.clearCache()


def test_zero_norm_vectors_never_ranked(spark):
    """r7 verdict ask #1: the pre-r7 kernels (knn_bruteforce, ann_topk_rp,
    sq8_rerank_topk, batch_knn, ivf_topk, the pair grids and the band-index
    probe) must follow the ivf_batch_probe valid-mask discipline — a
    zero-norm corpus vector is excluded from every ranking, a zero-norm
    query yields no rows, and no NaN ever reaches a comparison. The
    euclidean ann_topk_e2lsh shares the top-k scan core: corrupt rows are
    never returned, and a zero vector ranks at its defined distance."""
    import math

    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        ann_topk_e2lsh,
        ann_topk_rp,
        batch_knn,
        ivf_topk,
        knn_bruteforce,
        neardup_map,
        neardup_pairs_lsh_banded,
        neardup_vector_index_probe,
        quantize_np,
        sq8_rerank_topk,
        top_similar_pairs,
    )

    schema = "vec_id long, embedding array<float>, label long"
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.999, 0.001], 0),
            (3, [0.0, 0.0], 0),  # zero-norm: cosine undefined
            (4, [0.0, 1.0], 1),
            (5, [-1.0, 0.0], 1),
        ],
        schema,
    )
    q = list(quantize_np([1.0, 0.0]))
    zq = list(quantize_np([0.0, 0.0]))

    # single-query top-k kernels: zero corpus row absent, zero query empty
    for fn in (knn_bruteforce, ann_topk_rp):
        rows = fn(df, q, k=5).collect()
        assert rows and 3 not in [r[0] for r in rows], fn.__name__
        assert not any(math.isnan(r["cos"]) for r in rows), fn.__name__
        assert fn(df, zq, k=5).collect() == [], fn.__name__
    rows = ivf_topk(df, q, k=5, nprobe=2).collect()
    assert rows and 3 not in [r[0] for r in rows]
    assert not any(math.isnan(r["cos"]) for r in rows)
    assert ivf_topk(df, zq, k=5, nprobe=2).collect() == []
    rows = sq8_rerank_topk(df, [1.0, 0.0], k=5, n_candidates=3).collect()
    # zero row dropped BEFORE the candidate cut: 3 real candidates survive
    assert [r[0] for r in rows] != [] and 3 not in [r[0] for r in rows]
    assert len(rows) == 3 and not any(math.isnan(r["cos"]) for r in rows)
    assert sq8_rerank_topk(df, [0.0, 0.0], k=5).collect() == []

    # NaN, Inf and >1e12 components and a ragged row never reach a
    # top-k result; euclidean E2LSH ranks the zero vector at ||q|| = 1
    df_bad = df.unionByName(
        spark.createDataFrame(
            [
                (8, [float("inf"), 1.0], 0),
                (9, [float("nan"), 1.0], 0),
                (10, [1e13, 1.0], 0),
                (11, [1.0, 0.0, 0.0], 0),  # ragged
            ],
            schema,
        )
    )
    for fn in (knn_bruteforce, ann_topk_rp):
        got = [r[0] for r in fn(df_bad, q, k=20).collect()]
        assert got and not {3, 8, 9, 10, 11} & set(got), fn.__name__
    e2 = ann_topk_e2lsh(df_bad, q, k=20, n_tables=4, rows_per_table=1, bucket_width=1e14)
    assert [(r["vec_id"], r["dist"]) for r in e2.collect()] == [
        (1, 0.0), (2, 0.001414), (3, 1.0), (4, 1.414214)
    ]

    # batched kNN: zero corpus row in no ranking, zero query qid absent
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 0.0])], "qid long, embedding array<float>"
    )
    rows = batch_knn(df, queries, k=5).collect()
    assert {r["qid"] for r in rows} == {100}
    assert 3 not in [r["vec_id"] for r in rows]
    assert not any(math.isnan(r["cos"]) for r in rows)

    # all-pairs / banded / probe shapes: the zero row never pairs
    pairs = top_similar_pairs(df, k=20).collect()
    assert len(pairs) == 6 and all(3 not in (r["id_a"], r["id_b"]) for r in pairs)
    assert not any(math.isnan(r["raw_cos"]) for r in pairs)

    # Inf/NaN-COMPONENT rows (the doctored row-900009 class) must be
    # excluded — an Inf row has norm = inf, and without the isfinite
    # mask its pairs score ±inf/NaN and rank FIRST under the -cos
    # lexsort
    df_inf = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.999, 0.001], 0),
            (8, [float("inf"), 1.0], 0),
            (9, [float("nan"), 1.0], 0),
        ],
        schema,
    )
    pairs = top_similar_pairs(df_inf, k=20).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    assert math.isfinite(pairs[0]["raw_cos"])
    dups = neardup_map(df, threshold=0.9).collect()
    assert [(r["dup_id"], r["kept_id"]) for r in dups] == [(2, 1)]
    banded = neardup_pairs_lsh_banded(df, threshold=-1.0).collect()
    assert banded and all(3 not in (r["id_a"], r["id_b"]) for r in banded)
    snap = spark.createDataFrame(
        [(6, [1.0, 0.0], 0), (7, [0.0, 0.0], 0)], schema
    )
    probe = {r["vec_id"]: r for r in neardup_vector_index_probe(df, snap, threshold=0.9).collect()}
    assert probe[6]["is_dup"] and probe[6]["dup_src"] == 1
    assert not probe[7]["is_dup"] and probe[7]["dup_src"] is None
    spark.catalog.clearCache()


def test_casefold_turkish_dotted_i_cross_engine(spark):
    """The r10 multilingual find, pinned at the primitive: Java's full
    case mapping lowercases İ (U+0130) to 'i' + U+0307 while DuckDB's
    utf8proc gives plain 'i'. `casefold` pins the simple fold, so the
    token lists and content hashes of both engines agree."""
    import duckdb

    from serverless_etl_reporting_pipeline_spark.operators.text import casefold, tokens

    text = "İstanbul ILIK ılık Iı İi dotted"
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(casefold("text").alias("lo"), tokens("text").alias("tok")).first()
    duck_lo, duck_tok = duckdb.execute(
        r"SELECT lower(?), regexp_extract_all(lower(?), '\w+')", [text, text]
    ).fetchone()
    assert row["lo"] == duck_lo == "istanbul ilik ılık iı ii dotted"
    assert list(row["tok"]) == list(duck_tok)
    # and the raw F.lower really does diverge (the reason casefold exists)
    from pyspark.sql import functions as F

    assert df.select(F.lower("text")).first()[0] != duck_lo


def test_casefold_full_unicode_parity(spark):
    """The r11 proven-complete casefold contract (r10 verdict ask #3),
    fast replay of the exhaustive tools/casefold_parity.py sweep:

    1. casefold(s) == the oracle-inlined duck_casefold(s) fragment for
       EVERY assigned Unicode code point (all planes, chunked);
    2. each of the 45 pinned code points really is raw-divergent
       (Spark lower vs DuckDB lower) in at least one word context —
       the reason the pin exists — while casefold stays parity-exact
       in all four contexts (word-final capital sigma is the
       context-sensitive one the r10 isolated-char probe missed);
    3. the pin table is exactly the documented 45-point set.

    The tool remains the completeness proof (4 contexts x every code
    point); re-run it when the JVM or DuckDB build changes."""
    import unicodedata

    import duckdb

    from serverless_etl_reporting_pipeline_spark.operators.text import (
        _CASEFOLD_PINS,
        casefold,
        duck_casefold,
    )

    # (3) the documented set
    expected = {0x0130, 0x03A3, 0x2C2F, 0xA7C0, 0xA7C7, 0xA7C9, 0xA7D0,
                0xA7D6, 0xA7D8, 0xA7F5} | {
        cp for cp in range(0x10570, 0x10596) if cp not in (0x1057B, 0x1058B, 0x10593)
    }
    assert set(_CASEFOLD_PINS) == expected and len(expected) == 45

    # (1) full assigned-repertoire chunk parity
    cps = [cp for cp in range(1, 0x110000)
           if unicodedata.category(chr(cp)) not in ("Cn", "Cs")]
    chunks = ["".join(map(chr, cps[i:i + 512])) for i in range(0, len(cps), 512)]
    rows = [(i, c) for i, c in enumerate(chunks)]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = dict(con.execute(f"SELECT i, {duck_casefold('s')} FROM t").fetchall())
    got = {
        r["i"]: r["o"]
        for r in spark.createDataFrame(rows, "i int, s string")
        .select("i", casefold("s").alias("o"))
        .collect()
    }
    bad = [i for i in want if got[i] != want[i]]
    assert not bad, f"casefold diverged on chunks {bad[:5]}"

    # (2) per-pin: raw-divergent somewhere, pinned-parity everywhere
    ctx_rows = []
    for cp in sorted(expected):
        for tpl in ("{c}", "{c}a", "a{c}b", "a{c}"):
            ctx_rows.append((cp, tpl.format(c=chr(cp))))
    duck = con.execute(
        f"SELECT lower(s), {duck_casefold('s')} FROM (SELECT UNNEST(?) AS s)",
        [[s for _, s in ctx_rows]],
    ).fetchall()
    eng = (
        spark.createDataFrame(ctx_rows, "cp int, s string")
        .select("cp", F.lower("s").alias("raw"), casefold("s").alias("pin"))
        .collect()
    )
    raw_div = set()
    for (cp, _), (d_raw, d_pin), r in zip(ctx_rows, duck, eng):
        assert r["pin"] == d_pin, f"pinned divergence at U+{cp:04X}"
        if r["raw"] != d_raw:
            raw_div.add(cp)
    assert raw_div == expected


def test_whitespace_class_parity(spark):
    """The r12 vertical-tab find: Java's \\s is [ \\t\\n\\x0B\\f\\r] while
    RE2's (DuckDB) lacks \\x0B — the ONE divergent code point in the
    whitespace zoo (all of FF, FS/GS/RS/US, NEL, NBSP, LS/PS, ZWSP
    agree). normalize_text and t05's punct strip now spell the class
    explicitly on both engines (= Java's set, so \\x0B stays
    whitespace). This replays the zoo through the live normalize +
    punct expressions on both engines and asserts byte parity."""
    import duckdb

    from serverless_etl_reporting_pipeline_spark.operators.text import (
        PUNCT_STRIP_RE,
        normalize_text,
    )

    zoo = ["a\x0bb", "a\x0cb", "a\x1cb", "a\x1db", "a\x1eb", "a\x1fb",
           "a\x85b", "a\xa0b", "a b", "a b", "a​b",
           "a \t\x0b\f\r b", "\x0bleading", "trailing\x0b"]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(zoo)], "i int, t string")
    eng = df.select(
        "i",
        normalize_text("t").alias("norm"),
        F.length(F.regexp_replace("t", PUNCT_STRIP_RE, "")).alias("punct"),
    ).collect()
    assert {r["i"]: r["norm"] for r in eng}[0] == "a b", "VT must stay whitespace"
    con = duckdb.connect()
    for r in eng:
        s = zoo[r["i"]]
        dn, dp = con.execute(
            r"SELECT trim(regexp_replace(regexp_replace(lower(?),"
            r" '[^a-z0-9\t\n\x0B\f\r ]', '', 'g'), '[\t\n\x0B\f\r ]+', ' ', 'g')),"
            r" length(regexp_replace(?, '[a-zA-Z0-9\t\n\x0B\f\r ]', '', 'g'))",
            [s, s],
        ).fetchone()
        assert (r["norm"], r["punct"]) == (dn, dp), f"diverged on {s!r}"


@pytest.mark.slow
def test_casefold_divergent_set_rederivation_matches_pin(spark):
    """CI-grade re-derivation of the casefold contract (r11 verdict ask
    #6): the fast test above pins the 45-point set and replays parity,
    but only THIS test re-runs the full derivation — every assigned
    code point x four word contexts, Spark lower vs DuckDB lower on
    identical inputs — against the INSTALLED JVM/DuckDB builds. A
    dependency bump that shifts either side's Unicode data (a new JDK
    adding case mappings, a utf8proc upgrade fixing the Vithkuqi
    mis-map) changes the derived raw-divergent set and trips here
    loudly, instead of silently un-proving the proven-complete claim.
    Skippable via `-m 'not slow'`; ~1-2 min."""
    from serverless_etl_reporting_pipeline_spark.operators.text import _CASEFOLD_PINS
    from tools.casefold_parity import derive_divergent_sets

    raw_div, pin_div, _ = derive_divergent_sets(spark)
    assert pin_div == [], (
        f"live contract broken: casefold != duck_casefold at "
        f"{[hex(c) for c in pin_div[:10]]}"
    )
    assert raw_div == sorted(_CASEFOLD_PINS), (
        "the installed JVM/DuckDB pair derives a DIFFERENT divergent set "
        "than the pinned one — a Unicode-data bump shifted the hazard "
        "inventory; re-run tools/casefold_parity.py, update the pin table "
        f"in operators/text.py, and refresh PARITY.md. derived-only: "
        f"{[hex(c) for c in sorted(set(raw_div) - set(_CASEFOLD_PINS))][:10]}, "
        f"pinned-only: "
        f"{[hex(c) for c in sorted(set(_CASEFOLD_PINS) - set(raw_div))][:10]}"
    )


def test_pii_email_regex_linear_scan(spark):
    """The r11 ReDoS find: Spark's backtracking java.util.regex retries
    the email pattern's leading char-class at EVERY offset of a long
    unbroken alphanumeric run — O(n^2), 35 s for one crafted 80 KB run
    (DuckDB's RE2 oracle side is linear by construction). The engine
    pattern now carries a negative-lookbehind run-start anchor
    (_RE_EMAIL_ENGINE): inside-run starts fail in O(1) and the match
    set is provably unchanged (a start inside a run reaches exactly
    the same '@' as the run's start). This pins (a) cross-engine match
    parity of anchored-engine vs plain-oracle on the adjacency edge
    cases, and (b) the linear wall bound on the crafted run."""
    import time

    import duckdb

    from serverless_etl_reporting_pipeline_spark.plans.curation import (
        _RE_EMAIL,
        _RE_EMAIL_ENGINE,
    )

    cases = [
        "plain a@b.co end", "!!x.y%z@mail.example.com!!", "..a@b.cc..",
        "a@b.ccx@d.ee", "no at here", "aaa@bbb", "-a@b.co",
        "a+b@c-d.org mid b_c@d.io", "tight:aa@bb.cc,dd@ee.ff",
        "run aaaaaaaaaaaaaaaaaaaa@bb.cc tail", "a@@b.cc", "a@b..cc",
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(cases)], "i int, t string")
    got = {
        r["i"]: (list(r["m"]), r["c"])
        for r in df.select(
            "i",
            F.regexp_extract_all("t", F.lit(_RE_EMAIL_ENGINE), 0).alias("m"),
            F.regexp_replace("t", _RE_EMAIL_ENGINE, "<E>").alias("c"),
        ).collect()
    }
    con = duckdb.connect()
    for i, s in enumerate(cases):
        dm, dc = con.execute(
            "SELECT regexp_extract_all(?, ?), regexp_replace(?, ?, '<E>', 'g')",
            [s, _RE_EMAIL, s, _RE_EMAIL],
        ).fetchone()
        assert got[i] == (list(dm), dc), f"match divergence on {s!r}"

    # linear bound: the crafted run must complete in engine-linear
    # time (measured 0.31 s; the unanchored pattern took 35 s)
    run = spark.createDataFrame([("a" * 80_000 + " z@y.co",)], "t string")
    t0 = time.perf_counter()
    n = run.select(F.regexp_count("t", F.lit(_RE_EMAIL_ENGINE)).alias("n")).first()["n"]
    wall = time.perf_counter() - t0
    assert n == 1
    assert wall < 8, f"email scan no longer linear: {wall:.1f}s on an 80 KB run"


def test_engine_regex_inventory_linear_scan(spark):
    """The r11 ReDoS class, swept over the WHOLE engine regex
    inventory (the email fix proved one pattern quadratic; this pins
    every other one linear so a future pattern addition that regresses
    the class fails here, not in production): each pattern runs against
    200 KB adversarial runs chosen for its worst case — unbroken
    alphanumerics (the find-loop retry shape), punctuation, whitespace,
    backslash runs (the lone-surrogate escape patterns' head), '@'-dense
    text, and a pathological mix. All are engine-linear: measured
    single-digit milliseconds; the 10 s bound is pure regression
    headroom (the quadratic email pattern took 35 s at 80 KB)."""
    import time

    from serverless_etl_reporting_pipeline_spark.operators.text import WORD_RE
    from serverless_etl_reporting_pipeline_spark.plans.curation import (
        _RE_EMAIL_ENGINE,
        _RE_IP,
        _RE_PHONE,
        _RE_URL,
    )

    n = 200_000
    runs = {
        "alnum": "a1" * (n // 2),
        "punct": "!.?," * (n // 4),
        "space": ("word" + " " * 60) * (n // 64),
        "backslash": ("\\ud8" + "\\" * 12) * (n // 16),
        "at_dense": ("a@" * 30 + ".") * (n // 61),
        "mix": ("a" * 50 + "@." + " " * 10 + "\\u" + "😀") * (n // 66),
    }
    from serverless_etl_reporting_pipeline_spark.plans.relational import (
        LONE_SURROGATE_HI,
        LONE_SURROGATE_LO,
        LONE_SURROGATE_PAIR,
    )

    from serverless_etl_reporting_pipeline_spark.operators.text import (
        NORM_STRIP_RE,
        NORM_WS_RE,
        PUNCT_STRIP_RE,
    )

    patterns = {
        "word_re": (WORD_RE, "extract"),
        "normalize_strip": (NORM_STRIP_RE, "replace"),
        "normalize_ws": (NORM_WS_RE, "replace"),
        "punct_strip": (PUNCT_STRIP_RE, "replace"),
        "pii_url": (_RE_URL, "replace"),
        "pii_email": (_RE_EMAIL_ENGINE, "replace"),
        "pii_ip": (_RE_IP, "replace"),
        "pii_phone": (_RE_PHONE, "replace"),
        "p06_surrogate_hi": (LONE_SURROGATE_HI, "rlike"),
        "p06_surrogate_lo": (LONE_SURROGATE_LO, "rlike"),
        "p06_surrogate_pair": (LONE_SURROGATE_PAIR, "rlike"),
    }
    df = spark.createDataFrame(
        [(k, s) for k, s in runs.items()], "run string, t string"
    ).cache()
    df.count()
    for name, (pat, op) in patterns.items():
        if op == "extract":
            col = F.size(F.regexp_extract_all("t", F.lit(pat), 0))
        elif op == "replace":
            col = F.length(F.regexp_replace("t", pat, "x"))
        else:
            col = F.col("t").rlike(pat).cast("int")
        t0 = time.perf_counter()
        df.select(F.sum(col)).collect()
        wall = time.perf_counter() - t0
        assert wall < 10, f"{name} superlinear: {wall:.1f}s over 6x200KB runs"
    df.unpersist()


def test_ivf_batch_probe_duplicate_qids_per_row(spark):
    """The r10 duplicate-id find: the probe kernel used to key its
    collected query batch by a qid DICT, so a duplicated qid silently
    last-won and scored candidates against the wrong vector, collect-
    order-dependently. Contract now: per-ROW probing — each version of
    a duplicated qid probes its own cells and scores its own candidates,
    and the final rank merges the union per qid deterministically."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        assign_cells,
        ivf_batch_probe,
        ivf_index_build,
    )

    schema = "vec_id long, embedding array<float>, label long"
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0], 0),
            (11, [0.9, 0.1], 0),
            (12, [-1.0, 0.0], 1),
            (13, [-0.9, -0.1], 1),
        ],
        schema,
    )
    cent, post = ivf_index_build(corpus)
    # qid 100 twice with OPPOSITE vectors: each version must rank its
    # own aligned corpus half first — the dict bug scored one version's
    # candidates with the other's vector
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0]), (100, [-1.0, 0.0])], "qid long, embedding array<float>"
    )
    rows = ivf_batch_probe(cent, post, queries, k=2, nprobe=1).collect()
    got = {(r["qid"], r["vec_id"]): r["cos"] for r in rows}
    # the union top-2 per qid = one perfect hit from EACH version
    assert set(got) == {(100, 10), (100, 12)}, rows
    assert got[(100, 10)] == 1.0 and got[(100, 12)] == 1.0
    # deterministic across reruns
    again = ivf_batch_probe(cent, post, queries, k=2, nprobe=1).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # an IDENTICAL dup qid scores its candidates twice (row multiplicity)
    q2 = spark.createDataFrame(
        [(7, [1.0, 0.0]), (7, [1.0, 0.0])], "qid long, embedding array<float>"
    )
    dup = ivf_batch_probe(cent, post, q2, k=2, nprobe=1).collect()
    assert [(r["vec_id"], r["cos"]) for r in dup] == [(10, 1.0), (10, 1.0)]
    # assign_cells stays per-row: a duplicated arrival files both copies
    arr = spark.createDataFrame(
        [(5, [1.0, 0.0], None), (5, [-1.0, 0.0], None)], schema
    )
    cells = sorted(
        (r["_id"], r["_cell"]) for r in assign_cells(cent, arr).collect()
    )
    assert cells == [(5, 0), (5, 1)]


def test_vector_operators_empty_sides_defined(spark):
    """r7 verdict ask #5 (degenerate-input hunt): every persisted-index /
    batch operator must treat an EMPTY side as a defined case — empty
    query batch or zero-cell index probes nothing, an empty quantizer
    quarantines every arrival (_cell = -1), a Lloyd step over an empty
    quantizer yields an empty quantizer, and semdedup over an empty
    corpus yields an empty survivor map — never a numpy crash on a
    dimensionless stack."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        assign_cells,
        batch_knn,
        ivf_batch_probe,
        ivf_centroids,
        ivf_index_build,
        lloyd_refresh,
        semdedup_map,
    )

    schema = "vec_id long, embedding array<float>, label long"
    corpus = spark.createDataFrame(
        [(10, [1.0, 0.0], 0), (11, [0.9, 0.1], 0), (13, [0.0, 1.0], 1)], schema
    )
    empty = spark.createDataFrame([], schema)
    queries = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, embedding array<float>")
    eq = spark.createDataFrame([], "qid long, embedding array<float>")

    cent, post = ivf_index_build(corpus)
    assert ivf_batch_probe(cent, post, eq).collect() == []
    ecent, epost = ivf_index_build(empty)
    assert ivf_batch_probe(ecent, epost, queries).collect() == []
    assert assign_cells(ivf_centroids(corpus), empty).collect() == []
    quarantined = assign_cells(ivf_centroids(empty), corpus).collect()
    assert sorted(r["_cell"] for r in quarantined) == [-1, -1, -1]
    assert lloyd_refresh(ivf_centroids(empty), corpus).collect() == []
    assert batch_knn(corpus, eq).collect() == []
    assert batch_knn(empty, queries).collect() == []
    assert semdedup_map(empty).collect() == []
    spark.catalog.clearCache()


def test_kmv_set_algebra_degenerate_pairs(spark):
    """x05 degenerate inputs: single-group input has no pairs, a NULL
    group never pairs, and an explicit pair with exactly one present
    group degenerates to that group's own sketch (A ∪ ∅ = A,
    A ∩ ∅ = ∅) while a both-absent pair yields no row."""
    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_set_algebra

    one = spark.createDataFrame([("a", 1), ("a", 2), ("a", 2)], "grp string, k int")
    nullg = spark.createDataFrame([(None, 1), ("a", 2)], "grp string, k int")
    empty = spark.createDataFrame([], "grp string, k int")
    assert kmv_set_algebra(one, "grp", F.col("k"), k=2).collect() == []
    assert kmv_set_algebra(nullg, "grp", F.col("k"), k=2).collect() == []
    assert kmv_set_algebra(empty, "grp", F.col("k"), k=2).collect() == []
    rows = kmv_set_algebra(one, "grp", F.col("k"), k=8, pairs=[("a", "zzz")]).collect()
    assert len(rows) == 1 and rows[0]["est_union"] == 2  # exact: k_used < k
    assert rows[0]["shared"] == 0 and rows[0]["est_inter"] == 0
    assert kmv_set_algebra(one, "grp", F.col("k"), k=8, pairs=[("y", "z")]).collect() == []
    spark.catalog.clearCache()


def test_ivf_index_disk_roundtrip_prunes_partitions(spark, sf_dir, tmp_path):
    """The stored-index path: write the IVF index to parquet (postings
    partitioned by cell), load it back, probe — results must equal the
    in-session probe bit-for-bit, and the posting scan must carry a
    partition filter on _cell (only probed bucket directories read)."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        ivf_batch_probe,
        ivf_index_build,
        ivf_index_load,
        ivf_index_write,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    cent, post = ivf_index_build(corpus)
    want = [tuple(r) for r in ivf_batch_probe(cent, post, queries, k=3, nprobe=2).collect()]

    ivf_index_write(cent, post, str(tmp_path / "ivf"))
    cent2, post2 = ivf_index_load(spark, str(tmp_path / "ivf"))
    df = ivf_batch_probe(cent2, post2, queries, k=3, nprobe=2)
    assert [tuple(r) for r in df.collect()] == want
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_cell" in plan.split("PartitionFilters:")[1][:200], (
        plan[:2000]
    )
    spark.catalog.clearCache()


def test_kmv_set_algebra_exact_when_under_k(spark, sf_dir):
    """With every union sketch under k, the algebra must be EXACT: for
    each event-type pair, est_union and est_inter equal the true
    distinct-user union/intersection (and shared == est_inter)."""
    from itertools import combinations

    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_set_algebra

    ev = load_table(spark, sf_dir, "events").filter("user_id IS NOT NULL")
    users = {
        t: {r["user_id"] for r in ev.filter(F.col("event_type") == t).select("user_id").distinct().collect()}
        for t in [r[0] for r in ev.select("event_type").distinct().collect()]
    }
    rows = kmv_set_algebra(ev, "event_type", F.col("user_id"), k=32768).collect()
    assert len(rows) == len(list(combinations(users, 2)))
    for r in rows:
        a, b = users[r["type_a"]], users[r["type_b"]]
        assert r["k_used"] == len(a | b) and r["est_union"] == len(a | b)
        assert r["shared"] == len(a & b) and r["est_inter"] == len(a & b)
    spark.catalog.clearCache()


def test_kmv_set_algebra_estimates_bounded(spark, sf_dir):
    """At sketch size k=64 the estimators must stay coherent: est_inter
    <= est_union, shared <= k_used, and the union estimate lands within
    the KMV error envelope of the truth (loose 3/sqrt(k) bound)."""
    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_set_algebra

    ev = load_table(spark, sf_dir, "events").filter("user_id IS NOT NULL")
    rows = kmv_set_algebra(ev, "event_type", F.col("user_id"), k=64).collect()
    import itertools

    types = sorted({r["type_a"] for r in rows} | {r["type_b"] for r in rows})
    users = {
        t: {r["user_id"] for r in ev.filter(F.col("event_type") == t).select("user_id").distinct().collect()}
        for t in types
    }
    assert len(rows) == len(list(itertools.combinations(types, 2)))
    for r in rows:
        true_u = len(users[r["type_a"]] | users[r["type_b"]])
        assert 0 <= r["est_inter"] <= r["est_union"]
        assert 0 <= r["shared"] <= r["k_used"] <= 64
        if r["k_used"] == 64:  # estimating regime
            assert abs(r["est_union"] - true_u) <= true_u * (3 / 8) + 2  # 3/sqrt(64)
        else:
            assert r["est_union"] == true_u
    spark.catalog.clearCache()


def test_kmv_set_algebra_explicit_pairs(spark, sf_dir):
    """The high-cardinality scale dial: an explicit candidate-pair list
    skips all-pairs enumeration and returns exactly those pairs, with
    values identical to the all-pairs run."""
    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_set_algebra

    ev = load_table(spark, sf_dir, "events").filter("user_id IS NOT NULL")
    full = {(r["type_a"], r["type_b"]): tuple(r) for r in
            kmv_set_algebra(ev, "event_type", F.col("user_id"), k=64).collect()}
    some = sorted(full)[:2]
    got = {(r["type_a"], r["type_b"]): tuple(r) for r in
           kmv_set_algebra(ev, "event_type", F.col("user_id"), k=64, pairs=list(some)).collect()}
    assert set(got) == set(some) and all(got[p] == full[p] for p in some)
    spark.catalog.clearCache()


def test_kmv_set_algebra_guards(spark, sf_dir):
    """r7 self-review pins: duplicate/unordered pairs dedupe to one row
    (never double-counted), self-pairs raise, reserved column names
    raise, and an out-of-range k raises."""
    import pytest as _pytest

    from serverless_etl_reporting_pipeline_spark.operators.sketch import kmv_set_algebra

    ev = load_table(spark, sf_dir, "events").filter("user_id IS NOT NULL")
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    a, b = types[0], types[1]
    one = kmv_set_algebra(ev, "event_type", F.col("user_id"), k=64, pairs=[(a, b)]).collect()
    dup = kmv_set_algebra(
        ev, "event_type", F.col("user_id"), k=64, pairs=[(a, b), (b, a)]
    ).collect()
    assert [tuple(r) for r in dup] == [tuple(r) for r in one]
    with _pytest.raises(ValueError, match="self-pair"):
        kmv_set_algebra(ev, "event_type", F.col("user_id"), k=64, pairs=[(a, a)])
    with _pytest.raises(ValueError, match="collides"):
        kmv_set_algebra(ev.withColumnRenamed("event_type", "g"), "g", F.col("user_id"))
    with _pytest.raises(ValueError, match="sketch size"):
        kmv_set_algebra(ev, "event_type", F.col("user_id"), k=100000)
    spark.catalog.clearCache()


def test_assign_cells_nearest_tiebreak_and_quarantine(spark):
    """assign_cells files arrivals to the nearest frozen centroid by
    quantized cosine: hand-checkable nearest, the exact-tie → lowest
    cell rule, zero-norm centroids never targeted, zero-norm arrivals
    quarantined in cell -1."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        assign_cells,
        ivf_centroids,
    )

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.0, 1.0], 1),
            (2, [0.0, 0.0], 2),  # zero-norm centroid: never a target
        ],
        "vec_id long, embedding array<float>, label long",
    )
    cent = ivf_centroids(corpus)
    arrivals = spark.createDataFrame(
        [
            (10, [0.6, 0.4]),  # nearest cell 0
            (11, [0.5, 0.5]),  # exact tie 0 vs 1 -> lowest cell id
            (12, [0.0, 0.0]),  # zero-norm arrival -> quarantine
            (13, [-1.0, -2.0]),  # all cosines negative; still assigned to the
            # least-negative cell (-1/sqrt(5) vs -2/sqrt(5) -> cell 0)
        ],
        "vec_id long, embedding array<float>",
    )
    got = {r["_id"]: r["_cell"] for r in assign_cells(cent, arrivals).collect()}
    assert got == {10: 0, 11: 0, 12: -1, 13: 0}


_VEC = st.lists(
    st.integers(min_value=-8, max_value=8), min_size=3, max_size=3
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    corpus=st.lists(_VEC, min_size=2, max_size=6),
    arrivals=st.lists(_VEC, min_size=1, max_size=6),
    parts=st.integers(min_value=1, max_value=5),
)
def test_assign_cells_matches_numpy_brute_force_property(spark, corpus, arrivals, parts):
    """assign_cells == driver-side numpy argmax (quantized cosine,
    ties → lowest cell) on arbitrary integer-grid vectors, regardless
    of how the arrivals are partitioned."""
    import numpy as np

    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        QUANT,
        assign_cells,
        ivf_centroids,
        quantize_np,
    )

    corpus_df = spark.createDataFrame(
        [(i, [float(x) for x in v], i) for i, v in enumerate(corpus)],
        "vec_id long, embedding array<float>, label long",
    )
    cent = ivf_centroids(corpus_df)
    arr_df = spark.createDataFrame(
        [(100 + i, [float(x) for x in v]) for i, v in enumerate(arrivals)],
        "vec_id long, embedding array<float>",
    ).repartition(parts)
    got = {r["_id"]: r["_cell"] for r in assign_cells(cent, arr_df).collect()}

    # driver-side reference: the SAME quantized integers, brute-forced.
    # one-row cells make the centroid equal the (quantized) row itself
    rows = cent.collect()
    cells = np.array([r[0] for r in rows])
    order = np.argsort(cells)
    cells, C = cells[order], np.array(
        [[float(x) for x in rows[i][1]] for i in order]
    )
    cn = np.sqrt((C * C).sum(axis=1))
    want = {}
    for i, v in enumerate(arrivals):
        a = quantize_np(np.array(v, dtype=np.float64))
        an = np.sqrt((a * a).sum())
        if an == 0.0:
            want[100 + i] = -1
            continue
        s = np.full(len(cells), -np.inf)
        m = cn > 0.0
        s[m] = (C[m] @ a) / (cn[m] * an)
        sq = np.copysign(np.floor(np.abs(s * QUANT) + 0.5), s)
        # no finite score (every centroid zero-norm) -> quarantine
        want[100 + i] = int(cells[int(np.argmax(sq))]) if m.any() else -1
    assert got == want


def test_lloyd_refresh_moves_centroids_and_drops_empty_cells(spark):
    """One Lloyd step on a hand-checkable fixture: drifted members pull
    their new cell's integer centroid with them; a cell that loses all
    members vanishes; zero-norm rows are excluded from retraining."""
    import numpy as np

    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        ivf_centroids,
        lloyd_refresh,
        quantize_np,
    )

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [0.0, 1.0], 1),
            (2, [0.9, 0.1], 2),  # its own 1-row cell, but nearer cell 0's axis
        ],
        "vec_id long, embedding array<float>, label long",
    )
    cent = ivf_centroids(corpus)
    # refresh over the corpus PLUS a drifted arrival and a zero-norm row
    allv = corpus.select("vec_id", "embedding").unionByName(
        spark.createDataFrame(
            [(10, [0.0, 0.8]), (11, [0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
    )
    got = {r["_cell"]: [float(x) for x in r["cv"]] for r in lloyd_refresh(cent, allv).collect()}
    # one-row cells make each centroid its own row, so self-matches win:
    # 0 -> cell 0, 2 -> cell 2 (cos=1 beats cell 0's 0.994), 1 and the
    # drifted 10 -> cell 1, zero-norm 11 excluded.
    # New memberships: cell 0 = {0}, cell 1 = {1, 10}, cell 2 = {2}.
    q = lambda v: list(quantize_np(np.array(v)))
    assert set(got) == {0, 1, 2}
    assert got[0] == q([1.0, 0.0])
    assert got[2] == q([0.9, 0.1])
    # cell 1's centroid = rounded mean of quantized [0,1] and [0,0.8]
    assert got[1] == [0.0, round((1000000 + 800000) / 2)]


def test_assign_cells_all_zero_quantizer_quarantines(spark):
    """When EVERY centroid is zero-norm (symmetric members cancel), no
    cell is assignable and every arrival lands in the -1 quarantine —
    never argmax'd into a zero-norm cell."""
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        assign_cells,
        ivf_centroids,
    )

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [-1.0, 0.0], 0)],  # label-0 mean = zero vector
        "vec_id long, embedding array<float>, label long",
    )
    cent = ivf_centroids(corpus)
    arrivals = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    got = {r["_id"]: r["_cell"] for r in assign_cells(cent, arrivals).collect()}
    assert got == {10: -1, 11: -1}


def test_shingles_short_docs_empty_not_descending(spark):
    """Docs with fewer tokens than the shingle width must yield an
    EMPTY shingle array. The unguarded construction crashes here:
    Spark's sequence(1, 0) infers step -1 and DESCENDS to [1, 0]
    (unlike DuckDB's empty generate_series), indexing past the token
    array — an ANSI-mode crash on the first short document in any
    shingle consumer (t09/t19/t20/c02/c08/pipe01/funnel/...)."""
    from pyspark.sql import functions as F

    from serverless_etl_reporting_pipeline_spark.operators.text import shingles, tokens

    df = spark.createDataFrame(
        [(0, "one two three four"), (1, "one two"), (2, "one"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select("doc_id", tokens("text").alias("t"))
        .select("doc_id", shingles("t", 3).alias("s"))
        .collect()
    }
    assert got[0] == ["one two three", "two three four"]
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] in ([], None)  # null text: no shingles either way


def test_annotate_batch_counts_zero_token_docs(spark):
    """Docs with zero \\w+ tokens (empty/punctuation-only text) have no
    _token_profile row; the stage must still emit them as raw-but-not-
    quality rows (q=dd=clean=False) — the funnel accounting contract —
    instead of dropping them through an inner profile join."""
    from serverless_etl_reporting_pipeline_spark.operators.funnel import (
        annotate_batch,
        shingle_set,
    )

    docs = spark.createDataFrame(
        [
            (0, "web", "en", " ".join(f"the word number {i} is fine and good" for i in range(5))),
            (1, "web", "en", "!!! ???"),
            (2, "web", "en", ""),
        ],
        "doc_id long, source string, lang string, text string",
    )
    hold = shingle_set(docs.filter("doc_id < 0")).select("s").distinct()  # empty benchmark
    ann = {r["doc_id"]: r for r in annotate_batch(docs, hold).collect()}
    assert set(ann) == {0, 1, 2}, "every input doc must get an output row"
    for d in (1, 2):
        assert (ann[d]["q"], ann[d]["dd"], ann[d]["clean"]) == (False, False, False)
