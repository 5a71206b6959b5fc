"""Vector similarity corpus over the `embeddings` table
(SURVEY.md §2.11: similarity search, embedding near-dup, centroids).

Oracle portability: cosine in explicit double arithmetic (see
operators/vectors.py docstring), centroids over 1e-6-quantized integer
components so sums are exact and order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.operators.vectors import (
    as_double,
    ivf_topk,
    knn_bruteforce,
    top_similar_pairs,
)
from serverless_etl_reporting_pipeline_spark.plans.base import query
from serverless_etl_reporting_pipeline_spark.sources.reader import load_table

def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float] | None:
    """The designated query vector, or None when that row does not
    exist (empty table, or a feed that simply lacks the id). Callers
    must treat None as DEFINED-EMPTY via `_missing_query` — not as a
    zero vector: zero-norm is a cosine-specific escape, and v04's
    euclidean kernel would happily rank distances to a wrong-dimension
    or origin query."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id") == vec_id).select("embedding").head(1)
    return rows[0][0] if rows else None


def _missing_query(corpus: DataFrame) -> tuple[DataFrame, list[float]]:
    """The missing-query-vector contract (zero-row-table sweep): run
    the operator over an EMPTY corpus with a dummy 1-dim query — the
    kernels never see a row, so the dummy never meets real data and the
    operator's output schema is preserved; the oracles' query-vector
    subqueries are empty joins on the same data."""
    return corpus.limit(0), [0.0]


def _duck_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2]))"


def _duck_plane(p: list[float]) -> str:
    return "[" + ", ".join(str(int(v)) + ".0" for v in p) + "]"


@query(
    "v01_knn_bruteforce",
    oracle="""
    WITH qv AS (
        -- a query with NULL components has no defined neighbor set:
        -- the engine short-circuits on its NaN norm; the empty CTE
        -- empties every downstream join here
        SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS q
        FROM embeddings WHERE vec_id = 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    e AS (
        -- zero-norm vectors are excluded (cosine undefined) and so are
        -- RAGGED ones (size <> the query's dimension: no defined cosine
        -- against q at all) — the engine kernel's valid-mask +
        -- _ids_vectors(dim) discipline, mirrored here
        SELECT vec_id, v FROM (
            SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
            FROM embeddings
            WHERE vec_id <> 0 AND len(embedding) = (SELECT len(q) FROM qv) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
        ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    )
    SELECT vec_id, round(raw_cos * 1000000) / 1000000.0 AS cos
    FROM (
        SELECT e.vec_id,
               list_sum(list_transform(list_zip(e.v, q), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(q, x -> x * x)))) AS raw_cos
        FROM e, qv
    )
    ORDER BY raw_cos DESC, vec_id
    LIMIT 10
    """,
    doc="brute-force cosine top-k (query = vec 0) — north star similarity search baseline; "
    "quantized-integer cosine in one Arrow BLAS kernel (exact, oracle-identical; "
    "zero-norm corpus vectors excluded deterministically — never NaN-ranked — and "
    "ragged rows off the query's dimension excluded as corrupt; "
    "operators/vectors.py knn_bruteforce)",
)
def v01_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import quantize_np

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    if q is None:
        corpus, q = _missing_query(corpus)
    return knn_bruteforce(corpus, list(quantize_np(q)), k=10)


@query(
    "v02_top_similar_pairs",
    oracle="""
    WITH dm AS (
        -- the corpus dimension: MODAL len among non-NULL rows, ties ->
        -- smallest (the engine's _dim_of) — rows off it are corrupt
        -- (ragged) and never pair, like NULL vectors
        SELECT len(embedding) AS d FROM embeddings
        WHERE embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    q AS (
        SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS qv
        FROM embeddings WHERE len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    n AS (
        SELECT vec_id, qv, sqrt(list_sum(list_transform(qv, x -> x * x))) AS nrm FROM q
    )
    SELECT id_a, id_b, round(raw_cos * 1000000) / 1000000.0 AS cos
    FROM (
        -- zero-norm vectors never pair (cosine undefined) — the engine
        -- kernel's valid-mask discipline, mirrored here
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(list_zip(a.qv, b.qv), p -> p[1] * p[2])) / (a.nrm * b.nrm) AS raw_cos
        FROM n a JOIN n b ON a.vec_id < b.vec_id AND a.nrm > 0 AND b.nrm > 0
    )
    ORDER BY raw_cos DESC, id_a, id_b
    LIMIT 20
    """,
    doc="embedding-cosine near-dup: exact top-20 most-similar pairs via quantized-integer "
    "cosine (blocked BLAS matmul vs broadcast matrix — exact integer arithmetic in float64, "
    "so any summation order matches the oracle bit-for-bit; operators/vectors.py)",
)
def v02_top_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    top = top_similar_pairs(emb, k=20)
    return top.select(
        "id_a", "id_b", (F.round(F.col("raw_cos") * 1000000) / 1000000.0).alias("cos")
    )


@query(
    "v03_label_centroids",
    oracle="""
    SELECT label, CAST(pos - 1 AS INT) AS dim, round(avg(q)) / 1000000.0 AS centroid
    FROM (
        -- NULL components stay (avg skips them on both engines); NaN /
        -- Inf components are excluded BEFORE the cast — undefined
        -- arithmetic has no mean, and CAST(NaN AS BIGINT) errors on
        -- both engines (ANSI / DuckDB)
        SELECT label, u.pos AS pos,
               CAST(round(CAST(embedding[u.pos] AS DOUBLE) * 1000000) AS BIGINT) AS q
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(pos)
        WHERE embedding[u.pos] IS NULL
           OR (NOT isnan(CAST(embedding[u.pos] AS DOUBLE))
               AND NOT isinf(CAST(embedding[u.pos] AS DOUBLE))
               AND abs(CAST(embedding[u.pos] AS DOUBLE)) <= 1e12)
    )
    GROUP BY 1, 2
    """,
    doc="per-label centroid over 1e-6-quantized components (exact int sums, order-independent) — "
    "cluster-summary building block for IVF-style ANN. NULL-label rows surface as "
    "just another group here (a REPORT shows what the data holds); the IVF "
    "quantizer (ivf_centroids, v05/v14-v16) deliberately EXCLUDES them — a NULL "
    "label is not a cell",
)
def v03_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    inf = F.lit(float("inf"))
    exploded = (
        emb.select("label", F.posexplode(as_double("embedding")).alias("dim", "x"))
        # NULL components stay (avg skips them); NaN/Inf are excluded
        # BEFORE the bigint cast (undefined arithmetic has no mean, and
        # the ANSI cast would raise) — x IS NULL keeps the NULL branch
        # since isnan(NULL) is NULL and NULL OR TRUE = TRUE
        .filter(
            F.col("x").isNull()
            | (~F.isnan("x") & (F.abs("x") != inf) & (F.abs("x") <= F.lit(1e12)))
        )
        .select("label", "dim", F.round(F.col("x") * 1000000).cast("bigint").alias("q"))
    )
    return exploded.groupBy("label", "dim").agg((F.round(F.avg("q")) / 1000000.0).alias("centroid"))


@query(
    "v05_ann_ivf_topk",
    oracle="""
    WITH qv AS (
        -- a query with NULL components has no defined neighbor set:
        -- the engine short-circuits on its NaN norm; the empty CTE
        -- empties every downstream join here
        SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS q
        FROM embeddings WHERE vec_id = 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    ex AS (
        -- ragged rows (len <> the query's dimension) are corrupt for
        -- this index: they neither train a centroid nor join the scan —
        -- the engine's single entry filter, mirrored in both CTEs.
        -- vec_id <> 0 trains on the SAME frame the engine's quantizer
        -- sees (the corpus without the query row): before r10 the
        -- oracle trained over ALL rows and matched only because
        -- round(avg) over ~200-vector cells barely moves — a fixture
        -- regeneration could have flipped a near-tied probe ranking
        SELECT label, u.pos - 1 AS dim,
               round(CAST(embedding[u.pos] AS DOUBLE) * 1000000) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(pos)
        WHERE vec_id <> 0 AND len(embedding) = (SELECT len(q) FROM qv) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    cd AS (SELECT label, dim, round(avg(x)) AS c FROM ex GROUP BY 1, 2),
    cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cd GROUP BY label),
    probed AS (
        -- zero-norm centroids are never probe targets (cosine
        -- undefined) — the engine's pushed predicate, mirrored here
        SELECT label FROM cent, qv
        WHERE list_sum(list_transform(cv, x -> x * x)) > 0
        ORDER BY list_sum(list_transform(list_zip(cv, q), p -> p[1] * p[2]))
                 / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                    * sqrt(list_sum(list_transform(q, x -> x * x)))) DESC, label
        LIMIT 2
    )
    SELECT vec_id, round(raw_cos * 1000000) / 1000000.0 AS cos
    FROM (
        SELECT e.vec_id,
               list_sum(list_transform(list_zip(eq, q), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(eq, x -> x * x)))
                  * sqrt(list_sum(list_transform(q, x -> x * x)))) AS raw_cos
        FROM (
            SELECT vec_id, label, eq FROM (
                SELECT vec_id, label,
                       list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS eq
                FROM embeddings
                WHERE vec_id <> 0 AND len(embedding) = (SELECT len(q) FROM qv) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
            ) WHERE list_sum(list_transform(eq, x -> x * x)) > 0
        ) e
        JOIN probed USING (label), qv
    )
    ORDER BY raw_cos DESC, vec_id
    LIMIT 10
    """,
    doc="IVF-style ANN top-k: label-cell centroids as coarse quantizer, probe 2 nearest "
    "cells, exact quantized cosine within — fully oracle-checkable ANN (exact integer "
    "arithmetic end-to-end; operators/vectors.py ivf_topk)",
)
def v05_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import quantize_np

    emb = load_table(spark, sf_dir, "embeddings")
    raw = _query_vector(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") != 0)
    if raw is None:
        corpus, raw = _missing_query(corpus)
    return ivf_topk(corpus, list(quantize_np(raw)), k=10, nprobe=2)


_V04_TABLES = 4
_V04_ROWS = 2
_V04_W = "1000000000000.0"  # E2LSH bucket width over 1e-6-quantized dots
_V04_SEED = 777


def _v04_oracle() -> str:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import random_hyperplanes

    planes = random_hyperplanes(_V04_TABLES * _V04_ROWS, 64, seed=_V04_SEED)

    def bucket(vec: str, p: list[float]) -> str:
        return f"floor({_duck_dot(vec, _duck_plane(p))} / {_V04_W})"

    tables = " OR ".join(
        "("
        + " AND ".join(
            f"{bucket('e.v', planes[t * _V04_ROWS + r])} = {bucket('q', planes[t * _V04_ROWS + r])}"
            for r in range(_V04_ROWS)
        )
        + ")"
        for t in range(_V04_TABLES)
    )
    return f"""
    WITH qv AS (
        -- a query with NULL components has no defined neighbor set:
        -- the engine short-circuits on its NaN norm; the empty CTE
        -- empties every downstream join here
        SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS q
        FROM embeddings WHERE vec_id = 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    e AS (
        -- ragged rows (len <> the query's dimension) are corrupt here:
        -- neither a bucket code nor a distance is defined against q —
        -- the engine's _ids_vectors(dim) filter, mirrored
        SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
        FROM embeddings
        WHERE vec_id <> 0 AND len(embedding) = (SELECT len(q) FROM qv) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    )
    SELECT vec_id, round(sqrt(s2)) / 1000000.0 AS dist
    FROM (
        SELECT e.vec_id,
               list_sum(list_transform(list_zip(e.v, q), z -> (z[1] - z[2]) * (z[1] - z[2]))) AS s2,
               ({tables}) AS hit
        FROM e, qv
    )
    WHERE hit
    ORDER BY s2, vec_id
    LIMIT 10
    """


@query(
    "v04_ann_lsh_topk",
    oracle=_v04_oracle(),
    doc="approximate euclidean top-k via E2LSH bucket tables (4 tables × 2 seeded "
    "quantized projections, AND-within/OR-across amplification) — the repeated-query "
    "scale path for euclidean metric; fully oracle-checkable because buckets and "
    "distances are exact integer arithmetic in both engines (operators/vectors.py "
    "ann_topk_e2lsh)",
)
def v04_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import ann_topk_e2lsh, quantize_np

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    if q is None:
        corpus, q = _missing_query(corpus)
    return ann_topk_e2lsh(
        corpus,
        list(quantize_np(q)),
        k=10,
        n_tables=_V04_TABLES,
        rows_per_table=_V04_ROWS,
        bucket_width=float(_V04_W),
        seed=_V04_SEED,
    )


@query(
    "v07_embedding_neardup",
    oracle="""
    WITH dm AS (
        -- the corpus dimension: MODAL len among non-NULL rows, ties ->
        -- smallest (the engine's _dim_of) — ragged rows never pair
        SELECT len(embedding) AS d FROM embeddings
        WHERE embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    q AS (
        SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS qv
        FROM embeddings WHERE len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    n AS (
        SELECT vec_id, qv, sqrt(list_sum(list_transform(qv, x -> x * x))) AS nrm FROM q
    ),
    pairs AS (
        -- zero-norm vectors never pair (cosine undefined) — the engine
        -- kernel's valid-mask discipline, mirrored here
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_sum(list_transform(list_zip(a.qv, b.qv), z -> z[1] * z[2])) / (a.nrm * b.nrm) AS raw_cos
        FROM n a JOIN n b ON a.vec_id < b.vec_id AND a.nrm > 0 AND b.nrm > 0
    )
    SELECT id_b AS dup_id, min(id_a) AS kept_id,
           round(arg_min(raw_cos, id_a) * 1000000) / 1000000.0 AS cos
    FROM pairs
    WHERE raw_cos >= 0.44
    GROUP BY id_b
    ORDER BY dup_id
    """,
    doc="embedding-cosine near-dup dedup: duplicate iff any smaller-id vector has "
    "cosine >= 0.44; survivor = smallest such id (one-sweep rule; exact quantized "
    "arithmetic — operators/vectors.py neardup_map)",
)
def v07_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import neardup_map

    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_map(emb, threshold=0.44)


def _v06_oracle() -> str:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import random_hyperplanes

    planes = random_hyperplanes(8, 64, seed=42)
    ham = " + ".join(
        f"CAST((CASE WHEN {_duck_dot('e.v', _duck_plane(p))} >= 0 THEN 1 ELSE 0 END)"
        f" <> (CASE WHEN {_duck_dot('q', _duck_plane(p))} >= 0 THEN 1 ELSE 0 END) AS INT)"
        for p in planes
    )
    return f"""
    WITH qv AS (
        -- a query with NULL components has no defined neighbor set:
        -- the engine short-circuits on its NaN norm; the empty CTE
        -- empties every downstream join here
        SELECT list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS q
        FROM embeddings WHERE vec_id = 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    e AS (
        -- ragged rows (len <> the query's dimension) are corrupt here:
        -- neither a sign code nor a cosine is defined against q — the
        -- engine's _ids_vectors(dim) filter, mirrored
        SELECT vec_id, list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
        FROM embeddings
        WHERE vec_id <> 0 AND len(embedding) = (SELECT len(q) FROM qv) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    )
    SELECT vec_id, round(raw_cos * 1000000) / 1000000.0 AS cos
    FROM (
        SELECT e.vec_id,
               {_duck_dot('e.v', 'q')}
               / (sqrt({_duck_dot('e.v', 'e.v')}) * sqrt({_duck_dot('q', 'q')})) AS raw_cos,
               {ham} AS ham,
               {_duck_dot('e.v', 'e.v')} AS n2
        FROM e, qv
    )
    -- n2 > 0: zero-norm vectors excluded (cosine undefined) — the
    -- engine kernel's valid-mask discipline, mirrored here
    WHERE ham <= 2 AND n2 > 0
    ORDER BY raw_cos DESC, vec_id
    LIMIT 10
    """


@query(
    "v06_ann_rplsh_topk",
    oracle=_v06_oracle(),
    doc="sign-random-projection LSH ANN: 8-bit bucket codes from seeded quantized "
    "hyperplanes, hamming<=2 multiprobe, exact quantized cosine ranking — fully "
    "oracle-checkable (operators/vectors.py ann_topk_rp)",
)
def v06_ann_rplsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import ann_topk_rp, quantize_np

    emb = load_table(spark, sf_dir, "embeddings")
    raw = _query_vector(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") != 0)
    if raw is None:
        corpus, raw = _missing_query(corpus)
    return ann_topk_rp(corpus, list(quantize_np(raw)), k=10)


_V09_BITS = 16
_V09_BANDS = 4
_V09_TAU = "0.44"
_V09_SEED = 4242


def _v09_oracle() -> str:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import random_hyperplanes

    planes = random_hyperplanes(_V09_BITS, 64, seed=_V09_SEED)
    g = _V09_BITS // _V09_BANDS

    def band_code(vec: str, b: int) -> str:
        return " + ".join(
            f"(CASE WHEN {_duck_dot(vec, _duck_plane(planes[b * g + i]))} >= 0 "
            f"THEN {2 ** i} ELSE 0 END)"
            for i in range(g)
        )

    codes = ",\n               ".join(
        f"({band_code('qv', b)}) AS b{b}" for b in range(_V09_BANDS)
    )
    band_match = " OR ".join(f"a.b{b} = b.b{b}" for b in range(_V09_BANDS))
    return f"""
    WITH dm AS (
        -- the corpus dimension: MODAL len among non-NULL rows, ties ->
        -- smallest (the engine's _dim_of, which also sizes the planes)
        -- — ragged rows can neither take a band code nor pair
        SELECT len(embedding) AS d FROM embeddings
        WHERE embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    q AS (
        SELECT vec_id,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS qv
        FROM embeddings WHERE len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    coded AS (
        SELECT vec_id, qv,
               sqrt({_duck_dot('qv', 'qv')}) AS nrm,
               {codes}
        FROM q
    )
    SELECT id_a, id_b, round(raw_cos * 1000000) / 1000000.0 AS cos
    FROM (
        -- nrm > 0: zero-norm vectors never pair (cosine undefined) —
        -- the engine kernel's valid-mask discipline, mirrored here
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               {_duck_dot('a.qv', 'b.qv')} / (a.nrm * b.nrm) AS raw_cos
        FROM coded a JOIN coded b
          ON a.vec_id < b.vec_id AND a.nrm > 0 AND b.nrm > 0 AND ({band_match})
    )
    WHERE raw_cos >= {_V09_TAU}
    ORDER BY id_a, id_b
    """


@query(
    "v09_embedding_neardup_lsh",
    oracle=_v09_oracle(),
    doc="embedding near-dup via banded sign-LSH blocking (16 seeded quantized "
    "hyperplane bits in 4 bands; candidates share a band code, verified by exact "
    "quantized cosine >= 0.44) — the candidate-pruned 100 TB path for v07's exact "
    "grid, same banding-plus-verify relationship t09 has to t07. Oracle mirrors "
    "the banding 1:1 (planes inlined), so the approximation itself is what gets "
    "hash-checked (operators/vectors.py neardup_pairs_lsh_banded)",
)
def v09_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import neardup_pairs_lsh_banded

    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs_lsh_banded(
        emb,
        threshold=float(_V09_TAU),
        n_bits=_V09_BITS,
        bands=_V09_BANDS,
        seed=_V09_SEED,
    )


@query(
    "v08_label_cohesion",
    # Every number is derived from exact-integer sums: components quantize
    # to 1e-6 ints, centroid components round(avg(int)) (exact int sums on
    # both engines), and the per-vector cosine's dot/norms are sums of
    # integer-valued doubles bounded by 64 * 1e12 < 2^53 — every partial
    # sum is exactly representable, so any summation order gives the same
    # double and the per-label stats are engine-identical.
    oracle="""
    WITH ex AS (
        -- NULL components skip (both engines' sums ignore them); NaN /
        -- Inf components are excluded before the cast (no defined
        -- arithmetic; CAST(NaN AS BIGINT) errors on both engines)
        SELECT vec_id, label, u.pos - 1 AS dim,
               CAST(round(CAST(embedding[u.pos] AS DOUBLE) * 1000000) AS BIGINT) AS q
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(pos)
        WHERE embedding[u.pos] IS NULL
           OR (NOT isnan(CAST(embedding[u.pos] AS DOUBLE))
               AND NOT isinf(CAST(embedding[u.pos] AS DOUBLE))
               AND abs(CAST(embedding[u.pos] AS DOUBLE)) <= 1e12)
    ),
    cd AS (SELECT label, dim, round(avg(q)) AS c FROM ex GROUP BY 1, 2),
    per_vec AS (
        -- zero-norm vectors/centroids have undefined cosine and are
        -- EXCLUDED from the cohesion stats (the engine's valid-mask
        -- discipline; unguarded they raise DIVIDE_BY_ZERO under ANSI)
        SELECT vec_id, ex.label,
               CAST(round(sum(q * c) / (sqrt(sum(q * q)) * sqrt(sum(c * c))) * 1000000) AS BIGINT) AS qcos
        FROM ex JOIN cd ON ex.label = cd.label AND ex.dim = cd.dim
        GROUP BY 1, 2
        HAVING sum(q * q) > 0 AND sum(c * c) > 0
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
           round(sum(qcos) * 1.0 / count(*)) / 1000000.0 AS mean_cos,
           min(qcos) / 1000000.0 AS min_cos,
           max(qcos) / 1000000.0 AS max_cos
    FROM per_vec
    GROUP BY label
    ORDER BY label
    """,
    doc="per-label embedding cohesion: cosine of every vector to its own label centroid, "
    "aggregated to mean/min/max per label — the cluster-quality / mislabeled-outlier "
    "screen of an embedding pipeline. Physical shape: one linear explode, a tiny "
    "(labels x dims) centroid aggregate broadcast back, two map-side-combined hash "
    "aggregates — no all-pairs work at any scale",
)
def v08_label_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    inf = F.lit(float("inf"))
    ex = (
        emb.select("vec_id", "label", F.posexplode(as_double("embedding")).alias("dim", "x"))
        # same component guard as v03 (NaN/Inf out before the ANSI cast)
        .filter(
            F.col("x").isNull()
            | (~F.isnan("x") & (F.abs("x") != inf) & (F.abs("x") <= F.lit(1e12)))
        )
        .select("vec_id", "label", "dim", F.round(F.col("x") * 1000000).cast("bigint").alias("q"))
    )
    cent = ex.groupBy("label", "dim").agg(F.round(F.avg("q")).alias("c"))
    per_vec = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("q") * F.col("q")).alias("q2"),
            F.sum(F.col("c") * F.col("c")).alias("c2"),
            F.sum(F.col("q") * F.col("c")).alias("dot"),
        )
        # zero-norm vectors/centroids have undefined cosine: excluded
        # from the stats (valid-mask discipline) — unguarded, the divide
        # below raises DIVIDE_BY_ZERO under ANSI mode
        .filter((F.col("q2") > 0) & (F.col("c2") > 0))
        .select(
            "label",
            F.round(F.col("dot") / (F.sqrt("q2") * F.sqrt("c2")) * 1000000)
            .cast("bigint")
            .alias("qcos"),
        )
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            (F.round(F.sum("qcos") * 1.0 / F.count("*")) / 1000000.0).alias("mean_cos"),
            (F.min("qcos") / 1000000.0).alias("min_cos"),
            (F.max("qcos") / 1000000.0).alias("max_cos"),
        )
        .orderBy("label")
    )


@query(
    "v10_sq8_rerank",
    # Stage 1 scores int8 codes (round-half-away of x*400, saturated to
    # [-127, 127]) with an integer dot product; stage 2 reranks the 50
    # survivors by the exact 1e-6-quantized cosine. Both stages are
    # exact integer arithmetic in float64 with deterministic tie-breaks,
    # so the two-stage cut reproduces bit-for-bit in DuckDB.
    oracle="""
    WITH q AS (
        -- a query with NULL components has no defined neighbor set
        SELECT list_transform(embedding, x -> greatest(-127, least(127, round(CAST(x AS DOUBLE) * 400)))) AS q8,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS qq
        FROM embeddings WHERE vec_id = 0 AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    e AS (
        -- ragged rows (len <> the query's dimension) are corrupt here:
        -- neither stage's score is defined against q — the engine's
        -- _ids_vectors(dim) filter, mirrored
        SELECT vec_id,
               list_transform(embedding, x -> greatest(-127, least(127, round(CAST(x AS DOUBLE) * 400)))) AS v8,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS vq
        FROM embeddings
        WHERE vec_id <> 0 AND len(embedding) = (SELECT len(qq) FROM q) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    cand AS (
        -- zero-norm rows (quantized) are excluded BEFORE the candidate
        -- cut (undefined rerank cosine must not crowd out real
        -- candidates) — the engine kernel's discipline, mirrored here
        SELECT e.vec_id,
               CAST(list_sum(list_transform(list_zip(e.v8, q.q8), p -> p[1] * p[2])) AS BIGINT) AS score_i8,
               list_sum(list_transform(list_zip(e.vq, q.qq), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(e.vq, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qq, x -> x * x)))) AS raw_cos
        FROM e, q
        WHERE list_sum(list_transform(e.vq, x -> x * x)) > 0
        ORDER BY score_i8 DESC, vec_id
        LIMIT 50
    )
    SELECT vec_id, score_i8, round(raw_cos * 1000000) / 1000000.0 AS cos
    FROM cand
    ORDER BY raw_cos DESC, vec_id
    LIMIT 10
    """,
    doc="SQ8 compressed-scan ANN (query = vec 0): int8 scalar quantization scores the "
    "whole corpus at 4× less IO (the integer-dot SIMD fast path every vector store "
    "ships), exact quantized cosine reranks only the 50 candidates — compression-"
    "with-rerank, complementing the bucket-pruned IVF/LSH variants "
    "(operators/vectors.py sq8_rerank_topk)",
)
def v10_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import sq8_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = _query_vector(spark, sf_dir, 0)
    corpus = emb.filter(F.col("vec_id") != 0)
    if q is None:
        corpus, q = _missing_query(corpus)
    return sq8_rerank_topk(corpus, q, k=10, n_candidates=50)


_V11_TAU = "0.44"


@query(
    "v11_semdedup",
    # The oracle restates the whole pipeline: exact-integer label
    # centroids (v03), per-vector assignment by ranked 1e-6-quantized
    # cosine (BIGINT compare, ties -> lowest label), within-cluster
    # exact quantized-cosine pairs, keep-lowest-id survivor map. Every
    # arithmetic step is exact integer math in float64 (see
    # operators/vectors.py `quantized`), so the clustering itself is
    # what gets hash-checked.
    oracle=f"""
    WITH dm AS (
        -- the corpus dimension: MODAL len among the dedup's input rows
        -- (label and embedding non-NULL — the frame the engine passes),
        -- ties -> smallest (_dim_of). Ragged rows are corrupt: they can
        -- neither seed a centroid nor take an assignment
        SELECT len(embedding) AS d FROM embeddings
        WHERE label IS NOT NULL AND embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    ex AS (
        -- label IS NOT NULL: a corrupt (NULL-label) row can neither
        -- seed a centroid nor be assigned — excluded from the dedup
        -- entirely, matching the engine's filter (NULL embeddings are
        -- auto-excluded: UNNEST over NULL yields no rows)
        SELECT vec_id, label, u.pos - 1 AS dim,
               CAST(round(CAST(embedding[u.pos] AS DOUBLE) * 1000000) AS BIGINT) AS q
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(pos)
        WHERE label IS NOT NULL AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    cd AS (SELECT label, dim, round(avg(q)) AS c FROM ex GROUP BY 1, 2),
    asg0 AS (
        SELECT ex.vec_id, cd.label,
               CAST(round(sum(q * c) / (sqrt(sum(q * q)) * sqrt(sum(c * c))) * 1000000)
                    AS BIGINT) AS qcos
        FROM ex JOIN cd ON ex.dim = cd.dim
        GROUP BY 1, 2
    ),
    asg AS (
        SELECT vec_id, CAST(label AS BIGINT) AS cluster
        FROM (
            SELECT vec_id, label,
                   row_number() OVER (PARTITION BY vec_id ORDER BY qcos DESC, label) AS rk
            FROM asg0
        )
        WHERE rk = 1
    ),
    n AS (
        SELECT vec_id,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
        FROM embeddings WHERE len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    nn AS (
        SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM n
    ),
    pairs AS (
        SELECT ca.vec_id AS id_a, cb.vec_id AS id_b, ca.cluster,
               list_sum(list_transform(list_zip(na.v, nb.v), z -> z[1] * z[2]))
               / (na.nrm * nb.nrm) AS raw_cos
        FROM asg ca
        JOIN asg cb ON ca.cluster = cb.cluster AND ca.vec_id < cb.vec_id
        JOIN nn na ON na.vec_id = ca.vec_id
        JOIN nn nb ON nb.vec_id = cb.vec_id
    )
    SELECT id_b AS dup_id, min(id_a) AS kept_id, min(cluster) AS cluster,
           round(arg_min(raw_cos, id_a) * 1000000) / 1000000.0 AS cos
    FROM pairs
    WHERE raw_cos >= {_V11_TAU}
    GROUP BY id_b
    ORDER BY dup_id
    """,
    doc=f"SemDeDup-style semantic dedup: assign every vector to its nearest exact-"
    "integer label centroid (the v03 seeds — no k-means RNG), flag within-cluster "
    f"pairs with cosine >= {_V11_TAU} keep-lowest-id — the semantic third dedup mode "
    "next to lexical (t02) and near-lexical (t09/v09). Scale shape: centroid table "
    "is aggregate-sized (labels × dims, collected driver-side like v01's scalars), "
    "assignment is one shuffle-free Arrow map, and pair work is cluster-bucketed "
    "Σ|cluster|² — the embedding-space analog of t09's banding, never n² "
    "(operators/vectors.py semdedup_map)",
)
def v11_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import semdedup_map

    emb = load_table(spark, sf_dir, "embeddings")
    # corrupt (NULL-label) rows are excluded from the dedup entirely —
    # they can neither seed a centroid nor be assigned; semdedup_map's
    # explicit raise stays as the guard against SILENT misuse
    return semdedup_map(emb.filter(F.col("label").isNotNull()), threshold=float(_V11_TAU))


_V12_TAU = "0.44"


def _v12_oracle() -> str:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import random_hyperplanes

    planes = random_hyperplanes(_V09_BITS, 64, seed=_V09_SEED)
    g = _V09_BITS // _V09_BANDS

    def band_code(vec: str, b: int) -> str:
        return " + ".join(
            f"(CASE WHEN {_duck_dot(vec, _duck_plane(planes[b * g + i]))} >= 0 "
            f"THEN {2 ** i} ELSE 0 END)"
            for i in range(g)
        )

    codes = ",\n               ".join(
        f"({band_code('qv', b)}) AS b{b}" for b in range(_V09_BANDS)
    )
    band_match = " OR ".join(f"s.b{b} = c.b{b}" for b in range(_V09_BANDS))
    return f"""
    WITH wm AS (
        SELECT CAST(floor(0.8 * (max(vec_id) + 1)) AS BIGINT) AS w FROM embeddings
    ),
    dm AS (
        -- the INDEX dimension: modal len over the CORPUS side (the
        -- engine's _dim_of(corpus), which sizes the planes) — ragged
        -- rows on either side can neither take a band code nor pair;
        -- ragged snapshot rows still report is_dup = false below
        SELECT len(embedding) AS d FROM embeddings CROSS JOIN wm
        WHERE vec_id < wm.w AND embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    q AS (
        SELECT vec_id,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS qv
        FROM embeddings WHERE len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    coded AS (
        SELECT vec_id, qv,
               sqrt({_duck_dot('qv', 'qv')}) AS nrm,
               {codes}
        FROM q
    ),
    pairs AS (
        -- nrm > 0: zero-norm vectors never pair (cosine undefined) —
        -- the engine kernel's valid-mask discipline, mirrored here
        SELECT s.vec_id AS snap_id, c.vec_id AS corp_id,
               {_duck_dot('s.qv', 'c.qv')} / (s.nrm * c.nrm) AS raw_cos
        FROM coded s JOIN coded c ON ({band_match}) CROSS JOIN wm
        WHERE s.vec_id >= wm.w AND c.vec_id < wm.w AND s.nrm > 0 AND c.nrm > 0
    ),
    m AS (
        SELECT snap_id, min(corp_id) AS dup_src, arg_min(raw_cos, corp_id) AS c
        FROM pairs WHERE raw_cos >= {_V12_TAU}
        GROUP BY snap_id
    )
    SELECT s.vec_id, m.dup_src IS NOT NULL AS is_dup, m.dup_src,
           round(m.c * 1000000) / 1000000.0 AS cos
    FROM (SELECT vec_id FROM embeddings CROSS JOIN wm WHERE vec_id >= wm.w) s
    LEFT JOIN m ON m.snap_id = s.vec_id
    ORDER BY s.vec_id
    """


@query(
    "v12_incremental_embedding_probe",
    # The oracle mirrors the banding 1:1 (planes inlined) restricted to
    # snapshot×corpus pairs — same recall argument as v09, same
    # watermark discipline as t20; arg_min gives the exact cosine of the
    # smallest matching corpus id.
    oracle=_v12_oracle(),
    doc=f"incremental embedding near-dup: the newest 20%% of vectors (past the "
    "0.8 id watermark — the freshly-ingested snapshot) are screened for "
    f"cosine >= {_V12_TAU} near-duplicates in the EXISTING corpus by probing the "
    "persisted band-code index — the embedding twin of t20, the per-batch query "
    "a continuously-fed vector store runs instead of re-running near-dup over "
    "the union. Scale shape: corpus fan persisted (the stored index), snapshot "
    "fan map-only, candidates = cross-side bucket-mates only, exact quantized-"
    "cosine verify per bucket in one Arrow kernel — work ∝ snapshot + collision "
    "buckets, never snapshot × corpus "
    "(operators/vectors.py neardup_vector_index_probe)",
)
def v12_incremental_embedding_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        neardup_vector_index_probe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # scalar watermark (t20's 1-row-scalar idiom); empty corpus → wm 0.
    # SNAPSHOT semantics: wm is baked into the plan at call time
    max_id = emb.agg(F.max("vec_id")).collect()[0][0]
    wm = int(0.8 * (max_id + 1)) if max_id is not None else 0
    return neardup_vector_index_probe(
        emb.filter(F.col("vec_id") < wm),
        emb.filter(F.col("vec_id") >= wm),
        threshold=float(_V12_TAU),
        n_bits=_V09_BITS,
        bands=_V09_BANDS,
        seed=_V09_SEED,
    )


@query(
    "v13_batch_knn",
    # Exact quantized-integer cosine for every (query, corpus) pair,
    # ranked per query with the deterministic (cos DESC, id) tie-break —
    # the kernel's per-split lexsort prune emits a superset of the
    # global top-k under the SAME total order, so the window rank
    # reproduces this SQL bit-for-bit.
    oracle="""
    WITH dm AS (
        -- the corpus dimension: modal len over the corpus side (the
        -- engine's _dim_of(corpus)) — a ragged corpus row joins no
        -- ranking, a ragged QUERY emits no neighbor rows (absent qid,
        -- like zero-norm)
        SELECT len(embedding) AS d FROM embeddings
        WHERE vec_id >= 10 AND embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    q AS (
        -- zero-norm queries emit no neighbor rows; zero-norm corpus
        -- vectors are excluded from every ranking (cosine undefined) —
        -- the engine kernel's valid-mask discipline, mirrored here
        SELECT qid, qv FROM (
            SELECT vec_id AS qid,
                   list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS qv
            FROM embeddings
            WHERE vec_id < 10 AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
        ) WHERE list_sum(list_transform(qv, x -> x * x)) > 0
    ),
    e AS (
        SELECT vec_id, v FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
            FROM embeddings
            WHERE vec_id >= 10 AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
        ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    scored AS (
        SELECT q.qid, e.vec_id,
               list_sum(list_transform(list_zip(e.v, q.qv), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS raw_cos
        FROM q, e
    )
    SELECT qid, vec_id, CAST(rk AS INT) AS rk,
           round(raw_cos * 1000000) / 1000000.0 AS cos
    FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY raw_cos DESC, vec_id) AS rk
        FROM scored
    )
    WHERE rk <= 3
    ORDER BY qid, rk
    """,
    doc="batched exact kNN: top-3 corpus neighbors for EACH of a 10-vector query "
    "batch (ids < 10) in one pass — the retrieval-eval / probe-set shape the "
    "single-query v01 doesn't cover. Scale shape: query matrix broadcast (a "
    "batch, not a corpus), ONE BLAS matmul per corpus split scoring all queries "
    "at once, per-split deterministic top-k prune (≤ splits·k·Q rows shuffle), "
    "WindowGroupLimit global rank — the corpus never shuffles "
    "(operators/vectors.py batch_knn)",
)
def v13_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import batch_knn

    emb = load_table(spark, sf_dir, "embeddings")
    return batch_knn(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding"),
        k=3,
    )


@query(
    "v14_ivf_persisted_probe",
    # The oracle rebuilds the whole index inline (centroids = exact
    # integer per-cell means over the CORPUS side, v05's quantizer),
    # ranks cells per query on 1e-6-quantized centroid cosine
    # (BIGINT compare, ties -> lowest cell), scores exact quantized
    # cosine only inside the nprobe probed cells, and ranks per query
    # with the (cos DESC, id) tie-break - mirroring the engine's
    # persisted-index probe bit-for-bit.
    oracle="""
    WITH dm AS (
        -- the INDEX dimension: modal len over the corpus side (the
        -- engine's _dim_of inside ivf_index_build) — ragged rows are
        -- corrupt: not a posting, not a centroid contributor, and a
        -- ragged QUERY probes nothing (absent qid)
        SELECT len(embedding) AS d FROM embeddings
        WHERE vec_id >= 10 AND embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    q AS (
        SELECT vec_id AS qid,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS qv
        FROM embeddings
        WHERE vec_id < 10 AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    ex AS (
        -- label IS NOT NULL: a corrupt (NULL-label) row is not a cell
        -- and cannot train the quantizer (the engine's ivf_centroids
        -- filter); NULL embeddings are auto-excluded (UNNEST of NULL)
        SELECT label, u.pos - 1 AS dim,
               round(CAST(embedding[u.pos] AS DOUBLE) * 1000000) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(pos)
        WHERE vec_id >= 10 AND label IS NOT NULL
          AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    cd AS (SELECT label, dim, round(avg(x)) AS c FROM ex GROUP BY 1, 2),
    cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cd GROUP BY label),
    -- cells rank PER QUERY VECTOR, not per qid: a duplicated qid (the
    -- r10 duplicate-id class) names several vectors, each probing its
    -- own cells; the raw-q join below restores row multiplicity so an
    -- identical dup scores its candidates twice, like the engine's
    -- per-row probe
    qd AS (SELECT DISTINCT qid, qv FROM q),
    cellrank AS (
        SELECT qid, qv, label,
               row_number() OVER (
                   PARTITION BY qid, qv
                   ORDER BY CAST(round(
                       list_sum(list_transform(list_zip(cv, qv), z -> z[1] * z[2]))
                       / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                          * sqrt(list_sum(list_transform(qv, x -> x * x))))
                       * 1000000) AS BIGINT) DESC, label) AS crk
        FROM cent, qd
    ),
    probed AS (SELECT qid, qv, label FROM cellrank WHERE crk <= 2),
    e AS (
        -- len(embedding) = dm.d: a vector-less or ragged row is never a
        -- posting (the engine's ivf_index_build filter — the predicate
        -- also drops NULLs); a NULL label already cannot equi-join a
        -- probed cell
        SELECT vec_id, label,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
        FROM embeddings
        WHERE vec_id >= 10 AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    scored AS (
        SELECT p.qid, e.vec_id,
               list_sum(list_transform(list_zip(e.v, q.qv), z -> z[1] * z[2]))
               / (sqrt(list_sum(list_transform(e.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS raw_cos
        FROM e JOIN probed p USING (label) JOIN q ON p.qid = q.qid AND p.qv = q.qv
    )
    SELECT qid, vec_id, CAST(rk AS INT) AS rk,
           round(raw_cos * 1000000) / 1000000.0 AS cos
    FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY raw_cos DESC, vec_id) AS rk
        FROM scored
    )
    WHERE rk <= 3
    ORDER BY qid, rk
    """,
    doc="IVF retrieval against PERSISTED index state: the centroid table + "
    "posting lists are built and persisted ONCE from the corpus (ids >= 10, "
    "exact-integer v05 quantizer - the stored-index stand-in, v12/t20 "
    "discipline applied to search), then a 10-vector query batch probes its "
    "nprobe=2 nearest cells each and ranks top-3 by exact quantized cosine. "
    "Completes the incremental/persisted-state story for RETRIEVAL the way "
    "v12 did for dedup. Scale shape: centroid table and query batch are "
    "aggregate-sized driver collects, the (qid, cell) probe-pair frame is the "
    "only broadcast into the persisted postings - bucket pruning, work and "
    "shuffle proportional to probed-bucket candidates, never the corpus "
    "(operators/vectors.py ivf_index_build + ivf_batch_probe)",
)
def v14_ivf_persisted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        ivf_batch_probe,
        ivf_index_build,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    centroids, postings = ivf_index_build(emb.filter(F.col("vec_id") >= 10))
    return ivf_batch_probe(
        centroids,
        postings,
        emb.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("qid"), "embedding"),
        k=3,
        nprobe=2,
    )


@query(
    "v15_ivf_assign_arrivals",
    # The oracle rebuilds the frozen quantizer inline (exact-integer
    # per-cell means over the corpus side, v05's quantizer — v14's cent
    # CTE verbatim) and files each arrival to its best cell by
    # 1e-6-quantized centroid cosine (BIGINT compare, ties -> lowest
    # cell id) — the engine's assignment kernel bit-for-bit. Fixtures
    # have no zero-norm vectors; the -1 quarantine path is pinned by
    # tests/test_operators.py instead.
    oracle="""
    WITH dm AS (
        -- the quantizer's dimension: modal len over the corpus side
        -- (the engine's _dim_of inside ivf_centroids) — a ragged
        -- arrival can be neither ranked against it nor stored in its
        -- posting space (excluded, like NULL; zero-norm stays the -1
        -- quarantine class)
        SELECT len(embedding) AS d FROM embeddings
        WHERE vec_id >= 10 AND embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    a AS (
        SELECT vec_id,
               list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS av
        FROM embeddings
        WHERE vec_id < 10 AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    ex AS (
        -- label IS NOT NULL: a corrupt (NULL-label) row is not a cell
        -- and cannot train the quantizer (the engine's ivf_centroids
        -- filter); NULL embeddings are auto-excluded (UNNEST of NULL)
        SELECT label, u.pos - 1 AS dim,
               round(CAST(embedding[u.pos] AS DOUBLE) * 1000000) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(pos)
        WHERE vec_id >= 10 AND label IS NOT NULL
          AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    cd AS (SELECT label, dim, round(avg(x)) AS c FROM ex GROUP BY 1, 2),
    cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cd GROUP BY label),
    -- assignment is a function of the VECTOR: a duplicated vec_id (the
    -- r10 duplicate-id class) names several arrival rows, each filed to
    -- its own cell, and the raw-a join restores row multiplicity — the
    -- engine's per-row map kernel exactly
    ad AS (SELECT DISTINCT vec_id, av FROM a),
    ranked AS (
        SELECT ad.vec_id, ad.av, cent.label,
               row_number() OVER (
                   PARTITION BY ad.vec_id, ad.av
                   ORDER BY CAST(round(
                       list_sum(list_transform(list_zip(cv, av), z -> z[1] * z[2]))
                       / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                          * sqrt(list_sum(list_transform(av, x -> x * x))))
                       * 1000000) AS BIGINT) DESC, label) AS crk
        FROM cent, ad
    ),
    best AS (SELECT vec_id, av, label FROM ranked WHERE crk = 1)
    SELECT a.vec_id, best.label AS cell
    FROM a JOIN best ON a.vec_id = best.vec_id AND a.av = best.av
    ORDER BY a.vec_id
    """,
    doc="IVF ingest assignment: NEW arrivals (ids < 10) filed to their nearest "
    "cell of a FROZEN coarse quantizer (exact-integer centroids of the corpus "
    "side, ids >= 10) — the write half of the stored index v14 probes, and the "
    "per-batch kernel of the streaming IVF ingest (streaming/ivf.py). Scale "
    "shape: the centroid table (cells x dims, aggregate-sized) is the ONLY "
    "broadcast; assignment is ONE map-only Arrow pass over the arrivals — no "
    "join, no shuffle beyond the output sort, no corpus access "
    "(operators/vectors.py assign_cells)",
)
def v15_ivf_assign_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        assign_cells,
        ivf_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = ivf_centroids(emb.filter(F.col("vec_id") >= 10))
    return (
        assign_cells(cent, emb.filter(F.col("vec_id") < 10))
        .select(F.col("_id").alias("vec_id"), F.col("_cell").alias("cell"))
        .orderBy("vec_id")
    )


@query(
    "v16_ivf_lloyd_refresh",
    # The oracle performs the same single Lloyd step inline: build the
    # current quantizer from the corpus side (v14/v15's cent CTE), file
    # EVERY vector to its rank-1 cell (BIGINT cosine compare, ties ->
    # lowest cell), then recompute per-(cell, dim) exact-integer means
    # over the new memberships. round(avg(round(x*1e6))) is the same
    # half-away-from-zero integer math on both engines (v05 precedent).
    oracle="""
    WITH dm AS (
        -- the quantizer's dimension: modal len over the corpus side
        -- (the engine's _dim_of inside ivf_centroids) — ragged rows
        -- neither train the quantizer nor take a re-assignment
        SELECT len(embedding) AS d FROM embeddings
        WHERE vec_id >= 10 AND embedding IS NOT NULL
        GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1
    ),
    ex AS (
        -- label IS NOT NULL: a corrupt (NULL-label) row is not a cell
        -- and cannot train the quantizer (the engine's ivf_centroids
        -- filter); NULL embeddings are auto-excluded (UNNEST of NULL)
        SELECT label, u.pos - 1 AS dim,
               round(CAST(embedding[u.pos] AS DOUBLE) * 1000000) AS x
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(pos)
        WHERE vec_id >= 10 AND label IS NOT NULL
          AND len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
    ),
    cd AS (SELECT label, dim, round(avg(x)) AS c FROM ex GROUP BY 1, 2),
    cent AS (SELECT label, list(c ORDER BY dim) AS cv FROM cd GROUP BY label),
    av AS (
        -- zero-norm vectors have no assignable cell (the engine
        -- quarantines them in _cell = -1, excluded from retraining) —
        -- mirrored here so they never shift a refreshed centroid mean;
        -- ragged rows are corrupt and excluded outright (assign_cells)
        SELECT vec_id, v FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1000000)) AS v
            FROM embeddings WHERE len(embedding) = (SELECT d FROM dm) AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x) OR abs(x) > 1e12)) = 0
        ) WHERE list_sum(list_transform(v, x -> x * x)) > 0
    ),
    -- reassignment is per VECTOR: a duplicated vec_id (the r10
    -- duplicate-id class) names several points, each filed to its own
    -- cell; the (vec_id, v) join back to the raw rows preserves row
    -- multiplicity in the retraining means — the engine's per-row
    -- assign + per-cell mean exactly
    avd AS (SELECT DISTINCT vec_id, v FROM av),
    ranked AS (
        SELECT avd.vec_id, avd.v, cent.label,
               row_number() OVER (
                   PARTITION BY avd.vec_id, avd.v
                   ORDER BY CAST(round(
                       list_sum(list_transform(list_zip(cv, v), z -> z[1] * z[2]))
                       / (sqrt(list_sum(list_transform(cv, x -> x * x)))
                          * sqrt(list_sum(list_transform(v, x -> x * x))))
                       * 1000000) AS BIGINT) DESC, label) AS crk
        FROM cent, avd
    ),
    newmem AS (SELECT vec_id, v, label AS cell FROM ranked WHERE crk = 1),
    newex AS (
        SELECT m.cell, u.pos - 1 AS dim,
               round(CAST(e.embedding[u.pos] AS DOUBLE) * 1000000) AS x
        FROM embeddings e
        JOIN newmem m
          ON m.vec_id = e.vec_id
         AND m.v = list_transform(e.embedding, x -> round(CAST(x AS DOUBLE) * 1000000)),
             UNNEST(generate_series(1, len(e.embedding))) AS u(pos)
    )
    SELECT cell, dim, CAST(round(avg(x)) AS BIGINT) AS c
    FROM newex GROUP BY 1, 2 ORDER BY cell, dim
    """,
    doc="one deterministic Lloyd refinement step for the stored IVF index: "
    "every vector (corpus ids >= 10 AND the drifted arrivals < 10) re-assigned "
    "to its nearest current centroid, then per-cell exact-integer centroids "
    "recomputed over the new memberships — the quantizer REFRESH between "
    "ingest epochs, completing the index lifecycle (build v05/v14, ingest "
    "v15/streaming, refresh v16). No k-means RNG: one step, exact integer "
    "means, oracle-checkable. Scale shape: ONE map-only Arrow assignment pass "
    "(centroid table the only broadcast) + one explode into a partial+final "
    "(cell, dim) aggregate — shuffle <= cells x dims per partition "
    "(operators/vectors.py lloyd_refresh)",
)
def v16_ivf_lloyd_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from serverless_etl_reporting_pipeline_spark.operators.vectors import (
        ivf_centroids,
        lloyd_refresh,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cent = ivf_centroids(emb.filter(F.col("vec_id") >= 10))
    return (
        lloyd_refresh(cent, emb)
        .select(
            F.col("_cell").alias("cell"),
            F.posexplode("cv").alias("dim", "c"),
        )
        .select("cell", "dim", F.col("c").cast("bigint").alias("c"))
        .orderBy("cell", "dim")
    )
