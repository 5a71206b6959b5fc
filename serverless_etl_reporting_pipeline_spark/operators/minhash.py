"""MinHash-LSH near-duplicate detection (SURVEY.md §2.11).

Scale path for document near-dup at 100 TB: shingle → per-permutation
MinHash signatures (`xxhash64`, JVM codegen) → banded LSH bucketing →
candidate pairs only within equal-signature buckets → **exact Jaccard
verification of candidates only**. This replaces an earlier
`pyspark.ml.feature.MinHashLSH.approxSimilarityJoin` formulation, which
OR-amplifies single hashes (r=1 bands) — high recall but enormous
candidate sets, and its per-candidate keyDistance ran outside codegen
(~8× slower at sf0.1).

Band tuning: with `num_hashes=64, bands=32` (r=2 rows/band) the miss
probability for a true pair at jaccard s is (1-s²)^32 — ≈1e-4 at
s=0.5, ≈1e-14 at s=0.8 — while disjoint documents collide only via
64-bit hash collisions (negligible). The exact-verify stage then makes
precision 1.0 at the requested threshold, so output quality is governed
by recall alone.

Everything is deterministic: xxhash64 is seed-stable across partitions
and runs; no pyspark.ml model fitting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.operators.text import shingles, tokens


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_k: int) -> DataFrame:
    """Distinct (id, shingle-HASH) rows — map-side only, no shuffle
    until the distinct (which co-partitions by row hash).

    The shingle column ``s`` is the 64-bit ``xxhash64`` of the shingle
    string, not the string itself: every downstream consumer treats a
    shingle as an opaque equality token (the signature aggregate was
    ALREADY ``xxhash64(seed, xxhash64(string))``, the verify joins and
    set sizes only test equality), so hashing before the distinct
    shuffles 8-byte longs where 25+-byte strings used to flow — through
    the dedup exchange, the persist, the exact-verify joins, and the
    streaming drains' on-disk shingle log. Signature values are
    BIT-IDENTICAL to the string-shingle form (the hash chain is
    unchanged — ``minhash_signatures`` consumes this hash as its base),
    so LSH recall is untouched; only the exact-verify common/size
    counts switch from distinct strings to distinct 64-bit hashes,
    which differ only under an xxhash64 collision inside one document
    pair's shingle sets (p ≈ n²/2⁶⁵ — immaterial next to the banding
    miss probability the threshold already budgets for, and absent
    from every oracle-checked fixture). Corpus bound: expected
    collisions among n distinct ids are ≈ n²/2⁶⁵ — ≈ 0.03 at n = 10⁹,
    ≈ 3 at 10¹⁰ — and only a collision inside one compared pair's sets
    moves a Jaccard count, so the corpus-wide figure is an upper bound.

    Tokenize+explode is the CPU-heavy map stage; its parallelism is the
    SCAN's, not the shuffle's. A small corpus in one parquet file would
    run it on a single core, so when the scan has fewer input files than
    the cluster we first spread the (narrow) doc rows — at real scale
    the input already has thousands of splits and no repartition fires.
    The probe is `spread_scan`'s `inputFiles()` (the r10 discipline);
    the old `narrow.rdd.getNumPartitions()` here forced a Python->JVM
    RDD conversion per query build — ~60 ms dearer than the file-index
    read at every `_shingle_sets` call site.
    """
    from serverless_etl_reporting_pipeline_spark.sources.reader import spread_scan

    narrow = spread_scan(df.select(id_col, F.col(text_col).alias("_t")), id_col)
    return (
        narrow.select(id_col, tokens("_t").alias("toks"))
        .select(id_col, F.explode(shingles("toks", shingle_k)).alias("_s"))
        .select(id_col, F.xxhash64("_s").alias("s"))
        .distinct()
    )


def minhash_signatures(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """One row per doc with `num_hashes` min-hash columns mh0..mhN-1,
    plus the shingle-set size `n` (free in the same aggregate; the
    verify stage needs it for |A|+|B|-|A∩B|).

    Single partial+final hash aggregate with map-side combine. The
    string shingle is hashed ONCE to a 64-bit base (by `_shingle_sets`,
    whose ``s`` column IS that hash; a string column — any caller
    holding raw shingles — is hashed here instead); the `num_hashes`
    permutation hashes are xxhash64 over (seed, base) — an 8-byte
    input, ~4× cheaper than re-hashing the string per permutation, same
    determinism and the same independence the banding analysis assumes.
    """
    from pyspark.sql.types import LongType

    base_col = (
        F.col("s") if isinstance(sh.schema["s"].dataType, LongType) else F.xxhash64("s")
    )
    base = sh.select(id_col, base_col.alias("_h"))
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("_h"))).alias(f"mh{i}") for i in range(num_hashes)
    ] + [F.count("*").alias("n")]
    return base.groupBy(id_col).agg(*aggs)


def _band_buckets(sigs: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, sig) LSH bucket rows from a signature frame — the band
    index. One xxhash64 over each band's r signature columns; exploding
    `bands` structs per doc is map-side only."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"mh{b * rows_per_band + i}") for i in range(rows_per_band)]).alias(
                "sig"
            ),
        )
        for b in range(bands)
    ]
    return sigs.select(id_col, F.explode(F.array(*band_structs)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )


# directory-partition fan-out of the PERSISTED band index: band-code
# buckets per band (`band_fan`'s `_bkt` column, compactions partition by
# (band, _bkt) — bands × FAN_BUCKETS = 2048 dirs with the default
# geometry). Sized so a trickle batch (tens of docs → hundreds of band
# codes) prunes most directories while the dir count stays a sane
# filesystem listing; a steady batch hits every bucket and degrades
# gracefully to the full (3-column) fan scan.
FAN_BUCKETS = 64


def band_fan(sigs: DataFrame, id_col: str, bands: int, rows_per_band: int) -> DataFrame:
    """The PERSISTED form of `_band_buckets`: (id, band, sig, _bkt) with
    ``_bkt = pmod(sig, FAN_BUCKETS)`` — the band-code bucket that keys
    the IVF-cells directory layout (streaming/minhash.py fan log,
    compacted with partitionBy(band, _bkt)). Storing the fan means a
    probe reads 3 narrow columns instead of re-hashing the 64-column
    signature frame per batch, and the bucket column gives candidate
    discovery a partition-prunable access path (r12's named structural
    dial)."""
    return _band_buckets(sigs, id_col, bands, rows_per_band).withColumn(
        "_bkt", F.pmod(F.col("sig"), F.lit(FAN_BUCKETS)).cast("int")
    )


def neardup_index_probe(
    index_shingles: DataFrame,
    index_sigs: DataFrame,
    snap_shingles: DataFrame,
    snap_sigs: DataFrame,
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.5,
    bands: int = 32,
    rows_per_band: int = 2,
    snapshot_ids: DataFrame | None = None,
    broadcast_snapshot: bool = False,
    index_fan: DataFrame | None = None,
) -> DataFrame:
    """Probe a prebuilt MinHash band index with a snapshot batch: flag
    each snapshot doc that has an exact-jaccard ≥ threshold near-dup in
    the indexed corpus.

    Returns (id_col, is_dup boolean, dup_src = smallest matching corpus
    id, NULL when none) — one row per snapshot doc.

    The index is the pair (distinct shingle rows, signature frame) from
    `_shingle_sets` + `minhash_signatures` — the persisted artifact a
    continuously-fed corpus stores and reuses across batches instead of
    re-running near-dup over the union. The candidate join is
    snapshot-buckets × index-buckets keyed on (band, sig): work is
    proportional to the SNAPSHOT plus its collision buckets — never
    corpus × corpus. Exact-Jaccard verification of candidates only (same
    recall analysis as minhash_neardup_pairs) keeps precision 1.0.

    ``broadcast_snapshot=True`` switches to the BOUNDED-SNAPSHOT
    strategy (the r12 streaming-drain find). Inside a foreachBatch
    write, the runtime re-plan that makes the BATCH form cheap — AQE
    materializing the tiny/empty candidate side and pruning the
    index-sized subtrees entirely — does not fire, so every micro-batch
    paid a FULL scan of the accumulated index (shingle side + exploded
    signature side: ~25 s/batch against a 1.3 M-doc index at x256,
    while the identical probe as a batch query read ~1 s). The bounded
    strategy makes that pruning explicit and planner-independent:

    - every snapshot-derived join side carries a broadcast hint (no
      index-sized exchange at any corpus size);
    - the candidate pairs are probed with a LIMIT-bounded collect (at
      most cap+1 = 10 001 rows ever reach the driver — a one-file
      micro-batch can still carry hundreds of thousands of docs, so an
      unbounded collect would be a driver OOM, measured at x256);
    - ZERO candidates (the common steady case) short-circuits to a
      map-only "nothing is a dup" result — the index is never touched
      past the signature scan that produced the empty candidate set;
    - otherwise (≤ 10k pairs — the limit returned everything) the
      exact-verify sides are PRUNED to candidate corp_ids before their
      joins (a broadcast semi-join against the localized candidate
      ids), so verification work is ∝ candidates, never ∝ corpus.
      A TRUNCATED probe (> 10k pairs: a dup-heavy or corpus-sized
      batch) falls back to the hinted full joins — correct at any
      size, index-scan-priced.

    Leave False when the snapshot can be corpus-sized (t20's watermark
    split), where AQE picks the right strategy at runtime.

    ``index_fan`` — a PREBUILT `band_fan` frame for the index side (the
    r13 structural fix for the one index-proportional term the bounded
    path kept). Without it, candidate discovery re-derives the band
    codes per probe: a scan of the 64-column signature frame plus 64
    xxhash64 evaluations and a 32-struct explode PER INDEX DOC — ∝
    index docs every micro-batch. With it, discovery reads 3 narrow
    columns the index writer computed exactly once; and when the fan
    carries the ``_bkt`` bucket column, the bounded path additionally
    prunes it to the batch's own (band, bucket) set before the
    candidate join — directory-level pruning on a (band, _bkt)-
    partitioned compaction (the IVF-cells layout,
    streaming/minhash.py), a plain data filter on uncompacted tail
    segments. The (band, bucket) set is collected from the batch fan —
    bounded by bands × FAN_BUCKETS rows (≤ 2 048 with the default
    geometry), never by batch size.

    Every hint is GUARDED by a measurement, never assumed: the
    discovery-side broadcast by a snapshot row count (≤ 100k docs), the
    verify-side broadcasts by the candidate probe coming back complete
    (≤ 10k pairs). A hint on an unboundedly-large frame is itself the
    failure mode — the first cut broadcast the verify side of a
    320k-doc full-drain batch and died on spark.driver.maxResultSize.
    """
    maybe_b = lambda df: df  # upgraded to F.broadcast only when proven bounded
    if index_fan is not None:
        cbk = index_fan.withColumnRenamed(id_col, "corp_id")
    else:
        cbk = _band_buckets(index_sigs, id_col, bands, rows_per_band).withColumnRenamed(
            id_col, "corp_id"
        )
    sbk = _band_buckets(snap_sigs, id_col, bands, rows_per_band).withColumnRenamed(
        id_col, "snap_id"
    )
    bounded = broadcast_snapshot and snap_sigs.count() <= 100_000
    if bounded and "_bkt" in cbk.columns:
        # prune the stored fan to the batch's own (band, bucket) set
        # before the candidate join — partition-dir pruning on a
        # (band, _bkt)-partitioned compaction, a data filter on tail
        # segments. The collected set is bounded by bands × FAN_BUCKETS
        # (≤ 2 048), never by batch size.
        hit = (
            sbk.select(
                "band", F.pmod(F.col("sig"), F.lit(FAN_BUCKETS)).cast("int").alias("_bkt")
            )
            .distinct()
            .collect()
        )
        by_band: dict[int, list[int]] = {}
        for r in hit:
            by_band.setdefault(r["band"], []).append(r["_bkt"])
        pred = F.lit(False)  # no batch signatures at all → empty fan
        for b in sorted(by_band):
            pred = pred | ((F.col("band") == b) & F.col("_bkt").isin(by_band[b]))
        cbk = cbk.filter(pred)
    cbk = cbk.select("corp_id", "band", "sig")
    if bounded:
        sbk = F.broadcast(sbk)
    cand = sbk.join(cbk, ["band", "sig"]).select("snap_id", "corp_id").distinct()

    if broadcast_snapshot:
        spark = index_sigs.sparkSession
        src_type = index_sigs.schema[id_col].dataType
        left = (
            snapshot_ids.select(F.col(id_col))
            if snapshot_ids is not None
            else snap_sigs.select(F.col(id_col))
        )
        pairs = cand.limit(10_001).collect()
        if not pairs:
            return left.select(
                id_col,
                F.lit(False).alias("is_dup"),
                F.lit(None).cast(src_type).alias("dup_src"),
            )
        if len(pairs) <= 10_000:  # the limit returned the COMPLETE set
            maybe_b = F.broadcast
            cand = spark.createDataFrame(pairs, cand.schema)
            # prune the verify sides to candidate corp_ids with a
            # broadcast SEMI-join against the already-localized cand
            # frame — not a 10k-literal In expression, which inflated
            # the analyzed plan and (on non-contiguous ids) bought no
            # row-group skipping anyway (r12 ADVICE)
            cand_ids = cand.select(F.col("corp_id").alias(id_col)).distinct()
            index_shingles = index_shingles.join(
                F.broadcast(cand_ids), id_col, "leftsemi"
            )
            index_sigs = index_sigs.join(F.broadcast(cand_ids), id_col, "leftsemi")

    common = (
        maybe_b(
            cand.join(
                snap_shingles.select(F.col(id_col).alias("snap_id"), "s"), "snap_id"
            )
        )
        .join(index_shingles.select(F.col(id_col).alias("corp_id"), "s"), ["corp_id", "s"])
        .groupBy("snap_id", "corp_id")
        .agg(F.count("*").alias("c"))
    )
    ca = snap_sigs.select(F.col(id_col).alias("snap_id"), F.col("n").alias("na"))
    cb = index_sigs.select(F.col(id_col).alias("corp_id"), F.col("n").alias("nb"))
    jaccard = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    dups = (
        maybe_b(common.join(ca, "snap_id"))
        .join(cb, "corp_id")
        .filter(jaccard >= jaccard_threshold)
        .groupBy("snap_id")
        .agg(F.min("corp_id").alias("dup_src"))
    )
    # docs with <shingle_k tokens have no shingle/signature rows but must
    # still report is_dup=false — callers with such docs pass the full id
    # frame via snapshot_ids
    left = snapshot_ids.select(F.col(id_col)) if snapshot_ids is not None else snap_sigs.select(
        F.col(id_col)
    )
    return (
        left.join(dups.withColumnRenamed("snap_id", id_col), id_col, "left")
        .select(
            id_col,
            F.col("dup_src").isNotNull().alias("is_dup"),
            "dup_src",
        )
    )


def incremental_neardup_flags(
    corpus: DataFrame,
    snapshot: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Incremental near-dup screen over raw text frames: build the band
    index for `corpus` (persisted — the reusable artifact), the batch
    frames for `snapshot`, and probe (`neardup_index_probe`)."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    csh = _shingle_sets(corpus, id_col, text_col, shingle_k).persist()
    csigs = minhash_signatures(csh, id_col, num_hashes).persist()
    ssh = _shingle_sets(snapshot, id_col, text_col, shingle_k)
    ssigs = minhash_signatures(ssh, id_col, num_hashes)
    return neardup_index_probe(
        csh,
        csigs,
        ssh,
        ssigs,
        id_col,
        jaccard_threshold,
        bands,
        num_hashes // bands,
        snapshot_ids=snapshot,
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact jaccard ≥ threshold),
    found via banded-LSH candidates + exact verification.

    Shuffle profile at scale: signature agg (1 shuffle keyed by doc),
    bucket self-join (1 shuffle keyed by (band, band-signature) — bucket
    sizes are near-dup cluster sizes, no global skew), then the verify
    joins touch only candidate docs' shingle sets.

    The tokenize→explode→distinct shingle subtree feeds three consumers
    (signatures+counts, verify side A, verify side B), so it is
    persisted for the duration of the query — without the cache Spark
    recomputes the most expensive map stage once per consumer. Set sizes
    ride along in the signature aggregate instead of a second groupBy.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands

    sh = _shingle_sets(df, id_col, text_col, shingle_k).persist()
    # sigs feeds the band buckets AND the set-size lookups: persist the
    # one-row-per-doc aggregate too so the 64-hash agg runs once.
    sigs = minhash_signatures(sh, id_col, num_hashes).persist()

    buckets = _band_buckets(sigs, id_col, bands, rows_per_band)
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )

    # exact-jaccard verification on candidates only; set sizes come from
    # the (cached) signature aggregate, not a second scan of sh
    counts = sigs.select(id_col, "n")
    sha = sh.select(F.col(id_col).alias("id_a"), "s")
    shb = sh.select(F.col(id_col).alias("id_b"), "s")
    common = (
        cand.join(sha, "id_a").join(shb, ["id_b", "s"]).groupBy("id_a", "id_b").agg(
            F.count("*").alias("c")
        )
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    jaccard = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        common.join(ca, "id_a")
        .join(cb, "id_b")
        .filter(jaccard >= jaccard_threshold)
        .select("id_a", "id_b", jaccard.alias("jaccard"))
    )


_CC_DRIVER_CAP = 100_000  # edge bound for the driver union-find fold


def neardup_components(
    pairs: DataFrame, max_iters: int = 25, stats: dict | None = None
) -> DataFrame:
    """Connected components of the near-dup pair graph: (id, lbl) where
    `lbl` is the SMALLEST doc id reachable through near-dup edges — the
    component's canonical survivor.

    Two strategies, chosen by a measurement (the r12 bounded-probe
    pattern — every driver fold is count-gated, never assumed small):

    - **Bounded edge set** (≤ ``_CC_DRIVER_CAP`` pairs, probed with a
      LIMIT-bounded collect): union-find on the driver — O(E α(E))
      integer work over ≤100k 16-byte rows, zero distributed rounds.
      The iterative form below costs ~4 Spark jobs per round
      (join+agg, checkpoint materialization, convergence count) whose
      scheduling floor dwarfs the data work whenever the graph is
      small; the fold replaces them with one job (the probe) and a
      local-relation result. Near-dup EDGES are dup-pair-bounded, not
      corpus-bounded, so most real corpora land here.
    - **Unbounded** (the probe truncated): iterative min-label
      propagation — each round every node takes the min of its own
      label and its neighbors' labels; converges in O(component
      diameter) rounds, which for near-dup clusters (dense, shallow)
      is a handful. Each round is one key-partitioned join+agg over
      the EDGE set (candidate pairs only — tiny next to the corpus),
      with `localCheckpoint` truncating lineage so plans don't
      snowball; on a cluster with a checkpoint dir, swap in
      `checkpoint`. The only driver-side values are the per-round
      changed-row counts.

    Both are exact and deterministic (pure min arithmetic, no RNG) and
    return identical rows: every node that appears in an edge, labeled
    with its component minimum.

    ``stats``, when given, is filled with ``{"edges": pair count,
    "iters": propagation rounds run}`` — the scale-evidence hooks the
    stress harness records (per-round cost is ∝ edges and rounds are
    bounded by component diameter; tools/stress_scale.py measures both
    instead of arguing them). ``iters`` is 0 on the driver-fold path:
    no distributed rounds ran.
    """
    id_type = pairs.schema["id_a"].dataType.simpleString()
    # persist UNDER the probe (r13 ADVICE): whatever partitions the
    # LIMIT-bounded collect computes are cached, so the truncated
    # (>cap) path's localCheckpoint below reads them back instead of
    # recomputing the candidate-join + exact-verify subtree from
    # scratch — the large-graph path no longer pays the most expensive
    # joins twice. The bounded path unpersists immediately (its result
    # is a local relation). A count-first gate (count() then collect())
    # was prototyped in r14 and measured WORSE under the size-aware
    # spread — with ~10-partition stages the limit's incremental
    # scale-up is cheap, while count+collect adds a full extra pass
    # (t11 interleaved A/B: 177→198 tasks, +0.1-0.5 s wall) — so the
    # LIMIT probe stays; do not re-"fix" without beating those numbers.
    probe_src = pairs.select("id_a", "id_b").persist()
    try:
        probe = probe_src.limit(_CC_DRIVER_CAP + 1).collect()
        if len(probe) > _CC_DRIVER_CAP:
            # materialize the pair graph once — both union branches and
            # every propagation round read it, and upstream is the whole
            # MinHash pipeline (recomputing it per branch doubled t11's
            # cost); the checkpoint reads the probe-cached partitions
            # (see above) rather than recomputing the join subtree
            pairs = probe_src.localCheckpoint()
    finally:
        probe_src.unpersist()
    if len(probe) <= _CC_DRIVER_CAP:  # the limit returned the COMPLETE set
        if stats is not None:
            stats["edges"] = len(probe)
            stats["iters"] = 0
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in probe:
            a, b = row[0], row[1]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)  # root = component min
        rows = [(x, find(x)) for x in parent]
        return pairs.sparkSession.createDataFrame(
            rows, f"id {id_type}, lbl {id_type}"
        )

    if stats is not None:
        stats["edges"] = pairs.count()
        stats["iters"] = 0
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct().select("id", F.col("id").alias("lbl"))
    ).localCheckpoint()
    for _ in range(max_iters):
        if stats is not None:
            stats["iters"] += 1
        lbl_by_dst = labels.select(F.col("id").alias("dst"), F.col("lbl").alias("dlbl"))
        prop = (
            edges.join(lbl_by_dst, "dst")
            .groupBy("src")
            .agg(F.min("dlbl").alias("plbl"))
            .select(F.col("src").alias("id"), "plbl")
        )
        # carry a moved flag through the checkpoint so convergence needs
        # no second join-over-labels job per round
        new_labels = (
            labels.join(prop, "id", "left")
            .select(
                "id",
                F.least("lbl", F.coalesce("plbl", "lbl")).alias("lbl"),
                (F.coalesce("plbl", "lbl") < F.col("lbl")).cast("int").alias("moved"),
            )
        ).localCheckpoint()
        changed = new_labels.agg(F.sum("moved")).collect()[0][0]
        labels = new_labels.drop("moved")
        if changed == 0:
            break
    return labels
