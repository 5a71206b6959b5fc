"""Shared curation-funnel stage builder.

The quality-predicate → keep-first-dedup → decontamination annotation
exists in four places (pipe01, pipe02's base and delta passes, and the
streaming funnel's per-micro-batch pass); this module is the ONE
definition they all compose. The reference has no equivalent (its ETL
is a fixed eager chain, `pipeline/transform.py:10-65`); here the stage
is a declarative builder so batch, incremental and streaming runs are
provably the same plan over different inputs/state.

Scale shape (unchanged from the audited standalone queries): quality is
doc-keyed integer rules; dedup is ONE window on the content hash plus a
plain keyed anti-join against the prior-state hash index (corpus-scale
at 100 TB — never broadcast, the c08 lesson); decontamination probes
the frozen benchmark shingle index, which is benchmark-sized and the
only broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from serverless_etl_reporting_pipeline_spark.operators.text import (
    _QF_MAX_REPETITION,
    _QF_MIN_STOPWORD_RATIO,
    _QF_MIN_TOKENS,
    _token_profile,
    casefold,
    shingles,
    tokens,
)

SHINGLE_N = 8  # decontamination n-gram width (t19's)
PIPE2_BUDGET = 120  # incremental-run selection budget (pipe02 + streaming twin)


def quality_pred() -> Column:
    """The t16 quality rules as a predicate over the _token_profile
    columns. A function, not a module constant: this module is imported
    at registry-build time, before any SparkContext exists, and classic
    PySpark Columns need an active context."""
    return (
        (F.col("n_tokens") >= _QF_MIN_TOKENS)
        & (F.col("stop") * 1.0 / F.col("n_tokens") >= _QF_MIN_STOPWORD_RATIO)
        & (F.col("mx") * 1.0 / F.col("n_tokens") <= _QF_MAX_REPETITION)
    )


def quality_hash() -> Column:
    """The normalized content hash keying exact keep-first dedup (t02).
    casefold, not F.lower: the İ divergence (operators/text.py casefold)
    would give the two engines different hashes for the same text.

    xxhash64, not md5 (r13 "not yet optimized" → r14): the key is
    INTERNAL — it crosses the dedup window exchange, the keep-first
    anti-joins and the stored streaming hash index, but never reaches a
    query's output, so the oracle keeps restating dedup with md5 and
    the RESULTS stay bit-identical as long as both hashes induce the
    same groups over distinct casefolded texts. That holds up to 64-bit
    collisions (p ≈ n²/2⁶⁵ per corpus — the same calculus as the
    shingle-id change, absent from every oracle fixture), while the
    full-text hash CPU drops ~5-10× and the key narrows from a 32-hex
    string (~40+ shuffle bytes) to an 8-byte long at every dedup
    exchange. NULL note: xxhash64(NULL) is the seed (42), not NULL —
    harmless here because NULL/empty-text docs never satisfy the
    quality predicate, so they never enter the keep-first window or
    the hash index.

    Corpus bound: expected collisions among n distinct texts are
    ≈ n²/2⁶⁵ — ≈ 0.03 at n = 10⁹ documents, ≈ 3 at 10¹⁰. Each collision
    drops one distinct document as a false duplicate."""
    return F.xxhash64(casefold("text"))


def eval_split(id_col: str = "doc_id") -> Column:
    """Benchmark-membership predicate: docs whose md5 hex digest starts
    with 0 or 1 (a deterministic ~1/8 split). THE definition of the
    frozen eval set — pipe01, pipe02 and the streaming funnel must all
    test the same predicate or the batch≡streaming decontamination
    parity silently breaks."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 1).isin("0", "1")


def shingle_set(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Distinct (doc_id, s) word n-gram pairs — the decontamination
    probe/build frame. Callers that feed BOTH sides (benchmark build and
    contamination probe) should persist the result once (t19 discipline).

    ``s`` is the 64-bit xxhash64 of the n-gram, not the string: every
    consumer (benchmark index build, contamination semi-join, the
    streaming funnel's stored index) only tests shingle EQUALITY, so an
    8-word shingle string (~60+ bytes) never needs to cross the dedup
    exchange, sit in the persisted subtree, ride the benchmark
    broadcast, or be stored on disk — an 8-byte long does (the
    operators/minhash.py `_shingle_sets` discipline; collisions are
    p ≈ n²/2⁶⁵ per compared set and absent from every oracle fixture).
    """
    return (
        docs.select("doc_id", tokens("text").alias("t"))
        .select("doc_id", F.explode(shingles("t", n)).alias("_s"))
        .select("doc_id", F.xxhash64("_s").alias("s"))
        .distinct()
    )


def annotate_batch(
    docs: DataFrame,
    hold_sh: DataFrame,
    *,
    seen_hashes: DataFrame | None = None,
    ev: Column | None = None,
    shingle_frame: DataFrame | None = None,
    bounded_batch: bool = False,
    batch_count: int | None = None,
) -> DataFrame:
    """Annotate one batch of documents against funnel state.

    Returns (doc_id, source, lang, h, q, ev, dd, clean):

    - ``q`` — the t16 integer quality rules;
    - ``h`` — xxhash64(casefold(text)), the exact-dedup key (the
      oracle restates dedup with md5 — results agree because both
      hashes induce the same groups, see ``quality_hash``);
    - ``dd`` — keep-first dedup survivor: first occurrence of ``h``
      within this batch (row_number window) AND, when ``seen_hashes``
      is given, ``h`` absent from that prior-state index. The index is
      corpus-scale, NEVER broadcast; the plain form is a keyed
      anti-join that shuffles it per call. ``bounded_batch=True`` (the
      streaming drain, whose micro-batch is maxFilesPerTrigger-bounded
      — the r12 bounded-probe pattern) rewrites it as scan-only when a
      batch count confirms boundedness (≤ 100k docs, the same order as
      the other bounded-probe gates — the broadcast frames below are
      batch-derived, so the gate is also the driver-memory bound):
      broadcast-SEMI-join the index down to hashes present in the
      batch (map-only over the index, no corpus shuffle), then
      broadcast-ANTI-join the batch against that ≤ batch-sized matched
      set — identical semantics, per-batch index cost = one scan
      instead of one shuffle. Callers that already materialized the
      batch pass its row count via ``batch_count`` so the gate costs
      zero extra jobs (r12 ADVICE); without it the gate counts
      ``docs`` itself. With monotone doc ids across batches this
      equals union-wide keep-first;
    - ``clean`` — dd AND NOT ev AND sharing no ``SHINGLE_N``-gram with
      ``hold_sh``, the frozen benchmark shingle index (benchmark-sized:
      the only broadcast in the stage).

    ``ev`` marks benchmark members (eval split; defaults to none —
    correct for post-freeze batches). ``shingle_frame`` lets the caller
    pass an already-persisted ``shingle_set(docs)`` when the same frame
    also built ``hold_sh``.

    Every input doc gets an output row: a doc with zero ``\\w+`` tokens
    (empty/NULL/punctuation-only text) has no `_token_profile` row, so
    the join is LEFT and q defaults to False — the doc is counted as
    raw-but-not-quality in the funnel accounting instead of silently
    vanishing from the lake (which would break the rows-in ≡ rows-out
    invariant the streaming tests assert).
    """
    if ev is None:
        ev = F.lit(False)
    ann0 = (
        docs.select("doc_id", "source", "lang", "text")
        .join(_token_profile(docs), "doc_id", "left")
        .select(
            "doc_id", "source", "lang",
            quality_hash().alias("h"),
            F.coalesce(quality_pred(), F.lit(False)).alias("q"),
            ev.alias("ev"),
        )
    )
    firsts = (
        ann0.filter("q")
        .select("doc_id", "h")
        .withColumn("rn", F.row_number().over(Window.partitionBy("h").orderBy("doc_id")))
        .filter("rn = 1")
    )
    if seen_hashes is not None:
        if bounded_batch and (
            batch_count if batch_count is not None else docs.count()
        ) <= 100_000:
            matched = (
                seen_hashes.select("h")
                .join(F.broadcast(firsts.select("h")), "h", "leftsemi")
                .distinct()
            )
            firsts = firsts.join(F.broadcast(matched), "h", "left_anti")
        else:
            firsts = firsts.join(seen_hashes.select("h"), "h", "left_anti")
    sh = shingle_frame if shingle_frame is not None else shingle_set(docs)
    cont = sh.join(F.broadcast(hold_sh), "s").select("doc_id").distinct()
    dd = F.coalesce(F.col("_dd"), F.lit(False))
    # join the winners back on (doc_id, h), NOT doc_id alone: under the
    # r10 duplicate-id class a doc_id can name several rows — several h
    # values — and a doc_id-only join MULTIPLIES rows (breaking the
    # rows-in ≡ rows-out funnel invariant) and flags non-winning shards.
    # firsts is unique per h, so the two-key join never fans out.
    return (
        ann0.join(firsts.withColumn("_dd", F.lit(True)), ["doc_id", "h"], "left")
        .join(cont.withColumn("_c", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id", "source", "lang", "h",
            "q", "ev",
            dd.alias("dd"),
            (dd & ~F.col("ev") & F.col("_c").isNull()).alias("clean"),
        )
    )


def md5_uniform(id_col: str = "doc_id") -> Column:
    """Deterministic uniform draw in [0, 1): the first 8 md5 hex digits
    of the id as a 32-bit integer fraction (the c11 selection rule)."""
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast("bigint")
        / F.lit(4294967296.0)
    )


def quality_hashes(docs: DataFrame) -> DataFrame:
    """Distinct content hashes of quality docs — the keep-first blocker
    index (pipe02/streaming state 1), computed from the profile subtree
    alone: building the INDEX must not pay the dedup window or the
    contamination join that annotating does."""
    return (
        docs.select("doc_id", "text")
        .join(_token_profile(docs), "doc_id")
        .filter(quality_pred())
        .select(quality_hash().alias("h"))
        .distinct()
    )


def mixture_report(ann: DataFrame, tgt: DataFrame, with_cum: bool = False) -> DataFrame:
    """The per-domain funnel report + md5-uniform mixture draw shared by
    pipe01 (batch), pipe02 (incremental) and the streaming funnel — ONE
    definition, so a threshold or column change cannot silently break
    the batch≡streaming parity the tests assert.

    ``ann`` is an annotated frame (doc_id, source, lang, q, dd, clean);
    ``tgt`` the (source, lang, n_docs, target_docs) apportionment frame
    (domain-sized — broadcast on both joins). ``with_cum`` adds the
    cumulative clean-count column the incremental variants report.
    """
    selc = (
        ann.filter("clean")
        .join(F.broadcast(tgt), ["source", "lang"])
        .filter(md5_uniform() < F.col("target_docs") / F.col("n_docs").cast("double"))
        .groupBy("source", "lang")
        .agg(F.count("*").cast("bigint").alias("n_sel"))
    )
    aggs = [
        F.count("*").cast("bigint").alias("n_raw"),
        F.sum(F.when(F.col("q"), 1).otherwise(0)).cast("bigint").alias("n_quality"),
        F.sum(F.when(F.col("dd"), 1).otherwise(0)).cast("bigint").alias("n_dedup"),
        F.sum(F.when(F.col("clean"), 1).otherwise(0)).cast("bigint").alias("n_clean"),
    ]
    if with_cum:
        aggs.append(F.coalesce(F.max("n_docs"), F.lit(0)).cast("bigint").alias("cum_clean"))
    aggs += [
        F.coalesce(F.max("target_docs"), F.lit(0)).cast("bigint").alias("target_docs"),
        F.coalesce(F.max("n_sel"), F.lit(0)).cast("bigint").alias("n_selected"),
    ]
    return (
        ann.join(F.broadcast(tgt), ["source", "lang"], "left")
        .join(F.broadcast(selc), ["source", "lang"], "left")
        .groupBy("source", "lang")
        .agg(*aggs)
        .orderBy("source", "lang")
    )
