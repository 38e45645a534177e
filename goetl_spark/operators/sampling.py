"""Dataset splitting / sampling for training-data pipelines.

Beyond the reference surface (BASELINE.json north star). The key design
constraint at 100 TB is REPRODUCIBILITY without coordination: every
operator here derives its decision from a hash of the row's stable id,
so membership is a pure per-row function — no global sort, no sampling
state, no shuffle, stable under retries/re-partitioning, and portable
to any engine (md5-based, like the dedup family; see
goetl_spark.operators.text.md5_int).

- :func:`hash_split` — train/val/test assignment by hash bucket. The
  industry-standard reproducible split (vs ``randomSplit``, which is
  partition-order dependent).
- :func:`hash_sample` — deterministic p-fraction sample, same mechanism.
- :func:`stratified_sample` — per-stratum fractions via ``sampleBy``
  (seeded Bernoulli; NOT hash-stable across engines — use for local
  experimentation, hash_sample for pipeline splits).
- :func:`length_buckets` — token-length bucketing for batch packing
  (sequence-length curricula); pure expression over the text column.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goetl_spark.operators.text import (md5_int, spread_small_input,
                                         token_count)


def _hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets): md5 of the key string, mod buckets."""
    return md5_int(key.cast("string")) % buckets


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: Mapping[str, int] | None = None,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hash bucket of ``key_col``.

    ``splits`` maps name -> percent (must sum to 100); default
    80/10/10 train/val/test. Assignment is a pure function of the key:
    adding data, re-partitioning, or re-running never moves a row between
    splits — the property that matters when the corpus is rebuilt
    incrementally.
    """
    splits = dict(splits or {"train": 80, "val": 10, "test": 10})
    if sum(splits.values()) != 100:
        raise ValueError(f"split percents must sum to 100, got {splits}")
    b = _hash_bucket(F.col(key_col))
    expr = None
    lo = 0
    for name, pct in splits.items():
        cond = (b >= lo) & (b < lo + pct)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return df.withColumn(out_col, expr)


def hash_sample(df: DataFrame, key_col: str, fraction: float,
                buckets: int = 10_000) -> DataFrame:
    """Deterministic ~``fraction`` sample: keep rows whose hash bucket
    falls below ``fraction * buckets``. Same row set on every run and
    every engine."""
    return df.filter(
        _hash_bucket(F.col(key_col), buckets) < int(round(fraction * buckets))
    )


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: Mapping, seed: int = 42
) -> DataFrame:
    """Per-stratum Bernoulli sample (``sampleBy``): seeded and
    reproducible within Spark, but partition-dependent — prefer
    :func:`hash_sample` for cross-engine-checkable pipelines."""
    return df.sampleBy(strata_col, dict(fractions), seed=seed)


def stratified_topk(
    df: DataFrame, strata_cols: Sequence[str], k: int, key_col: str,
    rank_col: str = "strata_rank",
) -> DataFrame:
    """EXACT k rows per stratum, deterministically: rows rank by
    (md5 of key, key) within their stratum and the top ``k`` survive.

    The md5 rank makes the selection a uniform-but-reproducible draw —
    the same k rows on every run, every engine (SQL twin:
    ``ROW_NUMBER() OVER (PARTITION BY strata ORDER BY md5(key), key)``)
    — the property :func:`stratified_sample`'s seeded Bernoulli lacks,
    and with an exact per-stratum count, which :func:`hash_sample`'s
    rate rule can't give. The tie-break on the raw key makes the order
    total even across md5-prefix collisions (~1 in 4×10⁹ keys).

    Scale: one hash-partition shuffle on the strata columns + a
    per-partition sort — rank k is a running row_number, no global
    sort. A stratum so hot it swamps one task is the signal to sample
    it by rate first (hash_sample) and top-k the survivors."""
    from pyspark.sql import Window

    w = (Window.partitionBy(*[F.col(c) for c in strata_cols])
         .orderBy(md5_int(F.col(key_col).cast("string")),
                  F.col(key_col)))
    return (df.withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k))


def mix_sources(
    sources: Sequence[tuple[DataFrame, float]],
    key_col: str,
    source_col: str | None = "source",
) -> DataFrame:
    """Weighted corpus mixture: hash-sample each source at its weight and
    union by name (missing columns → NULL). Weights are FRACTIONS KEPT of
    each source (e.g. [(web, 0.3), (books, 1.0)]), the standard way
    training mixtures are specified over corpora of different sizes.

    Deterministic end to end: membership is the per-row hash rule of
    :func:`hash_sample`, so the mixture is reproducible and incremental
    rebuilds keep prior rows. Union is shuffle-free; sampling is a scan
    filter.
    """
    from goetl_spark.operators.union import fan_in

    parts = []
    for i, (df, weight) in enumerate(sources):
        part = df if weight >= 1.0 else hash_sample(df, key_col, weight)
        if source_col:
            part = part.withColumn(source_col, F.lit(i))
        parts.append(part)
    return fan_in(parts)


def temperature_weights(
    sizes: Sequence[float], temperature: float = 1.0
) -> list[float]:
    """Turn corpus SIZES into per-source keep-fractions for
    :func:`mix_sources` via temperature sampling (the multilingual /
    multi-corpus rebalancing rule): sampling probability ∝ size^(1/T),
    converted to fractions by scaling so the largest upweighted source
    keeps 100%.

    T=1 reproduces natural proportions (every fraction 1.0); T→∞ tends
    to uniform (all corpora contribute equally, small ones fully kept,
    big ones downsampled); T<1 skews further toward big corpora. Pure
    driver-side arithmetic — pair with :func:`mix_sources` so membership
    stays the deterministic hash rule.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if any(s <= 0 for s in sizes):
        raise ValueError("corpus sizes must be positive")
    probs = [s ** (1.0 / temperature) for s in sizes]
    # fraction_i = (p_i / size_i) scaled so max fraction == 1.0
    raw = [p / s for p, s in zip(probs, sizes)]
    top = max(raw)
    return [r / top for r in raw]


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    overlap_tokens: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pre-embedding / pretraining chunker: window ``i`` covers
    whitespace tokens ``[i·step, i·step + chunk_tokens)`` with
    ``step = chunk_tokens − overlap_tokens``, the last window truncating
    at the document end. Returns (id, chunk_id, text, n_tokens), one row
    per chunk, chunk_id dense from 0 in document order.

    Pure Column expressions (split → sequence of starts → posexplode →
    slice → concat_ws): whole-stage-codegen, zero UDFs, map-only — the
    row explosion is the output, not a shuffle. Deterministic and
    SQL-mirrorable (DuckDB list slicing reproduces it exactly)."""
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap ({overlap_tokens}) < chunk ({chunk_tokens})")
    step = chunk_tokens - overlap_tokens
    toks = F.split(F.col(text_col), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(step))
    out = (
        df.select(F.col(id_col), toks.alias("__toks"),
                  F.posexplode(starts).alias("chunk_id", "__start"))
        .select(
            id_col, "chunk_id",
            F.concat_ws(
                " ", F.slice("__toks", F.col("__start") + 1, chunk_tokens)
            ).alias(text_col),
            F.least(F.size("__toks") - F.col("__start"),
                    F.lit(chunk_tokens)).alias("n_tokens"),
        )
    )
    return out.filter(F.col("n_tokens") > 0)


def length_buckets(
    df: DataFrame,
    text_col: str = "text",
    bounds: Sequence[int] = (64, 128, 256, 512, 1024),
    out_col: str = "length_bucket",
) -> DataFrame:
    """Token-length bucket id per document for batch packing: bucket i
    holds docs with token_count in (bounds[i-1], bounds[i]]; bucket
    len(bounds) is the overflow. Downstream, group or repartition by the
    bucket so fixed-shape training batches pack without padding waste."""
    n = token_count(text_col)
    expr = F.lit(len(bounds))
    for i in range(len(bounds) - 1, -1, -1):
        expr = F.when(n <= bounds[i], i).otherwise(expr)
    return df.withColumn(out_col, expr.cast("int"))


def pack_sequences(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_cols: Sequence[str] = ("doc_id",),
    out_col: str = "pack_id",
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Assign documents to token-budget packs (sequence packing for
    pretraining batches): ``pack_id = floor(exclusive_cumsum(tokens) /
    budget)`` over a deterministic document order.

    Why this formulation and not exact first-fit: greedy bin packing is
    inherently sequential (each decision depends on every prior pack's
    fill), so it cannot parallelize — the standard trade at scale is
    cumulative-range packing, which guarantees every pack's token sum
    < budget + max_doc_tokens (a pack overfills only by the one document
    straddling its boundary; order by a :func:`length_buckets` bucket to
    keep that overhead small). Deterministic when ``order_cols`` is a
    TOTAL order, so the assignment is reproducible and oracle-checkable.

    Scale: a naive ``Window.orderBy`` with no partitioning would drag
    every row into ONE task — the classic global-window trap. This is
    the two-phase distributed cumsum instead: range-repartition on the
    order, per-partition window cumsum, then each partition's total is
    collected (one row per partition — tiny) and turned into driver-side
    exclusive offsets that a broadcast join adds back. Any range split
    yields the same global cumsum because ranges respect the total
    order, so the result is partitioning-independent.

    ``materialize`` (default) computes the result eagerly via
    ``localCheckpoint`` and releases the internal range-partition persist
    before returning — the persist would otherwise outlive the call in
    the session's CacheManager (round-3 verdict ask #6; checkpoint
    blocks, unlike cache entries, are reclaimed by the ContextCleaner
    once the returned frame is dropped). Pass False for the lazy plan
    and unpersist the input lineage yourself.
    """
    out = _with_exclusive_cumsum(df, token_col, order_cols, "__cum",
                                 num_partitions, materialize)
    return (out.withColumn(out_col,
                           F.floor(F.col("__cum") / F.lit(budget))
                           .cast("long"))
            .drop("__cum"))


def _plan_free_partitions(df: DataFrame, per_part: int = 128 << 20) -> int:
    """Range-partition count WITHOUT executing the input plan.

    The old ``df.rdd.getNumPartitions()`` probe is poisonous under AQE:
    ``.rdd`` materializes every upstream query stage — a full throwaway
    execution of the input plan whose shuffles are NOT reused by the
    real run — and then reports the AQE-coalesced partition count
    (often 1), serializing the cumsum window. The optimizer's
    size-in-bytes estimate costs zero jobs and scales the count with
    the data (~128 MB per range partition, capped at the machine's
    parallelism): tiny collapsed tables keep the old 1-partition
    layout, corpus-scale inputs get full parallelism. Values are
    partitioning-independent (the callers' order columns are a total
    order), so only the layout changes.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # estimation failure → parallel, never throwaway
        return par
    return max(1, min(par, size // per_part + 1))


def _with_exclusive_cumsum(
    df: DataFrame,
    token_col: str,
    order_cols: Sequence[str],
    out_col: str,
    num_partitions: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Two-phase distributed EXCLUSIVE cumulative sum of ``token_col``
    over the total order ``order_cols`` (the :func:`pack_sequences`
    engine, shared with :func:`block_pack`): range-repartition on the
    order, per-partition window cumsum, per-partition totals collected
    (one row per partition) into driver-side offsets that a broadcast
    join adds back. Partitioning-independent because ranges respect the
    total order. See :func:`pack_sequences` for the materialize
    contract."""
    return _with_exclusive_cumsums(df, [(token_col, out_col)], order_cols,
                                   num_partitions, materialize)


def _with_exclusive_cumsums(
    df: DataFrame,
    tokens: Sequence[tuple[str, str]],
    order_cols: Sequence[str],
    num_partitions: int | None = None,
    materialize: bool = True,
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """:func:`_with_exclusive_cumsum` for SEVERAL token columns over the
    SAME total order in ONE pass: one range repartition, one persist,
    one per-partition totals collect (all sums ride the same 1-row-per-
    partition aggregate), one window projection (same window spec, so
    Spark evaluates every running sum in a single Window operator).
    Callers that need k cumsums over one order (PR-AUC's n/tp, the KS
    a/b ECDFs, W1's a/b/rank) previously chained k sequential calls —
    k range samplings, k persists, k collects, k checkpoint
    materializations of the SAME layout. Each sum is computed exactly
    as the single-column version computes it (per-partition window sum
    + exact long driver offsets), so values are bit-identical.

    ``partition_cols`` (r18) restarts every running sum per group —
    INDEPENDENT cumsums for several groups in the SAME single pass
    (:func:`mix_token_budget`'s per-source budgets previously paid one
    full range-partition pass PER SOURCE). Groups lead the range keys
    so each group stays contiguous, the window/totals/offsets are all
    keyed by (partition, group), and per-group values equal a
    per-group single call exactly (same window sums, same exact long
    offsets — the order columns stay a total order within each group).
    Group values must be non-NULL (they ride an equi-join)."""
    from pyspark.sql import Window

    pcols = list(partition_cols)
    order = [F.col(c) for c in order_cols]
    n = num_partitions or _plan_free_partitions(df)
    # persisted: the totals pass and the returned plan must observe the
    # SAME range boundaries (range sampling re-run on a different input
    # order could split ties differently); the first action materializes,
    # the final plan reuses.
    parts = (df.repartitionByRange(n, *[F.col(c) for c in pcols], *order)
             .withColumn("__pid", F.spark_partition_id())
             .persist())
    try:
        w = (Window.partitionBy("__pid", *pcols).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, -1))

        trow = parts.groupBy("__pid", *pcols).agg(
            *[F.sum(tok).alias(f"t{i}")
              for i, (tok, _) in enumerate(tokens)]).collect()
        totals = {(r["__pid"], *[r[c] for c in pcols]): r for r in trow}
        # per-group running sums accumulated in ascending partition order
        # (groups are contiguous across partitions; order within one pid
        # is irrelevant — each (pid, group) cell is disjoint)
        running: dict[tuple, list[int]] = {}
        offsets: dict[tuple, list[int]] = {}
        for key in sorted(totals, key=lambda k: k[0]):
            run = running.setdefault(key[1:], [0] * len(tokens))
            offsets[key] = list(run)
            for i in range(len(tokens)):
                run[i] += totals[key][f"t{i}"] or 0
        spark = df.sparkSession
        from pyspark.sql.types import (IntegerType, LongType, StructField,
                                       StructType)

        fields = [StructField("__pid", IntegerType())]
        for c in pcols:
            fields.append(StructField(c, parts.schema[c].dataType))
        fields += [StructField(f"__offset_{i}", LongType())
                   for i in range(len(tokens))]
        off_df = spark.createDataFrame(
            [(int(k[0]), *k[1:], *[int(o) for o in offs])
             for k, offs in offsets.items()], StructType(fields))
        out = parts.join(F.broadcast(off_df), ["__pid"] + pcols)
        for i, (tok, out_col) in enumerate(tokens):
            local_before = F.coalesce(F.sum(F.col(tok)).over(w), F.lit(0))
            out = out.withColumn(
                out_col,
                (local_before + F.col(f"__offset_{i}")).cast("long"))
        out = out.drop("__pid",
                       *[f"__offset_{i}" for i in range(len(tokens))])
        if materialize:
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        if materialize:
            parts.unpersist()


def block_pack(
    df: DataFrame,
    token_col: str,
    block_tokens: int,
    order_cols: Sequence[str] = ("doc_id",),
    block_col: str = "block_id",
    materialize: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style block packing: concatenate every document's tokens in a
    deterministic total order and cut the stream into fixed
    ``block_tokens`` blocks, documents SPLITTING across block boundaries
    — the standard pretraining layout (concat-with-EOD then fixed-length
    chunks), complementary to :func:`pack_sequences`' no-split greedy
    packing. Returns one row per (document, block) span:

    - ``token_start`` — the document's global token offset;
    - ``{block_col}`` — the block this span lands in;
    - ``block_offset`` — where the span starts within the block;
    - ``tokens_in_block`` — how many of the document's tokens fall in
      this block (a document longer than a block yields several rows,
      interior blocks fully covered).

    Every block is exactly full (the last one ragged), which is the
    property trainers want batches to have; the mapping is the shuffle
    plan a shard writer consumes. Zero-token documents contribute no
    spans and are dropped.

    Scale: the global offset is the shared two-phase distributed cumsum
    (:func:`_with_exclusive_cumsum` — no single-task global window); the
    span explosion is in-plan (``sequence`` + ``explode``), sized by
    ``tokens/block_tokens``, with no further shuffle. Deterministic
    given a total ``order_cols``; replayable in SQL via a window cumsum
    + ``generate_series``."""
    if block_tokens < 1:
        raise ValueError(f"block_tokens must be >= 1, got {block_tokens}")
    base = _with_exclusive_cumsum(
        df.filter(F.col(token_col) > 0), token_col, order_cols,
        "token_start", num_partitions, materialize)
    S = F.lit(block_tokens)
    end = F.col("token_start") + F.col(token_col)
    blocks = F.sequence(F.floor(F.col("token_start") / S),
                        F.floor((end - 1) / S))
    out = base.withColumn(block_col, F.explode(blocks))
    b = F.col(block_col)
    return (out
            .withColumn("block_offset",
                        F.greatest(F.col("token_start") - b * S, F.lit(0))
                        .cast("long"))
            .withColumn("tokens_in_block",
                        (F.least(end, (b + 1) * S)
                         - F.greatest(F.col("token_start"), b * S))
                        .cast("long")))


def weighted_systematic_sample(
    df: DataFrame,
    weight_col: str,
    step: int,
    order_cols: Sequence[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic weighted (systematic / PPS) sampling: lay every
    row's INTEGER weight end-to-end along the deterministic
    ``order_cols`` order and keep each row whose weight interval
    crosses a multiple of ``step`` — selection probability ∝ weight
    (weights ≥ step are always kept), expected sample size =
    total_weight / step, and the draw is reproducible and
    oracle-checkable (no RNG).

    Same two-phase distributed cumsum as :func:`pack_sequences` (range
    repartition → per-partition window cumsum → broadcast offsets) —
    never a global single-task window. Integer weights keep the cumsum
    exact in BIGINT; derive them once (e.g. round(price·100) cents)
    rather than summing doubles."""
    from pyspark.sql import Window

    if step <= 0:
        raise ValueError("step must be a positive integer")
    # enforce the positive-integer-weight contract: a zero/negative
    # weight moves the cumulative position backward and silently
    # corrupts the interval-crossing test for every later row
    # (round-6 advisor finding) — fail fast instead
    bad = F.col(weight_col).isNull() | (F.col(weight_col) <= 0)
    guard = F.when(
        bad,
        F.raise_error(F.concat(
            F.lit(f"weighted_systematic_sample: non-positive or NULL "
                  f"{weight_col}: "),
            F.coalesce(F.col(weight_col).cast("string"), F.lit("NULL")))),
    ).otherwise(F.lit(True))
    df = df.filter(guard)
    order = [F.col(c) for c in order_cols]
    n = num_partitions or _plan_free_partitions(df)
    parts = (df.repartitionByRange(n, *order)
             .withColumn("__pid", F.spark_partition_id())
             .persist())
    try:
        w = (Window.partitionBy("__pid").orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, -1))
        local_before = F.coalesce(
            F.sum(F.col(weight_col)).over(w), F.lit(0).cast("long"))
        totals = {r["__pid"]: r["t"] for r in parts.groupBy("__pid")
                  .agg(F.sum(weight_col).alias("t")).collect()}
        running, offsets = 0, {}
        for pid in sorted(totals):
            offsets[pid] = running
            running += totals[pid] or 0
        spark = df.sparkSession
        off_df = spark.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()],
            "__pid int, __offset long")
        # integer-exact crossing test:
        # floor((before+w)/step) > floor(before/step)
        return (
            parts.join(F.broadcast(off_df), "__pid")
            .withColumn("__before", local_before + F.col("__offset"))
            .filter(F.expr(f"(__before + {weight_col}) div {step}")
                    > F.expr(f"__before div {step}"))
            .drop("__pid", "__offset", "__before")
            .localCheckpoint(eager=True)
        )
    finally:
        parts.unpersist()


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    epoch: int = 0,
    salt: str = "goetl",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global shuffle for training epochs: order rows by
    ``md5(salt:epoch:key)`` so every epoch sees a different but fully
    reproducible permutation — no RNG, no driver state, same order on
    re-run and across engines (the standard "reshuffle each epoch"
    step before sharding a training corpus).

    Scale: one range-partitioned sort on the hash (Spark samples range
    bounds, so output partitions are balanced even when the key
    distribution is skewed); downstream writes preserve the order
    per-file. The hash column rides along as ``__shuffle_key`` for
    oracle checking and is typically dropped after the write.
    """
    # concat_ws SKIPS null args, so every NULL key would hash to the
    # same md5 and pile into one position — fail fast instead
    guard = F.when(
        F.col(key_col).isNull(),
        F.raise_error(F.lit(f"epoch_shuffle: NULL {key_col} — shuffle "
                            "keys must be non-null and unique")),
    ).otherwise(F.lit(True))
    key = F.concat_ws(":", F.lit(salt), F.lit(str(epoch)),
                      F.col(key_col).cast("string"))
    out = df.filter(guard).withColumn("__shuffle_key", F.md5(key))
    n = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32")
    return out.repartitionByRange(int(n), "__shuffle_key") \
              .sortWithinPartitions("__shuffle_key")


def chunk_by_sentences(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sentence-aligned chunking — the RAG-standard alternative to
    :func:`chunk_documents`' raw token windows: sentences never split
    mid-way, and chunks hold ~``budget_tokens`` whitespace tokens.
    Assignment is BUDGET-ALIGNED: sentence ``i`` goes to chunk
    ``floor(tokens_before_i / budget)`` (tokens_before = the exclusive
    running token count), a closed-form rule both engines compute
    exactly with one cumulative window — deterministic, integer-only,
    no per-chunk greedy state (a greedy fill whose remainder resets per
    chunk is a serial recurrence; the aligned rule gives the same
    ~budget-sized, sentence-whole chunks without it).

    Two shuffles of sentence-level rows (the per-doc cumulative window
    on id_col, then the (id_col, chunk_id) regroup — Catalyst can't
    reuse a hash(id_col) exchange for the wider key), both fully
    partition-parallel; nothing is doc-count- or corpus-serial. Output:
    (id_col, chunk_id, text, n_sentences, n_tokens), chunk text joined
    in sentence order with single spaces."""
    from pyspark.sql import Window

    from goetl_spark.operators.text import split_sentences

    if budget_tokens < 1:
        raise ValueError("budget_tokens must be >= 1")
    sents = (df.select(F.col(id_col),
                       F.posexplode(split_sentences(text_col))
                       .alias("pos", "sentence")))
    n_tok = F.size(F.filter(F.split(F.col("sentence"), r"\s+"),
                            lambda t: t != ""))
    w = Window.partitionBy(id_col).orderBy("pos")
    cum = (sents.withColumn("n_tok", n_tok)
           .withColumn("before",
                       F.coalesce(F.sum("n_tok").over(
                           w.rowsBetween(Window.unboundedPreceding, -1)),
                           F.lit(0)))
           .withColumn("chunk_id",
                       F.floor(F.col("before") / budget_tokens)
                       .cast("int")))
    return (cum.groupBy(id_col, "chunk_id")
            .agg(F.array_join(
                     F.array_sort(F.collect_list(
                         F.struct("pos", "sentence"))).getField("sentence"),
                     " ").alias("text"),
                 F.count(F.lit(1)).cast("int").alias("n_sentences"),
                 F.sum("n_tok").cast("long").alias("n_tokens")))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    splits: Mapping[str, int] | None = None,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    out_col: str = "split",
    group_col: str = "split_group",
    max_iter: int = 20,
) -> DataFrame:
    """Train/val/test assignment that near-duplicates cannot straddle —
    the eval-leakage guard :func:`hash_split` alone does not give: a
    per-document hash puts two 95 %-similar crawls of the same page in
    different splits, and the eval set silently overlaps training data
    (the contamination q85 hunts for, created by the split itself).

    Connected components over the candidate ``pairs`` (LSH / Jaccard /
    SimHash output — :func:`~goetl_spark.operators.dedup.dedup_clusters`)
    give every document a group key (its cluster id; singletons are
    their own group), and the WHOLE GROUP is assigned by one hash of
    that key — same deterministic bucket rule as :func:`hash_split`, so
    assignment survives rebuilds and re-partitioning. Returns ``df``
    plus (``group_col``, ``out_col``).

    Scale: components as in dedup_clusters (O(diameter) rounds over the
    pairs graph — near-dup graphs are shallow); the split itself is one
    broadcast-free left join on the id key plus a scan-level hash
    expression. Text never shuffles."""
    from goetl_spark.operators.dedup import dedup_clusters

    clusters = dedup_clusters(pairs, id_a=id_a, id_b=id_b,
                              max_iter=max_iter)
    if id_col != "doc_id":
        clusters = clusters.withColumnRenamed("doc_id", id_col)
    joined = (df.join(clusters, id_col, "left")
              .withColumn(group_col,
                          F.coalesce("cluster_id", F.col(id_col)))
              .drop("cluster_id"))
    return hash_split(joined, group_col, splits, out_col)


def sample_to_token_budget(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    salt: str = "",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic ~``budget``-token subset: documents are laid out in
    md5-hash order (an unbiased, engine-independent shuffle; ``salt``
    yields a different but equally deterministic order) and kept while
    the EXCLUSIVE running token sum is under ``budget`` — so the one
    document straddling the boundary is included and the kept total
    lands in [budget, budget + max_doc_tokens). Row-fraction sampling
    (:func:`hash_sample`) only hits a token target in expectation;
    corpus-mixing recipes are specified in TOKENS.

    Reuses :func:`pack_sequences`' two-phase distributed cumsum (range
    repartition + per-partition window + driver offsets — never a
    single-task global window): the kept set is exactly pack 0 of a
    ``budget``-sized packing over the hash order."""
    if budget <= 0:
        raise ValueError(f"budget must be > 0, got {budget}")
    hcol = "__tb_hash"
    with_h = df.withColumn(
        hcol, md5_int(F.concat_ws(":", F.lit(salt), F.col(id_col))))
    packed = pack_sequences(with_h, token_col, budget,
                            order_cols=(hcol, id_col),
                            out_col="__tb_pack",
                            num_partitions=num_partitions)
    return (packed.filter(F.col("__tb_pack") == 0)
            .drop(hcol, "__tb_pack"))


def mix_token_budget(
    sources: Sequence[tuple[DataFrame, float]],
    token_col: str,
    total_budget: int,
    id_col: str = "doc_id",
    source_col: str | None = "source",
    salt: str = "",
) -> DataFrame:
    """Token-level corpus mixture: each source contributes
    ``share × total_budget`` TOKENS (±one straddling document), drawn
    deterministically via :func:`sample_to_token_budget`. This is how
    pretraining mixtures are actually specified — "30 % web, 30 % code,
    40 % books **of the token budget**" — where :func:`mix_sources`'
    row-fraction weights only control document counts.

    Shares must be positive and sum to 1. A share whose rounded budget
    ``round(share × total_budget)`` is 0 raises ``ValueError("budget
    must be > 0")``, as :func:`sample_to_token_budget` does for the same
    source budget; it is not turned into an empty source.

    Union is by-name/NULL-fill
    (:func:`~goetl_spark.operators.union.fan_in`), shuffle-free; ALL
    sources share ONE cumsum pass over the union (r18: the per-source
    running sums restart per source inside a single range partition —
    previously each source paid its own range sampling, totals collect
    and checkpoint materialization; k passes → 1). Per-row keep
    decisions are bit-identical to the per-source path: each source's
    exclusive running sum is the same exact long regardless of range
    boundaries (the order columns are a total order within a source)."""
    from goetl_spark.operators.union import fan_in

    shares = [w for _, w in sources]
    if any(w <= 0 for w in shares):
        raise ValueError(f"shares must be positive, got {shares}")
    if abs(sum(shares) - 1.0) > 1e-9:
        raise ValueError(f"shares must sum to 1, got {sum(shares)}")
    budgets = [int(round(share * total_budget)) for _, share in sources]
    for b in budgets:
        if b <= 0:
            raise ValueError(f"budget must be > 0, got {b}")
    hcol, scol, ccol = "__tb_hash", "__mix_src", "__tb_cum"
    u = fan_in([df.withColumn(scol, F.lit(i))
                for i, (df, _) in enumerate(sources)])
    with_h = u.withColumn(
        hcol, md5_int(F.concat_ws(":", F.lit(salt), F.col(id_col))))
    summed = _with_exclusive_cumsums(
        with_h, [(token_col, ccol)], (hcol, id_col),
        partition_cols=(scol,))
    # pack 0 of a budget-sized packing = exclusive running sum under
    # the source's own budget (floor(cum/budget) == 0 ⇔ cum < budget)
    budget_of = F.element_at(
        F.array(*[F.lit(b).cast("long") for b in budgets]),
        F.col(scol) + 1)
    out = summed.filter(F.col(ccol) < budget_of).drop(hcol, ccol)
    if source_col:
        out = out.withColumn(source_col, F.col(scol))
    return out.drop(scol)


def _dsir_ngrams(text_col: str) -> Column:
    """Hashed-feature n-grams (unigrams + word bigrams) under the corpus
    tokenizer convention (lowercase, split on ``[^a-z0-9]+`` — lm.py)."""
    words = F.filter(F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
                     lambda x: x != "")
    bigrams = F.when(F.size(words) >= 2, F.transform(
        F.sequence(F.lit(1), F.size(words) - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i, 2)),
    )).otherwise(F.array().cast("array<string>"))
    return F.concat(words, bigrams)


def dsir_log_weights(
    df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    buckets: int = 4096,
    add_k: float = 1.0,
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every candidate
    document by how much more likely its hashed n-gram features are
    under a TARGET corpus' bag-of-ngrams model than under the RAW
    (candidate) corpus' own model —
    ``log w(x) = Σ_b c_b(x) · [ln p_target(b) − ln p_raw(b)]`` with
    add-k smoothed bucket probabilities. High weight ⇒ the document
    looks like the target distribution; the standard scalable recipe
    for "select web data that resembles Wikipedia/books".

    Features are unigram+bigram md5-hash buckets (engine-portable,
    :func:`~goetl_spark.operators.text.md5_int`), so both models are
    bounded ``buckets``-row tables regardless of corpus size.

    Appends ``log_weight`` (double) to ``df``.

    Cross-engine float determinism: the two bucket-count tables are
    collected (bounded by ``buckets``) and the per-bucket log-ratio is
    computed DRIVER-SIDE with libm ``math.log`` — bit-identical to
    DuckDB's ``ln`` (the BM25/TF-IDF idf recipe; Spark's JVM log is the
    one that differs) — then broadcast back. Per-doc weights sum
    ``round(count × ratio, 9)`` in DECIMAL(38,9) (lm.py's
    rounded-decimal-sum recipe), so the total is associative and
    shuffle-order independent.

    Scale shape: ONE explode+groupBy over the candidates into the
    pinned (doc, bucket) count table — the raw model is the
    bucket-marginal of that table (bit-identical to a direct corpus
    aggregate, since per-doc counts sum to corpus counts), so the
    candidate text is scanned and hashed ONCE, not twice (r13: the
    materialized count table is integers, far smaller than re-hashing
    100 TB of text) — plus one explode+groupBy over the (small) target
    for its model, one BROADCAST join against the ratio table, one
    doc-key sum. Driver state = two ``buckets``-row dicts. No UDFs, no
    all-pairs, no global windows."""
    import math

    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")

    ids = list(id_cols)
    # spread one-row-group inputs: the ngram explode + per-ngram md5 is
    # the dominant map cost of the whole operator and would otherwise
    # run on a single core (guide §2.5; no-op at corpus scale)
    doc_bucket = (
        spread_small_input(df.select(*ids, text_col))
        .select(*ids, F.explode(_dsir_ngrams(text_col)).alias("g"))
        .select(*ids, (md5_int(F.col("g")) % buckets).alias("b"))
        .groupBy(*ids, "b").agg(F.count(F.lit(1)).alias("__cnt"))
        .localCheckpoint(eager=True))

    ct_t = {r["b"]: r["c"] for r in (
        spread_small_input(target_df.select(text_col))
        .select(F.explode(_dsir_ngrams(text_col)).alias("g"))
        .select((md5_int(F.col("g")) % buckets).alias("b"))
        .groupBy("b").agg(F.count(F.lit(1)).alias("c"))
        .collect())}
    ct_r = {r["b"]: r["c"] for r in (
        doc_bucket.groupBy("b").agg(F.sum("__cnt").alias("c")).collect())}
    n_t, n_r = sum(ct_t.values()), sum(ct_r.values())
    if n_t == 0 or n_r == 0:
        raise ValueError("target and candidate corpora must both contain "
                         f"at least one token (target={n_t}, raw={n_r})")
    denom_t, denom_r = n_t + add_k * buckets, n_r + add_k * buckets
    spark = df.sparkSession
    ratio_df = spark.createDataFrame(
        [(b,
          math.log((ct_t.get(b, 0) + add_k) / denom_t)
          - math.log((ct_r.get(b, 0) + add_k) / denom_r))
         for b in range(buckets)],
        "b int, ratio double")

    doc_feats = (
        doc_bucket
        .join(F.broadcast(ratio_df), "b")
        .groupBy(*ids)
        .agg(F.sum(F.round(F.col("__cnt") * F.col("ratio"), 9)
                   .cast("decimal(38,9)"))
             .cast("double").alias("log_weight")))
    return df.join(doc_feats, ids, "left").withColumn(
        "log_weight", F.coalesce(F.col("log_weight"), F.lit(0.0)))


def dsir_select(
    df: DataFrame,
    target_df: DataFrame,
    n: int,
    text_col: str = "text",
    id_cols: Sequence[str] = ("doc_id",),
    buckets: int = 4096,
    add_k: float = 1.0,
) -> DataFrame:
    """Top-``n`` candidates by DSIR importance weight (deterministic
    variant of the paper's Gumbel resampling: rank by ``log_weight``
    desc with the id as tie-break, so the selection is reproducible and
    oracle-checkable). ``orderBy().limit(n)`` compiles to Spark's
    TakeOrdered — per-partition top-n then a driver merge of n·P rows,
    never a global sort materialization."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    weighted = dsir_log_weights(df, target_df, text_col=text_col,
                                id_cols=id_cols, buckets=buckets,
                                add_k=add_k)
    order = [F.col("log_weight").desc()] + [F.col(c) for c in id_cols]
    return weighted.orderBy(*order).limit(n)
