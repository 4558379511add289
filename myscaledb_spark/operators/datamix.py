"""Dataset-mixing operators for training-data pipelines (driver brief:
LLM-pipeline operations are first-class): sequence packing, deterministic
stratified sampling, and benchmark-contamination checking.

All three are pure DataFrame compositions designed for the 100 TB shapes:
  - pack_sequences runs the classic DISTRIBUTED prefix sum (range partition →
    intra-partition cumsum → tiny per-partition offset table broadcast back);
    a naive global-order window would move the whole corpus to one partition.
  - sample_stratified keys the keep-decision on the portable md5-48 hash of a
    stable id, so the sample is deterministic, reproducible across engines
    and runs, and join-stable (the same doc always lands in or out).
  - contamination_check is a shingle equi-join against a (tiny, broadcast)
    benchmark set — linear in corpus size, never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from myscaledb_spark import session
from myscaledb_spark.operators.dedup import md5_48, shingle_sets


def pack_sequences(
    df: DataFrame,
    id_col: str,
    count_col: str | Column,
    budget: int,
    order_cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Greedy sequence packing: documents in `order_cols` order are laid out
    back-to-back and cut into fixed-`budget` token windows. Returns
    (id, seq_id, offset_in_seq, n_tokens); a document whose tokens overflow
    the window spans into the next one (standard packing semantics —
    deterministic, loaders handle the boundary).

    Distributed prefix sum: repartitionByRange on the order key, eager
    local-checkpoint of the narrow (id, order, count, partition_id)
    projection so both passes see identical partitions, per-partition
    totals collected (num_partitions rows — the only driver traffic),
    offsets broadcast back, intra-partition window cumsum. No global-order
    window, no full shuffle to one partition — except below the
    ``session.SMALL_INPUT_BYTES`` estimate gate (256 MB), where a
    single-partition window IS the cheaper plan: one action, one linear
    task, instead of the prefix sum's 8-10 fixed scheduling jobs.
    """
    cnt = F.col(count_col) if isinstance(count_col, str) else count_col
    narrow = df.select(F.col(id_col), *[F.col(c) for c in order_cols], cnt.alias("_n"))
    nshuf = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    est = session.estimated_bytes(df)
    # Small-input path: below this size the distributed prefix sum's fixed
    # job count (checkpoint + bounds + bucket totals + packing ≈ 8-10 AQE
    # jobs) costs more wall-clock than just running the textbook global
    # cumsum in ONE action — a single-partition window over ≤ a few hundred
    # MB is one task of linear work.  Identical layout by construction: the
    # same (order_cols, id) ROWS-frame order, nulls first / NaN last, the
    # same cum-before arithmetic (the oracle pins it).  Scale-adaptive per
    # the optimization guide §2: the gate reads optimizer size stats, so any
    # real corpus takes the distributed path.
    if 0 < est <= session.SMALL_INPUT_BYTES:
        w = (
            Window.orderBy(*order_cols, id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            narrow.withColumn("_cum_before", F.sum("_n").over(w) - F.col("_n"))
            .select(
                F.col(id_col),
                F.floor(F.col("_cum_before") / budget).cast("long").alias("seq_id"),
                (F.col("_cum_before") % budget).alias("offset_in_seq"),
                F.col("_n").alias("n_tokens"),
            )
        )
    # The prefix sum reads the narrow projection 2-3 times (bounds, bucket
    # totals, packing); when the count expression is expensive (tokenize)
    # each pass re-runs it.  For mid-size inputs, materialize the 3-column
    # projection ONCE (same 8 GB cost gate as the grouped-t-digest auto
    # switch); at scale, re-scanning columnar storage beats materializing.
    if 0 < est <= (8 << 30):
        narrow = narrow.localCheckpoint(eager=True)
    dtypes = dict(narrow.dtypes)
    numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    if len(order_cols) == 1 and (
        dtypes[order_cols[0]] in numeric
        or dtypes[order_cols[0]].startswith("decimal")
    ):
        # r8 fast path (the rank_corr lesson): a single NUMERIC order key
        # partitions DETERMINISTICALLY via width_bucket over broadcast
        # min/max — no boundary-sampling job, no localCheckpoint, and the
        # per-bucket offsets are an in-plan broadcast prefix-sum subtree,
        # so the whole prefix sum is ONE action (re-execution is
        # value-determined, never split-dependent)
        okey = order_cols[0]
        grid = max(nshuf * 4, 64)
        v = F.col(okey).cast("double")
        # collect the two scalar bounds and the grid-sized bucket totals
        # (the ONLY driver traffic — value-scale, not data-scale); the r9
        # broadcast-subtree variant kept these in-plan but re-executed the
        # corpus scan under each broadcast build: 10 jobs per invocation
        # where this shape needs 3 (bounds, totals, the packing action)
        mmrow = narrow.agg(F.min(v).alias("_mn"), F.max(v).alias("_mx")).first()
        mn, mx = mmrow["_mn"], mmrow["_mx"]

        def pid_expr():
            if mn is None or mx is None or mn == mx:
                grid_expr = F.lit(1)
            else:
                grid_expr = F.width_bucket(
                    v, F.lit(float(mn)), F.lit(float(mx)), F.lit(grid)
                )
            return (
                F.when(v.isNull(), F.lit(-1))
                .when(F.isnan(v), F.lit(grid + 2))
                .otherwise(grid_expr)
            )

        totals = sorted(
            (r["_pid"], int(r["_t"] or 0))
            for r in narrow.withColumn("_pid", pid_expr())
            .groupBy("_pid")
            .agg(F.sum("_n").alias("_t"))
            .collect()
        )
        offs, running = {}, 0
        for b, t in totals:
            offs[b] = running
            running += t
        wb = narrow.withColumn("_pid", pid_expr())
        if len(offs) <= 1024:
            # literal lookup rides the packing stage — no join at all
            omap = F.create_map(
                *[F.lit(x) for bt in offs.items() for x in bt]
            )
            offset = F.element_at(omap, F.col("_pid"))
        else:
            off_df = narrow.sparkSession.createDataFrame(
                list(offs.items()), "_pid int, _offset long"
            )
            wb = wb.join(F.broadcast(off_df), "_pid")
            offset = F.col("_offset")
        w = (
            Window.partitionBy("_pid")
            .orderBy(okey, id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # no explicit repartition: Window.partitionBy("_pid") induces the
        # hash exchange itself, and leaving it implicit lets AQE coalesce
        # the post-shuffle partitions instead of pinning nshuf tasks
        cum = (
            wb.withColumn("_local_cum", F.sum("_n").over(w))
            .withColumn("_offset_v", offset)
        )
        return (
            cum.withColumn(
                "_cum_before",
                F.col("_offset_v") + F.col("_local_cum") - F.col("_n"),
            )
            .select(
                F.col(id_col),
                F.floor(F.col("_cum_before") / budget).cast("long").alias("seq_id"),
                (F.col("_cum_before") % budget).alias("offset_in_seq"),
                F.col("_n").alias("n_tokens"),
            )
        )
    parted = (
        narrow.repartitionByRange(num_partitions, *order_cols)
        if num_partitions
        else narrow.repartitionByRange(*order_cols)
    )
    local = (
        parted.withColumn("_pid", F.spark_partition_id())
        # pin the partitioning: repartitionByRange SAMPLES boundaries, so a
        # second job could split differently — both consumers must see one
        .localCheckpoint(eager=True)
    )
    # ROWS frame + id tie-break: the default RANGE frame would give rows
    # tied on the order key the SAME cumulative sum, packing them into
    # overlapping slots nondeterministically
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols, id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = local.withColumn("_local_cum", F.sum("_n").over(w))

    totals = sorted(
        (r._pid, r.t)
        for r in local.groupBy("_pid").agg(F.sum("_n").alias("t")).collect()
    )
    offsets, running = [], 0
    for pid, t in totals:
        offsets.append((pid, running))
        running += int(t or 0)
    off_df = cum.sparkSession.createDataFrame(offsets, "_pid int, _offset long")

    out = (
        cum.join(F.broadcast(off_df), "_pid")
        .withColumn("_cum_before", F.col("_offset") + F.col("_local_cum") - F.col("_n"))
        .select(
            F.col(id_col),
            F.floor(F.col("_cum_before") / budget).cast("long").alias("seq_id"),
            (F.col("_cum_before") % budget).alias("offset_in_seq"),
            F.col("_n").alias("n_tokens"),
        )
    )
    return out


def sample_stratified(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    key: Column,
    default_rate: float = 0.0,
    denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic per-stratum sampling for dataset mixing: keep a row iff
    md5_48(key) % denom < rate(stratum) * denom. Unlisted strata use
    `default_rate`. Reproducible across runs/engines (portable hash), and
    the same key always samples the same way — exactly what mixture
    re-weighting pipelines need."""
    pairs = []
    for k, r in sorted(rates.items()):
        pairs.extend([F.lit(k), F.lit(int(r * denom))])
    thresholds = F.create_map(*pairs) if pairs else F.create_map()
    thr = F.coalesce(
        F.element_at(thresholds, F.col(strata_col)),
        F.lit(int(default_rate * denom)),
    )
    return df.where((md5_48(key) % denom) < thr)


def contamination_check(
    train_df: DataFrame,
    id_col: str,
    tokens_col: Column,
    eval_df: DataFrame,
    eval_id_col: str,
    eval_tokens_col: Column,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: which eval items share at least one word
    `n`-gram with a training document? Returns per eval item the count of
    contaminated training docs and the smallest such doc id.

    Shape: train shingles (linear explode) equi-joined with the BROADCAST
    eval shingle set — the corpus is never self-joined and the join key is
    the shingle string, so cost is one scan + one broadcast-hash join."""
    train_sh = shingle_sets(train_df, id_col, tokens_col, n)
    eval_sh = shingle_sets(eval_df, eval_id_col, eval_tokens_col, n)
    hits = train_sh.join(
        F.broadcast(eval_sh.withColumnRenamed(eval_id_col, "_eid")), "sh"
    )
    return (
        hits.groupBy(F.col("_eid").alias(eval_id_col))
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_contaminated_docs"),
            F.min(F.col(id_col)).alias("first_doc"),
        )
    )
