"""Sequence packing for LLM pretraining/SFT data preparation.

Two layouts over a corpus with per-document token counts:

- `concat_pack_layout`: GPT-style concat-then-chunk. Documents are laid
  end-to-end in a deterministic global order (by id) and cut into
  fixed-length sequences; each document gets its global token offset
  and the [first, last] sequence indices it lands in. Exactly
  SQL-expressible (one running sum), so it is DuckDB-oracle-checked.

- `greedy_pack`: no-split first-fit-decreasing bin packing (SFT-style —
  a document never crosses a sequence boundary). Bin assignment is a
  data-dependent loop, not expressible as a window function; verified
  by pytest invariants (coverage / budget / determinism / reference
  packer equivalence) instead of a SQL oracle.

Scale design (100 TB): the global running sum is one
operators.windows.segmented_prefix over id order — fixed-width id
ranges, one bounded window over their token totals for the bases, a
window cumsum per range — so no corpus-sized single-partition window
and no construction-time job. `greedy_pack` shards the
corpus into hash groups and packs each group independently inside
`applyInPandas` — bins never span groups, so packing parallelizes
embarrassingly; cross-group waste is bounded by one bin per group.

The reference engine has no packing surface (closed operator enum,
RPC.cs:20-28); this is north-star training-pipeline capability.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def concat_pack_layout(
    df: DataFrame,
    tokens: Column,
    id_col: str = "doc_id",
    seq_len: int = 512,
) -> DataFrame:
    """Concat-then-chunk packing layout: global token offset + spanned
    sequence range per document, in ascending `id_col` order.

    Returns (doc_id, n_tokens, tok_offset, seq_first, seq_last,
    n_seqs). A zero-token document occupies no tokens: it is pinned to
    the sequence at its offset (seq_first == seq_last).
    """
    from distributedqueryengine_spark.functions.dedup import _scoped_persist
    from distributedqueryengine_spark.operators.windows import segmented_prefix
    from distributedqueryengine_spark.session import ensure_parallelism

    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    # The prefix plan reads the (id, t) projection several times (id
    # bounds, range totals, the laid-out result); persist the 16-byte
    # projection so the token-count scan — the only per-document work —
    # runs once, wide. Scoped (dedup's bounded FIFO): repeated calls in
    # a long session must not accumulate one cached projection per call.
    src = _scoped_persist(
        ensure_parallelism(df).select(
            F.col(id_col).alias("id"), tokens.cast("long").alias("t")
        )
    )
    laid = segmented_prefix(src, [], "id", measure="t", out="__end")
    off = F.col("__end") - F.col("t")
    return laid.select(
        F.col("id").alias(id_col),
        F.col("t").alias("n_tokens"),
        off.alias("tok_offset"),
        F.floor(off / seq_len).alias("seq_first"),
        F.floor(
            (off + F.greatest(F.col("t"), F.lit(1)) - 1) / seq_len
        ).alias("seq_last"),
    ).withColumn("n_seqs", F.col("seq_last") - F.col("seq_first") + 1)


def greedy_pack(
    df: DataFrame,
    tokens: Column,
    id_col: str = "doc_id",
    budget: int = 512,
    n_groups: int = 32,
    portable: bool = False,
) -> DataFrame:
    """No-split sequence packing: first-fit-decreasing within hash
    groups; a document longer than `budget` gets a bin of its own.

    Deterministic: group = xxhash64(id) mod n_groups (portable=True
    swaps in the md5-derived 60-bit hash of the id string so the
    grouping — and with it the whole FFD fold — is reproducible in the
    DuckDB oracle's recursive CTE); within a group, candidates are
    sorted (tokens desc, id asc) and first-fit placed.
    Returns (doc_id, n_tokens, grp, bin) — bin ids are dense per group.
    """
    from distributedqueryengine_spark.functions.dedup import portable_hash64

    if budget <= 0 or n_groups <= 0:
        # pmod by 0 yields null groups (rows silently dropped by the
        # grouped applyInPandas); budget <= 0 degenerates every doc to
        # its own bin while looking like a packing.
        raise ValueError(f"need budget>0 and n_groups>0, got {budget}/{n_groups}")
    grp_hash = (
        portable_hash64(F.col(id_col).cast("string"))
        if portable
        else F.xxhash64(F.col(id_col))
    )
    src = df.select(
        F.col(id_col).alias("id"),
        tokens.cast("long").alias("t"),
        F.pmod(grp_hash, F.lit(n_groups)).cast("int").alias("grp"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t", "id"], ascending=[False, True])
        # Leftmost-fit via a max-capacity segment tree: leaf b holds the
        # remaining capacity of open bin b (-1 = not yet opened), inner
        # nodes the max of their subtree, so "lowest-indexed bin with
        # rem >= t" is one root-to-leaf descent — O(log bins) per doc
        # instead of the linear open-bin scan, same first-fit-by-index
        # semantics the DuckDB recursive-CTE oracle folds.
        n = len(pdf)
        size = 1
        while size < max(1, n):  # each doc opens at most one bin
            size *= 2
        tree = [-1] * (2 * size)
        nbins = 0
        assigned = []
        for t in pdf["t"]:
            if t <= budget and tree[1] >= t:
                i = 1
                while i < size:
                    i = 2 * i if tree[2 * i] >= t else 2 * i + 1
                placed = i - size
                tree[i] -= t
            else:
                placed = nbins
                nbins += 1
                i = size + placed
                tree[i] = max(budget - t, 0)
            while i > 1:
                i //= 2
                tree[i] = max(tree[2 * i], tree[2 * i + 1])
            assigned.append(placed)
        pdf = pdf.assign(bin=pd.array(assigned, dtype="int64"))
        return pdf

    return (
        src.groupBy("grp")
        .applyInPandas(pack, "id long, t long, grp int, bin long")
        .select(
            F.col("id").alias(id_col),
            F.col("t").alias("n_tokens"),
            "grp",
            "bin",
        )
    )


def write_training_shards(
    manifest: DataFrame,
    path: str,
    shard_size: int = 1024,
    epoch_col: str = "epoch",
    pos_col: str = "pos",
) -> dict:
    """Materialize a training manifest (pipeline.curate_corpus output
    or any frame with per-epoch dense 0-based positions) as the shard
    layout a data loader actually consumes (r15): shard
    ``pos // shard_size``, one partition directory per (epoch, shard),
    rows sorted by position within each shard's files.

    Deterministic end to end: shard membership is arithmetic on `pos`
    (itself a pure function of (seed, epoch, id)), so re-running the
    pipeline re-produces byte-stable shard contents on any cluster
    layout — the property that lets a training job resume mid-epoch
    from shard N without re-reading the corpus. Loader contract: read
    ``epoch=<e>/shard=<s>`` directories in shard order, rows in pos
    order (file-internal order is the sort; a paranoid loader can
    ORDER BY pos — it is in the data).

    One range-free shuffle on (epoch, shard) — no global sort; the
    final shard of an epoch may be short. Returns {n_rows, n_epochs,
    n_shards, shards_per_epoch: {epoch: count}} read back from the
    written layout (write-audit, not plan-side estimates).
    """
    if shard_size <= 0:
        raise ValueError(f"shard_size must be positive, got {shard_size}")
    out = (
        manifest.withColumn(
            "shard", F.floor(F.col(pos_col) / F.lit(shard_size)).cast("long")
        )
        .repartition(F.col(epoch_col), F.col("shard"))
        .sortWithinPartitions(pos_col)
    )
    out.write.mode("overwrite").partitionBy(epoch_col, "shard").parquet(path)
    spark = manifest.sparkSession
    try:
        back = spark.read.parquet(path)
    except Exception:
        # an empty manifest writes only _SUCCESS — no data files, no
        # inferable schema (r16 ADVICE). A successful empty write is
        # still a success: report zero stats instead of raising.
        return {
            "n_rows": 0,
            "n_epochs": 0,
            "n_shards": 0,
            "shards_per_epoch": {},
        }
    per_epoch = {
        int(r[epoch_col]): int(r["n"])
        for r in back.groupBy(epoch_col)
        .agg(F.countDistinct("shard").alias("n"))
        .collect()
    }
    return {
        "n_rows": back.count(),
        "n_epochs": len(per_epoch),
        "n_shards": sum(per_epoch.values()),
        "shards_per_epoch": per_epoch,
    }
