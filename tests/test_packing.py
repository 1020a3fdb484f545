"""Chunking + sequence-packing invariants (functions/packing.py,
functions/text.chunk_documents).

`concat_pack_layout` is oracle-checked by the driver (pack_sequences);
here we pin the properties a SQL hash-match can't express directly:
chunk reconstruction, greedy-packing feasibility, determinism, and
equivalence with a local reference packer.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from distributedqueryengine_spark.functions import packing
from distributedqueryengine_spark.functions import text as T
from distributedqueryengine_spark.session import load_table

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF_DIR, "documents")


def test_chunks_reconstruct_documents(spark):
    """Concatenating each chunk's non-overlap prefix (stride chars) plus
    the final chunk's tail reproduces the original text exactly."""
    size, overlap = 120, 40
    stride = size - overlap
    chunks = T.chunk_documents(_docs(spark), chunk_size=size, overlap=overlap)
    rebuilt = (
        chunks.withColumn(
            "piece",
            F.when(
                F.col("chunk_idx")
                == F.max("chunk_idx").over(Window.partitionBy("doc_id")),
                F.col("chunk"),
            ).otherwise(F.substring("chunk", 1, stride)),
        )
        .groupBy("doc_id")
        .agg(F.concat_ws("", F.array_sort(F.collect_list(F.struct("chunk_idx", "piece")))["piece"]).alias("joined"))
    )
    # array_sort over struct sorts by chunk_idx; extract piece field
    orig = _docs(spark).select("doc_id", "text")
    bad = (
        rebuilt.join(orig, "doc_id")
        .where(F.col("joined") != F.col("text"))
        .count()
    )
    assert bad == 0


def test_chunk_bounds(spark):
    size, overlap = 200, 50
    chunks = T.chunk_documents(_docs(spark), chunk_size=size, overlap=overlap)
    stats = chunks.agg(
        F.max(F.length("chunk")).alias("maxlen"),
        F.min(F.length("chunk")).alias("minlen"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert stats["maxlen"] <= size and stats["minlen"] >= 1 and stats["n"] > 0
    # every document is present
    assert chunks.select("doc_id").distinct().count() == _docs(spark).count()


def test_concat_pack_layout_is_contiguous(spark):
    """Offsets are an exact exclusive prefix sum in doc_id order, no
    matter how many prefix-sum buckets are used (distribution-shape
    invariance of the segmented prefix the layout runs on)."""
    from distributedqueryengine_spark.operators.windows import segmented_prefix

    d = _docs(spark)
    tok = T.token_count("text")
    src = d.select(F.col("doc_id").alias("id"), tok.cast("long").alias("t"))
    few, many = (
        sorted(map(tuple, segmented_prefix(
            src, [], "id", measure="t", n_buckets=nb).collect()))
        for nb in (2, 10_000)
    )
    assert few == many
    a = packing.concat_pack_layout(d, tokens=tok, seq_len=256)
    rows = sorted(a.select("doc_id", "n_tokens", "tok_offset").collect())
    acc = 0
    for r in rows:
        assert r["tok_offset"] == acc
        acc += r["n_tokens"]


def test_greedy_pack_invariants(spark):
    d = _docs(spark)
    budget = 256
    out = packing.greedy_pack(
        d, tokens=T.token_count("text"), budget=budget, n_groups=8
    ).collect()
    # every doc exactly once
    n_docs = _docs(spark).count()
    assert len(out) == n_docs
    assert len({r["doc_id"] for r in out}) == n_docs
    # per-bin budget holds except single-document oversize bins
    bins: dict[tuple, list] = {}
    for r in out:
        bins.setdefault((r["grp"], r["bin"]), []).append(r["n_tokens"])
    for members in bins.values():
        assert sum(members) <= budget or len(members) == 1


def test_greedy_pack_deterministic_and_matches_reference(spark):
    d = _docs(spark)
    budget = 256
    a = packing.greedy_pack(d, tokens=T.token_count("text"), budget=budget, n_groups=4)
    b = packing.greedy_pack(d, tokens=T.token_count("text"), budget=budget, n_groups=4)
    ra, rb = sorted(map(tuple, a.collect())), sorted(map(tuple, b.collect()))
    assert ra == rb
    # local reference first-fit-decreasing per group must agree bin-for-bin
    rows = sorted(
        ((r["grp"], r["n_tokens"], r["doc_id"], r["bin"]) for r in a.collect())
    )
    by_grp: dict[int, list] = {}
    for grp, t, did, bin_ in rows:
        by_grp.setdefault(grp, []).append((t, did, bin_))
    for grp, members in by_grp.items():
        members.sort(key=lambda x: (-x[0], x[1]))
        caps: list[int] = []
        for t, _did, bin_ in members:
            placed = -1
            if t <= budget:
                for i, rem in enumerate(caps):
                    if rem >= t:
                        placed = i
                        break
            if placed < 0:
                caps.append(max(budget - t, 0))
                placed = len(caps) - 1
            else:
                caps[placed] -= t
            assert bin_ == placed


def test_packing_parameter_guards(spark, tables):
    """Degenerate parameters raise instead of silently mis-packing:
    pmod-by-zero groups drop rows, non-positive budgets fake a packing,
    non-positive seq_len breaks the layout arithmetic."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from distributedqueryengine_spark.functions import packing
    from distributedqueryengine_spark.functions.text import token_count

    docs = tables["documents"].limit(5)
    with _pytest.raises(ValueError, match="budget"):
        packing.greedy_pack(docs, tokens=token_count("text"), budget=0)
    with _pytest.raises(ValueError, match="n_groups"):
        packing.greedy_pack(docs, tokens=token_count("text"), budget=8, n_groups=0)
    with _pytest.raises(ValueError, match="seq_len"):
        packing.concat_pack_layout(docs, tokens=token_count("text"), seq_len=0)
