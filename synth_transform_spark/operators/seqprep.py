"""Sequence preparation for LLM training pipelines: chunking and packing.

Two operators downstream of dedup/quality filtering in a pretraining data
pipeline (the north-star surface beyond the reference's own operators —
SURVEY.md §2.8; the reference's closest analogue is the notebook tokenise
step, /root/reference/notebooks/classifiers.ipynb cell 12, which stops at
whole-document token lists):

- ``chunk_documents``: overlapping fixed-size token windows per document
  (retrieval/embedding prep). Pure narrow ops — tokenise once, generate
  chunk starts with ``sequence``, ``slice`` the token array per chunk.
  Zero shuffles; parallelism is the input split count.

- ``pack_sequences``: concatenate documents (in deterministic doc-id order
  within a hash shard) into fixed-capacity context windows, the GPT-style
  pretraining layout where documents span window boundaries. Expressed as
  a per-shard running token sum: doc's [start, end) span in the shard's
  token stream → first/last bin by floor division. ONE shuffle (the
  window's partitionBy(shard)); no global ordering anywhere — a global
  ORDER BY cumsum would funnel the corpus through one reducer, which is
  exactly the single-partition-window trap SCALE.md audits for. Packing
  per shard is also what a 1000-executor writer does in production: each
  task packs its own output file stream independently.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .text_analysis import tokens_raw


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Overlapping token windows: (id, chunk_id, n_tokens, chunk_text).

    Chunk k covers tokens [k*stride, k*stride + size); the last chunk may
    be short. n_chunks = 1 + max(0, ceil((n - size) / stride)) — one chunk
    for any doc with n ≤ size, and every token belongs to ≥1 chunk.
    ``stride < size`` gives ``size - stride`` tokens of overlap.
    """
    if not 0 < stride <= size:
        raise ValueError(f"need 0 < stride <= size, got {stride=} {size=}")
    toks = docs.select(
        F.col(id_col), tokens_raw(F.col(text_col)).alias("w")
    ).withColumn("n", F.size("w"))
    ks = toks.withColumn(
        "chunk_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.ceil((F.col("n") - F.lit(size)) / F.lit(float(stride))),
                    F.lit(0),
                ).cast("int"),
            )
        ),
    )
    start = F.col("chunk_id") * stride  # 0-based; slice() is 1-based
    length = F.least(F.lit(size), F.col("n") - start)
    return ks.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        length.cast("long").alias("n_tokens"),
        F.array_join(F.slice("w", start + 1, length), " ").alias("chunk_text"),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 4096,
    n_shards: int = 8,
) -> DataFrame:
    """Pack documents into fixed-capacity token windows, per hash shard.

    Returns (id, shard, n_tokens, bin_first, bin_last, offset_in_bin):
    the doc occupies [offset_in_bin, …) of bin_first and spills into
    consecutive bins through bin_last (bin ids are per-shard). Documents
    are laid out in ascending id order within ``shard = id % n_shards`` —
    deterministic, engine-portable, and embarrassingly parallel across
    shards. Empty docs (0 tokens) are dropped (they occupy no span).
    """
    toks = docs.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).cast("long").alias("shard"),
        F.size(tokens_raw(F.col(text_col))).alias("n"),
    ).filter(F.col("n") > 0)
    w = Window.partitionBy("shard").orderBy(id_col)
    spans = toks.withColumn("end", F.sum("n").over(w)).withColumn(
        "start", F.col("end") - F.col("n")
    )
    return spans.select(
        id_col,
        "shard",
        F.col("n").cast("long").alias("n_tokens"),
        F.floor(F.col("start") / capacity).alias("bin_first"),
        F.floor((F.col("end") - 1) / capacity).alias("bin_last"),
        (F.col("start") % capacity).alias("offset_in_bin"),
    )


def span_corrupt(
    docs: DataFrame,
    chunk: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """T5-style span corruption (Raffel et al., JMLR 2020 §3.1.4):
    deterministic ~19% of fixed-width token chunks are replaced by
    ``<extra_id_k>`` sentinels in the input; the target pairs each
    sentinel with the tokens it hides.

    Masking is hash-derived — chunk g of doc d is masked iff the first
    hex digit of md5("d_g") is 0/1/2 (3/16 ≈ 0.19) — so both engines
    agree bit for bit with no RNG. Unlike the reference T5 code, ADJACENT
    masked chunks keep separate sentinels (documented divergence: the
    merge step needs another runs pass and buys nothing for pretraining
    pairs here).

    Shape: one narrow posexplode, the per-doc chunk relation (rows =
    tokens/chunk smaller), a broadcast-size sentinel numbering window
    bounded per doc, and two ordered string rollups. Everything is keyed
    by doc — embarrassingly parallel over the corpus.
    """
    toks = docs.select(
        F.col(id_col),
        F.posexplode(tokens_raw(F.col(text_col))).alias("pos", "tok"),
    ).withColumn("grp", F.floor(F.col("pos") / chunk))
    chunks = toks.select(id_col, "grp").distinct().withColumn(
        "masked",
        F.substring(
            F.md5(F.concat_ws("_", F.col(id_col), F.col("grp"))), 1, 1
        ).isin("0", "1", "2"),
    )
    sent = (
        chunks.filter("masked")
        .withColumn(
            "k",
            F.row_number().over(Window.partitionBy(id_col).orderBy("grp")) - 1,
        )
        .select(id_col, "grp", "k")
    )
    tt = toks.join(sent, [id_col, "grp"], "left")
    piece = (
        F.when(F.col("k").isNull(), F.col("tok"))
        .when(
            F.col("pos") % chunk == 0,
            F.concat(F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">")),
        )
    )
    ordered = lambda c: F.array_join(  # noqa: E731
        F.transform(F.array_sort(F.collect_list(c)), lambda s: s.getField("v")),
        " ",
    )
    inp = (
        tt.withColumn("piece", piece)
        .filter(F.col("piece").isNotNull())
        .groupBy(id_col)
        .agg(
            ordered(F.struct(F.col("pos").alias("o"), F.col("piece").alias("v"))).alias(
                "input_text"
            )
        )
    )
    spans = (
        tt.filter(F.col("k").isNotNull())
        .groupBy(id_col, "k")
        .agg(
            F.concat(
                F.lit("<extra_id_"),
                F.col("k").cast("string"),
                F.lit("> "),
                ordered(F.struct(F.col("pos").alias("o"), F.col("tok").alias("v"))),
            ).alias("span")
        )
    )
    tgt = spans.groupBy(id_col).agg(
        ordered(F.struct(F.col("k").alias("o"), F.col("span").alias("v"))).alias(
            "target_text"
        ),
        F.count(F.lit(1)).alias("n_spans"),
    )
    return (
        inp.join(tgt, id_col, "left")
        .select(
            id_col,
            "input_text",
            F.coalesce("target_text", F.lit("")).alias("target_text"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        )
    )
