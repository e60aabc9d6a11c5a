"""Seeded input generation for the KG pipeline benchmark.

A workload's pages table is built in three steps:

1. ``base_docs`` draws ``n_base`` documents from the same 30-word
   vocabulary, length range and ``lang`` mix as the sf ``documents``
   table.  Each document draws from one of two topics: the words of the
   gazetteer entries are split between them and the other words are
   shared, so the co-mention graph has (at least) one component per
   topic and the output check can tell merged components from correct
   ones.  The corpus is fixed, as that table is; the workload seed only
   decides how pages fall into partitions and files.
2. ``write_pages`` amplifies them: replica ``r`` of base document ``b``
   gets ``doc_id = b + r * REPLICA_STRIDE`` (the scheme of
   ``bench.amplified_docs``), so the text, and with it every mention and
   triple, is identical per replica.
3. ``sources.pages.synthesize_pages`` lifts the documents into the pages
   shape, and a ``part`` column is added from a hash of ``url`` keyed by
   the workload seed.  That models an Iceberg ``days(warc_ts)``/
   ``bucket(url)`` table.  The hash ranks the replicas of each base
   document, and the ranks are dealt round the partitions.  When
   ``n_parts`` divides ``replicas``, every partition holds the same texts:
   the seed changes which pages a partition holds, not how much work.
   The table is written as parquet partitioned by ``part``, with several
   files per core like real input splits.

The pipeline only ever sees the written table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from ddaugner_spark.sources.pages import synthesize_pages

#: the vocabulary of the sf ``documents`` table (30 words), as two topics:
#: words of gazetteer entries are in one topic only, the rest in both.
#: No entry can be spelt from one topic's words plus shared words and
#: also from the other's, so no two topics share a surface.
TOPIC_WORDS = (
    "spark customer window merge sort".split(),
    "hash join fast big stream table scan".split(),
)
SHARED_WORDS = (
    "column vector value data small filter group order slow line part row "
    "the agg key query a batch"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
MIN_WORDS, MAX_WORDS = 10, 100
N_SOURCES = 20
CORPUS_SEED = 42
REPLICA_STRIDE = 10_000_000
PART_COL = "part"
#: parquet files written per core, like real input splits
FILES_PER_CORE = 3


@dataclass(frozen=True)
class Shape:
    """Size of one workload's pages table."""

    n_base: int
    replicas: int
    n_parts: int

    @property
    def n_pages(self) -> int:
        return self.n_base * self.replicas


def base_docs(n_base: int) -> pd.DataFrame:
    """``n_base`` documents (doc_id, text, lang, source) of the fixed corpus."""
    rng = np.random.default_rng(CORPUS_SEED)
    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_base)
    topics = rng.integers(0, len(TOPIC_WORDS), size=n_base)
    langs = rng.choice(len(LANGS), size=n_base, p=LANG_WEIGHTS)
    vocabs = [words + SHARED_WORDS for words in TOPIC_WORDS]
    texts = []
    for n, t in zip(lengths, topics):
        vocab = vocabs[t]
        texts.append(" ".join(vocab[w] for w in rng.integers(0, len(vocab), size=n)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_base, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in langs],
            "source": [f"src{i % N_SOURCES}" for i in range(n_base)],
        }
    )


def write_pages(
    spark: SparkSession, path: str, seed: int, docs: pd.DataFrame, shape: Shape
) -> None:
    """Write the amplified, partitioned pages table for ``docs`` to ``path``.

    The seeded hash of ``url`` picks each page's partition and write task
    (``FILES_PER_CORE * cores`` of them); rows are sorted within a task, so
    the same seed writes the same bytes (file names aside, which carry
    Spark's job UUID)."""
    base = spark.createDataFrame(docs)
    rep = F.explode(F.sequence(F.lit(0), F.lit(shape.replicas - 1))).alias("rep")
    amplified = base.select(rep, "doc_id", "text", "lang", "source").select(
        (F.col("doc_id") + F.col("rep").cast("long") * REPLICA_STRIDE).alias("doc_id"),
        "text",
        "lang",
        "source",
    )
    h = F.xxhash64(F.lit(seed), F.col("url"))
    base_id = F.col("doc_id") % REPLICA_STRIDE
    rank = F.row_number().over(Window.partitionBy(base_id).orderBy(h))
    pages = synthesize_pages(amplified).withColumn(
        PART_COL, F.format_string("d%02d", F.pmod(rank, F.lit(shape.n_parts)))
    )
    n_files = FILES_PER_CORE * spark.sparkContext.defaultParallelism
    (
        pages.repartition(n_files, h)
        .sortWithinPartitions(PART_COL, "doc_id")
        .write.mode("overwrite")
        .partitionBy(PART_COL)
        .parquet(path)
    )


def partition_of_docs(path: str) -> dict[int, str]:
    """doc_id → partition name, read back from the written table."""
    import pyarrow.parquet as pq

    out: dict[int, str] = {}
    for entry in sorted(os.listdir(path)):
        if not entry.startswith(PART_COL + "="):
            continue
        part = entry[len(PART_COL) + 1 :]
        ids = pq.read_table(os.path.join(path, entry), columns=["doc_id"]).column(0)
        out.update(dict.fromkeys(ids.to_pylist(), part))
    return out
