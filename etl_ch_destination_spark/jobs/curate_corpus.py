"""The LLM-corpus counterpart of jobs/batch_etl.py — corpus curation
as ONE composed batch job:

  extract (documents)
    → dedup (exact content hash, min-doc_id survivor)
    → filter (quality rules: length / stopword / diversity)
    → split (deterministic md5 train/valid/test assignment)
    → load (parquet partitioned by split, batch-stamped)
    → verify (RE-READ the loaded corpus and report per-(split, source)
      doc counts + token budgets)

Every stage is an operator the registry gates individually
(llm_dedup_exact, llm_quality_score's rules, llm_eval_split,
sink_parquet_partitioned); this module proves they compose into the
deliverable a training run actually consumes — and the re-read
verification proves the write lost and duplicated nothing.

Scale notes (100 TB): one shuffle for the content-hash dedup window,
one for the partitioned write's split clustering; quality and split
assignment stay fused map-side between them. The write fans out to
(splits × sources) partitions; `maxRecordsPerFile` caps part sizes at
cluster scale exactly as in sink_shard_balanced.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_ch_destination_spark.catalog import load_table
from etl_ch_destination_spark.queries.llm_corpus import (
    SPLIT_DENOM,
    SPLIT_TRAIN,
    SPLIT_VALID,
    TM_MAX_STOP,
    TM_MIN_LEX,
    TM_MIN_WORDS,
)
from etl_ch_destination_spark.sink.clickhouse import batch_count


def run_curate_corpus(
    spark: SparkSession, sf_dir: str, out_dir: str, batch_id: str = "curate-0001"
) -> DataFrame:
    """Run the full curation pipeline; returns the per-(split, source)
    verification report computed by RE-READING the written corpus."""
    shutil.rmtree(out_dir, ignore_errors=True)

    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    words = F.split("text", " ")
    n_words = F.size(words)

    base = d.select(
        "doc_id",
        "source",
        "text",
        F.md5(F.lower(F.trim(F.col("text")))).alias("content_hash"),
        n_words.alias("n_words"),
        F.size(F.array_distinct(words)).alias("n_distinct"),
        F.expr(
            "size(filter(split(text, ' '), x -> x IN ('the', 'a', 'of', 'and', 'to')))"
        ).alias("n_stop"),
    )

    w = Window.partitionBy("content_hash").orderBy("doc_id")
    survivors = base.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)

    kept = survivors.filter(
        (F.col("n_words") >= TM_MIN_WORDS)
        & (F.col("n_stop").cast("double") / F.col("n_words") <= TM_MAX_STOP)
        & (F.col("n_distinct").cast("double") / F.col("n_words") >= TM_MIN_LEX)
    )

    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split1"))), 1, 7
        ),
        16,
        10,
    ).cast("bigint") / F.lit(SPLIT_DENOM)
    split = (
        F.when(u < SPLIT_TRAIN, "train")
        .when(u < SPLIT_VALID, "valid")
        .otherwise("test")
    )

    curated = kept.select(
        "doc_id",
        "source",
        "text",
        "n_words",
        split.alias("split"),
        F.lit(batch_id).alias("_batch_id"),
    )
    (
        curated.write.mode("overwrite")
        .partitionBy("split")
        .option("maxRecordsPerFile", 1_000_000)
        .parquet(out_dir)
    )

    # verify by RE-READING the loaded corpus — a hash match against an
    # oracle computed from the SOURCE table proves the load lost and
    # duplicated nothing across the full pipeline. Read under the schema
    # just written, so no job opens a footer to infer it.
    loaded = spark.read.schema(curated.schema).parquet(out_dir)
    return (
        loaded.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            batch_count().alias("n_batches"),
        )
        .withColumn("n_batches", F.col("n_batches").cast("int"))
    )
