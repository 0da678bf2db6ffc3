"""Workload definitions and seed-driven input generation.

Each workload is one ``synth_docs`` configuration; both keep the
generator's 1% of hot entities at 100x mention frequency. Inputs are
generated from the workload seed; the benchmark writes them to parquet and
reads them back, so generation never runs inside a timed job.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession

from abecto_spark.sources.docs import synth_docs, true_links

N_DATASETS = 3
PARTITIONS = 8
WARMUP_DOCS = 2_000


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    n_entities: int

    def warmup(self) -> Workload:
        """A small input of the same shape, for the untimed warm-up job."""
        return replace(
            self, n_docs=WARMUP_DOCS,
            n_entities=min(self.n_entities, WARMUP_DOCS // 2),
        )


# Why each workload exists: perfbench/README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("docs_wide", n_docs=30_000, n_entities=15_000),
        Workload("docs_hot", n_docs=100_000, n_entities=500),
    )
}


def docs(spark: SparkSession, wl: Workload, seed: int) -> DataFrame:
    """The workload's docs table, generated lazily."""
    return synth_docs(
        spark, n_docs=wl.n_docs, n_datasets=N_DATASETS,
        n_entities=wl.n_entities, seed=seed, partitions=PARTITIONS,
    )


def truth(spark: SparkSession, wl: Workload, seed: int) -> DataFrame:
    """Generated (doc_id, dataset, entity_id) of every doc."""
    return true_links(
        spark, wl.n_docs, n_datasets=N_DATASETS, n_entities=wl.n_entities,
        seed=seed,
    )


def materialize(df: DataFrame, path: str) -> DataFrame:
    df.write.parquet(path)
    return df.sparkSession.read.parquet(path)
