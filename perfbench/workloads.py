"""The benchmark's workloads: which operations each runs, on which inputs.

An operation is one registered query (plan = the query function, exec =
the noop write that forces its full plan) or one direct call into a
module's public function.  ``Op.span`` names the layer the call enters.
"""

from __future__ import annotations

import hashlib
import os
import random
from dataclasses import dataclass
from typing import Callable

import gen

SQL_MODULES = (
    "relational", "relational_ext", "relational_tpch", "events", "temporal",
    "skew", "sampling", "dq", "multimodal", "text_analysis", "text_scoring",
)
LLM_MODULES = ("dedup", "similarity", "compression", "parity", "windowed")
# The query modules the workloads run; per-layer metrics are emitted for
# each (0 on the workload that does not run the module).
MODULES = SQL_MODULES + LLM_MODULES

#: the slowest warm text queries, run beside each module's first query so
#: that the text layers' tail is measured
SQL_ALWAYS = ("text_char_bigram_novelty", "quality_bigram_lm_score")

# Index builders the llm_pipeline calls before its queries, in dependency
# order.  Each is a public, memoized module function.
LLM_BUILDS = (
    ("dedup.near_dup_pairs", "dedup", "near_dup_pairs", ("jaccard",)),
    ("dedup.near_dup_labels", "dedup", "near_dup_labels", ("jaccard",)),
    ("similarity.ivf_lists", "similarity", "ivf_lists", ()),
    ("similarity.ann_results", "similarity", "ann_results", ("ivf",)),
    ("compression.pq_codes", "compression", "pq_codes", ()),
)
# Registered queries of the llm_pipeline: a consumer of every artifact
# built above, a streaming drain, the parity jobs (WordCount through the
# DataFrame path and through the MapReduce shim, 2-iteration PageRank) and
# a plain query of dedup and similarity.
LLM_QUERIES = (
    "dedup_exact", "dedup_near_jaccard", "dedup_clusters",
    "similarity_ann_ivf", "embedding_norm_stats", "quantize_pq_codes",
    "wordcount", "mapreduce_wordcount", "pagerank_2iter",
    "streaming_hourly_drain",
)
#: input tables each workload reads; set-up scans these once
TABLES = {
    "sql_battery": gen.TABLES,
    "llm_pipeline": ("documents", "embeddings", "events", "lineitem", "orders", "customer"),
}
#: warm passes the statistics use.  The battery's queries are still on the
#: JIT warm-up curve after three, so it takes the median of four.
WARM_PASSES = {"sql_battery": 4, "llm_pipeline": 3}
#: size of the text file the llm_pipeline round-trips through the DFS
DFS_FILE_MB = 1


@dataclass
class Op:
    name: str
    span: str  # "<layer>.<call>"
    fn: Callable  # () -> DataFrame | None; a DataFrame is then executed


def registry_modules() -> dict:
    from mini_hadoop_spark import registry

    return {m.__name__.rsplit(".", 1)[1]: m for m in registry._MODULES}


def sql_battery_queries() -> list[tuple[str, str]]:
    """(module, query) pairs: the first registered query of each operator
    module that builds no cross-query index, plus SQL_ALWAYS."""
    mods = registry_modules()
    picked = []
    for mod in SQL_MODULES:
        names = list(mods[mod].QUERIES)
        picked += [(mod, names[0])] + [(mod, n) for n in SQL_ALWAYS if n in names[1:]]
    return picked


def llm_queries() -> list[tuple[str, str]]:
    owner = {n: mod for mod, m in registry_modules().items() for n in m.QUERIES}
    return [(owner[n], n) for n in LLM_QUERIES]


def query_ops(spark, data_dir: str, pairs: list[tuple[str, str]]) -> list[Op]:
    mods = registry_modules()
    return [
        Op(n, f"{mod}.plan", (lambda f=mods[mod].QUERIES[n]: f(spark, data_dir)))
        for mod, n in pairs
    ]


def seeded_order(ops: list, seed: int) -> list:
    ops = list(ops)
    random.Random(seed).shuffle(ops)
    return ops


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


class DfsRoundTrip:
    """store_file -> retrieve_file -> delete_file of one text file, under a
    fresh name each pass.  Retrieved copies are kept for the output check,
    which runs after timing."""

    def __init__(self, spark, root: str, src: str):
        from mini_hadoop_spark.sources.dfs import FileStore

        self.store = FileStore(spark, os.path.join(root, "store"))
        self.out_dir = os.path.join(root, "retrieved")
        self.src = src
        self.src_mb = os.path.getsize(src) / 1e6
        self.blocks: list[int] = []
        self.retrieved: list[str] = []
        self._n = 0

    def ops(self) -> list[Op]:
        self._n += 1
        name = f"corpus_{self._n}"
        out = os.path.join(self.out_dir, f"{name}.txt")

        def store():
            self.blocks.append(self.store.store_file(name, self.src, split_on_newline=True))

        def retrieve():
            self.store.retrieve_file(name, out)
            self.retrieved.append(out)

        return [
            Op("dfs_store_file", "dfs.store_file", store),
            Op("dfs_retrieve_file", "dfs.retrieve_file", retrieve),
            Op("dfs_delete_file", "dfs.delete_file", lambda: self.store.delete_file(name) and None),
        ]


@dataclass
class Inputs:
    tables_dir: str
    tables: tuple[str, ...]
    tables_mb: float  # parquet size of ``tables``
    words_file: str | None = None  # the text the DFS round trip stores


def prepare(name: str, cache: str, seed: int, size: str = "sf0.01") -> Inputs:
    """Generate (or reuse) the seeded inputs of workload ``name``."""
    tables_dir = gen.star_schema_dir(cache, seed, size)
    tables = TABLES[name]
    mb = sum(os.path.getsize(os.path.join(tables_dir, f"{t}.parquet")) for t in tables) / 1e6
    if name == "sql_battery":
        return Inputs(tables_dir, tables, mb)
    return Inputs(tables_dir, tables, mb, gen.words_file(cache, seed, DFS_FILE_MB))


WORKLOADS = tuple(TABLES)
