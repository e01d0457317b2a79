"""mini_hadoop_spark — a PySpark-native engine with the query and
data-processing capabilities of dis-functional-bros/mini-hadoop.

The reference (read-only at /root/reference) is an Elixir Hadoop-1.x clone:
a block DFS plus a MapReduce framework whose only workloads are WordCount
and iterative PageRank.  This package re-expresses that capability surface
Spark-first (DataFrame/SQL, Catalyst-optimized) and extends it with the
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) required by the driver contract (BASELINE.json
``north_star``).

Layout:
  session     — tuned SparkSession bootstrap
  worker_daemon — the Python worker daemon that session starts
  sources     — table catalog (catalog), DFS-equivalent store/retrieve/
                delete (dfs.FileStore), JSON-object + headered-TSV sinks
                (sinks)
  engine      — generic MapReduce surface (mapreduce.JobSpec / run_job),
                canned reference jobs (examples), StatusTracker-backed
                job/cluster info (info)
  functions   — reusable Catalyst expression builders (text, vectors)
  workloads   — WordCount + PageRank as DataFrame queries (reference
                parity) + the queries()/oracle pairs (parity)
  operators   — relational battery (relational) + extension shapes
                (relational_ext: global agg, EXISTS, union-all, unpivot,
                ntile, scalar subqueries, discrete quantiles, FILTER-agg,
                array agg), dedup (exact/Jaccard/MinHash-LSH/SimHash/
                embedding-cosine), similarity search (brute + SRP-LSH +
                IVF), text analysis, sampling (train/val/test split +
                stratified sample), multimodal binary handling
                (meta/features/resize/frame-sample), event windowing/
                sessionization (events), temporal joins (temporal),
                skew mitigation (salted agg/join)
  streaming   — Structured Streaming watermarked windowed aggregation
                (windowed), session windows + stateful first-seen dedup
                (stateful), watermarked interval stream-stream join
                (joins)
"""

__version__ = "0.3.0"
