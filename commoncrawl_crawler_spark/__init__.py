"""commoncrawl_crawler_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference `commoncrawl/commoncrawl-crawler` codebase (Hadoop 0.20
MapReduce, 2008-2012), re-expressed Spark-first: DataFrame/SQL logical
plans optimized by Catalyst, Tungsten physical execution, Structured
Streaming for incremental pieces.

Layout (maps SURVEY.md sections):
  session     - tuned SparkSession builders (AQE, shuffle partitions)
  sources     - table loaders, ARC-style archive reader, time-series,
                tar/zip pack files
  functions   - scalar library: URLs, hashing/simhash, text analysis
  operators   - filters, joins, aggregates, windows, setops, dedup,
                similarity, graph (PageRank/CC), merge, multimodal
                (image decoders)
  plans       - interactive query API (filter/sort/paginate + cache),
                pipeline step DAG with idempotent outputs
  streaming   - Structured Streaming: windowed stats, stream dedup
"""

__version__ = "0.1.0"
