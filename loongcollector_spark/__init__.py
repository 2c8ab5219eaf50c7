"""loongcollector_spark — a PySpark-native log/telemetry pipeline engine.

A from-scratch reimplementation of the query/data-processing capabilities of
Alibaba LoongCollector (xuzhijvn/loongcollector, studied read-only at
/root/reference) re-expressed Spark-first:

    inputs -> processors -> aggregators -> flushers
becomes
    spark.read -> column expressions / pandas UDF stages -> groupBy/repartition
    -> conditional multi-sink writes

The reference is a native (C++/Go) streaming collector; this package keeps its
*behavior* (parser semantics, keep/discard matrices, routing conditions,
shard-hash bucketing, per-stage self-monitoring counters, checkpoint-resume)
while letting Catalyst/Tungsten own the physical execution.

Package layout (SURVEY.md §7):
  operators/   parse / filter / enrich / route / aggregate / multiline stages
  functions/   scalar + training-data functions (dedup, similarity, text)
  sources/     scan helpers + deterministic synthetic generators
  sinks/       per-sink writers (parquet/json/noop) with batching knobs
  streaming/   structured-streaming variants of the stateful operators
  config.py    YAML/JSON pipeline configs -> PipelineSpec
  pipeline.py  PipelineSpec -> composed DataFrame graph ("CollectionPipeline::Init")
  queries.py   query registry: every operator paired with its DuckDB SQL oracle
  session.py   SparkSession factory with the engine's defaults
  metrics.py   self-monitoring counters (MetricConstants.h names)
  lineage.py   per-partition lineage manifests + checkpoint-resume writer
"""

__version__ = "0.1.0"
