"""addax_spark — a PySpark-native time-series rollup / downsample / retention engine.

The system is one pipeline, ``job.run``: day-unit discovery -> one
hash(conv_id) shuffle -> 1m/5m/1h/1d cascade -> Gorilla chunk encode ->
partitioned parquet writes -> manifest, with serving and retention over its
output. It is the time-series continuous-aggregate layer that wgzhao/Addax
(a plugin-based batch ETL engine) only gestures at through its
InfluxDB2/TDengine connectors (plugin/reader/influxdb2reader/.../
InfluxDB2Reader.java:147-204, plugin/reader/tdenginereader/.../
TDengineReader.java:124-141); Addax's connector plumbing is not ported.

Core input shape (BASELINE.json input_hint):
    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

Modules
-------
- session        SparkSession factory with scale-tuned defaults
- schema         canonical StructTypes for transcripts / tier / chunk tables
- synth          deterministic (seeded, hash-based) transcript generator
- operators/     bucketize, rollup (tier cascade), gapfill (LOCF/linear),
                 gorilla (delta-of-delta + XOR codec), dedup, similarity,
                 text analysis, record transformers
- plans/         partitioning policy: hash(conv_id) series colocation,
                 spreading under-partitioned scans
- streaming/     Structured Streaming rollup + stateful per-conversation state
- fs             the one filesystem layer for output paths (Hadoop FS API)
- manifest       per-partition checkpoint + lineage/metrics table, resume
- retention      tier aging / partition rewrite / compaction
- serving        range queries from the finest tier on disk, chunk point reads
- job            RollupJobSpec driver: the one pipeline, ``job.run``
                 (spark-submit entry: scripts/run_job.py)
"""

__version__ = "0.1.0"
