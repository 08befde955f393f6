"""addax_spark — a PySpark-native time-series rollup / downsample / retention engine.

A from-scratch re-expression of the capabilities of wgzhao/Addax (reference at
/root/reference, a plugin-based batch ETL engine) as an idiomatic PySpark
analytics engine, plus the time-series continuous-aggregate layer the
reference only gestures at through its InfluxDB2/TDengine connectors
(reference: plugin/reader/influxdb2reader/.../InfluxDB2Reader.java:147-204,
plugin/reader/tdenginereader/.../TDengineReader.java:124-141).

Core input shape (BASELINE.json input_hint):
    transcripts(conv_id string, turn_idx int, role string, text string,
                tool string, ts timestamp)

Modules
-------
- session        SparkSession factory with scale-tuned defaults
- schema         canonical StructTypes for transcripts / tier / chunk / manifest
- synth          deterministic (seeded, hash-based) transcript generator
- operators/     bucketize, rollup (tier cascade), gapfill (LOCF/linear),
                 gorilla (delta-of-delta + XOR codec), dedup, similarity,
                 text analysis, record transformers
- sources/sinks  readers/writers re-expressing the reference's connector
                 inventory on Spark DataSource V2
- plans/         partitioning policy (hash(conv_id) x bucket), splits
- streaming/     Structured Streaming rollup
- fs             the one filesystem layer for output paths (Hadoop FS API)
- manifest       per-partition checkpoint + lineage/metrics table, resume
- retention      tier aging / partition rewrite / compaction
- job            RollupJobSpec driver (spark-submit entry)
"""

__version__ = "0.1.0"
