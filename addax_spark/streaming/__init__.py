"""Structured Streaming layer: the tier rollup as a watermarked windowed
stream (rollup_stream) and per-conversation running state with idle
eviction (stateful), both over a file-stream source of transcripts. The
reference's only stream source is a bounded Kafka poll loop
(plugin/reader/kafkareader/.../KafkaReader.java:125-133 — no watermarks, no
windows); readStream + window + watermark is the native upgrade."""
