"""Physical planning helpers: the partitioning policy (series colocation,
spreading under-partitioned scans) — the Spark-native replacement for the
reference's channel planner (core/.../job/JobContainer.java:385-433)."""
