"""Physical planning helpers: partitioning policy and split math —
the Spark-native replacement for the reference's channel planner
(core/.../job/JobContainer.java:385-433) and range-split utilities
(core/.../util/RangeSplitUtil.java)."""
