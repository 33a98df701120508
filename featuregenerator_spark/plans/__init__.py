"""Pipeline-level plans: temporal lifts, partitioning/skew, the pipeline.

The reference kernels see one conversation's history as in-row arrays
(host-materialized). At 10^12-turn scale the engine instead expresses the
same point-in-time semantics set-wise over the whole table:

  temporal.py      as-of join (union+window), lag/lead, rolling range
                   windows, sessionization, backfill, history arrays
  partitioning.py  hash(conv_id) co-partitioning, salted two-phase aggs
  pipeline.py      FeatureConfig -> staged DataFrame program
"""
