"""The benchmark's workloads: one client, closed loop, one JVM per run.

`sf` names the fixture scale directory and `queries` the SparkEntry queries
of one pass. After the cold pass a run makes `warmup` untimed passes, then
warm passes until `--seconds` is spent, and at least `min_warm` of them.
`min_warm` times the query count is the fewest latency samples a run has; it
fixes the tail percentile (README.md).
"""

WORKLOADS = {
    # Fixed per-query cost dominates: planning, graft rules, job and stage
    # scheduling. Its generated classes fit Spark's codegen cache, so warm
    # passes compile nothing: the workload inside the program's cache.
    "sql_dashboard": {
        "sf": "sf0.01",
        "queries": ["q1_agg", "q3_join_topn", "q5_multijoin", "q6_filter_agg"],
        "warmup": 2,
        "min_warm": 10,
    },
    # LLM-data operators and a partitioned write: the jobs some operators
    # run while they build their DataFrame (the connected-components loop,
    # the write before the read-back), shuffle, and generated classes that
    # warm passes recompile: the workload larger than the codegen cache.
    # sf0.01 keeps a run near a minute; at sf0.1 a run took half as long
    # again, too long for the benchmark's run budget.
    "llm_pipeline": {
        "sf": "sf0.01",
        "queries": ["q123_dedup_clusters", "q60_token_count", "q271_gopher_rules",
                    "q198_token_rarity", "q64_dedup_exact", "q150_partitioned_sink"],
        "warmup": 1,
        "min_warm": 4,
    },
}
