"""The benchmark's workloads: which registry entries (or Runner scripts)
each runs, and at which input size. README.md gives the reasons.
"""

# The full cohorts are every Relational, Functions, Connectors and batch
# Engine entry (52) and all 21 stream gates. On 4 cores one run over a
# full cohort takes 80-130 s even at sf0.01, most of it the untimed first
# pass, while the benchmark's time budget allows about 45 s per run. Each
# workload therefore runs a fixed subset of its cohort; README.md lists
# what was left out.

ETL_RELATIONAL = [
    # relational: aggregation, join, event funnel
    "q01_pricing_summary", "q02_revenue_by_nation", "funnel_report",
    # connectors: HTTP, KV, ZooKeeper, Kafka
    "http_post_partition", "kv_get_enrich", "zk_tree_roundtrip",
    "kf_pull_window",
    # etl: a SqlRunner script
    "etl_sql_script"]

# stream start, stop and checkpoint restart; compaction of a stream sink
STREAM_GATES = ["transitions_restart", "compaction_roundtrip"]

# sf is the scale factor of the generated tables (sf0.01: 60k lineitem,
# 10k events). runner_soak runs rounds of `round_ticks` ticks, each from a
# fresh copy of a journal seeded with `journal_rows` records, after
# `warmup_ticks` untimed ticks, with one hot recompile per
# `recompile_block` ticks. README.md says how the history size was
# chosen.
WORKLOADS = {
    "etl_relational": {"sf": 0.01, "entries": ETL_RELATIONAL},
    "stream_gates": {"sf": 0.01, "entries": STREAM_GATES},
    "runner_soak": {"sf": 0.001, "round_ticks": 6, "recompile_block": 6,
                    "warmup_ticks": 2, "journal_rows": 720},
}


def runner_scripts(data_dir, out_dir):
    """The Runner's scripts (name -> source) and, for each, the DuckDB SQL
    its output must equal. Each script rewrites one result directory."""
    scripts = {
        "flags.sql": f"""-- interval: PT1M
CREATE OR REPLACE TEMPORARY VIEW soak_li USING parquet
  OPTIONS (path '{data_dir}/lineitem.parquet');
INSERT OVERWRITE DIRECTORY '{out_dir}/soak_flags' USING parquet
SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
FROM soak_li GROUP BY l_returnflag, l_linestatus;
""",
        "priorities.scala": f"""// interval: PT1M
(s: SparkSession) => {{
  s.read.parquet("{data_dir}/orders.parquet")
    .groupBy("o_orderpriority")
    .agg(count(lit(1)).as("n"), countDistinct(col("o_custkey")).as("custs"))
    .write.mode("overwrite").parquet("{out_dir}/soak_priorities")
  "ok"
}}
""",
    }
    oracles = {
        "soak_flags": "SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n, "
                      "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty "
                      "FROM lineitem GROUP BY 1, 2",
        "soak_priorities": "SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, "
                           "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS custs "
                           "FROM orders GROUP BY 1",
    }
    return scripts, oracles
