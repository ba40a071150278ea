"""The benchmark's workloads.  Query names are frozen here: a registry
change that drops one fails the run instead of silently shrinking it."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float  # scale factor of the generated tables
    queries: tuple[str, ...]
    confs: dict[str, str] = field(default_factory=dict)  # passed to get_spark
    forced_spill: bool = False  # the run fails unless it spills to disk


# Run by every set-up: a one-stage filter+aggregate over lineitem.
SETUP_QUERY = "tpch_q6"

HEADLINE = Workload(
    name="headline-sf0.01",
    sf=0.01,
    queries=(
        "graph_pagerank_purchases",  # pagerank: eager checkpoint rounds
        "stream_multires_cascade",  # streaming: AvailableNow drain
        "dedup_minhash_lsh",  # materialize_view inside the build
        "tpcds_t7_multi_year_profile_stack",  # register_split_sql stages
        "ann_bruteforce_vectorized",  # pandas UDF: Python workers
        "tpch_q1",
    ),
)

# The HEAVY queries of tests/test_outofcore.py whose sorts spill under the
# forced threshold, run under that file's HOSTILE_CONF.
SPILL = Workload(
    name="spill-sf0.01",
    sf=0.01,
    queries=(
        "tpch_q9",
        "tpch_q18",
        "tpch_q21",
        "tpcds_rollup_rank",
        "job_deep_7way_chain",
    ),
    confs={
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.enabled": "false",
        # a sorter spills once it holds this many records
        "spark.shuffle.spill.numElementsForceSpillThreshold": "10000",
    },
    forced_spill=True,
)

WORKLOADS = {w.name: w for w in (HEADLINE, SPILL)}
