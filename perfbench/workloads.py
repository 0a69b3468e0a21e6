"""The benchmark's three workloads: which registry entries each one runs.

Every shape is an oracle-checked `suite.REGISTRY` entry; an op is the
entry's build call followed by a noop write. Shapes were chosen by the
layer each one stresses (see README.md), never by whether they pass.
"""

from __future__ import annotations

import re
from typing import Dict, List

# The reference grammar: projections, filters, ordering, grouped and
# per-row array aggregation, derived tables. Bound by table reads, plan
# construction through py4j and short Spark jobs; no eager jobs, no Python
# workers.
DIALECT_PATTERN = re.compile(r"^(?:[pfoab]\d|s2_)")

# The training-data path: bound by executor CPU and eager construction jobs.
CURATION = [
    "x_curate_exact",
    "x_semdedup_planted",
    "x_dedup_minhash_planted",
    "x_training_shards_planted",
    "x_dedup_simhash_planted",
    "xd_minhash",
    "xd_nfc",
    "x_text_quality",
    "x_gopher_quality",
    "x_c4_line_filter",
    "x_dedup_exact",
    "x_pii_redact",
    "xd_lang_id",
]

# Many short requests: many small jobs and stages, Arrow kernels.
RETRIEVAL = [
    "x_bm25_topk",
    "x_bm25_batch",
    "x_ann_batch",
    "x_ann_lsh_batch_planted",
    "x_ann_ivf_batch_planted",
    "x_pq_adc_planted",
    "x_mmr_planted",
    "x_rrf_fusion",
    "x_rrf_batch",
    "x_knn_join_planted",
]

WORKLOADS = ("dialect_queries", "curation_pipeline", "retrieval_topk")

# Least whole cycles in a timed window. They fix the sample count the tail
# percentile is taken from: p91 of 120 dialect ops, p61 of 26 curation ops,
# p75 of 40 retrieval ops. Each places the tail among the samples of one or
# two shapes; dialect takes 4 cycles because at 3 its p88 fell among the
# other shapes' stray slow ops, where it moved 19 % (IQR/median) between
# runs, while p91 reads a7_push_collect, b2_avg_nested_array and
# b5_max_nested_array, the three shapes that make up its slowest tenth.
MIN_CYCLES = {"dialect_queries": 4, "curation_pipeline": 2, "retrieval_topk": 4}


def shapes(workload: str, registry: Dict) -> List[str]:
    """The workload's shape names, in registry order for the dialect set."""
    if workload == "dialect_queries":
        return [n for n in registry if DIALECT_PATTERN.match(n)]
    if workload == "curation_pipeline":
        return list(CURATION)
    if workload == "retrieval_topk":
        return list(RETRIEVAL)
    raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
